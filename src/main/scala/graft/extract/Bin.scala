package graft.extract

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** The byte toolkit shared by every format reader and writer: fixed-width
  * endian reads, one growable byte sink, concatenation, deflate, the two
  * XML escapes, and a classic-xref PDF object writer.
  *
  * Readers index the array directly, so a read past the end throws
  * `ArrayIndexOutOfBoundsException`; every caller wraps its parse in a
  * `catch Exception` that turns that into its `Left` (or `None`).
  */
private[graft] object Bin {

  // ------------------------------------------------------------ budgets
  /** Inflation caps for untrusted containers: a tiny deflate stream can
    * expand to GiBs and kill the executor JVM — a task death, not a
    * failure row. 256 MiB per zip entry or PDF stream and 1 GiB per
    * container or PDF document exceed any real part; past either the
    * reader throws `IllegalStateException`, which becomes a failure row.
    */
  val MaxEntryBytes: Long = 256L << 20
  val MaxTotalBytes: Long = 1L << 30

  /** Deepest nesting a recursive reader follows (PDF `[` / `<<` objects,
    * PPT container records). Real files stay in single digits; the cap
    * keeps a hostile file from recursing the reader off the stack.
    */
  val MaxNesting = 256

  // ------------------------------------------------------------ readers
  def u8(d: Array[Byte], p: Int): Int = d(p) & 0xff
  def u16le(d: Array[Byte], p: Int): Int = (d(p) & 0xff) | ((d(p + 1) & 0xff) << 8)
  def u32le(d: Array[Byte], p: Int): Long =
    (d(p) & 0xffL) | ((d(p + 1) & 0xffL) << 8) |
      ((d(p + 2) & 0xffL) << 16) | ((d(p + 3) & 0xffL) << 24)
  def f64le(d: Array[Byte], p: Int): Double =
    java.lang.Double.longBitsToDouble(u32le(d, p) | (u32le(d, p + 4) << 32))
  def u16be(d: Array[Byte], p: Int): Int = ((d(p) & 0xff) << 8) | (d(p + 1) & 0xff)
  def u32be(d: Array[Byte], p: Int): Long =
    ((d(p) & 0xffL) << 24) | ((d(p + 1) & 0xffL) << 16) |
      ((d(p + 2) & 0xffL) << 8) | (d(p + 3) & 0xffL)

  // ------------------------------------------------------------ sink
  /** Growable byte buffer; every write returns the sink for chaining.
    * Bytes past `size` are always zero, so padding only moves `size`.
    */
  final class Sink(initial: Int = 64) {
    private var buf = new Array[Byte](math.max(initial, 16))
    private var n = 0
    private def room(k: Int): Unit =
      if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + k))
    def u8(v: Int): Sink = { room(1); buf(n) = v.toByte; n += 1; this }
    def u16le(v: Int): Sink = u8(v).u8(v >> 8)
    def u32le(v: Long): Sink = u16le((v & 0xffff).toInt).u16le(((v >> 16) & 0xffff).toInt)
    def f64le(v: Double): Sink = {
      val bits = java.lang.Double.doubleToLongBits(v)
      u32le(bits).u32le(bits >>> 32)
    }
    def u16be(v: Int): Sink = u8(v >> 8).u8(v)
    def u32be(v: Long): Sink = u16be(((v >> 16) & 0xffff).toInt).u16be((v & 0xffff).toInt)
    /** One byte per char (ISO-8859-1). */
    def ascii(s: String): Sink = bytes(s.getBytes(StandardCharsets.ISO_8859_1))
    def bytes(b: Array[Byte]): Sink = {
      room(b.length); System.arraycopy(b, 0, buf, n, b.length); n += b.length; this
    }
    /** Zero bytes up to absolute offset `to` (no-op when already there). */
    def padTo(to: Int): Sink = { if (to > n) { room(to - n); n = to }; this }
    def size: Int = n
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  def cat(parts: Array[Byte]*): Array[Byte] = {
    val s = new Sink(parts.iterator.map(_.length).sum)
    parts.foreach(s.bytes)
    s.toArray
  }

  /** zlib (RFC 1950) stream at the default level — a PDF /FlateDecode body. */
  def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(b); d.finish()
      val o = new java.io.ByteArrayOutputStream(b.length / 2 + 32)
      val buf = new Array[Byte](8192)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      o.toByteArray
    } finally d.end()
  }

  // ------------------------------------------------------------ XML
  /** Character-data escape: `& < >`. */
  def xmlText(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case c => c.toString
  }

  /** Attribute-value escape: `& < > "`. */
  def xmlAttr(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c => c.toString
  }

  // ------------------------------------------------------------ PDF
  /** Classic-xref PDF 1.4 writer: objects append in call order, and
    * [[finish]] writes the xref sorted by object number (which must run
    * 1..n without gaps) plus a trailer naming object 1 as /Root.
    */
  final class PdfWriter {
    private val out = new Sink(4096)
    private val offsets = ArrayBuffer[(Int, Int, Int)]() // (num, gen, offset)
    out.ascii("%PDF-1.4\n")

    private def begin(num: Int, gen: Int): Unit = {
      offsets += ((num, gen, out.size))
      out.ascii(s"$num $gen obj\n")
    }
    def obj(num: Int, body: String, gen: Int = 0): Unit = {
      begin(num, gen)
      out.ascii(body).ascii("\nendobj\n")
    }
    /** `dict` is the whole stream dictionary, /Length included. */
    def stream(num: Int, dict: String, payload: Array[Byte]): Unit = {
      begin(num, 0)
      out.ascii(dict).ascii("\nstream\n").bytes(payload).ascii("\nendstream\nendobj\n")
    }
    /** `trailerExtra` follows `/Size n /Root 1 0 R` inside the trailer. */
    def finish(trailerExtra: String): Array[Byte] = {
      val byNum = offsets.sortBy(_._1)
      require(byNum.indices.forall(i => byNum(i)._1 == i + 1), "object numbers must run 1..n")
      val xrefAt = out.size
      val n = byNum.length + 1
      out.ascii(s"xref\n0 $n\n0000000000 65535 f \n")
      byNum.foreach { case (_, gen, off) => out.ascii(f"$off%010d $gen%05d n \n") }
      out.ascii(s"trailer\n<< /Size $n /Root 1 0 R$trailerExtra >>\nstartxref\n$xrefAt\n%%EOF\n")
      out.toArray
    }
  }

  /** `(…)` literal string with `( ) \` escaped; chars map to bytes 1:1. */
  def pdfLiteral(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb += '('
    s.foreach { c =>
      if (c == '(' || c == ')' || c == '\\') sb += '\\'
      sb += c
    }
    (sb += ')').toString
  }

  private val HexDigits = "0123456789ABCDEF"

  /** `<…>` hex string, upper-case digits. */
  def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder(2 * b.length + 2)
    sb += '<'
    b.foreach { x => sb += HexDigits((x >> 4) & 0xf); sb += HexDigits(x & 0xf) }
    (sb += '>').toString
  }

  /** PDF number: integral values without a decimal point, others in plain
    * decimal — PDF has no exponent syntax (§7.3.3).
    */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
}
