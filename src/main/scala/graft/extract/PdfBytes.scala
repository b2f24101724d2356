package graft.extract

import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Container-level PDF parsing from raw bytes — the byte-real analog of the
  * reference's `get_pdf_info` (pdf_utils.py:187-256, which delegates to
  * pypdf). From-scratch implementation of the public PDF 32000-1:2008 file
  * structure (§7.3 objects, §7.5 xref/trailer), NOT a port: classic xref
  * tables with /Prev chains, 1.5+ cross-reference STREAMS and object
  * streams (/Type/ObjStm), hybrid-reference /XRefStm precedence, the
  * §7.4 filter set (Flate with PNG predictors via the JDK Inflater, LZW,
  * ASCIIHex, ASCII85, RunLength, per-filter DecodeParms, /Crypt Identity
  * pass-through), page-tree walk with MediaBox inheritance,
  * Info-dictionary text strings (UTF-16BE BOM else PDFDocEncoding≈Latin-1).
  *
  * [[open]] is the only way in: it parses the xref chain and fixes the file
  * key once. The opened [[Doc]] owns everything after that — one method
  * decrypts strings ([[Doc.plainString]]), one decrypts stream payloads
  * ([[Doc.plainStream]]), one reads a stream's filter chain
  * ([[Doc.filterChain]]), and its filters stop at [[Bin.MaxEntryBytes]] per
  * stream and [[Bin.MaxTotalBytes]] per document.
  *
  * No raster/content decoding happens here — this is O(file) byte scanning
  * plus O(objects touched) parsing, a bounded per-row kernel safe to run in
  * `mapPartitions` over a binary column at scale. Golden-tested against the
  * reference's REAL fixture PDFs (tests/resources/pdf_sample*.pdf) with
  * expected values established by the independent second implementation in
  * `tools/pdf_info_oracle.py`.
  */
object PdfBytes {

  // ------------------------------------------------------------ object model
  sealed trait PObj
  case object PNull extends PObj
  final case class PBool(v: Boolean) extends PObj
  final case class PNum(v: Double) extends PObj
  final case class PStr(bytes: Array[Byte]) extends PObj
  final case class PName(v: String) extends PObj
  final case class PArr(items: Vector[PObj]) extends PObj
  final case class PDict(m: Map[String, PObj]) extends PObj
  final case class PRef(num: Int, gen: Int) extends PObj
  /** Stream dict + RAW (still-encoded) payload bytes. */
  final case class PStream(dict: PDict, data: Array[Byte]) extends PObj

  /** `o` as a `T`, or an [[IllegalStateException]] naming both types. The
    * parser's type checks go through here, not through casts: once a cast
    * site is hot, HotSpot throws a preallocated `ClassCastException` with a
    * null message, and the failure row would depend on JIT history.
    */
  private[extract] def as[T <: PObj](o: PObj)(implicit t: scala.reflect.ClassTag[T]): T = o match {
    case v: T => v
    case _ => throw new IllegalStateException(
      s"expected ${t.runtimeClass.getSimpleName}, got ${o.getClass.getSimpleName.stripSuffix("$")}")
  }

  final case class PageDim(width: Double, height: Double)
  final case class PdfInfo(
      pageCount: Int,
      fileSize: Long,
      isEncrypted: Boolean,
      pageDims: Seq[PageDim],
      title: String,
      author: String)

  private val WS = " \t\r\n\u0000\f".getBytes
  private val Delim = "()<>[]{}/%".getBytes
  private def isWs(b: Byte) = WS.contains(b)
  private def isDelim(b: Byte) = Delim.contains(b)

  // ------------------------------------------------------------ lexer/parser
  /** Recursive-descent parser over the file buffer; `pos` is mutable.
    * Shared with [[PdfText]]'s content-stream tokenizer. A parse that
    * throws abandons the parser (its nesting count is not restored).
    */
  private[extract] final class Parser(val d: Array[Byte], var pos: Int) {
    private var nesting = 0

    private def enter(): Unit = {
      nesting += 1
      if (nesting > Bin.MaxNesting)
        throw new IllegalStateException(s"objects nested deeper than ${Bin.MaxNesting} at $pos")
    }

    def skipWs(): Unit = {
      while (pos < d.length) {
        if (d(pos) == '%') { while (pos < d.length && d(pos) != '\r' && d(pos) != '\n') pos += 1 }
        else if (isWs(d(pos))) pos += 1
        else return
      }
    }

    def peek: Int = if (pos < d.length) d(pos) & 0xff else -1

    /** Reads a bare word (number, keyword). */
    def word(): String = {
      val start = pos
      while (pos < d.length && !isWs(d(pos)) && !isDelim(d(pos))) pos += 1
      new String(d, start, pos - start, StandardCharsets.ISO_8859_1)
    }

    def expect(s: String): Unit = {
      skipWs()
      val w = word()
      if (w != s) throw new IllegalStateException(s"expected '$s' got '$w' at $pos")
    }

    def name(): PName = {
      pos += 1 // '/'
      val sb = new StringBuilder
      while (pos < d.length && !isWs(d(pos)) && !isDelim(d(pos))) {
        if (d(pos) == '#' && pos + 2 < d.length) {
          sb += Integer.parseInt(new String(d, pos + 1, 2, StandardCharsets.ISO_8859_1), 16).toChar
          pos += 3
        } else { sb += (d(pos) & 0xff).toChar; pos += 1 }
      }
      PName(sb.toString)
    }

    def literalString(): PStr = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (depth > 0 && pos < d.length) {
        val c = d(pos); pos += 1
        c match {
          case '\\' =>
            val e = d(pos); pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '\r' => if (pos < d.length && d(pos) == '\n') pos += 1
              case '\n' => ()
              case o if o >= '0' && o <= '7' =>
                var v = o - '0'
                var k = 1
                while (k < 3 && pos < d.length && d(pos) >= '0' && d(pos) <= '7') {
                  v = v * 8 + (d(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other)
            }
          case '(' => depth += 1; out.write('(')
          case ')' => depth -= 1; if (depth > 0) out.write(')')
          case other => out.write(other)
        }
      }
      PStr(out.toByteArray)
    }

    def hexString(): PStr = {
      pos += 1 // '<'
      val sb = new StringBuilder
      while (pos < d.length && d(pos) != '>') {
        val c = (d(pos) & 0xff).toChar
        if (!isWs(d(pos))) sb += c
        pos += 1
      }
      pos += 1 // '>'
      val hx = if (sb.length % 2 == 1) sb.toString + "0" else sb.toString
      val out = new Array[Byte](hx.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = Integer.parseInt(hx.substring(2 * i, 2 * i + 2), 16).toByte
        i += 1
      }
      PStr(out)
    }

    /** One object; resolves `N G R` reference syntax via lookahead. */
    def obj(): PObj = {
      skipWs()
      peek match {
        case '/' => name()
        case '(' => literalString()
        case '[' =>
          pos += 1
          enter()
          val items = Vector.newBuilder[PObj]
          skipWs()
          while (peek != ']') { items += obj(); skipWs() }
          pos += 1
          nesting -= 1
          PArr(items.result())
        case '<' =>
          if (pos + 1 < d.length && d(pos + 1) == '<') {
            pos += 2
            enter()
            val m = Map.newBuilder[String, PObj]
            skipWs()
            while (!(peek == '>' && pos + 1 < d.length && d(pos + 1) == '>')) {
              val k = as[PName](obj()).v
              m += k -> obj()
              skipWs()
            }
            pos += 2
            nesting -= 1
            PDict(m.result())
          } else hexString()
        case _ =>
          val w = word()
          w match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case _ if w.nonEmpty && w.forall(c => c.isDigit) =>
              // possible "N G R" indirect reference
              val save = pos
              skipWs()
              val w2 = word()
              if (w2.nonEmpty && w2.forall(_.isDigit)) {
                skipWs()
                val w3 = word()
                if (w3 == "R") return PRef(w.toInt, w2.toInt)
              }
              pos = save
              PNum(w.toDouble)
            case _ if w.nonEmpty => PNum(w.toDouble) // signed/real
            case _ => throw new IllegalStateException(s"parse error at $pos")
          }
      }
    }
  }

  // ------------------------------------------------------------ filters
  /** A filter's output buffer. Past [[Bin.MaxEntryBytes]] it throws, so a
    * decompression bomb is a failure row rather than an exhausted heap.
    */
  private final class Bounded(initial: Int) extends java.io.ByteArrayOutputStream(initial) {
    private def room(n: Int): Unit =
      if (count.toLong + n > Bin.MaxEntryBytes)
        throw new IllegalStateException(s"stream decodes past ${Bin.MaxEntryBytes} bytes")
    override def write(b: Int): Unit = { room(1); super.write(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = { room(len); super.write(b, off, len) }
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new Bounded(math.max(64, data.length * 4))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        // inflate()==0 before finished() means the input ran dry (or a
        // preset dictionary is demanded): the data is truncated/corrupt —
        // surface it rather than returning a silent prefix
        else if (!inf.finished()) throw new IllegalStateException("truncated flate data")
      }
      out.toByteArray
    } finally inf.end()
  }

  /** LZWDecode (§7.4.4): TIFF-convention LZW — 256 = ClearTable, 257 =
    * EOD, 9→12-bit variable codes with EarlyChange=1 (width grows one code
    * early, the PDF default). Legacy pre-Flate PDFs compress content
    * streams with this.
    */
  private[graft] def lzwDecode(data: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val out = new Bounded(math.max(64, data.length * 3))
    val dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    def resetDict(): Unit = {
      var i = 0
      while (i < 256) { dict(i) = Array(i.toByte); i += 1 }
      dictSize = 258
    }
    resetDict()
    var width = 9
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var prev: Array[Byte] = null
    while (pos < data.length || bitCnt >= width) {
      while (bitCnt < width && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xffL); bitCnt += 8; pos += 1
      }
      if (bitCnt < width) return out.toByteArray // trailing padding
      val code = ((bitBuf >> (bitCnt - width)) & ((1 << width) - 1)).toInt
      bitCnt -= width
      if (code == 256) { resetDict(); width = 9; prev = null }
      else if (code == 257) return out.toByteArray
      else {
        val entry: Array[Byte] =
          if (code < dictSize && dict(code) != null) dict(code)
          else if (code == dictSize && prev != null) prev :+ prev(0) // KwKwK case
          else throw new IllegalStateException(s"bad LZW code $code")
        out.write(entry, 0, entry.length)
        if (prev != null && dictSize < 4096) {
          dict(dictSize) = prev :+ entry(0)
          dictSize += 1
        }
        // EarlyChange: width bumps when the NEXT code could overflow
        if (dictSize + earlyChange >= (1 << width) && width < 12) width += 1
        prev = entry
      }
    }
    out.toByteArray
  }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, '>' ends. */
  private[graft] def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = (data(i) & 0xff).toChar
      if (c == '>') done = true
      else if (!isWs(data(i))) {
        val v = Character.digit(c, 16)
        if (v < 0) throw new IllegalStateException(s"bad hex char '$c'")
        if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4) // odd count: final digit followed by 0
    out.toByteArray
  }

  /** ASCII85Decode (§7.4.3): base-85 groups, 'z' = four zero bytes, ends
    * with '~>'; a partial final group drops its padding bytes.
    */
  private[graft] def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    var tuple = 0L
    var count = 0
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = (data(i) & 0xff).toChar
      if (c == '~') done = true
      else if (c == 'z' && count == 0) out.write(Array[Byte](0, 0, 0, 0), 0, 4)
      else if (!isWs(data(i))) {
        if (c < '!' || c > 'u') throw new IllegalStateException(s"bad a85 char '$c'")
        tuple = tuple * 85 + (c - '!')
        count += 1
        if (count == 5) {
          out.write(((tuple >> 24) & 0xff).toInt); out.write(((tuple >> 16) & 0xff).toInt)
          out.write(((tuple >> 8) & 0xff).toInt); out.write((tuple & 0xff).toInt)
          tuple = 0; count = 0
        }
      }
      i += 1
    }
    if (count > 0) {
      // a single leftover char cannot encode any byte (§7.4.3) — corrupt
      // input is an error, not silent truncation
      if (count == 1) throw new IllegalStateException("truncated ascii85 group")
      // pad with 'u' (84) and keep count-1 bytes
      var k = count
      while (k < 5) { tuple = tuple * 85 + 84; k += 1 }
      val bytes = Array(((tuple >> 24) & 0xff).toByte, ((tuple >> 16) & 0xff).toByte,
        ((tuple >> 8) & 0xff).toByte, (tuple & 0xff).toByte)
      out.write(bytes, 0, count - 1)
    }
    out.toByteArray
  }

  /** RunLengthDecode (§7.4.5): length byte n<128 copies n+1 literals,
    * n>128 repeats the next byte 257−n times, 128 = EOD.
    */
  private[graft] def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new Bounded(data.length * 2)
    var i = 0
    while (i < data.length) {
      val n = data(i) & 0xff
      i += 1
      if (n == 128) return out.toByteArray
      else if (n < 128) {
        val len = n + 1
        if (i + len > data.length) throw new IllegalStateException("truncated RLE literal")
        out.write(data, i, len); i += len
      } else {
        if (i >= data.length) throw new IllegalStateException("truncated RLE run")
        val b = data(i); i += 1
        var k = 0
        val len = 257 - n
        while (k < len) { out.write(b & 0xff); k += 1 }
      }
    }
    out.toByteArray
  }

  /** PNG predictors (per RFC 2083 §6, referenced by PDF §7.4.4.4).
    * `rowLen` = ceil(Columns×Colors×BitsPerComponent/8) bytes/row and the
    * left/upper-left references step by `bpp` = Colors×BitsPerComponent/8
    * bytes (min 1) — xref streams use Colors=1/BPC=8 (Predictor 12 / Up),
    * but image rasters routinely carry Predictor 15 with Colors=3, where a
    * 1-byte left reference would silently shear every row.
    */
  private def pngPredict(data: Array[Byte], rowLen: Int, bpp: Int = 1): Array[Byte] = {
    val nRows = data.length / (rowLen + 1)
    val out = new Array[Byte](nRows * rowLen)
    var r = 0
    while (r < nRows) {
      val ft = data(r * (rowLen + 1)) & 0xff
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var c = 0
      while (c < rowLen) {
        val raw = data(src + c) & 0xff
        val left = if (c >= bpp) out(dst + c - bpp) & 0xff else 0
        val up = if (r > 0) out(dst - rowLen + c) & 0xff else 0
        val ul = if (r > 0 && c >= bpp) out(dst - rowLen + c - bpp) & 0xff else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + (left + up) / 2
          case 4 => // Paeth
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case other => throw new IllegalStateException(s"png filter $other")
        }
        out(dst + c) = (v & 0xff).toByte
        c += 1
      }
      r += 1
    }
    out
  }

  // ------------------------------------------------------------ document
  /** Either-style result so a bad file is a row-level failure, not a task
    * failure (same error-channel contract as the media codecs).
    */
  def pdfInfo(data: Array[Byte], password: Option[String] = None): Either[String, PdfInfo] =
    try Right(info(data, open(data, password))._1)
    catch { case e: Exception => Left(Formats.parseError("pdf", e)) }

  /** Opens `data` under `password` (None: the empty user password is
    * tried) — the only way into a PDF. A `Left` is [[Locked]] or
    * [[UnsupportedHandler]]; each caller phrases that its own way. A broken
    * file or a wrong password throws.
    */
  private[extract] def open(data: Array[Byte], password: Option[String]): Either[KeyResult, Doc] = {
    val doc = new Doc(data, password)
    doc.access match {
      case Locked | UnsupportedHandler => Left(doc.access)
      case _ => Right(doc)
    }
  }

  /** An opened file: its xref, its object cache and its file key, fixed
    * when [[open]] built it.
    */
  private[extract] final class Doc private[PdfBytes] (data: Array[Byte], password: Option[String]) {
    /** obj num → either (file offset, generation) (Left) or
      * (objstm num, index) (Right). [[FreeEntry]] (offset -1) is the
      * free-entry tombstone: a newer revision's deletion must beat older
      * sections' stale entries.
      */
    private val xref = mutable.Map[Int, Either[(Long, Int), (Int, Int)]]()
    private val FreeEntry: Either[(Long, Int), (Int, Int)] = Left((-1L, 0))
    var trailer: Map[String, PObj] = Map.empty
    private val cache = mutable.Map[Int, PObj]()

    /** Objects inside object streams are NOT individually encrypted
      * (§7.5.7) — string decryption must skip them.
      */
    private val objStmCarried = mutable.Set[Int]()
    /** Decoded object-stream payloads, by stream number. */
    private val objStms = mutable.Map[Int, Array[Byte]]()
    /** Bytes every filter chain has produced so far (the document budget). */
    private var decodedBytes = 0L

    /** The xref generation of an in-use direct object (0 for ObjStm-carried
      * objects, whose implicit generation is 0 per §7.5.7). Per-object
      * crypto keys (Algorithm 1) hash this, so a gen>0 object must not be
      * keyed as gen 0.
      */
    private def genOf(num: Int): Int = xref.get(num) match {
      case Some(Left((off, g))) if off >= 0 => g
      case _ => 0
    }

    /** Every xref-section offset ever visited — /Prev chains AND /XRefStm
      * recursion both guard on it, so mutually-referencing sections in a
      * corrupt file terminate instead of overflowing the stack (a
      * StackOverflowError would escape the Exception-only failure-row
      * catch).
      */
    private val xrefSeen = mutable.Set[Long]()

    locally {
      val sxAt = lastIndexOf(data, "startxref".getBytes)
      if (sxAt < 0) throw new IllegalStateException("no startxref")
      val p = new Parser(data, sxAt + "startxref".length)
      p.skipWs()
      var off = p.word().toLong
      while (off > 0) off = readXrefSection(off.toInt)
    }

    /** How the file opened under `password`. It is derived from the
      * /Encrypt dict and the trailer /ID, which are never encrypted: while
      * it is derived it is still null, so those reads run in the clear.
      */
    private[PdfBytes] val access: KeyResult = encryptionKey(this, password)

    private def fileKey: Option[Opened] = access match {
      case o: Opened => Some(o)
      case _ => None
    }

    /** Strings and streams decrypt under a file key. */
    def encrypted: Boolean = fileKey.nonEmpty

    /** The Catalog's XMP /Metadata stream when /EncryptMetadata is false:
      * it is stored plaintext in an otherwise encrypted file (-1: none).
      * Streams decoded while it is found see 0, the free-list head that
      * numbers no stream, and decrypt as usual.
      */
    private val plainMetadata: Int = fileKey match {
      case Some(Opened(_, _, false)) =>
        dict(trailer.getOrElse("Root", PNull)).get("Metadata") match {
          case Some(PRef(n, _)) => n
          case _ => -1
        }
      case _ => -1
    }

    /** String `b` of object `num`, decrypted under that object's key. */
    private[extract] def plainString(num: Int, b: Array[Byte]): Array[Byte] =
      if (objStmCarried.contains(num)) b else decrypt(num, b)

    /** The payload of stream object `num`, decrypted but still filtered.
      * Stored plaintext even in an encrypted file: a stream whose chain
      * names the /Crypt Identity filter (§7.4.10), and the XMP metadata
      * when /EncryptMetadata is false.
      */
    private[extract] def plainStream(num: Int, s: PStream): Array[Byte] =
      if (!encrypted || num == plainMetadata || identityCrypt(s)) s.data
      else decrypt(num, s.data)

    private def decrypt(num: Int, b: Array[Byte]): Array[Byte] = fileKey match {
      case Some(Opened(k, aes, _)) => PdfCrypt.decryptData(k, aes, num, genOf(num), b)
      case None => b
    }

    /** The chain's first /Crypt filter is Identity: /Name Identity, or no
      * /Name (Identity is the §7.4.10 default).
      */
    private def identityCrypt(s: PStream): Boolean =
      filterChain(s.dict.m).getOrElse(Nil).find(_._1 == "Crypt")
        .exists(_._2.forall(_.m.get("Name").forall(resolve(_) == PName("Identity"))))

    /** A stream's /Filter chain, each filter with its resolved /DecodeParms
      * dict: a bare dict applies to a one-filter chain, an array aligns by
      * position (§7.3.8.2). `Left` is a /Filter that is neither a name nor
      * an array.
      */
    private[extract] def filterChain(m: Map[String, PObj]): Either[PObj, Seq[(String, Option[PDict])]] =
      (resolve(m.getOrElse("Filter", PNull)) match {
        case PName(n) => Right(Seq(n))
        case PArr(items) => Right(items.map(resolve(_)).collect { case PName(n) => n })
        case PNull => Right(Nil)
        case other => Left(other)
      }).map { filters =>
        val parms: Seq[Option[PDict]] =
          resolve(m.getOrElse("DecodeParms", m.getOrElse("DP", PNull))) match {
            case d: PDict => Seq(Some(d))
            case PArr(items) => items.map(resolve(_)).map {
              case d: PDict => Some(d)
              case _ => None
            }
            case _ => Nil
          }
        filters.zipWithIndex.map { case (f, i) => (f, parms.lift(i).flatten) }
      }

    private def lastIndexOf(hay: Array[Byte], needle: Array[Byte]): Int = {
      var i = hay.length - needle.length
      while (i >= 0) {
        var j = 0
        while (j < needle.length && hay(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
        i -= 1
      }
      -1
    }

    /** Reads one xref section (classic table or xref stream) at `off`;
      * returns the /Prev offset or 0.
      */
    private def readXrefSection(off: Int): Long = {
      if (!xrefSeen.add(off.toLong)) return 0L // already visited: cycle/dup
      val p = new Parser(data, off)
      p.skipWs()
      if (p.peek == 'x') { // classic: "xref" then subsections then "trailer"
        p.expect("xref")
        var localTrailer: Map[String, PObj] = Map.empty
        // buffered, NOT installed inline: in hybrid-reference files
        // (§7.5.8.4) the classic table marks ObjStm-compressed objects as
        // FREE and their real type-2 entries live in the /XRefStm stream,
        // which takes precedence over this section's own entries — so the
        // stream must install first or its entries get tombstone-shadowed
        val sectionEntries = mutable.ArrayBuffer[(Int, Either[(Long, Int), (Int, Int)])]()
        var done = false
        while (!done) {
          p.skipWs()
          if (p.peek == 't') {
            p.expect("trailer")
            localTrailer = as[PDict](p.obj()).m
            localTrailer.foreach { case (k, v) => if (!trailer.contains(k)) trailer += k -> v }
            done = true
          } else {
            val start = p.word().toInt
            p.skipWs()
            val count = p.word().toInt
            var n = 0
            while (n < count) {
              // entries are nominally fixed 20 bytes, but the 19-byte
              // single-EOL variant is a widespread real-world deviation —
              // parse tokens, not fixed slices
              p.skipWs()
              val offTok = p.word()
              p.skipWs()
              val genTok = p.word()
              p.skipWs()
              val ty = p.word()
              if (ty == "n") sectionEntries += ((start + n, Left((offTok.toLong, genTok.toInt))))
              else sectionEntries += ((start + n, FreeEntry)) // a newer revision freed it: tombstone beats older sections
              n += 1
            }
          }
        }
        // hybrid-reference files: THIS section's /XRefStm reads BEFORE the
        // section's own entries install (first-wins stays intact across
        // /Prev revisions because both go through getOrElseUpdate)
        localTrailer.get("XRefStm") match {
          case Some(PNum(v)) => readXrefSection(v.toInt)
          case _ => ()
        }
        sectionEntries.foreach { case (num, e) => xref.getOrElseUpdate(num, e) }
        localTrailer.get("Prev") match { case Some(PNum(v)) => v.toLong; case _ => 0L }
      } else { // 1.5+ xref STREAM: "N G obj << /Type /XRef ... >> stream"
        p.word(); p.skipWs(); p.word(); p.skipWs(); p.expect("obj")
        val stream = parseStreamAt(p)
        val dict = stream.dict.m
        dict.foreach { case (k, v) => if (!trailer.contains(k)) trailer += k -> v }
        val decoded = decode(stream)
        val w = as[PArr](dict("W")).items.map(as[PNum](_).v.toInt)
        val size = as[PNum](dict("Size")).v.toInt
        val index: Seq[(Int, Int)] = dict.get("Index") match {
          case Some(PArr(items)) =>
            items.map(as[PNum](_).v.toInt).grouped(2).map(g => (g(0), g(1))).toSeq
          case _ => Seq((0, size))
        }
        val rowLen = w.sum
        var rowAt = 0
        def field(row: Int, fi: Int): Long = {
          var o = rowAt + w.take(fi).sum
          var v = 0L
          var k = 0
          while (k < w(fi)) { v = (v << 8) | (decoded(o) & 0xffL); o += 1; k += 1 }
          v
        }
        index.foreach { case (start, count) =>
          var n = 0
          while (n < count && rowAt + rowLen <= decoded.length) {
            val ty = if (w(0) == 0) 1L else field(n, 0)
            val f2 = field(n, 1)
            val f3 = field(n, 2)
            val num = start + n
            if (!xref.contains(num)) ty match {
              case 1 => xref += num -> Left((f2, f3.toInt)) // f3 = generation
              case 2 => xref += num -> Right((f2.toInt, f3.toInt))
              case _ => xref += num -> FreeEntry // tombstone (see classic branch)
            }
            rowAt += rowLen
            n += 1
          }
        }
        dict.get("Prev") match { case Some(PNum(v)) => v.toLong; case _ => 0L }
      }
    }

    /** Parses `<< dict >> stream ... endstream` with the cursor after "obj". */
    private def parseStreamAt(p: Parser): PStream = {
      val dict = as[PDict](p.obj())
      p.skipWs()
      p.expect("stream")
      if (p.peek == '\r') p.pos += 1
      if (p.peek == '\n') p.pos += 1
      val len = numOf(resolve(dict.m("Length"))).toInt
      val payload = java.util.Arrays.copyOfRange(p.d, p.pos, p.pos + len)
      PStream(dict, payload)
    }

    /** Decrypts the payload (when `carrierNum` names the stream's object)
      * and applies the /Filter chain: Flate/LZW with per-filter
      * /DecodeParms predictors, the ASCII and RunLength transports. The
      * output counts against the document's [[Bin.MaxTotalBytes]].
      */
    private def decode(s: PStream, carrierNum: Option[Int] = None): Array[Byte] = {
      val chain = filterChain(s.dict.m)
        .fold(other => throw new IllegalStateException(s"filter $other"), identity)
      var out = carrierNum.fold(s.data)(plainStream(_, s))
      def applyPredictor(b: Array[Byte], parms: Option[PDict]): Array[Byte] = parms match {
        case Some(d) =>
          val pred = d.m.get("Predictor").map(v => numOf(v).toInt).getOrElse(1)
          if (pred >= 10) {
            val cols = d.m.get("Columns").map(v => numOf(v).toInt).getOrElse(1)
            val colors = d.m.get("Colors").map(v => numOf(v).toInt).getOrElse(1)
            val bitsPc = d.m.get("BitsPerComponent").map(v => numOf(v).toInt).getOrElse(8)
            val rowLen = (cols * colors * bitsPc + 7) / 8
            // libpng convention: the left-reference stride rounds UP
            // ((pixel_depth + 7) >> 3) — floor would shear 12-bit pixels
            val bpp = math.max(1, (colors * bitsPc + 7) / 8)
            pngPredict(b, rowLen, bpp)
          } else if (pred != 1) throw new IllegalStateException(s"predictor $pred")
          else b
        case None => b
      }
      chain.foreach {
        case ("FlateDecode" | "Fl", p) => out = applyPredictor(inflate(out), p)
        case ("LZWDecode" | "LZW", p) =>
          val early = p.flatMap(_.m.get("EarlyChange").map(v => numOf(v).toInt)).getOrElse(1)
          out = applyPredictor(lzwDecode(out, early), p)
        case ("ASCIIHexDecode" | "AHx", _) => out = asciiHexDecode(out)
        case ("ASCII85Decode" | "A85", _) => out = ascii85Decode(out)
        case ("RunLengthDecode" | "RL", _) => out = runLengthDecode(out)
        case ("Crypt", _) => () // Identity is stored plaintext; StdCF data
                                // decrypted under the file key above
        case (other, _) => throw new IllegalStateException(s"unsupported filter $other")
      }
      decodedBytes += out.length
      if (decodedBytes > Bin.MaxTotalBytes)
        throw new IllegalStateException(s"document decodes past ${Bin.MaxTotalBytes} bytes")
      out
    }

    private def numOf(o: PObj): Double = resolve(o) match {
      case PNum(v) => v
      case other => throw new IllegalStateException(s"expected number, got $other")
    }

    /** Resolves indirect references (with memoization); plain objects pass
      * through. Depth-guarded against reference cycles.
      */
    def resolve(o: PObj, depth: Int = 0): PObj = o match {
      case PRef(num, _) =>
        if (depth > 32) throw new IllegalStateException("reference cycle")
        resolve(loadObj(num), depth + 1)
      case other => other
    }

    private def loadObj(num: Int): PObj = cache.getOrElseUpdate(num, {
      xref.get(num) match {
        case Some(Left((offset, _))) =>
          if (offset < 0) return PNull // freed in a newer revision
          val p = new Parser(data, offset.toInt)
          p.skipWs(); p.word(); p.skipWs(); p.word(); p.skipWs(); p.expect("obj")
          val o = p.obj()
          p.skipWs()
          if (p.peek == 's') { p.pos -= 0; parseStreamTail(p, o) } else o
        case Some(Right((stmNum, idx))) =>
          val stm = resolve(PRef(stmNum, 0)) match {
            case s: PStream => s
            case other => throw new IllegalStateException(s"objstm $stmNum is $other")
          }
          val decoded = objStms.getOrElseUpdate(stmNum, decode(stm, carrierNum = Some(stmNum)))
          objStmCarried += num
          val n = numOf(stm.dict.m("N")).toInt
          val first = numOf(stm.dict.m("First")).toInt
          val hp = new Parser(decoded, 0)
          var target = -1
          var i = 0
          while (i < n) {
            hp.skipWs(); val on = hp.word().toInt
            hp.skipWs(); val ooff = hp.word().toInt
            if (i == idx) { target = ooff; if (on != num) () }
            i += 1
          }
          if (target < 0) throw new IllegalStateException(s"objstm index $idx out of range")
          new Parser(decoded, first + target).obj()
        case None => PNull
      }
    })

    /** If the object is followed by `stream`, attach its payload. */
    private def parseStreamTail(p: Parser, o: PObj): PObj = o match {
      case dict: PDict =>
        val save = p.pos
        p.skipWs()
        val w = p.word()
        if (w == "stream") {
          if (p.peek == '\r') p.pos += 1
          if (p.peek == '\n') p.pos += 1
          val len = numOf(resolve(dict.m("Length"))).toInt
          PStream(dict, java.util.Arrays.copyOfRange(p.d, p.pos, p.pos + len))
        } else { p.pos = save; dict }
      case other => other
    }

    /** The object body at `num` WITHOUT resolving nested references — the
      * copy unit for [[PdfRewrite]].
      */
    private[extract] def rawObject(num: Int): PObj = loadObj(num)

    /** Resolves `ref` to a stream and returns its fully-decoded payload
      * (decrypted, then de-filtered) — the content-stream read path for
      * [[PdfText]].
      */
    private[extract] def decodedStream(ref: PObj): Option[Array[Byte]] = resolve(ref) match {
      case s: PStream =>
        val num = ref match { case PRef(n, _) => Some(n); case _ => None }
        Some(decode(s, carrierNum = num))
      case _ => None
    }

    def dict(o: PObj): Map[String, PObj] = resolve(o) match {
      case PDict(m) => m
      case PStream(PDict(m), _) => m
      case PNull => Map.empty
      case other => throw new IllegalStateException(s"expected dict, got $other")
    }

    /** The page-tree walk (§7.7.3): calls `f(node, page)` for every
      * /Type /Page leaf under the catalog's /Pages, in document order.
      * `page` is the leaf's dict with the [[Inheritable]] attributes filled
      * in from its nearest ancestor that sets them. The walk keeps its own
      * stack, so a deep /Kids chain cannot overflow the thread; a node
      * reached twice is a cycle and throws.
      */
    private[extract] def foreachPage(f: (PObj, Map[String, PObj]) => Unit): Unit = {
      val visited = mutable.Set[PObj]()
      val todo = mutable.Stack[(PObj, Map[String, PObj])]((dict(trailer("Root"))("Pages"), Map.empty))
      while (todo.nonEmpty) {
        val (node, inherited) = todo.pop()
        if (!visited.add(node)) throw new IllegalStateException("page tree cycle")
        val m = dict(node)
        val inh = inherited ++ Inheritable.flatMap(k => m.get(k).map(k -> _))
        m.get("Type") match {
          case Some(PName("Page")) => f(node, m ++ inh)
          case _ =>
            resolve(m.getOrElse("Kids", PArr(Vector.empty))) match {
              case PArr(kids) => kids.reverseIterator.foreach(k => todo.push((k, inh)))
              case _ => ()
            }
        }
      }
    }
  }

  /** Page attributes a /Pages node passes down to its leaves (§7.7.3.4). */
  private val Inheritable = Seq("MediaBox", "Resources", "Rotate", "CropBox")

  /** PDF text string → java String (§7.9.2.2): UTF-16BE with BOM, else
    * UTF-8 with BOM (PDF 2.0), else PDFDocEncoding (≈ Latin-1 for the
    * printable range — the same approximation pypdf applies).
    */
  def decodeTextString(bytes: Array[Byte]): String =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16BE)
    else if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      new String(bytes, 3, bytes.length - 3, StandardCharsets.UTF_8)
    else new String(bytes, StandardCharsets.ISO_8859_1)

  private[extract] sealed trait KeyResult
  private[extract] case object NotEncrypted extends KeyResult
  /** empty password failed and none was provided */
  private[extract] case object Locked extends KeyResult
  /** Non-Standard security handlers (public-key etc.) */
  private[extract] case object UnsupportedHandler extends KeyResult
  private[extract] final case class Opened(
      key: Array[Byte], aes: Boolean, encryptMetadata: Boolean = true) extends KeyResult

  /** The `Left` of the page-level entry points ([[PdfText]],
    * [[PdfRewrite]]) for a file they cannot open.
    */
  private[extract] def encryptedError(k: KeyResult): String =
    if (k == Locked) "pdf_encrypted: password required" else "pdf_encrypted: unsupported handler"

  /** Standard-handler password resolution, run once by [[open]] — the
    * reference's semantics (pdf_utils.py:205-225): a provided password
    * verifies or THROWS "Incorrect password"; otherwise the empty user
    * password is tried (the owner-locked case).
    */
  private def encryptionKey(doc: Doc, password: Option[String]): KeyResult =
    doc.trailer.get("Encrypt") match {
      case None => NotEncrypted
      case Some(encRef) =>
        val enc = doc.dict(encRef)
        def num(k: String, dflt: Double): Double = enc.get(k).map(doc.resolve(_)) match {
          case Some(PNum(v)) => v
          case _ => dflt
        }
        val v = num("V", 0).toInt
        if (!enc.get("Filter").contains(PName("Standard"))) return UnsupportedHandler
        def strOf(k: String): Array[Byte] = enc.get(k).map(doc.resolve(_)) match {
          case Some(PStr(b)) => b
          case _ => Array.emptyByteArray
        }
        if (v == 5) {
          // AES-256 (AESV3, ISO 32000-2 §7.6.4): SHA-2 password hash
          // (Algorithm 2.B for R6, plain SHA-256 for the withdrawn R5),
          // /UE//OE unwrap the 32-byte FILE key — no per-object keys.
          // Passwords are UTF-8, capped at 127 bytes (§7.6.4.3.2).
          val rV5 = num("R", 6).toInt
          val u = strOf("U"); val ue = strOf("UE")
          val o = strOf("O"); val oe = strOf("OE")
          val em = enc.get("EncryptMetadata").map(doc.resolve(_)) match {
            case Some(PBool(b)) => b
            case _ => true
          }
          def open(pw: Array[Byte]): Option[Array[Byte]] =
            PdfCrypt.verifyUserPasswordV5(pw, u, ue, rV5)
              .orElse(PdfCrypt.verifyOwnerPasswordV5(pw, o, oe, u, rV5))
          return password match {
            case Some(pw) =>
              open(pw.getBytes(StandardCharsets.UTF_8).take(127)) match {
                case Some(k) => Opened(k, aes = true, em)
                case None => throw new IllegalStateException("Incorrect password for encrypted PDF")
              }
            case None =>
              open(Array.emptyByteArray) match {
                case Some(k) => Opened(k, aes = true, em)
                case None => Locked
              }
          }
        }
        // V1/V2 = RC4; V4 dispatches on the /StdCF crypt filter: AESV2
        // (AES-128-CBC) or V2 (RC4 under crypt-filter framing).
        val aes = v match {
          case 1 | 2 => false
          case 4 =>
            val cfm = for {
              cf <- enc.get("CF").map(doc.resolve(_))
              std <- cf match { case PDict(m) => m.get("StdCF").map(doc.resolve(_)); case _ => None }
              n <- std match { case PDict(m) => m.get("CFM").map(doc.resolve(_)); case _ => None }
            } yield n
            cfm match {
              case Some(PName("AESV2")) => true
              case Some(PName("V2")) => false
              case _ => return UnsupportedHandler
            }
          case _ => return UnsupportedHandler
        }
        val o = as[PStr](doc.resolve(enc("O"))).bytes
        val u = as[PStr](doc.resolve(enc("U"))).bytes
        // /P is often serialized as an unsigned 32-bit value (e.g.
        // 4294967292 for -4); Double→Int SATURATES at Int.MaxValue, so go
        // through Long to get two's-complement wrapping
        val p = num("P", -1).toLong.toInt
        val r = num("R", 2).toInt
        val keyLen =
          if (v == 1) 5
          else if (v == 4) num("Length", 128).toInt / 8
          else num("Length", 40).toInt / 8
        val encryptMetadata = enc.get("EncryptMetadata").map(doc.resolve(_)) match {
          case Some(PBool(b)) => b
          case _ => true
        }
        val id0 = doc.trailer.get("ID").map(doc.resolve(_)) match {
          case Some(PArr(items)) if items.nonEmpty =>
            as[PStr](doc.resolve(items.head)).bytes
          case _ => Array.emptyByteArray
        }
        def verify(pw: Array[Byte]) =
          PdfCrypt.verifyUserPassword(pw, o, u, p, id0, r, keyLen, encryptMetadata)
        password match {
          case Some(pw) =>
            verify(pw.getBytes(StandardCharsets.ISO_8859_1)) match {
              case Some(k) => Opened(k, aes, encryptMetadata)
              case None => throw new IllegalStateException("Incorrect password for encrypted PDF")
            }
          case None =>
            verify(Array.emptyByteArray) match {
              case Some(k) => Opened(k, aes, encryptMetadata) // empty-password docs open as not-encrypted
              case None => Locked
            }
        }
    }

  /** The info of an opened file and its page dicts in document order,
    * from one page-tree walk. A locked file has the reference's basic
    * encrypted shape (pdf_utils.py:217-225) and no pages.
    */
  private[extract] def info(
      data: Array[Byte],
      opened: Either[KeyResult, Doc]): (PdfInfo, Seq[Map[String, PObj]]) = opened match {
    case Left(_) => (PdfInfo(0, data.length.toLong, isEncrypted = true, Nil, "", ""), Nil)
    case Right(doc) =>
      val dims = Vector.newBuilder[PageDim]
      val pages = Vector.newBuilder[Map[String, PObj]]
      doc.foreachPage { (_, page) =>
        pages += page
        val box = doc.resolve(page.getOrElse("MediaBox",
          throw new IllegalStateException("page without MediaBox")))
        val nums = as[PArr](box).items.map(v => as[PNum](doc.resolve(v)).v)
        dims += PageDim(math.abs(nums(2) - nums(0)), math.abs(nums(3) - nums(1)))
      }
      val infoRef = doc.trailer.get("Info")
      val info = infoRef.map(doc.dict).getOrElse(Map.empty)
      // strings decrypt under their carrier's key: a direct Info dict is
      // keyed as object 0
      val infoNum = infoRef match {
        case Some(PRef(n, _)) => n
        case _ => 0
      }
      def text(key: String): String = info.get(key).map(doc.resolve(_)) match {
        case Some(PStr(b)) => decodeTextString(doc.plainString(infoNum, b))
        case _ => ""
      }
      val ds = dims.result()
      (PdfInfo(ds.length, data.length.toLong, isEncrypted = false, ds, text("Title"), text("Author")),
        pages.result())
  }

  // ------------------------------------------------------------ writer
  /** Minimal deterministic PDF writer (classic xref, one empty content
    * stream per page) — the encode side of the round-trip fixtures, same
    * pattern as `WavCodec.encodeWav`. Strings are written as literals with
    * the required escapes; non-Latin-1 titles get the UTF-16BE BOM form.
    */
  def buildPdf(pages: Seq[(Double, Double)], title: String, author: String): Array[Byte] =
    buildPdf(pages, title, author, None)

  /** `encryptWith = Some((userPassword, r))` (r = 2 → RC4-40/V1, r = 3 →
    * RC4-128/V2, r = 4 → AES-128/V4/AESV2, r = 5/6 → AES-256/V5/AESV3)
    * emits the Standard-handler /Encrypt dict with O/U (+OE/UE/Perms for
    * V5) entries from `PdfCrypt` and encrypts the Info strings — the
    * encode side of the decryption round-trip tests.
    */
  def buildPdf(
      pages: Seq[(Double, Double)],
      title: String,
      author: String,
      encryptWith: Option[(String, Int)]): Array[Byte] = {
    require(pages.nonEmpty, "at least one page")
    import Bin.hex
    // encryption state when requested: r=2/3 RC4, r=4 AES-128/AESV2,
    // r=5/6 AES-256/AESV3 (V5: /UE//OE carry the wrapped 32-byte file key)
    val enc = encryptWith.map { case (userPwd, r) =>
      val id0 = PdfCrypt.md5(s"$title/$author/${pages.length}".getBytes(StandardCharsets.UTF_8))
      val perm = -44
      if (r >= 5) {
        val pw = userPwd.getBytes(StandardCharsets.UTF_8).take(127)
        val fileKey = PdfCrypt.md5("v5-key-a".getBytes, pw) ++
          PdfCrypt.md5("v5-key-b".getBytes, pw) // deterministic 32 bytes
        val (u, ue, o, oe) = PdfCrypt.computeV5Entries(pw, pw, fileKey, r)
        (fileKey, id0, o, u, perm, r, Some((oe, ue)))
      } else {
        val pw = userPwd.getBytes(StandardCharsets.ISO_8859_1)
        val keyLen = if (r == 2) 5 else 16
        val oEntry = PdfCrypt.computeO(pw, pw, r, keyLen)
        val key = PdfCrypt.fileKey(pw, oEntry, perm, id0, r, keyLen)
        val uRaw = PdfCrypt.computeU(key, id0, r)
        val uEntry = if (r == 2) uRaw else uRaw ++ new Array[Byte](16) // pad to 32
        (key, id0, oEntry, uEntry, perm, r, None)
      }
    }
    /** PDF text string: Latin-1 as is, anything wider as UTF-16BE + BOM. */
    def textStringBytes(s: String): Array[Byte] =
      if (s.exists(_ > 0xff)) Array(0xfe.toByte, 0xff.toByte) ++ s.getBytes(StandardCharsets.UTF_16BE)
      else s.getBytes(StandardCharsets.ISO_8859_1)
    /** Info strings: encrypted under the carrier object's key (RC4, or
      * AES-CBC when r = 4), hex-emitted; unencrypted Latin-1 as literals.
      */
    def infoString(s: String, objNum: Int): String = enc match {
      case Some((key, _, _, _, _, r, _)) if r >= 5 =>
        hex(PdfCrypt.encryptAesFileKey(key, textStringBytes(s)))
      case Some((key, _, _, _, _, r, _)) if r == 4 =>
        hex(PdfCrypt.encryptAes(key, objNum, 0, textStringBytes(s)))
      case Some((key, _, _, _, _, _, _)) =>
        hex(PdfCrypt.encryptString(key, objNum, 0, textStringBytes(s)))
      case None => if (s.exists(_ > 0xff)) hex(textStringBytes(s)) else Bin.pdfLiteral(s)
    }

    val pdf = new Bin.PdfWriter
    val nPages = pages.length
    // object numbering: 1 = Catalog, 2 = Pages, 3..(2+n) = Page, then one
    // shared empty content stream, then Info (then Encrypt when present)
    val contentNum = 3 + nPages
    val infoNum = contentNum + 1
    val encNum = infoNum + 1
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, s"<< /Type /Pages /Count $nPages /Kids [ ${(0 until nPages).map(i => s"${3 + i} 0 R").mkString(" ")} ] >>")
    pages.zipWithIndex.foreach { case ((pw, ph), i) =>
      pdf.obj(3 + i, s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 ${Bin.num(pw)} ${Bin.num(ph)} ] /Contents $contentNum 0 R >>")
    }
    pdf.stream(contentNum, "<< /Length 0 >>", Array.emptyByteArray)
    pdf.obj(infoNum, s"<< /Title ${infoString(title, infoNum)} /Author ${infoString(author, infoNum)} >>")
    enc.foreach { case (key, _, oEntry, uEntry, perm, r, v5) =>
      val vLen =
        if (r >= 5)
          "/V 5 /Length 256 /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
        else if (r == 2) "/V 1"
        else if (r == 4)
          "/V 4 /Length 128 /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
        else "/V 2 /Length 128"
      val v5Entries = v5.map { case (oe, ue) =>
        s" /OE ${hex(oe)} /UE ${hex(ue)} /Perms ${hex(PdfCrypt.computePerms(key, perm, encryptMetadata = true))}"
      }.getOrElse("")
      pdf.obj(encNum, s"<< /Filter /Standard $vLen /R $r /O ${hex(oEntry)} /U ${hex(uEntry)} /P $perm$v5Entries >>")
    }
    val encTrailer = enc match {
      case Some((_, id0, _, _, _, _, _)) => s" /Encrypt $encNum 0 R /ID [ ${hex(id0)} ${hex(id0)} ]"
      case None => ""
    }
    pdf.finish(s" /Info $infoNum 0 R$encTrailer")
  }
}
