package graft.extract

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** WebP-lossless (VP8L) codec — from-scratch implementation of the public
  * bitstream spec (RFC 9649 §3, the format PIL/libwebp write for
  * lossless images). The reference rewrites `data:image/png` payloads to
  * `data:image/webp` (utils.py:101-128); the JDK ships no WebP codec, so
  * until now that rewrite emitted PNG bytes under a documented partial.
  * This encoder produces REAL VP8L: any WebP decoder reads it back
  * pixel-exact.
  *
  * Encoder subset (always valid VP8L): no transforms, no color cache, no
  * LZ77 backward references — one prefix-code group with per-channel
  * codes built from the image's actual symbol frequencies (simple codes
  * for ≤2 distinct symbols, canonical length-limited prefix codes
  * otherwise). The decoder implements the same subset plus simple/normal
  * code reading generally, and is the round-trip half of the correctness
  * evidence (plus hand-computed header/bit goldens in WebpSpec — the
  * round-trip alone cannot catch a convention error that both sides
  * share, so the header layout and code-length-code order are pinned
  * against the published spec values).
  *
  * Bit conventions (per spec): the stream is LSB-first; ReadBits(n)
  * values arrive least-significant-bit first; prefix-code bits are read
  * one at a time building the canonical code MSB-first (the DEFLATE
  * convention libwebp reuses).
  *
  * Pixels are ARGB Ints, row-major.
  */
object WebpL {

  /** Code-length-code symbol order (RFC 9649 §3.5.2 kCodeLengthCodeOrder). */
  private[graft] val CodeLengthOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private val GreenAlphabet = 256 + 24 // no color cache
  private val DistAlphabet = 40

  // ------------------------------------------------------------ bit I/O
  private final class BitWriterLsb {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0
    /** n value bits, least-significant first. */
    def writeBits(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >>> i) & 1) << nbits
        nbits += 1
        if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
        i += 1
      }
    }
    /** A prefix code: MSB of the canonical code first. */
    def writeCode(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { writeBits((code >>> i) & 1, 1); i -= 1 }
    }
    def toByteArray: Array[Byte] = {
      if (nbits > 0) { out.write(cur); cur = 0; nbits = 0 }
      out.toByteArray
    }
  }

  private final class BitReaderLsb(d: Array[Byte]) {
    private val limit = d.length * 8
    var pos = 0
    def eof: Boolean = pos >= limit
    /** Reads past the final byte throw: a conforming stream never needs
      * bits beyond its own bytes, so running off the end is truncation or
      * corruption — never silently-zero pixels.
      */
    def readBits(n: Int): Int = {
      if (pos + n > limit)
        throw new IllegalStateException("truncated VP8L stream")
      var v = 0
      var i = 0
      while (i < n) {
        val p = pos + i
        v |= ((d(p >> 3) >>> (p & 7)) & 1) << i
        i += 1
      }
      pos += n
      v
    }
  }

  // -------------------------------------------------------- prefix codes
  /** Canonical code assignment from lengths (DEFLATE order: by length,
    * then symbol).
    */
  private def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val codes = new Array[Int](lengths.length)
    val maxLen = if (lengths.isEmpty) 0 else lengths.max
    var code = 0
    var len = 1
    while (len <= maxLen) {
      var sym = 0
      while (sym < lengths.length) {
        if (lengths(sym) == len) { codes(sym) = code; code += 1 }
        sym += 1
      }
      code <<= 1
      len += 1
    }
    codes
  }

  /** Length-limited prefix lengths from frequencies via package-merge
    * (Larmore-Hirschberg): optimal under the limit and always COMPLETE
    * (Kraft sum exactly 1 for ≥ 2 symbols) — strict decoders like libwebp
    * reject incomplete codes, so a clamp-and-repair heuristic that can
    * land at Kraft < 1 would emit spec-invalid files. Requires
    * 2^maxLen ≥ used-symbol count (holds: 2^15 ≥ 280, 2^7 ≥ 19).
    */
  private[graft] def huffmanLengths(freq: Array[Int], maxLen: Int): Array[Int] = {
    val n = freq.length
    val used = (0 until n).filter(freq(_) > 0)
    val lengths = new Array[Int](n)
    if (used.isEmpty) return lengths
    if (used.size == 1) { lengths(used.head) = 1; return lengths }
    require((1L << maxLen) >= used.size, s"limit $maxLen too tight for ${used.size}")
    // items carry (weight, the leaves they contain)
    final case class Item(w: Long, syms: List[Int])
    val leaves = used.map(s => Item(freq(s).toLong, List(s))).sortBy(_.w).toList
    var prev = List.empty[Item]
    var level = 0
    while (level < maxLen) {
      val packages = prev.grouped(2).collect {
        case List(a, b) => Item(a.w + b.w, a.syms ++ b.syms)
      }.toList
      prev = (leaves ++ packages).sortBy(_.w)
      level += 1
    }
    prev.take(2 * used.size - 2).foreach(_.syms.foreach(s => lengths(s) += 1))
    // completeness invariant (integer Kraft in units of 2^-maxLen)
    val kraftUnits = used.map(s => 1L << (maxLen - lengths(s))).sum
    require(kraftUnits == (1L << maxLen), s"incomplete code: $kraftUnits")
    lengths
  }

  /** Bit-serial prefix decoder: canonical first-code/offset tables per
    * length (allocation-free per symbol — this sits in the per-pixel
    * decode hot path).
    */
  private final class PrefixCode(val lengths: Array[Int]) {
    private val codes = canonicalCodes(lengths)
    val singleSymbol: Int = {
      val used = lengths.indices.filter(lengths(_) > 0)
      if (used.size == 1) used.head else -1
    }
    private val maxLen = if (lengths.isEmpty) 0 else lengths.max
    // canonical decode tables: symbols sorted by (length, symbol);
    // firstCode(len) = smallest code of that length, offset(len) = its
    // index in the sorted array, count(len) = how many
    private val sortedSyms =
      lengths.indices.filter(lengths(_) > 0).sortBy(s => (lengths(s), s)).toArray
    private val countByLen = new Array[Int](maxLen + 1)
    sortedSyms.foreach(s => countByLen(lengths(s)) += 1)
    private val offsetByLen = new Array[Int](maxLen + 1)
    private val firstCodeByLen = new Array[Int](maxLen + 1)
    locally {
      var off = 0
      var code = 0
      var len = 1
      while (len <= maxLen) {
        offsetByLen(len) = off
        firstCodeByLen(len) = code
        off += countByLen(len)
        code = (code + countByLen(len)) << 1
        len += 1
      }
    }
    def code(sym: Int): (Int, Int) = (codes(sym), lengths(sym))
    def read(r: BitReaderLsb): Int = {
      if (singleSymbol >= 0) return singleSymbol
      var len = 0
      var code = 0
      while (len < maxLen) {
        code = (code << 1) | r.readBits(1)
        len += 1
        val rel = code - firstCodeByLen(len)
        if (rel >= 0 && rel < countByLen(len))
          return sortedSyms(offsetByLen(len) + rel)
      }
      throw new IllegalStateException("bad prefix code")
    }
  }

  // --------------------------------------------------------------- write
  private def writePrefixCode(w: BitWriterLsb, freq: Array[Int]): PrefixCode = {
    val used = freq.indices.filter(freq(_) > 0)
    if (used.size <= 2 && used.forall(_ <= 255)) {
      // simple code
      w.writeBits(1, 1) // is_simple
      val syms = if (used.isEmpty) Seq(0) else used
      w.writeBits(syms.length - 1, 1) // num_symbols - 1
      if (syms.head <= 1) { w.writeBits(0, 1); w.writeBits(syms.head, 1) }
      else { w.writeBits(1, 1); w.writeBits(syms.head, 8) }
      if (syms.length == 2) w.writeBits(syms(1), 8)
      // one length array serves both cases: a single used symbol routes
      // through PrefixCode.singleSymbol (zero bits read/written — emit
      // skips single-symbol codes), two symbols get 1-bit codes
      val lengths = new Array[Int](freq.length)
      syms.foreach(s => lengths(s) = 1)
      new PrefixCode(lengths)
    } else {
      w.writeBits(0, 1) // normal code
      val symLengths = huffmanLengths(freq, maxLen = 15)
      // code-length alphabet: literal lengths only (no 16/17/18 reps) —
      // valid, just less compact
      val clFreq = new Array[Int](19)
      symLengths.foreach(l => clFreq(l) += 1)
      val clLengths = huffmanLengths(clFreq, maxLen = 7)
      val clCode = new PrefixCode(clLengths)
      // emit in kCodeLengthCodeOrder, trimming trailing zeros
      var numCl = CodeLengthOrder.length
      while (numCl > 4 && clLengths(CodeLengthOrder(numCl - 1)) == 0) numCl -= 1
      w.writeBits(numCl - 4, 4)
      var i = 0
      while (i < numCl) { w.writeBits(clLengths(CodeLengthOrder(i)), 3); i += 1 }
      w.writeBits(0, 1) // no max_symbol shortcut: all lengths coded
      // the 1-distinct-symbol code-length code reads zero bits per symbol,
      // which only terminates if every symbol shares that length — holds
      // by construction (clFreq has one nonzero bucket)
      symLengths.foreach { l =>
        if (clCode.singleSymbol >= 0) require(clCode.singleSymbol == l)
        else { val (c, n) = clCode.code(l); w.writeCode(c, n) }
      }
      new PrefixCode(symLengths)
    }
  }

  private def readPrefixCode(r: BitReaderLsb, alphabetSize: Int): PrefixCode = {
    if (r.readBits(1) == 1) { // simple
      val numSymbols = r.readBits(1) + 1
      val first =
        if (r.readBits(1) == 1) r.readBits(8) else r.readBits(1)
      val lengths = new Array[Int](alphabetSize)
      if (numSymbols == 1) { lengths(first) = 1; val pc = new PrefixCode(lengths); pc }
      else {
        val second = r.readBits(8)
        lengths(first) = 1; lengths(second) = 1
        new PrefixCode(lengths)
      }
    } else {
      val numCl = r.readBits(4) + 4
      val clLengths = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLengths(CodeLengthOrder(i)) = r.readBits(3); i += 1 }
      val clCode = new PrefixCode(clLengths)
      var maxSymbol = alphabetSize
      if (r.readBits(1) == 1) { // use max_symbol
        val nbits = 2 + 2 * r.readBits(3)
        maxSymbol = 2 + r.readBits(nbits)
      }
      val lengths = new Array[Int](alphabetSize)
      var sym = 0
      var prev = 8
      while (sym < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clCode.read(r)
        cl match {
          case l if l < 16 =>
            lengths(sym) = l; sym += 1
            if (l != 0) prev = l
          case 16 =>
            val rep = 3 + r.readBits(2)
            for (_ <- 0 until rep if sym < alphabetSize) { lengths(sym) = prev; sym += 1 }
          case 17 =>
            sym += math.min(3 + r.readBits(3), alphabetSize - sym)
          case _ =>
            sym += math.min(11 + r.readBits(7), alphabetSize - sym)
        }
      }
      new PrefixCode(lengths)
    }
  }

  /** Encode ARGB pixels (row-major) as a complete WebP file (RIFF +
    * VP8L). Always lossless; any conforming WebP decoder reproduces the
    * exact pixels.
    */
  def encode(argb: Array[Int], width: Int, height: Int): Array[Byte] = {
    require(width > 0 && width <= (1 << 14), s"width $width")
    require(height > 0 && height <= (1 << 14), s"height $height")
    require(argb.length == width * height, "pixel buffer size")
    val w = new BitWriterLsb
    val alphaUsed = argb.exists(p => (p >>> 24) != 0xFF)
    w.writeBits(width - 1, 14)
    w.writeBits(height - 1, 14)
    w.writeBits(if (alphaUsed) 1 else 0, 1)
    w.writeBits(0, 3) // version
    w.writeBits(0, 1) // no transforms
    w.writeBits(0, 1) // no color cache
    w.writeBits(0, 1) // no meta prefix (one code group)
    val gFreq = new Array[Int](GreenAlphabet)
    val rFreq = new Array[Int](256)
    val bFreq = new Array[Int](256)
    val aFreq = new Array[Int](256)
    argb.foreach { p =>
      gFreq((p >>> 8) & 0xFF) += 1
      rFreq((p >>> 16) & 0xFF) += 1
      bFreq(p & 0xFF) += 1
      aFreq(p >>> 24) += 1
    }
    val dFreq = new Array[Int](DistAlphabet) // never used: literal-only
    val gc = writePrefixCode(w, gFreq)
    val rc = writePrefixCode(w, rFreq)
    val bc = writePrefixCode(w, bFreq)
    val ac = writePrefixCode(w, aFreq)
    writePrefixCode(w, dFreq)
    def emit(pc: PrefixCode, sym: Int): Unit =
      if (pc.singleSymbol < 0) { val (c, n) = pc.code(sym); w.writeCode(c, n) }
    argb.foreach { p =>
      emit(gc, (p >>> 8) & 0xFF)
      emit(rc, (p >>> 16) & 0xFF)
      emit(bc, p & 0xFF)
      emit(ac, p >>> 24)
    }
    val payload = Array[Byte](0x2F) ++ w.toByteArray
    val chunk = payload.length
    val padded = chunk + (chunk & 1)
    new Bin.Sink(8 + 4 + 8 + padded)
      .ascii("RIFF").u32le(4 + 8 + padded).ascii("WEBP")
      .ascii("VP8L").u32le(chunk).bytes(payload).padTo(20 + padded)
      .toArray
  }

  /** True when the bytes carry the RIFF/WEBP/VP8L container signature. */
  def isVp8l(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length > 21 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'E' && bytes(10) == 'B' && bytes(11) == 'P' &&
      bytes(12) == 'V' && bytes(13) == 'P' && bytes(14) == '8' && bytes(15) == 'L' &&
      bytes(20) == 0x2F

  /** Header-only dimensions (28 bits past the signature — no raster
    * decode), None when the signature does not match OR the stream is
    * truncated inside the size field (isVp8l needs only 22 bytes; the
    * dims bits live in 21..24 — a 22-24-byte file must degrade to None
    * like every other unreadable payload, not throw out of filterMinSize).
    */
  def dims(bytes: Array[Byte]): Option[(Int, Int)] =
    if (!isVp8l(bytes) || bytes.length < 25) None
    else {
      val r = new BitReaderLsb(bytes.slice(21, 25))
      Some((r.readBits(14) + 1, r.readBits(14) + 1))
    }

  /** Decode a WebP-lossless file produced by a conforming encoder using
    * this codec's subset (no transforms, no color cache, no LZ77 refs —
    * anything else throws). Returns (argb row-major, width, height).
    */
  def decode(bytes: Array[Byte]): (Array[Int], Int, Int) = {
    require(bytes.length > 20, "short file")
    def tag(at: Int): String = new String(bytes, at, 4, "ISO-8859-1")
    require(tag(0) == "RIFF" && tag(8) == "WEBP" && tag(12) == "VP8L",
      "not a lossless WebP")
    require(bytes(20) == 0x2F, "bad VP8L signature")
    val r = new BitReaderLsb(bytes.drop(21))
    val width = r.readBits(14) + 1
    val height = r.readBits(14) + 1
    // allocation guard: untrusted 14-bit dims could request a 2^28-pixel
    // buffer (1 GiB as ints) from a 30-byte file; OutOfMemoryError is an
    // Error and would escape callers' Exception handlers
    require(width.toLong * height <= (1L << 24),
      s"raster ${width}x$height exceeds the pixel cap")
    r.readBits(1) // alpha hint
    require(r.readBits(3) == 0, "unsupported VP8L version")
    require(r.readBits(1) == 0, "transforms unsupported in this subset")
    require(r.readBits(1) == 0, "color cache unsupported in this subset")
    require(r.readBits(1) == 0, "meta prefix unsupported in this subset")
    val gc = readPrefixCode(r, GreenAlphabet)
    val rc = readPrefixCode(r, 256)
    val bc = readPrefixCode(r, 256)
    val ac = readPrefixCode(r, 256)
    readPrefixCode(r, DistAlphabet)
    val out = new Array[Int](width * height)
    var i = 0
    while (i < out.length) {
      val g = gc.read(r)
      require(g < 256, "LZ77/cache symbols unsupported in this subset")
      val red = rc.read(r)
      val blue = bc.read(r)
      val alpha = ac.read(r)
      out(i) = (alpha << 24) | (red << 16) | (g << 8) | blue
      i += 1
    }
    (out, width, height)
  }
}
