package graft.extract

import graft.extract.Bin.{u16le => u16, u32le => u32}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** OLE Compound File Binary container ([MS-CFB], public spec) — the byte
  * carrier for the legacy Office formats the reference routes through
  * MarkItDown (`markitdown_provider/provider.py:38-44`: .doc, .ppt, .xls):
  * 512-byte sectors, header DIFAT → FAT chains, a directory of 128-byte
  * entries, and the mini stream (streams under 4096 bytes live in 64-byte
  * mini sectors addressed by the mini FAT inside the root entry's stream).
  * From-scratch JDK-only implementation of the spec — the reference holds
  * no container-parsing code to port (it delegates to mammoth/olefile
  * underneath MarkItDown).
  *
  * Reader: [[readStreams]] returns stream-name → bytes for every stream
  * entry (storage hierarchy flattened — [MS-DOC]/[MS-PPT] streams are
  * root-level). Writer: [[build]] emits a deterministic container (zeroed
  * timestamps/CLSIDs, linear sibling chain) honoring the mini-stream
  * cutoff, so fixtures exercise BOTH placement paths.
  */
object CfbExtract {

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF
  private val FatSect = 0xFFFFFFFD
  private val MiniCutoff = 4096
  private val SectorSize = 512
  private val MiniSectorSize = 64

  /** All stream entries, name → content. Left on malformed containers. */
  def readStreams(data: Array[Byte]): Either[String, Map[String, Array[Byte]]] =
    try Right(readUnsafe(data))
    catch { case e: Exception => Left(Formats.parseError("cfb", e)) }

  private def readUnsafe(data: Array[Byte]): Map[String, Array[Byte]] = {
    require(data.length >= 512, "truncated header")
    require(u32(data, 0) == 0xE011CFD0L && u32(data, 4) == 0xE11AB1A1L,
      "not a compound file (bad signature)")
    val sectorShift = u16(data, 30)
    require(sectorShift == 9 || sectorShift == 12, s"sector shift $sectorShift")
    val secSize = 1 << sectorShift
    val numFat = u32(data, 44).toInt
    val firstDir = u32(data, 48).toInt
    val miniCutoff = u32(data, 56).toInt
    val firstMiniFat = u32(data, 60).toInt
    val firstDifat = u32(data, 68).toInt
    val numDifat = u32(data, 72).toInt

    def sectorAt(sect: Int): Int = (sect + 1) << sectorShift
    // the header's counts are untrusted: a FAT or DIFAT chain can never
    // hold more sectors than the file does (a self-linked DIFAT sector
    // with numFat = 2^31 - 1 otherwise grows fatSectors until the heap dies)
    val fileSectors = data.length >> sectorShift
    require(numFat >= 0 && numFat <= fileSectors, s"numFat $numFat over $fileSectors sectors")

    // DIFAT: 109 header slots + chained DIFAT sectors
    val fatSectors = ArrayBuffer[Int]()
    var i = 0
    while (i < 109 && fatSectors.length < numFat) {
      val s = u32(data, 76 + 4 * i).toInt
      if (s != FreeSect) fatSectors += s
      i += 1
    }
    var difat = firstDifat
    val seenDifat = mutable.Set[Int]()
    while (difat != EndOfChain && difat != FreeSect && seenDifat.size <= numDifat) {
      require(seenDifat.add(difat), "DIFAT cycle")
      require(seenDifat.size <= fileSectors, "DIFAT chain longer than the file")
      val base = sectorAt(difat)
      var k = 0
      while (k < secSize / 4 - 1 && fatSectors.length < numFat) {
        val s = u32(data, base + 4 * k).toInt
        if (s != FreeSect) fatSectors += s
        k += 1
      }
      difat = u32(data, base + secSize - 4).toInt
    }

    val fat = new Array[Int](fatSectors.length * (secSize / 4))
    fatSectors.zipWithIndex.foreach { case (s, fi) =>
      val base = sectorAt(s)
      var k = 0
      while (k < secSize / 4) {
        fat(fi * (secSize / 4) + k) = u32(data, base + 4 * k).toInt
        k += 1
      }
    }

    def chain(start: Int): Seq[Int] = {
      val out = ArrayBuffer[Int]()
      var s = start
      while (s != EndOfChain && s != FreeSect && s >= 0) {
        require(out.length <= fat.length, "FAT cycle")
        out += s
        s = if (s < fat.length) fat(s) else EndOfChain
      }
      out.toSeq
    }

    def readChain(start: Int, size: Long): Array[Byte] = {
      // size the buffer from the ACTUAL chain, not the caller's bound — an
      // unknown-size bound allocated 64 MB per call, dominating per-row cost
      val sects = chain(start)
      val cap = math.min(size, sects.length.toLong * secSize).toInt max 16
      val out = new java.io.ByteArrayOutputStream(cap)
      sects.foreach { s =>
        val base = sectorAt(s)
        out.write(data, base, math.min(secSize, data.length - base))
      }
      val b = out.toByteArray
      if (size <= b.length) java.util.Arrays.copyOfRange(b, 0, size.toInt) else b
    }

    // directory entries (128 bytes each) across the directory chain
    val dirBytes = readChain(firstDir, Long.MaxValue & 0x7FFFFFF)
    final case class DirEntry(name: String, objType: Int, left: Int, right: Int,
        child: Int, start: Int, size: Long)
    val entries = (0 until dirBytes.length / 128).map { e =>
      val p = e * 128
      val nameLen = u16(dirBytes, p + 64)
      val name =
        if (nameLen >= 2)
          new String(dirBytes, p, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
        else ""
      DirEntry(name, dirBytes(p + 66) & 0xff,
        u32(dirBytes, p + 68).toInt, u32(dirBytes, p + 72).toInt,
        u32(dirBytes, p + 76).toInt,
        u32(dirBytes, p + 116).toInt,
        u32(dirBytes, p + 120) | (u32(dirBytes, p + 124) << 32))
    }
    val rootIdx = entries.indexWhere(_.objType == 5)
    require(rootIdx >= 0, "no root entry")
    val root = entries(rootIdx)
    // ROOT-LEVEL streams only, via the root storage's red-black sibling
    // tree: embedded OLE objects (ObjectPool/_NNNN sub-storages) carry
    // their own WordDocument / \u0005SummaryInformation streams which
    // must NOT shadow the document's (a flat name map was last-wins)
    val rootStreams = ArrayBuffer[DirEntry]()
    val seen = mutable.Set[Int]()
    val pending = mutable.Stack[Int](root.child)
    while (pending.nonEmpty) { // iterative: a crafted deep chain cannot SO
      val id = pending.pop()
      if (id >= 0 && id < entries.length && seen.add(id)) {
        val e = entries(id)
        pending.push(e.left)
        pending.push(e.right)
        if (e.objType == 2) rootStreams += e
      }
    }
    val miniStream = if (root.size > 0) readChain(root.start, root.size) else Array.emptyByteArray
    val miniFat: Array[Int] =
      if (firstMiniFat == EndOfChain || firstMiniFat == FreeSect) Array.emptyIntArray
      else {
        val mb = readChain(firstMiniFat, Long.MaxValue & 0x7FFFFFF)
        (0 until mb.length / 4).map(k => u32(mb, 4 * k).toInt).toArray
      }

    def readMini(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(size.toInt max 16)
      var s = start
      var n = 0
      while (s != EndOfChain && s != FreeSect && s >= 0 && out.size < size) {
        require(n <= miniFat.length, "miniFAT cycle")
        val base = s * MiniSectorSize
        out.write(miniStream, base, math.min(MiniSectorSize, miniStream.length - base))
        s = if (s < miniFat.length) miniFat(s) else EndOfChain
        n += 1
      }
      val b = out.toByteArray
      if (size <= b.length) java.util.Arrays.copyOfRange(b, 0, size.toInt) else b
    }

    rootStreams.map { e =>
      e.name -> (if (e.size < miniCutoff) readMini(e.start, e.size)
                 else readChain(e.start, e.size))
    }.toMap
  }

  // ------------------------------------------------------------ writer
  /** Deterministic container: FAT sectors, directory, mini FAT, mini
    * stream, then the big streams — each chain sequential. Supports up to
    * 109 FAT sectors (≈27 MB), far beyond any fixture.
    */
  def build(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    require(streams.nonEmpty, "at least one stream")
    def sectors(n: Int, unit: Int): Int = (n + unit - 1) / unit

    val small = streams.filter(_._2.length < MiniCutoff)
    val big = streams.filter(_._2.length >= MiniCutoff)

    // mini stream: small streams packed at 64-byte boundaries
    val miniOffsets = mutable.Map[String, Int]() // first mini-sector index
    val miniOut = new java.io.ByteArrayOutputStream()
    small.foreach { case (name, b) =>
      miniOffsets(name) = miniOut.size() / MiniSectorSize
      miniOut.write(b)
      while (miniOut.size() % MiniSectorSize != 0) miniOut.write(0)
    }
    val miniStream = miniOut.toByteArray
    val nMiniSect = miniStream.length / MiniSectorSize
    val miniFat: Array[Int] = {
      val mf = new Array[Int](nMiniSect)
      small.foreach { case (name, b) =>
        val first = miniOffsets(name)
        val cnt = sectors(b.length max 1, MiniSectorSize)
        for (k <- 0 until cnt)
          mf(first + k) = if (k == cnt - 1) EndOfChain else first + k + 1
      }
      mf
    }

    val nDirEntries = 1 + streams.length
    val nDirSect = sectors(nDirEntries * 128, SectorSize) max 1
    val nMiniFatSect = sectors(nMiniSect * 4, SectorSize)
    val nMiniStreamSect = sectors(miniStream.length, SectorSize)
    val bigSect = big.map { case (_, b) => sectors(b.length, SectorSize) }

    // fixpoint: FAT sector count depends on total sectors incl. itself
    var nFatSect = 1
    var stable = false
    while (!stable) {
      val total = nFatSect + nDirSect + nMiniFatSect + nMiniStreamSect + bigSect.sum
      val need = sectors(total * 4, SectorSize) max 1
      if (need == nFatSect) stable = true else nFatSect = need
    }
    require(nFatSect <= 109, "container too large for header DIFAT")

    val dirStart = nFatSect
    val miniFatStart = dirStart + nDirSect
    val miniStreamStart = miniFatStart + nMiniFatSect
    val bigStart = miniStreamStart + nMiniStreamSect
    val totalSect = bigStart + bigSect.sum

    val fat = Array.fill(nFatSect * (SectorSize / 4))(FreeSect)
    def markChain(start: Int, count: Int): Unit =
      for (k <- 0 until count)
        fat(start + k) = if (k == count - 1) EndOfChain else start + k + 1
    for (k <- 0 until nFatSect) fat(k) = FatSect
    markChain(dirStart, nDirSect)
    if (nMiniFatSect > 0) markChain(miniFatStart, nMiniFatSect)
    if (nMiniStreamSect > 0) markChain(miniStreamStart, nMiniStreamSect)
    var bp = bigStart
    val bigStarts = big.zip(bigSect).map { case (_, cnt) =>
      val s = bp; markChain(s, cnt); bp += cnt; s
    }

    val out = new Bin.Sink((totalSect + 1) * SectorSize)
    // header
    out.u32le(0xE011CFD0L).u32le(0xE11AB1A1L)
      .padTo(24) // CLSID
      .u16le(0x003E).u16le(0x0003) // minor, major (v3: 512-byte sectors)
      .u16le(0xFFFE) // little-endian
      .u16le(9).u16le(6) // sector shift, mini shift
      .padTo(40)
      .u32le(0) // num dir sectors (v3: 0)
      .u32le(nFatSect).u32le(dirStart)
      .u32le(0) // transaction signature
      .u32le(MiniCutoff)
      .u32le(if (nMiniFatSect > 0) miniFatStart else EndOfChain)
      .u32le(nMiniFatSect)
      .u32le(EndOfChain) // first DIFAT sector (none)
      .u32le(0) // num DIFAT sectors
    for (k <- 0 until 109) out.u32le(if (k < nFatSect) k else FreeSect)
    require(out.size == 512, s"header size ${out.size}")

    // FAT sectors
    fat.foreach(v => out.u32le(v))

    // directory
    val dir = new Bin.Sink(nDirSect * SectorSize)
    def entry(name: String, objType: Int, child: Int, right: Int,
        start: Int, size: Long): Unit = {
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      require(nb.length <= 62, s"name too long: $name")
      val at = dir.size
      dir.bytes(nb).padTo(at + 64)
        .u16le(nb.length + 2)
        .u8(objType).u8(1) // black
        .u32le(FreeSect) // left
        .u32le(right).u32le(child)
        .padTo(at + 116) // CLSID, state, times
        .u32le(start)
        .u32le(size).u32le(size >> 32)
    }
    entry("Root Entry", 5, if (streams.nonEmpty) 1 else FreeSect, FreeSect,
      if (nMiniStreamSect > 0) miniStreamStart else EndOfChain, miniStream.length.toLong)
    var bigIdx = 0
    streams.zipWithIndex.foreach { case ((name, b), si) =>
      val right = if (si + 1 < streams.length) si + 2 else FreeSect
      if (b.length < MiniCutoff)
        entry(name, 2, FreeSect, right, miniOffsets(name), b.length.toLong)
      else {
        entry(name, 2, FreeSect, right, bigStarts(bigIdx), b.length.toLong)
        bigIdx += 1
      }
    }
    out.bytes(dir.padTo(nDirSect * SectorSize).toArray)

    // mini FAT, mini stream, then the big streams, each sector-padded
    miniFat.foreach(v => out.u32le(v))
    out.padTo(out.size + nMiniFatSect * SectorSize - miniFat.length * 4)
    out.bytes(miniStream).padTo(out.size + nMiniStreamSect * SectorSize - miniStream.length)
    big.zip(bigSect).foreach { case ((_, b), cnt) =>
      out.bytes(b).padTo(out.size + cnt * SectorSize - b.length)
    }
    out.toArray
  }

  // -------------------------------------------------------------- OLEPS
  /** Title (PIDSI_TITLE = 2, VT_LPSTR) from a SummaryInformation
    * property-set stream ([MS-OLEPS], public) — the legacy formats' title
    * carrier (.doc/.ppt/.xls share it). Empty string when absent/opaque.
    */
  def summaryTitle(ps: Array[Byte]): String =
    try {
      if (ps.length < 48 || u16(ps, 0) != 0xFFFE) return ""
      val secOff = u32(ps, 44).toInt
      val nProps = u32(ps, secOff + 4).toInt
      var k = 0
      while (k < nProps) {
        val pid = u32(ps, secOff + 8 + 8 * k).toInt
        val off = u32(ps, secOff + 8 + 8 * k + 4).toInt
        if (pid == 2) {
          val p = secOff + off
                    if ((u32(ps, p) & 0xFFFFL) == 30L) { // VT_LPSTR (u16 type + pad)
            val len = u32(ps, p + 4).toInt
            val raw = new String(ps, p + 8, len, java.nio.charset.Charset.forName("windows-1252"))
            return raw.takeWhile(_ != '\u0000')
          }
          return ""
        }
        k += 1
      }
      ""
    } catch { case _: Exception => "" }

  /** Deterministic SummaryInformation stream carrying one title property. */
  def buildSummary(title: String): Array[Byte] = {
    val tb = title.getBytes(java.nio.charset.Charset.forName("windows-1252"))
    // section: cbSection, cProps=1, (pid 2 -> offset 16), then the value:
    // u16 type VT_LPSTR + u16 pad, u32 cch (incl. NUL), CP-1252 bytes
    val strLen = tb.length + 1
    val pad = (4 - strLen % 4) % 4
    new Bin.Sink()
      .u16le(0xFFFE).u16le(0) // byte order, version
      .u32le(0x00020006L) // system identifier (Win32, NT 2.6 convention)
      .padTo(24) // CLSID
      .u32le(1) // one property set
      // FMTID_SummaryInformation F29F85E0-4FF9-1068-AB91-08002B27B3D9
      .u32le(0xF29F85E0L).u16le(0x4FF9).u16le(0x1068)
      .bytes(Array(0xAB, 0x91, 0x08, 0x00, 0x2B, 0x27, 0xB3, 0xD9).map(_.toByte))
      .u32le(48) // section offset
      .u32le(16 + 8 + strLen + pad) // section size
      .u32le(1)
      .u32le(2).u32le(16)
      .u32le(30) // VT_LPSTR (low u16) + zero padding (high u16)
      .u32le(strLen)
      .bytes(tb).padTo(48 + 24 + strLen + pad)
      .toArray
  }
}
