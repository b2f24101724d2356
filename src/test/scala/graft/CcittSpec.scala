package graft

import graft.extract.CcittG4
import org.scalatest.funsuite.AnyFunSuite

/** CCITT G4 codec: published-codeword spot checks (the round-trip alone
  * cannot catch a mistranscribed table entry), a hand-computed bitstream,
  * round-trip properties over structured rasters, and the PDF
  * CCITTFaxDecode integration.
  */
class CcittSpec extends AnyFunSuite {

  test("T.4 codewords match the published tables (spot checks)") {
    def cw(run: Int, black: Boolean): String = CcittG4.codeword(run, black).get
    // white terminating
    assert(cw(0, black = false) == "00110101")
    assert(cw(1, black = false) == "000111")
    assert(cw(2, black = false) == "0111")
    assert(cw(8, black = false) == "10011")
    assert(cw(63, black = false) == "00110100")
    // white makeup
    assert(cw(64, black = false) == "11011")
    assert(cw(1664, black = false) == "011000")
    assert(cw(1728, black = false) == "010011011")
    // black terminating
    assert(cw(0, black = true) == "0000110111")
    assert(cw(1, black = true) == "010")
    assert(cw(2, black = true) == "11")
    assert(cw(3, black = true) == "10")
    assert(cw(63, black = true) == "000001100111")
    // black makeup
    assert(cw(64, black = true) == "0000001111")
    assert(cw(1728, black = true) == "0000001100101")
    // shared extended makeup
    assert(cw(1792, black = true) == "00000001000")
    assert(cw(2560, black = false) == "000000011111")
  }

  test("hand-computed stream: all-white 8x2 encodes as V0,V0,EOFB") {
    val px = new Array[Byte](16)
    val enc = CcittG4.encode(px, 8, 2)
    // bits: 1 1 | 000000000001 000000000001 | pad -> bytes
    // 11000000 00000100 00000000 01000000 (the first EOFB '1' is bit 13)
    assert(enc.toSeq == Seq(0xC0, 0x04, 0x00, 0x40).map(_.toByte))
    assert(CcittG4.decode(enc, 8, 2).toSeq == px.toSeq)
  }

  test("round-trip: stripes, checkerboard, text-like rasters, edges") {
    def raster(w: Int, h: Int)(f: (Int, Int) => Boolean): Array[Byte] =
      Array.tabulate(w * h)(i => if (f(i % w, i / w)) 1.toByte else 0.toByte)
    val cases: Seq[(Int, Int, Array[Byte])] = Seq(
      (64, 8, raster(64, 8)((x, _) => x % 7 < 3)), // vertical stripes
      (32, 32, raster(32, 32)((x, y) => (x + y) % 2 == 0)), // checkerboard (VL/VR heavy)
      (100, 10, raster(100, 10)((x, y) => (x * y) % 11 < 4)), // irregular
      (80, 6, raster(80, 6)((x, y) => y >= 2 && x > 10 && x < 70 && (x / 5) % 2 == 0)),
      (16, 4, raster(16, 4)((_, _) => true)), // all black (horizontal mode, run 16)
      (2000, 3, raster(2000, 3)((x, _) => x > 1900)), // long runs -> makeup codes
      (1, 1, raster(1, 1)((_, _) => true)),
      (3000, 2, raster(3000, 2)((x, _) => x < 2900))) // > 2560: chained makeups
    cases.foreach { case (w, h, px) =>
      val enc = CcittG4.encode(px, w, h)
      assert(CcittG4.decode(enc, w, h).toSeq == px.toSeq, s"${w}x$h")
    }
  }

  test("garbage input is bounded: throws or full raster, never hangs") {
    // random bits may form valid codes by luck (especially 1D MH), so the
    // contract is BOUNDED termination: either IllegalStateException (the
    // caller's placeholder channel) or a correctly-sized raster
    def bounded(f: => Array[Byte], n: Int): Unit =
      try assert(f.length == n)
      catch { case _: IllegalStateException => () }
    bounded(CcittG4.decode(Array.fill[Byte](64)(0x55), 100, 100), 10000)
    bounded(CcittG4.decodeG3(Array.fill[Byte](64)(0x55), 100, 100, 0), 10000)
    bounded(CcittG4.decodeG3(Array.fill[Byte](64)(0xAA.toByte), 100, 100, 2), 10000)
    val r = new scala.util.Random(7)
    for (_ <- 0 until 50) {
      val blob = Array.fill(1 + r.nextInt(512))(r.nextInt(256).toByte)
      bounded(CcittG4.decode(blob, 64, 64), 4096)
      bounded(CcittG4.decodeG3(blob, 64, 64, 0), 4096)
      bounded(CcittG4.decodeG3(blob, 64, 64, 4), 4096)
    }
    // oversized dimension requests are rejected up front (OOM guard)
    intercept[IllegalArgumentException](
      CcittG4.decodeG3(Array[Byte](0), 65535, 65535, 0))
    intercept[IllegalArgumentException](
      CcittG4.decode(Array[Byte](0), 65535, 65535))
  }

  test("G3 hand-computed stream: 1D row '0000 11 00' at K=0") {
    // 8 wide: white-4 black-2 white-2 → MH codes 1011 | 11 | 0111, with a
    // leading EOL (000000000001) and the trailing RTC pair:
    // 000000000001 1011 11 0111 000000000001 000000000001 → bytes
    val px = Array[Byte](0, 0, 0, 0, 1, 1, 0, 0)
    val enc = CcittG4.encodeG3(px, 8, 1, 0)
    assert(enc.toSeq ==
      Seq(0x00, 0x1B, 0xDC, 0x00, 0x40, 0x04).map(_.toByte))
    assert(CcittG4.decodeG3(enc, 8, 1, 0).toSeq == px.toSeq)
    // the same payload WITHOUT the leading EOL also decodes (PDF streams
    // at K=0 may omit framing entirely)
    val bare = Integer.parseInt("10111101", 2).toByte // 1011 11 01(11 →
    val bare2 = Integer.parseInt("11000000", 2).toByte // spills here)
    assert(CcittG4.decodeG3(Array(bare, bare2), 8, 1, 0).toSeq == px.toSeq)
  }

  test("G3 round-trips: K=0 pure 1D and K>0 mixed, same raster family") {
    def raster(w: Int, h: Int)(f: (Int, Int) => Boolean): Array[Byte] =
      Array.tabulate(w * h)(i => if (f(i % w, i / w)) 1.toByte else 0.toByte)
    val cases: Seq[(Int, Int, Array[Byte])] = Seq(
      (64, 8, raster(64, 8)((x, _) => x % 7 < 3)),
      (32, 32, raster(32, 32)((x, y) => (x + y) % 2 == 0)),
      (100, 10, raster(100, 10)((x, y) => (x * y) % 11 < 4)),
      (16, 4, raster(16, 4)((_, _) => true)),
      (2000, 3, raster(2000, 3)((x, _) => x > 1900)),
      (3000, 2, raster(3000, 2)((x, _) => x < 2900)),
      (1, 1, raster(1, 1)((_, _) => true)))
    for ((w, h, px) <- cases; k <- Seq(0, 1, 2, 4)) {
      val enc = CcittG4.encodeG3(px, w, h, k)
      assert(CcittG4.decodeG3(enc, w, h, k).toSeq == px.toSeq, s"${w}x$h K=$k")
    }
  }

  test("G3 truncation is bounded; long T.4 fill before EOL is accepted") {
    // 72 fill bits (9 zero bytes) before the first EOL — legal T.4
    // minimum-scan-line padding — must still decode
    val fpx = Array[Byte](0, 0, 1, 1, 0, 0, 0, 0)
    val filled = Array.fill[Byte](9)(0) ++ CcittG4.encodeG3(fpx, 8, 1, 0)
    assert(CcittG4.decodeG3(filled, 8, 1, 0).toSeq == fpx.toSeq)
    val px = Array.tabulate(8 * 4)(i => if (i % 3 == 0) 1.toByte else 0.toByte)
    val enc = CcittG4.encodeG3(px, 8, 4, 0)
    // truncations either finish early (missing rows stay white) or land
    // mid-codeword and throw — the caller's placeholder/failure channel;
    // either way: bounded, no hang
    for (cutAt <- 1 until enc.length) {
      try {
        val cut = CcittG4.decodeG3(enc.take(cutAt), 8, 4, 0)
        assert(cut.length == 32)
      } catch { case _: IllegalStateException => () }
    }
  }

  test("PDF CCITTFaxDecode K=0 (G3 1D) image extracts as exact-pixel PNG") {
    val w0 = 24; val h0 = 6
    val px = Array.tabulate(w0 * h0)(i => if ((i % w0) < 8 != (i / w0) % 2 == 0) 1.toByte else 0.toByte)
    val payload = CcittG4.encodeG3(px, w0, h0, 0)
    val bytes = CcittSpec.buildCcittPdf(w0, h0, 0, payload)
    val pages = graft.extract.PdfText.extract(bytes).fold(e => fail(e), identity)
    val img = pages.head.images.head
    assert(img.mime == "image/png" && img.width == w0 && img.height == h0)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(img.data))
    for (y <- 0 until h0; x <- 0 until w0) {
      val expect = if (px(y * w0 + x) == 1) 0x000000 else 0xFFFFFF
      assert((decoded.getRGB(x, y) & 0xFFFFFF) == expect, s"pixel ($x,$y)")
    }
  }

  test("PDF CCITTFaxDecode image extracts as a PNG with exact pixels") {
    val w0 = 40; val h0 = 12
    val px = Array.tabulate(w0 * h0)(i => if ((i % w0) / 4 % 2 == 0) 1.toByte else 0.toByte)
    val payload = CcittG4.encode(px, w0, h0)
    val bytes = CcittSpec.buildCcittPdf(w0, h0, -1, payload)
    val pages = graft.extract.PdfText.extract(bytes).fold(e => fail(e), identity)
    val img = pages.head.images.head
    assert(img.mime == "image/png" && img.width == w0 && img.height == h0)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(img.data))
    for (y <- 0 until h0; x <- 0 until w0) {
      val expect = if (px(y * w0 + x) == 1) 0x000000 else 0xFFFFFF
      assert((decoded.getRGB(x, y) & 0xFFFFFF) == expect, s"pixel ($x,$y)")
    }
  }
}

object CcittSpec {
  /** Minimal one-page PDF embedding a CCITTFaxDecode image with the given
    * /K — shared fixture for the G3/G4 integration tests.
    */
  def buildCcittPdf(w0: Int, h0: Int, k: Int, payload: Array[Byte]): Array[Byte] = {
    val content = s"q $w0 0 0 $h0 10 20 cm /Im0 Do Q\n"
    val pdf = new graft.extract.Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
      "/Resources << /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>")
    pdf.stream(4, s"<< /Length ${content.length} >>", content.getBytes("ISO-8859-1"))
    pdf.stream(5, s"<< /Type /XObject /Subtype /Image /Width $w0 /Height $h0 " +
      s"/BitsPerComponent 1 /ColorSpace /DeviceGray /Filter /CCITTFaxDecode " +
      s"/DecodeParms << /K $k /Columns $w0 /Rows $h0 >> /Length ${payload.length} >>", payload)
    pdf.finish("")
  }
}
