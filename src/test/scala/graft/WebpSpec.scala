package graft

import graft.extract.WebpL
import org.scalatest.funsuite.AnyFunSuite

/** VP8L (WebP-lossless) codec: a hand-computed bitstream golden (pins the
  * header layout, LSB-first value bits, and simple-code framing against
  * the published spec — round-trip alone cannot catch a convention error
  * both halves share), spec-constant spot checks, and round-trip
  * properties across code shapes (simple / normal / code-length-coded).
  */
class WebpSpec extends AnyFunSuite {

  test("kCodeLengthCodeOrder matches the published spec constant") {
    assert(WebpL.CodeLengthOrder.toSeq ==
      Seq(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15))
  }

  test("hand-computed golden: 1x1 opaque red file, bit for bit") {
    val bytes = WebpL.encode(Array(0xFFFF0000), 1, 1)
    // RIFF container: "RIFF" + size 22 + "WEBP" + "VP8L" + size 10
    val expected = "RIFF".getBytes("ISO-8859-1") ++
      Array[Byte](22, 0, 0, 0) ++
      "WEBPVP8L".getBytes("ISO-8859-1") ++
      Array[Byte](10, 0, 0, 0) ++
      // 0x2F sig; 4 zero bytes = w-1(14) h-1(14) alpha(1) version(3);
      // then (LSB-first): transforms 0, cache 0, meta 0; green simple
      // code {0}; red simple {255}; blue simple {0}; alpha simple {255};
      // distance simple {0}; zero pixel bits (all codes single-symbol)
      Array[Byte](0x2F, 0, 0, 0, 0, 0x88.toByte, 0xFE.toByte, 0x47, 0xFF.toByte, 0x03)
    assert(bytes.toSeq == expected.toSeq)
    val (px, w, h) = WebpL.decode(bytes)
    assert(w == 1 && h == 1 && px.toSeq == Seq(0xFFFF0000))
  }

  test("round-trip: gradients, few-color, full-byte-range, alpha, shapes") {
    def img(w: Int, h: Int)(f: (Int, Int) => Int): (Array[Int], Int, Int) =
      (Array.tabulate(w * h)(i => f(i % w, i / w)), w, h)
    val rnd = new scala.util.Random(42)
    val cases: Seq[(Array[Int], Int, Int)] = Seq(
      img(16, 16)((x, y) => 0xFF000000 | (x * 16 << 16) | (y * 16 << 8) | ((x + y) * 8)),
      img(7, 3)((x, _) => if (x % 2 == 0) 0xFF112233 else 0xFF445566), // 2-color
      img(5, 5)((_, _) => 0x80ABCDEF), // 1-color with alpha
      img(64, 4)((x, y) => (((x * 37 + y * 101) % 256) << 24) | (rnd.nextInt() & 0xFFFFFF)),
      img(256, 2)((x, y) => 0xFF000000 | (x << 16) | ((255 - x) << 8) | (if (y == 0) x else 255 - x)),
      img(1, 300)((_, y) => 0xFF000000 | (y % 251) * 65793), // tall strip
      img(2, 1)((x, _) => if (x == 0) 0xFFFFFFFF else 0xFF000000))
    for ((px, w, h) <- cases) {
      val enc = WebpL.encode(px, w, h)
      val (dec, dw, dh) = WebpL.decode(enc)
      assert(dw == w && dh == h, s"${w}x$h dims")
      assert(dec.toSeq == px.toSeq, s"${w}x$h pixels")
    }
  }

  test("random images round-trip (both simple and normal code paths)") {
    val r = new scala.util.Random(7)
    for (_ <- 0 until 20) {
      val w = 1 + r.nextInt(80)
      val h = 1 + r.nextInt(40)
      val palette = 1 + r.nextInt(300) // small palettes force simple codes
      val colors = Array.fill(palette)(r.nextInt())
      val px = Array.fill(w * h)(colors(r.nextInt(palette)))
      val (dec, dw, dh) = WebpL.decode(WebpL.encode(px, w, h))
      assert(dw == w && dh == h && dec.toSeq == px.toSeq, s"${w}x$h p$palette")
    }
  }

  test("container fields: RIFF sizes, VP8L tag, dimension bits, odd pad") {
    val (px, w, h) = (Array.tabulate(33 * 9)(i => 0xFF000000 | i * 7919), 33, 9)
    val bytes = WebpL.encode(px, w, h)
    def u32(at: Int): Int = graft.extract.Bin.u32le(bytes, at).toInt
    assert(new String(bytes, 0, 4, "ISO-8859-1") == "RIFF")
    assert(u32(4) == bytes.length - 8) // RIFF size covers everything after it
    assert(new String(bytes, 8, 8, "ISO-8859-1") == "WEBPVP8L")
    val chunk = u32(16)
    assert(bytes.length == 20 + chunk + (chunk & 1)) // odd chunks pad
    assert(bytes(20) == 0x2F)
    // width-1/height-1 in the first 28 payload bits, LSB-first
    val b21 = bytes(21) & 0xFF; val b22 = bytes(22) & 0xFF
    val b23 = bytes(23) & 0xFF
    val b24 = bytes(24) & 0xFF
    val wm1 = b21 | ((b22 & 0x3F) << 8)
    val hm1 = (b22 >>> 6) | (b23 << 2) | ((b24 & 0xF) << 10)
    assert(wm1 == w - 1)
    assert(hm1 == h - 1)
    // a tall image exercises the high height bits the b24 term carries
    val tall = WebpL.encode(Array.fill(2 * 3000)(0xFF010203), 2, 3000)
    val (_, tw, th) = WebpL.decode(tall)
    assert((tw, th) == (2, 3000))
  }

  test("package-merge emits COMPLETE length-limited codes on skewed input") {
    // Fibonacci frequencies push unlimited Huffman past depth 15; the
    // limited code must still have Kraft sum exactly 1 (libwebp rejects
    // incomplete codes) — huffmanLengths asserts that invariant itself
    val freq = new Array[Int](280)
    var (a, b) = (1L, 1L)
    for (i <- 0 until 24) { freq(i) = math.min(a, Int.MaxValue).toInt; val c = a + b; a = b; b = c }
    val lengths = WebpL.huffmanLengths(freq, maxLen = 15)
    assert(lengths.max <= 15 && lengths.max >= 1)
    val kraft = lengths.filter(_ > 0).map(l => 1L << (15 - l)).sum
    assert(kraft == (1L << 15), s"kraft $kraft")
    // and the image whose histogram is that skew round-trips
    val px = Array.tabulate(64 * 64) { i =>
      var v = 0; var acc = i % 4096
      var s = 0
      while (s < 24 && acc >= freq(s)) { acc -= freq(s); s += 1 }
      v = math.min(s, 23)
      0xFF000000 | (v << 16) | ((v * 7) % 256 << 8) | ((i * 31) % 256)
    }
    val (dec, _, _) = WebpL.decode(WebpL.encode(px, 64, 64))
    assert(dec.toSeq == px.toSeq)
  }

  test("decode rejects oversized dims; resized WebP composes back through") {
    // crafted header declaring 16384x16384 must not allocate gigabytes
    val tiny = WebpL.encode(Array(0xFF000000), 1, 1).clone()
    // bytes 21..24 carry w-1/h-1: set both to 16383
    tiny(21) = 0xFF.toByte; tiny(22) = 0xFF.toByte
    tiny(23) = 0xFF.toByte; tiny(24) = 0x0F.toByte
    intercept[IllegalArgumentException](WebpL.decode(tiny))
  }

  test("malformed input throws, never hangs") {
    intercept[IllegalArgumentException](WebpL.decode(Array.fill[Byte](10)(1)))
    val good = WebpL.encode(Array(0xFF123456, 0xFF654321), 2, 1)
    intercept[Exception] {
      val bad = good.clone()
      bad(12) = 'X'.toByte // break the VP8L tag
      WebpL.decode(bad)
    }
    // truncations: either decode (trailing bits unneeded) or throw
    for (cut <- 21 until good.length) {
      try WebpL.decode(good.take(cut))
      catch { case _: Exception => () }
    }
  }

  test("dims returns None (never throws) on signature-only truncations") {
    val good = WebpL.encode(Array(0xFF123456, 0xFF654321), 2, 1)
    // 22-24 bytes: isVp8l's signature window is satisfied but the 28-bit
    // size field is cut — the filterMinSize path needs None, not a throw
    for (cut <- 22 to 24) {
      val t = good.take(cut)
      assert(WebpL.isVp8l(t), s"cut=$cut should still carry the signature")
      assert(WebpL.dims(t).isEmpty, s"cut=$cut")
    }
    assert(WebpL.dims(good).contains((2, 1)))
  }
}
