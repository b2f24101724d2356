package graft

import graft.ops.Multimodal
import graft.pipeline.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** Real (javax.imageio) codec path: genuine PNG/JPEG decode, dHash, resize. */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")

  private def png(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("ImageIoCodec decodes real PNG/JPEG: exact dims, channels, luma") {
    // uniform mid-gray 40×20: luma = 128/255
    val gray = png(40, 20, (_, _) => 0x808080)
    val (w, h, c, luma, _) = Multimodal.ImageIoCodec.decode("image/png", gray)
    assert((w, h, c) == (40, 20, 3))
    assert(luma == math.rint(128.0 / 255.0 * 10000) / 10000)
    // RGBA png reports 4 channels
    val argb = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(argb, "png", bos)
    assert(Multimodal.ImageIoCodec.decode("image/png", bos.toByteArray)._3 == 4)
    // jpeg round-trip decodes with true dimensions
    val src = new java.awt.image.BufferedImage(33, 17, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "jpg", jb)
    val (jw, jh, jc, _, _) = Multimodal.ImageIoCodec.decode("image/jpeg", jb.toByteArray)
    assert((jw, jh, jc) == (33, 17, 3))
  }

  test("dHash of a uniform image is exactly 0 (no spurious gradient bits)") {
    val uniform = png(48, 24, (_, _) => 0x808080)
    assert(Multimodal.ImageIoCodec.decode("image/png", uniform)._5 == 0L)
    // and unequal cell sizes (w not divisible by 9) stay exact too
    val odd = png(47, 23, (_, _) => 0x3a99c1)
    assert(Multimodal.ImageIoCodec.decode("image/png", odd)._5 == 0L)
  }

  test("dHash is stable for identical pixels, differs across gradients, tracks structure") {
    val leftBright = png(64, 64, (x, _) => if (x < 32) 0xffffff else 0x000000)
    val rightBright = png(64, 64, (x, _) => if (x >= 32) 0xffffff else 0x000000)
    val h1 = Multimodal.ImageIoCodec.decode("image/png", leftBright)._5
    val h1b = Multimodal.ImageIoCodec.decode("image/png", png(64, 64, (x, _) => if (x < 32) 0xffffff else 0x000000))._5
    val h2 = Multimodal.ImageIoCodec.decode("image/png", rightBright)._5
    assert(h1 == h1b)
    assert(h1 != h2)
    // a downscaled copy keeps a close dHash (the perceptual property)
    val big = png(128, 128, (x, y) => ((x * 2) << 16) | ((y * 2) << 8) | 64)
    val small = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(big))
      val s = new java.awt.image.BufferedImage(32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = s.createGraphics()
      g.drawImage(img.getScaledInstance(32, 32, java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null)
      g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(s, "png", bos)
      bos.toByteArray
    }
    val hb = Multimodal.ImageIoCodec.decode("image/png", big)._5
    val hs = Multimodal.ImageIoCodec.decode("image/png", small)._5
    assert(java.lang.Long.bitCount(hb ^ hs) <= 10,
      s"dHash hamming ${java.lang.Long.bitCount(hb ^ hs)} too high for a scaled copy")
  }

  test("extractFeatures with the real codec over a Spark media table") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow("d1", "img-0.png", "image/png", png(24, 12, (_, _) => 0x406080)),
      Multimodal.MediaRow("d2", "img-0.png", "image/png", "not an image".getBytes("UTF-8")),
      Multimodal.MediaRow("d3", "img-0.png", "image/png", Array.emptyByteArray))
    val out = Multimodal.extractFeatures(spark.createDataset(rows), Multimodal.ImageIoCodec)
      .collect().map(f => f.doc_id -> f).toMap
    assert(out("d1").decode_error == "" && out("d1").width == 24 && out("d1").height == 12)
    assert(out("d2").decode_error.contains("undecodable"))
    assert(out("d3").decode_error.contains("empty payload"))
  }

  test("lossy WebP (VP8 chunk) is a decode-failure row, never a crash") {
    import spark.implicits._
    // minimal RIFF/WEBP container with a LOSSY 'VP8 ' chunk: the
    // from-scratch codec reads only VP8L (documented non-goal), the JDK
    // ships no WebP reader — so the row must degrade, not throw
    val body = Array.fill[Byte](16)(0x5A)
    val lossy = new graft.extract.Bin.Sink()
      .ascii("RIFF").u32le(4 + 8 + body.length).ascii("WEBP")
      .ascii("VP8 ").u32le(body.length).bytes(body).toArray
    assert(!graft.extract.WebpL.isVp8l(lossy))
    assert(Multimodal.imageDims(lossy).isEmpty) // min-size path: filtered
    val out = Multimodal.extractFeatures(spark.createDataset(Seq(
      Multimodal.MediaRow("d1", "img-0.webp", "image/webp", lossy))),
      Multimodal.ImageIoCodec).collect()
    assert(out.length == 1 && out(0).decode_error.contains("undecodable"))
  }

  test("resizeImages caps the longest side, re-encodes REAL WebP, passes small through") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow("big", "img-0.png", "image/png", png(200, 100, (x, y) => (x << 16) | y)),
      Multimodal.MediaRow("small", "img-0.png", "image/png", png(30, 20, (_, _) => 0x123456)),
      Multimodal.MediaRow("bad", "img-0.png", "image/png", "junk".getBytes("UTF-8")))
    val out = Multimodal.resizeImages(spark.createDataset(rows), maxDim = 64)
      .collect().map(r => r.doc_id -> r).toMap
    assert(out("big").resized && out("big").width == 64 && out("big").height == 32)
    // the resized payload is a genuine VP8L WebP file with the new dims
    assert(out("big").mime_type == "image/webp")
    val (_, bw, bh) = graft.extract.WebpL.decode(out("big").content)
    assert((bw, bh) == (64, 32))
    assert(!out("small").resized && out("small").width == 30 && out("small").error == "")
    assert(out("small").mime_type == "image/png") // pass-through keeps bytes
    assert(!out("bad").resized && out("bad").error.contains("undecodable"))
    // CONTENT preservation, now EXACT: VP8L is lossless, so a solid color
    // survives the downscale + re-encode pixel-for-pixel
    val solid = Multimodal.resizeImages(spark.createDataset(Seq(
      Multimodal.MediaRow("solid", "img-0.png", "image/png", png(200, 100, (_, _) => 0x406080)))),
      maxDim = 64).collect().head
    val (spx, sw, sh) = graft.extract.WebpL.decode(solid.content)
    assert((sw, sh) == (64, 32))
    assert(spx.forall(_ == 0xFF406080), "resized solid-color pixels drifted")
    // the feature codec reads the WebP output back (ImageIO has no WebP
    // reader — the VP8L fallback path handles it)
    val (fw, fh, fc, fl, fhash) =
      Multimodal.ImageIoCodec.decode("image/webp", solid.content)
    assert((fw, fh, fc) == (64, 32, 4))
    val expected = math.rint((0.299 * 0x40 + 0.587 * 0x60 + 0.114 * 0x80) / 255.0 * 10000) / 10000
    assert(fl == expected && fhash == 0L)
    // COMPOSITION: the webp output flows back through every image path —
    // a second resize pass is a clean pass-through (not an error row),
    // and header-dims/min-size filters read it like any other format
    import spark.implicits._
    val again = Multimodal.resizeImages(spark.createDataset(Seq(
      Multimodal.MediaRow("webp", "img-0.webp", "image/webp", solid.content))),
      maxDim = 64).collect().head
    assert(again.error == "" && !again.resized && again.width == 64)
    assert(Multimodal.imageDims(solid.content).contains((64, 32)))
    val kept = Multimodal.filterMinSize(spark.createDataset(Seq(
      Multimodal.MediaRow("webp", "img-0.webp", "image/webp", solid.content))),
      minSize = 32).count()
    assert(kept == 1)
  }

  test("filterMinSize keeps images >= the min dimension, drops small and undecodable") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow("big", "img-0.png", "image/png", png(100, 80, (_, _) => 0x808080)),
      Multimodal.MediaRow("thin", "img-0.png", "image/png", png(200, 20, (_, _) => 0x808080)),
      Multimodal.MediaRow("small", "img-0.png", "image/png", png(30, 30, (_, _) => 0x808080)),
      Multimodal.MediaRow("bad", "img-0.png", "image/png", "junk".getBytes("UTF-8")))
    val kept = Multimodal.filterMinSize(spark.createDataset(rows), minSize = 50)
      .collect().map(_.doc_id).toSet
    assert(kept == Set("big"))
  }

  test("azureFieldMetadata mirrors valueString-or-content (utils.py:33-42)") {
    val m = graft.extract.Normalize.azureFieldMetadata(Seq(
      "Title" -> Map("valueString" -> "Quarterly Report", "content" -> "ignored"),
      "Author" -> Map("valueString" -> "", "content" -> "A. Writer"),
      "Empty" -> Map.empty))
    assert(m == Map("Title" -> "Quarterly Report", "Author" -> "A. Writer", "Empty" -> ""))
  }
  test("WavCodec: real WAVE round-trip, exact integer features, honest failures") {
    import graft.ops.Multimodal
    // square wave at half scale: rms = peak = 0.5 exactly
    val square = Array.tabulate(800)(i => if (i % 2 == 0) 16384 else -16384).map(_.toShort)
    val wav = Multimodal.WavCodec.encodeWav(square, sampleRate = 8000)
    val (sr, ch, bits, frames, durMs, rms, peak) = Multimodal.WavCodec.decode(wav)
    assert(sr == 8000 && ch == 1 && bits == 16 && frames == 800)
    assert(durMs == 100) // 800 frames / 8000 Hz
    assert(rms == 0.5 && peak == 0.5)
    // silence: both zero
    val silent = Multimodal.WavCodec.encodeWav(Array.fill(80)(0.toShort), 8000)
    val z = Multimodal.WavCodec.decode(silent)
    assert(z._6 == 0.0 && z._7 == 0.0)
    // non-audio bytes fail with an exception (extractAudioFeatures maps it
    // to a decode_error row, never a task failure)
    intercept[Exception] { Multimodal.WavCodec.decode("not a wav".getBytes("UTF-8")) }
    val spark0 = spark
    import spark0.implicits._
    val rows = spark.createDataset(Seq(
      Multimodal.MediaRow("d1", "a.wav", "audio/x-wav", wav),
      Multimodal.MediaRow("d2", "b.wav", "audio/x-wav", "garbage".getBytes("UTF-8"))))
    val feats = Multimodal.extractAudioFeatures(rows).collect().map(f => f.doc_id -> f).toMap
    assert(feats("d1").decode_error == "" && feats("d1").rms == 0.5)
    assert(feats("d2").decode_error.nonEmpty && feats("d2").sample_rate == 0)
  }
}
