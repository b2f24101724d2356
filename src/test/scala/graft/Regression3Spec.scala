package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 advice-batch regressions: PNG predictor with multi-byte pixels
  * (Predictor 15 / Colors 3), zip-bomb inflation caps, CCNet doc-frequency
  * semantics for boilerplate removal, and scoped persist in jaccardPairs.
  */
class Regression3Spec extends AnyFunSuite {

  lazy val spark = graft.pipeline.Pipeline.session("local[4]", 4, "graft-regression3")

  // --------------------------------------------------------- png predictor
  /** Minimal single-page PDF carrying one Flate image XObject whose raster
    * is PNG-predictor-encoded with Colors=3 (bpp=3): the `left` reference
    * is 3 bytes back, not 1 — the round-4 code sheared every Sub/Paeth row
    * while keeping the output length exactly w*h*3 (silent corruption).
    */
  private def predictorPdf(raster: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val payload = graft.extract.Bin.deflate(raster)
    val pdf = new graft.extract.Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
      "/Resources << /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>")
    val content = s"q $w 0 0 $h 10 20 cm /Im0 Do Q\n"
    pdf.stream(4, s"<< /Length ${content.length} >>", content.getBytes("ISO-8859-1"))
    pdf.stream(5, s"<< /Type /XObject /Subtype /Image /Width $w /Height $h " +
      "/BitsPerComponent 8 /ColorSpace /DeviceRGB /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 15 /Colors 3 /BitsPerComponent 8 /Columns $w >> " +
      s"/Length ${payload.length} >>", payload)
    pdf.finish("")
  }

  test("pngPredict honors Colors=3: Sub/Up rows reconstruct pixel-exactly") {
    val w = 3; val h = 2
    val pixels: Array[Array[Int]] = Array(
      Array(10, 20, 30, 40, 50, 60, 70, 80, 90),
      Array(15, 25, 35, 45, 55, 65, 75, 85, 95))
    // encode row 0 with filter 1 (Sub, left = 3 bytes back), row 1 with
    // filter 2 (Up)
    val enc = new java.io.ByteArrayOutputStream()
    enc.write(1)
    for (c <- 0 until w * 3) {
      val left = if (c >= 3) pixels(0)(c - 3) else 0
      enc.write((pixels(0)(c) - left) & 0xff)
    }
    enc.write(2)
    for (c <- 0 until w * 3) enc.write((pixels(1)(c) - pixels(0)(c)) & 0xff)
    val pdf = predictorPdf(enc.toByteArray, w, h)
    val pages = graft.extract.PdfText.extract(pdf).fold(e => fail(e), identity)
    val img = pages.head.images.head
    assert(img.mime == "image/png" && img.width == w && img.height == h)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(img.data))
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = decoded.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == pixels(y)(x * 3), s"R at ($x,$y)")
      assert(((rgb >> 8) & 0xff) == pixels(y)(x * 3 + 1), s"G at ($x,$y)")
      assert((rgb & 0xff) == pixels(y)(x * 3 + 2), s"B at ($x,$y)")
    }
  }

  // --------------------------------------------------------------- zip bomb
  test("zip bomb in a DOCX container becomes a failure row, not an OOM") {
    // 300 MiB of zeros deflates to ~300 KiB; inflation must stop at the cap
    val out = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(out)
    zout.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    val chunk = new Array[Byte](1 << 20)
    for (_ <- 0 until 300) zout.write(chunk)
    zout.closeEntry(); zout.close()
    val bomb = out.toByteArray
    assert(bomb.length < (4 << 20), "bomb container itself must be small")
    val row = graft.pipeline.Pipeline.extractOne(
      graft.io.Ingest.toRawDoc("bomb.docx", bomb))
    assert(row.failure.nonEmpty && row.failure.contains("zip"),
      s"expected zip-bomb failure row, got ${row.failure}")
  }

  // ----------------------------------------------- boilerplate doc frequency
  test("removeBoilerplateParagraphs counts DOCUMENT frequency, not occurrences") {
    import spark.implicits._
    // doc 0 repeats its own unique paragraph 10 times (df = 1) — must
    // survive; "hot" appears once in each of 8 docs (df = 8 > 5) — must go
    val docs = ((0L, (Seq.fill(10)("self repeat") :+ "hot").mkString("\n\n")) +:
      (1L to 7L).map(i => (i, s"hot\n\nunique $i"))).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.removeBoilerplateParagraphs(docs, maxDocFreq = 5)
      .as[(Long, String)].collect().toMap
    assert(got(0L) == Seq.fill(10)("self repeat").mkString("\n\n"))
    assert(got(1L) == "unique 1")
  }

  // --------------------------------------------------- jaccard persist scope
  test("jaccardPairs high-threshold path releases its intermediate storage") {
    import spark.implicits._
    val docs = (0L until 20L).map { i =>
      (i, s"shared words across documents plus ${if (i % 2 == 0) "even" else s"odd $i"} tail")
    }.toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = graft.ops.Dedup.jaccardPairs(docs, threshold = 0.8, shingleN = 3)
    val mid = spark.sparkContext.getPersistentRDDs.keySet
    // only the materialized RESULT lingers (the caller's handle); the big
    // shingle-set intermediate is already gone
    assert((mid -- before).size <= 1, s"lingering intermediates: ${mid -- before}")
    pairs.collect() // served from the materialized result
    pairs.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
