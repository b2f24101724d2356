package graft

import graft.extract._
import org.scalatest.funsuite.AnyFunSuite

/** Golden byte identity for every fixture writer in `src/main`: the sha-256
  * of each writer's output over small fixed inputs. The hashes pin the
  * exact bytes, so a refactor of the shared byte helpers (endian sinks,
  * XML escapes, deflate, the PDF object writer) that changes any output
  * fails here even when the round-trip specs still pass.
  */
class WriterBytesSpec extends AnyFunSuite {
  import DocxExtract.{PageBreak, Para, Pic, Table}
  import XlsExtract.{XlsBool, XlsNum, XlsRkInt, XlsStr}

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  private val title = "R&D <draft> \"q\" café"
  private val png = Array.tabulate[Byte](40)(i => (i * 29).toByte)
  private val textPages = Seq(
    Seq("Heading (one) \\ here", "second line-with hyphen", "digits 0189 é"),
    Seq("page two text"))
  private val cells: Seq[(String, Seq[Seq[XlsExtract.XlsCell]])] = Seq(
    "Data & <more>" -> Seq(
      Seq(XlsStr("name"), XlsStr("straße value"), XlsRkInt(-7)),
      Seq(XlsNum(2.5), XlsBool(true), XlsStr("name"))),
    "Second" -> Seq(Seq(XlsStr("ab"), XlsRkInt(123456))))
  private val big = Array.tabulate[Byte](5000)(i => (i * 7 + 3).toByte)
  private val plainPdf = PdfBytes.buildPdf(Seq((612.0, 792.0), (595.5, 842.25)), title, "Ann")

  private val writers: Seq[(String, () => Array[Byte], String)] = Seq(
    ("buildDocx", () => DocxExtract.buildDocx(title, Seq(Para("# Head & <x>"), Para("- item \"q\""),
      Para("plain"), Table("|a|b|\n|---|---|\n|1 & 2|<3>|"), PageBreak, Pic("m")), Seq("png" -> png)),
      "fe579565375c716273dc276fdcc9e6def052d8f2c799f487c1ca69139b5b5773"),
    ("buildPptx", () => OfficeExtract.buildPptx(title, Seq(
      OfficeExtract.Slide("One & <two>", Seq("body \"q\"", "more"), Seq("m")),
      OfficeExtract.Slide("", Seq("solo"))), Seq("png" -> png)),
      "b09b971272f834a86bbeddabf4113d463355e48f68b59f1878c1605cc0716726"),
    ("buildXlsx", () => OfficeExtract.buildXlsx(title,
      Seq("S & <1>" -> Seq(Seq("h\"1\"", "42"), Seq("a<b", "")))),
      "9e295151e261e7de991afe7439dffd1a30203ba2cbd6090b3fa4acf60c17e42c"),
    ("buildEpub", () => EpubExtract.buildEpub(title, Seq("<p>one</p>", "<p>two &amp; x</p>"),
      Seq("OEBPS/images/x.png" -> png)),
      "cae2ff01a7e897cb82e7eb904a4a1fb1789fdccc541a3f5001c53c5a4d655e5b"),
    ("buildOdt", () => OdtExtract.buildOdt(title, Seq(Para("## Head & <x>"), Para("- item \"q\""),
      Table("|a|b|\n|---|---|\n|1|2|"), Pic("m"), PageBreak, Para("tail")), Seq("png" -> png)),
      "d9c8f94efcbc209b49c20d937c2d10835fcec03ee3affa835eb86f0e2fd3c74d"),
    ("buildOds", () => OdsExtract.buildOds(title,
      Seq("S \"1\"" -> Seq(Seq("a & b", "<c>"), Seq("d")))),
      "92b32795f94fc4ca24e79f468afcfe3539c90a5e5de1b3e0fac98ad653f84b2b"),
    ("buildRtf", () => RtfExtract.buildRtf(title, Seq("one {two} \\ three", "ünï €"), Set(1))
      .getBytes("UTF-8"),
      "a1290c9eb503273ff98d1c40638e5b51862aaf42a8804b005b4f121e11c22ddc"),
    ("buildDoc", () => DocExtract.buildDoc(title, Seq("first para", "second é", "third"), Seq(2)),
      "263a96e0dde1d4a1fa0fdb48371abf220a37863f728e34f36200c95804bc34a2"),
    ("buildPpt", () => PptExtract.buildPpt(title, Seq("T1" -> Seq("body a", "body b"), "" -> Seq("c"))),
      "5db30cfbaba03160b5b68cb0b7a38391f6aa737ece2b88324223ce3a352b8e36"),
    ("buildPpt slwt", () => PptExtract.buildPpt(title, Seq("T1" -> Seq("body a"), "T2" -> Nil),
      viaSlideListWithText = true),
      "5475e2c1ac19edc77c2a4ab8fa7d7cdf87aab7dd71d5b3700fb3b1ec63f4936b"),
    ("buildXls", () => XlsExtract.buildXls(title, cells),
      "4d159cb5cced5e332f12306818d0a66265ef87c5d19436fb8536d090541c8c39"),
    ("buildXls split", () => XlsExtract.buildXls(title, cells, continueSplit = true),
      "597a86d5489bc623634ce0b2e5d940cd4fb301d1ab356bd7d77736d2d047fe03"),
    ("buildXls atStart", () => XlsExtract.buildXls(title, cells, continueAtStart = true),
      "e3ec915ad1075803548364ac1d960a73e8cf58dc5f60191f51aef33d349c6ee7"),
    ("buildXlsb", () => XlsbExtract.buildXlsb(title, cells),
      "58c8d837dc4f18c83052695cb9db108d23176cbbbe8d3e956dcdb63720298e51"),
    ("Cfb.build", () => CfbExtract.build(Seq("Small" -> "tiny".getBytes("UTF-8"), "Big" -> big)),
      "dc15063c31a6776eb0572341e6f0b0906e5e0f18ab156e17965d0466cf10122d"),
    ("Cfb.buildSummary", () => CfbExtract.buildSummary(title),
      "6f48d24b6aec0e7e8073a04b26c971b782c0f180042e12ada3ee9de158fc9566"),
    ("TrueType.build fmt6", () => TrueType.build(codeToGlyph = Seq(1 -> 3, 2 -> 4, 5 -> 7),
      glyphNames = Map(3 -> "A", 4 -> "germandbls", 7 -> "uni20AC")),
      "d0711b7c11374fd90ee8bbcd5569ef77d50bfbf84036f85b4188ca40d55a575d"),
    ("TrueType.build fmt0+uni", () => TrueType.build(codeToGlyph = Seq(65 -> 5, 66 -> 6),
      glyphNames = Map(5 -> "A"), unicodeToGlyph = Seq(0x41 -> 100, 0x20AC -> 101),
      macCmapFormat = 0),
      "e2b6081d1bca6f6fae419c7a38862873b16ea9587213037432380566188348b8"),
    ("Cff.build", () => Cff.build(Seq(1 -> "A", 2 -> "space", 3 -> "uni00E9", 4 -> "zero")),
      "5e5c4a7384444b9fc055a56975b24c0dd221751b8a6a40cd0d537adb23f9c62b"),
    ("Cff.build std", () => Cff.build(Seq(65 -> "A", 66 -> "B"), stdEncoding = true),
      "93b599b5995be2772f49999d70c5170e3720ebd484121b2f9e1ce37ca822b6e7"),
    ("Type1.build", () => Type1.build(Seq(1 -> "A", 2 -> "eacute")),
      "376e6fa555727405f90fbd12ba7bab9ae18de9c00462f30080fcb693f7909ab3"),
    ("Type1.build pfb std", () => Type1.build(Seq(1 -> "A"), stdEncoding = true, pfb = true),
      "d65973a622b8c5e8406d469e159f0b33caa57dedf570f66792d6d518107f638a"),
    ("buildPdf", () => plainPdf,
      "c5059e9fd557a3fcffe9213f4c70a02cff82bbadf67d21f84320b8c84de66320"),
    ("buildPdf utf16", () => PdfBytes.buildPdf(Seq((10.0, 20.0)), "Ω title (x)", "a\\b"),
      "3c3a32873970cd7c275bc3b3183a95f9294df4c02e33d4e49214e9fecd51a3eb"),
    ("buildPdf r2", () => PdfBytes.buildPdf(Seq((10.0, 20.0)), title, "Ann", Some(("pw", 2))),
      "040a040f863aa84651d933019191ec215755a80f4c3d89a4b6b3427aa55794b9"),
    ("buildPdf r3", () => PdfBytes.buildPdf(Seq((10.0, 20.0)), title, "Ann", Some(("pw", 3))),
      "ada447b2c6fb13d499c11ca5df306dacfbe75fe3130af4010e5bcc9777984148"),
    ("buildPdf r4", () => PdfBytes.buildPdf(Seq((10.0, 20.0)), title, "Ann", Some(("pw", 4))),
      "299cc9b29e9180dfd762c839c437eaf0ed3c0d36701df69ac5b5acb80aecef52"),
    ("buildPdf r5", () => PdfBytes.buildPdf(Seq((10.0, 20.0)), title, "Ann", Some(("pw", 5))),
      "ef47de3bf26c235c85ed050bf481bc985d3b9f6dd3625aeee010b6414e855cf0"),
    ("buildPdf r6", () => PdfBytes.buildPdf(Seq((10.0, 20.0)), title, "Ann", Some(("pw", 6))),
      "f65064a7b70a8719f5cfb6d68bcce2304d73cb0da1548e3f30422ba70fd4ab6d"),
    ("buildTextPdf", () => PdfText.buildTextPdf(textPages),
      "3c63bddc2bde55133f158e2fe3c78217eddfc1fb442d9de93df0ef4fe345dfd4"),
    ("buildTextPdf raw", () => PdfText.buildTextPdf(textPages, compress = false),
      "19ceca10a3dd00bec37e16d3804bbb60d850ed89232ead220d028f397bdec312"),
    ("buildTextPdf images", () => PdfText.buildTextPdf(textPages, compress = true,
      Seq(Seq((png, 4, 3), (png.take(9), 2, 2)), Nil)),
      "a9d57ee0acccfd65b86e001a5dbd99828865f0c99030f96f1635f910c60db5ac"),
    ("buildTextPdfTT", () => PdfText.buildTextPdfTT(textPages, unicodeCmap = false),
      "159302740fa3cd6e6b8fda3a83a00a74c829cceb67c4a9f9f0dd9a6e2f90f164"),
    ("buildTextPdfTT uni", () => PdfText.buildTextPdfTT(textPages, unicodeCmap = true),
      "9a1d34fe334164742904073f6d269910e008fd5cf959c29dba53522fb11538b0"),
    ("buildTextPdfCFF", () => PdfText.buildTextPdfCFF(textPages),
      "5c3eefe43277653eaa4eaf4fad61eac8dc66f7ea905528c46b238c3caed3acd7"),
    ("buildTextPdfT1", () => PdfText.buildTextPdfT1(textPages),
      "a9fc0108d28ce04b4569a792404f99c0b7bf09da3542b4c40ad2d9731b9bf4bc"),
    ("extractPages", () => PdfRewrite.extractPages(plainPdf, Seq(1)).fold(e => fail(e), identity),
      "71551483f4964d3ee21ad7a13cfd3beb4dc674ad08cb29bef948cc041583a72c"),
    ("decryptPdf", () => PdfRewrite.decryptPdf(PdfBytes.buildPdf(Seq((10.0, 20.0)), title, "Ann",
      Some(("pw", 4))), "pw").fold(e => fail(e), identity),
      "c5379ecc830c9c3cdcabfcf83de8cb69f7d2412b273c7ef13b0b5895525034cc"),
    ("WebpL.encode", () => WebpL.encode(Array.tabulate(5 * 3)(i => 0xFF000000 | i * 7919), 5, 3),
      "74b496aacce0fc4baabbd99b9d13ade239485df2493a279d25ffaf888f679966"))

  test("every fixture writer emits the recorded bytes") {
    val diffs = writers.flatMap { case (name, bytes, want) =>
      val got = sha(bytes())
      if (got == want) None else Some(s"""("$name", $got)""")
    }
    assert(diffs.isEmpty, diffs.mkString("\n", "\n", ""))
  }
}
