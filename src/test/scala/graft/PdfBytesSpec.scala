package graft

import graft.extract.PdfBytes
import org.scalatest.funsuite.AnyFunSuite

/** Container-level PDF parsing against the reference's REAL fixture PDFs
  * (read at runtime from /root/reference/tests/resources, like AmbrGoldens)
  * plus writer→parser round-trips. The fixture expectations were established
  * by the independent second implementation `tools/pdf_info_oracle.py`
  * (both implement PDF 32000-1 §7.3/§7.5 from scratch).
  */
class PdfBytesSpec extends AnyFunSuite {

  private val resources = "/root/reference/tests/resources"

  private def read(p: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

  test("pdf_sample.pdf: 4 A4 pages, no Title/Author, not encrypted") {
    val f = new java.io.File(s"$resources/pdf_sample.pdf")
    assume(f.exists(), "reference fixtures not present")
    val info = PdfBytes.pdfInfo(read(f.getPath)).fold(e => fail(e), identity)
    assert(info.pageCount == 4)
    assert(info.fileSize == 142786L)
    assert(!info.isEncrypted)
    assert(info.pageDims == Seq.fill(4)(PdfBytes.PageDim(595.0, 842.0)))
    // Info dict carries Creator/Producer/CreationDate but no Title/Author →
    // empty strings, matching pypdf's `metadata.title or ""`
    assert(info.title == "" && info.author == "")
  }

  test("pdf_sample_page_nums.pdf: 3 pages at 594.99x792") {
    val f = new java.io.File(s"$resources/pdf_sample_page_nums.pdf")
    assume(f.exists(), "reference fixtures not present")
    val info = PdfBytes.pdfInfo(read(f.getPath)).fold(e => fail(e), identity)
    assert(info.pageCount == 3)
    assert(info.fileSize == 335995L)
    assert(info.pageDims.size == 3)
    info.pageDims.foreach { d =>
      assert(math.abs(d.width - 594.992125984252) < 1e-9)
      assert(d.height == 792.0)
    }
    assert(info.title == "" && info.author == "")
  }

  test("writer->parser round-trip: page count, dims, title, author") {
    for (n <- Seq(1, 2, 5, 17); (w, h) <- Seq((300.0, 400.0), (595.5, 842.25))) {
      val pages = (0 until n).map(i => (w + i, h))
      val bytes = PdfBytes.buildPdf(pages, s"T-$n", s"A-$n")
      val info = PdfBytes.pdfInfo(bytes).fold(e => fail(e), identity)
      assert(info.pageCount == n)
      assert(info.fileSize == bytes.length.toLong)
      assert(info.pageDims == pages.map { case (pw, ph) => PdfBytes.PageDim(pw, ph) })
      assert(info.title == s"T-$n" && info.author == s"A-$n")
      assert(!info.isEncrypted)
    }
  }

  test("text strings: UTF-16BE titles, literal-string escapes") {
    val bytes = PdfBytes.buildPdf(Seq((100.0, 100.0)), "Grüße 中文", "a(b)\\c")
    val info = PdfBytes.pdfInfo(bytes).fold(e => fail(e), identity)
    assert(info.title == "Grüße 中文")
    assert(info.author == "a(b)\\c")
  }

  test("decodeTextString: BOM dispatch") {
    assert(PdfBytes.decodeTextString(Array(0xfe, 0xff, 0x00, 0x41).map(_.toByte)) == "A")
    assert(PdfBytes.decodeTextString("plain".getBytes("ISO-8859-1")) == "plain")
    assert(PdfBytes.decodeTextString(Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ "é".getBytes("UTF-8")) == "é")
  }

  test("malformed bytes are a Left, never a throw") {
    assert(PdfBytes.pdfInfo("not a pdf at all".getBytes).isLeft)
    assert(PdfBytes.pdfInfo(Array.emptyByteArray).isLeft)
    // truncate a valid pdf mid-xref
    val good = PdfBytes.buildPdf(Seq((10.0, 10.0)), "t", "a")
    assert(PdfBytes.pdfInfo(good.take(good.length - 30)).isLeft)
  }

  test("RC4 matches the published test vectors") {
    import graft.extract.PdfCrypt.rc4
    def hx(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02X").mkString
    assert(hx(rc4("Key".getBytes, "Plaintext".getBytes)) == "BBF316E8D940AF0AD3")
    assert(hx(rc4("Wiki".getBytes, "pedia".getBytes)) == "1021BF0420")
    assert(hx(rc4("Secret".getBytes, "Attack at dawn".getBytes)) == "45A01F645FC35B383552544B9BF5")
  }

  test("empty-user-password encrypted PDFs open as not-encrypted (RC4 R=2/R=3, AES R=4)") {
    // the pdf_utils.py:212-215 behavior: many PDFs are owner-locked with an
    // empty user password; get_pdf_info must read them fully
    for (r <- Seq(2, 3, 4)) {
      val bytes = PdfBytes.buildPdf(Seq((200.0, 300.0), (200.0, 300.0)),
        s"enc-title-$r", s"enc-author-$r", Some(("", r)))
      val info = PdfBytes.pdfInfo(bytes).fold(e => fail(s"r=$r: $e"), identity)
      assert(!info.isEncrypted, s"r=$r")
      assert(info.pageCount == 2)
      assert(info.pageDims.head == PdfBytes.PageDim(200.0, 300.0))
      assert(info.title == s"enc-title-$r" && info.author == s"enc-author-$r")
    }
  }

  test("password-protected PDFs: correct password opens, wrong raises, none gives basic shape") {
    val bytes = PdfBytes.buildPdf(Seq((100.0, 100.0)), "secret title", "secret author",
      Some(("hunter2", 3)))
    // no password → truly-encrypted basic shape
    val locked = PdfBytes.pdfInfo(bytes).fold(e => fail(e), identity)
    assert(locked.isEncrypted && locked.pageCount == 0 && locked.title == "")
    // correct password → full info, UTF-16/latin-1 strings decrypted
    val open = PdfBytes.pdfInfo(bytes, Some("hunter2")).fold(e => fail(e), identity)
    assert(!open.isEncrypted && open.pageCount == 1)
    assert(open.title == "secret title" && open.author == "secret author")
    // wrong password → Left mentioning the password (reference raises ValueError)
    val err = PdfBytes.pdfInfo(bytes, Some("wrong")).left.getOrElse(fail("expected Left"))
    assert(err.contains("Incorrect password"))
  }

  test("extractPages on the REAL fixture: subset reparses with right count/dims and keeps content streams") {
    import graft.extract.PdfRewrite
    val f = new java.io.File(s"$resources/pdf_sample.pdf")
    assume(f.exists(), "reference fixtures not present")
    val src = read(f.getPath)
    val sub = PdfRewrite.extractPages(src, Seq(0, 2)).fold(e => fail(e), identity)
    val info = PdfBytes.pdfInfo(sub).fold(e => fail(e), identity)
    assert(info.pageCount == 2)
    assert(info.pageDims == Seq.fill(2)(PdfBytes.PageDim(595.0, 842.0)))
    // the kept pages' Flate content streams must ride along verbatim
    assert(new String(sub, "ISO-8859-1").contains("FlateDecode"))
    assert(sub.length > 1000, s"suspiciously small: ${sub.length}")
    // reversed/repeated selections follow the keep order
    val rev = PdfRewrite.extractPages(src, Seq(3, 3, 1)).fold(e => fail(e), identity)
    assert(PdfBytes.pdfInfo(rev).fold(e => fail(e), identity).pageCount == 3)
    // out-of-range indices are SILENTLY skipped (pdf_utils.py:172-176)
    val skipped = PdfRewrite.extractPages(src, Seq(0, 7)).fold(e => fail(e), identity)
    assert(PdfBytes.pdfInfo(skipped).fold(e => fail(e), identity).pageCount == 1)
  }

  test("regression: unsigned /P values wrap instead of saturating") {
    // many producers serialize P as unsigned 32-bit (4294967252 == -44);
    // Double->Int saturation would derive the wrong file key
    val enc = PdfBytes.buildPdf(Seq((10.0, 10.0)), "t", "a", Some(("", 3)))
    // the patch lengthens the file, shifting the xref — recompute startxref
    val hacked = new String(enc, "ISO-8859-1").replace("/P -44", "/P 4294967252")
    val info = PdfBytes.pdfInfo(
      rebuildStartxref(hacked).getBytes("ISO-8859-1")).fold(e => fail(e), identity)
    assert(!info.isEncrypted && info.pageCount == 1 && info.title == "t")
  }

  /** Recomputes the startxref offset after a text patch shifted the xref. */
  private def rebuildStartxref(pdf: String): String = {
    val xrefAt = pdf.lastIndexOf("\nxref\n") + 1
    val sx = pdf.lastIndexOf("startxref\n")
    val end = pdf.indexOf('\n', sx + "startxref\n".length)
    pdf.substring(0, sx) + "startxref\n" + xrefAt + pdf.substring(end)
  }

  test("regression: 19-byte single-EOL xref entries still parse") {
    val pdf = new String(PdfBytes.buildPdf(Seq((10.0, 10.0)), "t19", "a"), "ISO-8859-1")
    // rewrite every 20-byte "NNNNNNNNNN GGGGG n \n" entry to the 19-byte
    // single-EOL deviation "NNNNNNNNNN GGGGG n\n"
    val patched = pdf.replace(" n \n", " n\n").replace(" f \n", " f\n")
    assert(patched.length < pdf.length)
    val info = PdfBytes.pdfInfo(
      rebuildStartxref(patched).getBytes("ISO-8859-1")).fold(e => fail(e), identity)
    assert(info.pageCount == 1 && info.title == "t19")
  }

  test("regression: sub-milli reals round-trip without exponent syntax") {
    val bytes = PdfBytes.buildPdf(Seq((0.0005, 12000000.5)), "tiny", "a")
    assert(!new String(bytes, "ISO-8859-1").toUpperCase.contains("E-"))
    val info = PdfBytes.pdfInfo(bytes).fold(e => fail(e), identity)
    assert(info.pageDims == Seq(PdfBytes.PageDim(0.0005, 12000000.5)))
  }

  test("extractPages round-trip on writer PDFs preserves the selected dims") {
    import graft.extract.PdfRewrite
    val pages = (0 until 6).map(i => (100.0 + i, 200.0 + i))
    val src = PdfBytes.buildPdf(pages, "t", "a")
    val sub = PdfRewrite.extractPages(src, Seq(4, 1)).fold(e => fail(e), identity)
    val info = PdfBytes.pdfInfo(sub).fold(e => fail(e), identity)
    assert(info.pageDims == Seq(PdfBytes.PageDim(104.0, 204.0), PdfBytes.PageDim(101.0, 201.0)))
  }

  test("decryptPdf: plaintext unchanged; encrypted re-emits open and readable") {
    import graft.extract.PdfRewrite
    val plain = PdfBytes.buildPdf(Seq((10.0, 20.0)), "t", "a")
    // unencrypted → ORIGINAL bytes unchanged (pdf_utils.py:104-106)
    assert(PdfRewrite.decryptPdf(plain, "whatever").fold(e => fail(e), identity) eq plain)
    val enc = PdfBytes.buildPdf(Seq((10.0, 20.0), (30.0, 40.0)), "tt", "aa", Some(("pw", 3)))
    val dec = PdfRewrite.decryptPdf(enc, "pw").fold(e => fail(e), identity)
    val info = PdfBytes.pdfInfo(dec).fold(e => fail(e), identity)
    assert(!info.isEncrypted && info.pageCount == 2)
    assert(info.pageDims == Seq(PdfBytes.PageDim(10.0, 20.0), PdfBytes.PageDim(30.0, 40.0)))
    // wrong password is an error (reference raises)
    assert(PdfRewrite.decryptPdf(enc, "nope").isLeft)
    // empty-user-password files decrypt without a password
    val enc2 = PdfBytes.buildPdf(Seq((10.0, 20.0)), "t2", "a2", Some(("", 3)))
    val dec2 = PdfRewrite.decryptPdf(enc2, "").fold(e => fail(e), identity)
    assert(!PdfBytes.pdfInfo(dec2).fold(e => fail(e), identity).isEncrypted)
    // AES-128 (V4/AESV2): password-protected info decrypts through JCE
    val aes = PdfBytes.buildPdf(Seq((50.0, 60.0)), "aes title", "aes author", Some(("pw4", 4)))
    assert(PdfBytes.pdfInfo(aes).fold(e => fail(e), identity).isEncrypted) // locked w/o pw
    val openAes = PdfBytes.pdfInfo(aes, Some("pw4")).fold(e => fail(e), identity)
    assert(!openAes.isEncrypted && openAes.title == "aes title" && openAes.author == "aes author")
    val decAes = PdfRewrite.decryptPdf(aes, "pw4").fold(e => fail(e), identity)
    val infoAes = PdfBytes.pdfInfo(decAes).fold(e => fail(e), identity)
    assert(!infoAes.isEncrypted && infoAes.title == "aes title")
    assert(PdfRewrite.decryptPdf(aes, "bad").isLeft)
  }

  test("hybrid-reference xref: /XRefStm entries beat the classic section's free tombstones") {
    // §7.5.8.4: hybrid files mark ObjStm-compressed objects FREE in the
    // classic table; their real type-2 entries live in the /XRefStm stream,
    // which takes precedence. A first-wins install of the classic section
    // would tombstone the Pages/Page objects and silently report 0 pages.
    val out = new java.io.ByteArrayOutputStream
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    val off1 = out.size(); w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val off4 = out.size(); w("4 0 obj\n<< /Length 0 >>\nstream\n\nendstream\nendobj\n")
    // ObjStm (obj 6, uncompressed) carrying obj 2 (Pages) and obj 3 (Page)
    val o2 = "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>"
    val o3 = "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 200 300 ] /Contents 4 0 R >>"
    val header = s"2 0 3 ${o2.length + 1} "
    val payload = header + o2 + " " + o3
    val off6 = out.size()
    w(s"6 0 obj\n<< /Type /ObjStm /N 2 /First ${header.length} /Length ${payload.length} >>\nstream\n$payload\nendstream\nendobj\n")
    // xref STREAM (obj 5, uncompressed, W [1 2 1]): the authoritative entries
    val off5 = out.size()
    def e(ty: Int, f2: Int, f3: Int): Array[Byte] =
      Array(ty.toByte, ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte, f3.toByte)
    val rows = Array(e(0, 0, 255), e(1, off1, 0), e(2, 6, 0), e(2, 6, 1),
      e(1, off4, 0), e(1, off5, 0), e(1, off6, 0)).flatten
    w(s"5 0 obj\n<< /Type /XRef /Size 7 /W [ 1 2 1 ] /Index [ 0 7 ] /Root 1 0 R /Length ${rows.length} >>\nstream\n")
    out.write(rows)
    w("\nendstream\nendobj\n")
    // classic table: hybrid convention — ObjStm-carried objects marked free
    val xrefAt = out.size()
    w("xref\n0 7\n")
    w("0000000000 65535 f \n")
    w(f"$off1%010d 00000 n \n")
    w("0000000000 00000 f \n") // obj 2: FREE here, real entry in XRefStm
    w("0000000000 00000 f \n") // obj 3: FREE here, real entry in XRefStm
    w(f"$off4%010d 00000 n \n")
    w("0000000000 00000 f \n") // the XRefStm object itself is hidden too
    w(f"$off6%010d 00000 n \n")
    w(s"trailer\n<< /Size 7 /Root 1 0 R /XRefStm $off5 >>\nstartxref\n$xrefAt\n%%EOF\n")
    val info = PdfBytes.pdfInfo(out.toByteArray).fold(e => fail(e), identity)
    assert(info.pageCount == 1)
    assert(info.pageDims == Seq(PdfBytes.PageDim(200.0, 300.0)))
  }

  test("gen>0 objects derive per-object keys from the xref generation") {
    import graft.extract.{PdfCrypt, PdfRewrite}
    import graft.extract.Bin.hex
    val title = "generation-one title"
    val pwd = Array.emptyByteArray
    val id0 = PdfCrypt.md5("gen1-test".getBytes("UTF-8"))
    val o = PdfCrypt.computeO(pwd, pwd, 3, 16)
    val perm = -44
    val key = PdfCrypt.fileKey(pwd, o, perm, id0, 3, 16)
    val u = PdfCrypt.computeU(key, id0, 3) ++ new Array[Byte](16)
    val pdf = new graft.extract.Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 100 200 ] /Contents 4 0 R >>")
    pdf.stream(4, "<< /Length 0 >>", Array.emptyByteArray)
    // the Info object lives at GENERATION 1: Algorithm 1 hashes (num, gen),
    // so keying it as gen 0 decrypts to garbage
    val tEnc = PdfCrypt.encryptString(key, 5, 1, title.getBytes("ISO-8859-1"))
    pdf.obj(5, s"<< /Title ${hex(tEnc)} >>", gen = 1)
    pdf.obj(6, s"<< /Filter /Standard /V 2 /Length 128 /R 3 /O ${hex(o)} /U ${hex(u)} /P $perm >>")
    val bytes = pdf.finish(s" /Info 5 1 R /Encrypt 6 0 R /ID [ ${hex(id0)} ${hex(id0)} ]")
    assert(PdfBytes.pdfInfo(bytes).fold(e => fail(e), identity).title == title)
    // decryptPdf's copy path must also key the gen-1 strings correctly
    val dec = PdfRewrite.decryptPdf(bytes, "").fold(e => fail(e), identity)
    assert(PdfBytes.pdfInfo(dec).fold(e => fail(e), identity).title == title)
  }

  test("EncryptMetadata=false: plaintext XMP and Crypt-Identity streams copy verbatim") {
    import graft.extract.{PdfCrypt, PdfRewrite}
    val xmp = "<x:xmpmeta GRAFT-PLAINTEXT-MARKER attr='v'/>"
    val idPayload = "IDENTITY-CRYPT-PLAINTEXT-PAYLOAD"
    import graft.extract.Bin.hex
    val pwd = Array.emptyByteArray
    val id0 = PdfCrypt.md5("plain-meta-test".getBytes("UTF-8"))
    val o = PdfCrypt.computeO(pwd, pwd, 4, 16)
    val perm = -44
    // R=4 with EncryptMetadata=false changes the key derivation (extra
    // ffffffff salt) — both sides must agree
    val key = PdfCrypt.fileKey(pwd, o, perm, id0, 4, 16, encryptMetadata = false)
    val u = PdfCrypt.computeU(key, id0, 4) ++ new Array[Byte](16)
    val pdf = new graft.extract.Bin.PdfWriter
    import pdf.obj
    obj(1, "<< /Type /Catalog /Pages 2 0 R /Metadata 7 0 R >>")
    obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 100 200 ] /Contents 4 0 R /GraftX 8 0 R >>")
    obj(4, "<< /Length 0 >>\nstream\n\nendstream")
    val tEnc = PdfCrypt.encryptString(key, 5, 0, "meta title".getBytes("ISO-8859-1"))
    obj(5, s"<< /Title ${hex(tEnc)} >>")
    obj(6, "<< /Filter /Standard /V 4 /Length 128 /CF << /StdCF << /CFM /V2 /AuthEvent /DocOpen >> >> " +
      s"/StmF /StdCF /StrF /StdCF /R 4 /O ${hex(o)} /U ${hex(u)} /P $perm /EncryptMetadata false >>")
    // the XMP metadata stream is stored PLAINTEXT (EncryptMetadata false)
    obj(7, s"<< /Type /Metadata /Subtype /XML /Length ${xmp.length} >>\nstream\n$xmp\nendstream")
    // a /Crypt Identity-filtered stream is stored plaintext too (§7.4.10)
    obj(8, "<< /Filter /Crypt /DecodeParms << /Type /CryptFilterDecodeParms /Name /Identity >> " +
      s"/Length ${idPayload.length} >>\nstream\n$idPayload\nendstream")
    val bytes = pdf.finish(s" /Info 5 0 R /Encrypt 6 0 R /ID [ ${hex(id0)} ${hex(id0)} ]")
    val opened = PdfBytes.pdfInfo(bytes).fold(e => fail(e), identity)
    assert(!opened.isEncrypted && opened.title == "meta title")
    val dec = PdfRewrite.decryptPdf(bytes, "").fold(e => fail(e), identity)
    val decStr = new String(dec, "ISO-8859-1")
    // verbatim copies — a wrongly-applied RC4 pass would garble both
    assert(decStr.contains(xmp), "XMP metadata must copy verbatim")
    assert(decStr.contains(idPayload), "Crypt-Identity stream must copy verbatim")
    assert(PdfBytes.pdfInfo(dec).fold(e => fail(e), identity).title == "meta title")
  }

  test("AES-256 (V5/AESV3): R6 and R5 round-trips, owner password, Perms") {
    import graft.extract.{PdfCrypt, PdfRewrite}
    for (r <- Seq(6, 5)) {
      val doc = PdfBytes.buildPdf(Seq((120.0, 240.0), (130.0, 250.0)),
        s"v5 title r$r", s"v5 author r$r", Some(("secret256", r)))
      // locked without the password → basic encrypted shape
      val locked = PdfBytes.pdfInfo(doc).fold(e => fail(e), identity)
      assert(locked.isEncrypted && locked.pageCount == 0)
      // user password opens: structure + decrypted Info strings
      val open = PdfBytes.pdfInfo(doc, Some("secret256")).fold(e => fail(e), identity)
      assert(!open.isEncrypted && open.pageCount == 2)
      assert(open.title == s"v5 title r$r" && open.author == s"v5 author r$r")
      // wrong password raises (reference parity)
      assert(PdfBytes.pdfInfo(doc, Some("nope")).isLeft)
      // decryptPdf re-emits without /Encrypt, Info preserved
      val dec = PdfRewrite.decryptPdf(doc, "secret256").fold(e => fail(e), identity)
      val decInfo = PdfBytes.pdfInfo(dec).fold(e => fail(e), identity)
      assert(!decInfo.isEncrypted && decInfo.title == s"v5 title r$r")
      assert(decInfo.pageDims == Seq(PdfBytes.PageDim(120.0, 240.0), PdfBytes.PageDim(130.0, 250.0)))
    }
    // empty-user-password V5 docs open as not-encrypted without a password
    val open = PdfBytes.buildPdf(Seq((10.0, 10.0)), "t", "a", Some(("", 6)))
    assert(!PdfBytes.pdfInfo(open).fold(e => fail(e), identity).isEncrypted)
    // distinct owner password verifies through Algorithm 12 and unwraps the
    // same file key; Perms validates under it
    val user = "u-pass".getBytes("UTF-8")
    val owner = "o-pass".getBytes("UTF-8")
    val fileKey = PdfCrypt.md5("ka".getBytes) ++ PdfCrypt.md5("kb".getBytes)
    val (u, ue, o, oe) = PdfCrypt.computeV5Entries(user, owner, fileKey, 6)
    assert(PdfCrypt.verifyUserPasswordV5(user, u, ue, 6).exists(_.sameElements(fileKey)))
    assert(PdfCrypt.verifyOwnerPasswordV5(owner, o, oe, u, 6).exists(_.sameElements(fileKey)))
    assert(PdfCrypt.verifyUserPasswordV5(owner, u, ue, 6).isEmpty)
    assert(PdfCrypt.verifyOwnerPasswordV5(user, o, oe, u, 6).isEmpty)
    val perms = PdfCrypt.computePerms(fileKey, -44, encryptMetadata = true)
    assert(PdfCrypt.validatePerms(fileKey, perms).contains(true))
    assert(PdfCrypt.validatePerms(fileKey.reverse, perms).isEmpty)
  }

  test("legacy stream filters: LZW, ASCIIHex, ASCII85, RunLength round-trip") {
    import graft.extract.PdfBytes.{lzwDecode, asciiHexDecode, ascii85Decode, runLengthDecode}
    // test-side encoders (independent of the decoders under test)
    def lzwEncode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      var bitBuf = 0L; var bitCnt = 0; var width = 9
      val dict = scala.collection.mutable.HashMap[Seq[Byte], Int]()
      (0 until 256).foreach(i => dict(Seq(i.toByte)) = i)
      var next = 258
      def emit(code: Int): Unit = {
        bitBuf = (bitBuf << width) | code; bitCnt += width
        while (bitCnt >= 8) { out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8 }
      }
      emit(256) // clear
      var w = Seq.empty[Byte]
      data.foreach { b =>
        val wb = w :+ b
        if (dict.contains(wb)) w = wb
        else {
          emit(dict(w))
          if (next < 4096) { dict(wb) = next; next += 1 }
          // EarlyChange=1 cadence mirrored from the decoder
          if (next >= (1 << width) && width < 12) width += 1
          w = Seq(b)
        }
      }
      if (w.nonEmpty) emit(dict(w))
      emit(257) // EOD
      if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
      out.toByteArray
    }
    def a85Encode(data: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder
      data.grouped(4).foreach { g =>
        var t = 0L
        g.foreach(b => t = (t << 8) | (b & 0xff))
        var k = g.length
        while (k < 4) { t = t << 8; k += 1 }
        if (t == 0 && g.length == 4) sb += 'z'
        else {
          val cs = new Array[Char](5)
          var v = t
          (4 to 0 by -1).foreach { i => cs(i) = ('!' + (v % 85)).toChar; v /= 85 }
          sb ++= new String(cs, 0, g.length + 1)
        }
      }
      (sb.toString + "~>").getBytes("ISO-8859-1")
    }
    val rng = new scala.util.Random(11)
    // structured + random payloads cross the 9→10→11-bit LZW boundaries
    val payloads = Seq(
      "BT (hello) Tj ET " * 400,
      new String(Array.fill(8000)((rng.nextInt(256) - 128).toByte).map(b => (b & 0xff).toChar)),
      "aaaaabbbbbcccccaaaaabbbbb" * 100, "x")
      .map(_.getBytes("ISO-8859-1"))
    payloads.foreach { p =>
      assert(lzwDecode(lzwEncode(p)).sameElements(p), "lzw")
      assert(ascii85Decode(a85Encode(p)).sameElements(p), "a85")
      val hx = (p.map(b => f"${b & 0xff}%02X").mkString + ">").getBytes("ISO-8859-1")
      assert(asciiHexDecode(hx).sameElements(p), "ahx")
    }
    // RunLength: runs + literals + EOD
    val rle = Array[Byte](2, 'a', 'b', 'c', (257 - 5).toByte, 'x', 0, 'q', 128.toByte)
    assert(new String(runLengthDecode(rle), "ISO-8859-1") == "abcxxxxxq")
    // 'z' shorthand for a zero group
    assert(ascii85Decode("z~>".getBytes).sameElements(Array[Byte](0, 0, 0, 0)))
  }

  test("legacy-filter content streams extract end-to-end (A85+Flate chain, ASCIIHex)") {
    import graft.extract.{Bin, PdfText}
    def a85(data: Array[Byte]): Array[Byte] = { // same encoder as above, minimal
      val sb = new StringBuilder
      data.grouped(4).foreach { g =>
        var t = 0L
        g.foreach(b => t = (t << 8) | (b & 0xff))
        var k = g.length
        while (k < 4) { t = t << 8; k += 1 }
        if (t == 0 && g.length == 4) sb += 'z'
        else {
          val cs = new Array[Char](5)
          var v = t
          (4 to 0 by -1).foreach { i => cs(i) = ('!' + (v % 85)).toChar; v /= 85 }
          sb ++= new String(cs, 0, g.length + 1)
        }
      }
      (sb.toString + "~>").getBytes("ISO-8859-1")
    }
    def docWith(payload: Array[Byte], filter: String): Array[Byte] = {
      val pdf = new Bin.PdfWriter
      pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      pdf.obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
      pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
      pdf.stream(4, s"<< /Length ${payload.length} /Filter $filter >>", payload)
      pdf.obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
      pdf.finish("")
    }
    val content = "BT\n/F1 12 Tf\n72 720 Td\n(hello legacy filters) Tj\nET\n".getBytes("ISO-8859-1")
    // chained: A85 applied LAST on encode, FIRST on decode
    val chained = docWith(a85(Bin.deflate(content)), "[ /ASCII85Decode /FlateDecode ]")
    assert(PdfText.pageTexts(chained).fold(e => fail(e), identity) == Seq("hello legacy filters"))
    val hexed = docWith(
      (content.map(b => f"${b & 0xff}%02X").mkString + ">").getBytes("ISO-8859-1"),
      "/ASCIIHexDecode")
    assert(PdfText.pageTexts(hexed).fold(e => fail(e), identity) == Seq("hello legacy filters"))
  }

  test("Crypt-Identity content stream reads plaintext through the decode path too") {
    // the EncryptMetadata test covers the REWRITE path; this covers
    // PdfText/decodedStream: an encrypted doc whose page CONTENT carries
    // /Filter /Crypt (Identity) stored plaintext must extract verbatim —
    // decrypt-before-filter-inspection would garble it
    import graft.extract.{PdfCrypt, PdfText}
    import graft.extract.Bin.hex
    val content = "BT\n/F1 12 Tf\n72 720 Td\n(identity plain content) Tj\nET\n"
    val pwd = Array.emptyByteArray
    val id0 = PdfCrypt.md5("crypt-id-test".getBytes("UTF-8"))
    val o = PdfCrypt.computeO(pwd, pwd, 3, 16)
    val perm = -44
    val key = PdfCrypt.fileKey(pwd, o, perm, id0, 3, 16)
    val u = PdfCrypt.computeU(key, id0, 3) ++ new Array[Byte](16)
    val pdf = new graft.extract.Bin.PdfWriter
    import pdf.obj
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    obj(4, "<< /Filter /Crypt /DecodeParms << /Type /CryptFilterDecodeParms /Name /Identity >> " +
      s"/Length ${content.length} >>\nstream\n$content\nendstream")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    obj(6, s"<< /Filter /Standard /V 2 /Length 128 /R 3 /O ${hex(o)} /U ${hex(u)} /P $perm >>")
    val texts = PdfText.pageTexts(pdf.finish(s" /Encrypt 6 0 R /ID [ ${hex(id0)} ${hex(id0)} ]"))
      .fold(e => fail(e), identity)
    assert(texts == Seq("identity plain content"))
  }

  test("corrupt xref cycles (XRefStm pointing back) fail as a Left, not a stack overflow") {
    // classic section whose /XRefStm points at ITSELF via the classic
    // offset: the visited-set guard must terminate the recursion
    val good = new String(PdfBytes.buildPdf(Seq((10.0, 10.0)), "t", "a"), "ISO-8859-1")
    val sxAt = good.lastIndexOf("startxref")
    val xrefAt = good.substring(sxAt + 9).trim.split("\\s+")(0) // the real classic offset
    val hacked = good.replace("/Root 1 0 R", s"/Root 1 0 R /XRefStm $xrefAt")
    // terminates (already-seen offsets skip); the self-reference is benign
    val r = PdfBytes.pdfInfo(hacked.getBytes("ISO-8859-1"))
    assert(r.isRight && r.toOption.get.pageCount == 1)
    // and a bogus offset is a failure ROW (Left), never a crash
    val bogus = good.replace("/Root 1 0 R", s"/Root 1 0 R /XRefStm ${sxAt + 5}")
    assert(PdfBytes.pdfInfo(bogus.getBytes("ISO-8859-1")).isLeft)
  }

  test("encrypted trailer returns the reference's basic-info shape") {
    // synthesize: take a built pdf and splice /Encrypt into the trailer
    val good = new String(PdfBytes.buildPdf(Seq((10.0, 10.0)), "t", "a"), "ISO-8859-1")
    val hacked = good.replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 99 0 R")
    // the xref offset is unchanged (trailer edits live after the xref table)
    val info = PdfBytes.pdfInfo(hacked.getBytes("ISO-8859-1")).fold(e => fail(e), identity)
    assert(info.isEncrypted && info.pageCount == 0 && info.pageDims.isEmpty)
    assert(info.fileSize == hacked.length.toLong)
  }

  test("5,000 nested arrays are a pdf_parse_error Left at every PDF entry point") {
    import graft.extract.{PdfRewrite, PdfText}
    val nested = HostilePdfs.nestedArrays(5000)
    val tooDeep = "IllegalStateException: objects nested deeper than 256 at "
    for (r <- Seq(PdfBytes.pdfInfo(nested), Graft.pdfInfo(nested),
        PdfRewrite.extractPages(nested, Seq(0)), PdfRewrite.decryptPdf(nested, "")))
      assert(r.left.exists(_.startsWith("pdf_parse_error: " + tooDeep)), r)
    // the text interpreter keeps its own prefix (it feeds pdf_text_error)
    assert(PdfText.extract(nested).left.exists(_.startsWith("pdf_text_error: " + tooDeep)))
    // nesting under the cap still parses
    assert(PdfBytes.pdfInfo(HostilePdfs.nestedArrays(200)).map(_.pageCount) == Right(1))
  }

  test("a 2,000-deep /Pages chain yields its one page; a /Kids cycle is a Left") {
    import graft.extract.{PdfRewrite, PdfText}
    val deep = HostilePdfs.deepPageTree(2000)
    assert(PdfBytes.pdfInfo(deep).map(i => (i.pageCount, i.pageDims)) ==
      Right((1, Seq(PdfBytes.PageDim(612.0, 792.0)))))
    assert(PdfText.pageTexts(deep) == Right(Seq("")))
    val sub = PdfRewrite.extractPages(deep, Seq(0)).fold(e => fail(e), identity)
    assert(PdfBytes.pdfInfo(sub).map(i => (i.pageCount, i.pageDims)) ==
      Right((1, Seq(PdfBytes.PageDim(612.0, 792.0)))))
    val pdf = new graft.extract.Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")
    pdf.obj(3, "<< /Type /Pages /Kids [ 2 0 R ] /Count 1 >>")
    assert(PdfBytes.pdfInfo(pdf.finish("")) ==
      Left("pdf_parse_error: IllegalStateException: page tree cycle"))
  }

  test("a content stream inflating past the per-stream cap is a pdf_text_error row") {
    import graft.io.Ingest
    import graft.pipeline.Pipeline
    val out = Pipeline.extractOne(Ingest.toRawDoc("bomb.pdf", HostilePdfs.flateBomb))
    assert(out.failure == "" && out.page_count == 1)
    assert(out.metadata.get("pdf_text_error").contains(
      "pdf_text_error: IllegalStateException: stream decodes past 268435456 bytes"), out.metadata)
  }

  test("a non-name dict key fails with one fixed string, however hot the parser gets") {
    import graft.io.Ingest
    import graft.pipeline.Pipeline
    val pdf = new graft.extract.Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] 7 /X >>")
    val raw = Ingest.toRawDoc("badkey.pdf", pdf.finish(""))
    // enough calls for the JIT to compile the parser's type checks
    val failures = Iterator.fill(50000)(Pipeline.extractOne(raw).failure).toSet
    assert(failures == Set("pdf_parse_error: IllegalStateException: expected PName, got PNum"), failures)
  }

  test("pinned: extractOne, pdfInfo, extractPages and decryptPdf over the writer corpus") {
    val expected = """
      |text_flate extractOne pages=2 spans=4 media=0 failure= sha=a10de0ebda68d0dc
      |text_flate pdfInfo/none Right(PdfInfo(2,1010,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_flate extractPages/none sha=a06ed689fd6a561a len=1010
      |text_flate decryptPdf/none sha=5c847ad5ae33dc4b len=1010
      |text_flate pdfInfo/right Right(PdfInfo(2,1010,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_flate extractPages/right sha=a06ed689fd6a561a len=1010
      |text_flate decryptPdf/right sha=5c847ad5ae33dc4b len=1010
      |text_flate pdfInfo/wrong Right(PdfInfo(2,1010,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_flate extractPages/wrong sha=a06ed689fd6a561a len=1010
      |text_flate decryptPdf/wrong sha=5c847ad5ae33dc4b len=1010
      |text_raw extractOne pages=2 spans=4 media=0 failure= sha=43aaa06c96b6df95
      |text_raw pdfInfo/none Right(PdfInfo(2,969,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_raw extractPages/none sha=085c02e63d957e85 len=969
      |text_raw decryptPdf/none sha=85b38331ca3da2f0 len=969
      |text_raw pdfInfo/right Right(PdfInfo(2,969,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_raw extractPages/right sha=085c02e63d957e85 len=969
      |text_raw decryptPdf/right sha=85b38331ca3da2f0 len=969
      |text_raw pdfInfo/wrong Right(PdfInfo(2,969,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_raw extractPages/wrong sha=085c02e63d957e85 len=969
      |text_raw decryptPdf/wrong sha=85b38331ca3da2f0 len=969
      |text_images extractOne pages=2 spans=7 media=3 failure= sha=a297e3205b9ab1fd
      |text_images pdfInfo/none Right(PdfInfo(2,1745,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_images extractPages/none sha=1e792f164eaabbb3 len=1745
      |text_images decryptPdf/none sha=16a2625476f966c7 len=1745
      |text_images pdfInfo/right Right(PdfInfo(2,1745,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_images extractPages/right sha=1e792f164eaabbb3 len=1745
      |text_images decryptPdf/right sha=16a2625476f966c7 len=1745
      |text_images pdfInfo/wrong Right(PdfInfo(2,1745,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |text_images extractPages/wrong sha=1e792f164eaabbb3 len=1745
      |text_images decryptPdf/wrong sha=16a2625476f966c7 len=1745
      |tt_post extractOne pages=2 spans=4 media=0 failure= sha=71b68bdac5cf469c
      |tt_post pdfInfo/none Right(PdfInfo(2,1518,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |tt_post extractPages/none sha=0034a732cb0c32eb len=1518
      |tt_post decryptPdf/none sha=26dae45fcd8f472c len=1518
      |tt_post pdfInfo/right Right(PdfInfo(2,1518,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |tt_post extractPages/right sha=0034a732cb0c32eb len=1518
      |tt_post decryptPdf/right sha=26dae45fcd8f472c len=1518
      |tt_post pdfInfo/wrong Right(PdfInfo(2,1518,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |tt_post extractPages/wrong sha=0034a732cb0c32eb len=1518
      |tt_post decryptPdf/wrong sha=26dae45fcd8f472c len=1518
      |tt_unicode extractOne pages=2 spans=4 media=0 failure= sha=f330624a07b3588c
      |tt_unicode pdfInfo/none Right(PdfInfo(2,1747,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |tt_unicode extractPages/none sha=7e674ba029d65c04 len=1747
      |tt_unicode decryptPdf/none sha=4391ef01f618b1cc len=1747
      |tt_unicode pdfInfo/right Right(PdfInfo(2,1747,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |tt_unicode extractPages/right sha=7e674ba029d65c04 len=1747
      |tt_unicode decryptPdf/right sha=4391ef01f618b1cc len=1747
      |tt_unicode pdfInfo/wrong Right(PdfInfo(2,1747,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |tt_unicode extractPages/wrong sha=7e674ba029d65c04 len=1747
      |tt_unicode decryptPdf/wrong sha=4391ef01f618b1cc len=1747
      |cff extractOne pages=2 spans=4 media=0 failure= sha=26a8cdb64063cf56
      |cff pdfInfo/none Right(PdfInfo(2,1472,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |cff extractPages/none sha=8ffb76edab9c82f6 len=1472
      |cff decryptPdf/none sha=0ea2ea70b3b4cdcb len=1472
      |cff pdfInfo/right Right(PdfInfo(2,1472,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |cff extractPages/right sha=8ffb76edab9c82f6 len=1472
      |cff decryptPdf/right sha=0ea2ea70b3b4cdcb len=1472
      |cff pdfInfo/wrong Right(PdfInfo(2,1472,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |cff extractPages/wrong sha=8ffb76edab9c82f6 len=1472
      |cff decryptPdf/wrong sha=0ea2ea70b3b4cdcb len=1472
      |type1 extractOne pages=2 spans=4 media=0 failure= sha=29577db738d73d37
      |type1 pdfInfo/none Right(PdfInfo(2,1839,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |type1 extractPages/none sha=e5cf9963582689a9 len=1839
      |type1 decryptPdf/none sha=d37cf9323db64347 len=1839
      |type1 pdfInfo/right Right(PdfInfo(2,1839,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |type1 extractPages/right sha=e5cf9963582689a9 len=1839
      |type1 decryptPdf/right sha=d37cf9323db64347 len=1839
      |type1 pdfInfo/wrong Right(PdfInfo(2,1839,false,Vector(PageDim(612.0,792.0), PageDim(612.0,792.0)),,))
      |type1 extractPages/wrong sha=e5cf9963582689a9 len=1839
      |type1 decryptPdf/wrong sha=d37cf9323db64347 len=1839
      |plain extractOne pages=2 spans=2 media=0 failure= sha=3f30e2defca18ad0
      |plain pdfInfo/none Right(PdfInfo(2,632,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Plain Title,Plain Author))
      |plain extractPages/none sha=067b1cb1ae4e66cf len=535
      |plain decryptPdf/none sha=9826f85c579df6de len=632
      |plain pdfInfo/right Right(PdfInfo(2,632,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Plain Title,Plain Author))
      |plain extractPages/right sha=067b1cb1ae4e66cf len=535
      |plain decryptPdf/right sha=9826f85c579df6de len=632
      |plain pdfInfo/wrong Right(PdfInfo(2,632,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Plain Title,Plain Author))
      |plain extractPages/wrong sha=067b1cb1ae4e66cf len=535
      |plain decryptPdf/wrong sha=9826f85c579df6de len=632
      |r2_empty extractOne pages=2 spans=2 media=0 failure= sha=d87b8b930039296b
      |r2_empty pdfInfo/none Right(PdfInfo(2,948,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 2,Author 2))
      |r2_empty extractPages/none sha=067b1cb1ae4e66cf len=535
      |r2_empty decryptPdf/none sha=f2c4598108c9a81c len=639
      |r2_empty pdfInfo/right Right(PdfInfo(2,948,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 2,Author 2))
      |r2_empty extractPages/right sha=067b1cb1ae4e66cf len=535
      |r2_empty decryptPdf/right sha=f2c4598108c9a81c len=639
      |r2_empty pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r2_empty extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r2_empty decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r2_locked extractOne pages=0 spans=0 media=0 failure= sha=1248b2602e3a98f1
      |r2_locked pdfInfo/none Right(PdfInfo(0,950,true,List(),,))
      |r2_locked extractPages/none pdf_encrypted: password required
      |r2_locked decryptPdf/none pdf_encrypted: password required
      |r2_locked pdfInfo/right Right(PdfInfo(2,950,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Locked 2,Author 2))
      |r2_locked extractPages/right sha=067b1cb1ae4e66cf len=535
      |r2_locked decryptPdf/right sha=181a078c9cd490d9 len=641
      |r2_locked pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r2_locked extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r2_locked decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r3_empty extractOne pages=2 spans=2 media=0 failure= sha=ecf2cfce0a469288
      |r3_empty pdfInfo/none Right(PdfInfo(2,960,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 3,Author 3))
      |r3_empty extractPages/none sha=067b1cb1ae4e66cf len=535
      |r3_empty decryptPdf/none sha=088c533e75063c78 len=639
      |r3_empty pdfInfo/right Right(PdfInfo(2,960,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 3,Author 3))
      |r3_empty extractPages/right sha=067b1cb1ae4e66cf len=535
      |r3_empty decryptPdf/right sha=088c533e75063c78 len=639
      |r3_empty pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r3_empty extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r3_empty decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r3_locked extractOne pages=0 spans=0 media=0 failure= sha=ae427210f5cfeedf
      |r3_locked pdfInfo/none Right(PdfInfo(0,962,true,List(),,))
      |r3_locked extractPages/none pdf_encrypted: password required
      |r3_locked decryptPdf/none pdf_encrypted: password required
      |r3_locked pdfInfo/right Right(PdfInfo(2,962,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Locked 3,Author 3))
      |r3_locked extractPages/right sha=067b1cb1ae4e66cf len=535
      |r3_locked decryptPdf/right sha=e872f0f05579ff24 len=641
      |r3_locked pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r3_locked extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r3_locked decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r4_empty extractOne pages=2 spans=2 media=0 failure= sha=0e22747d49d61832
      |r4_empty pdfInfo/none Right(PdfInfo(2,1150,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 4,Author 4))
      |r4_empty extractPages/none sha=067b1cb1ae4e66cf len=535
      |r4_empty decryptPdf/none sha=dda83b594ce0ad27 len=639
      |r4_empty pdfInfo/right Right(PdfInfo(2,1150,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 4,Author 4))
      |r4_empty extractPages/right sha=067b1cb1ae4e66cf len=535
      |r4_empty decryptPdf/right sha=dda83b594ce0ad27 len=639
      |r4_empty pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r4_empty extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r4_empty decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r4_locked extractOne pages=0 spans=0 media=0 failure= sha=04922cf9dd1b7d3b
      |r4_locked pdfInfo/none Right(PdfInfo(0,1150,true,List(),,))
      |r4_locked extractPages/none pdf_encrypted: password required
      |r4_locked decryptPdf/none pdf_encrypted: password required
      |r4_locked pdfInfo/right Right(PdfInfo(2,1150,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Locked 4,Author 4))
      |r4_locked extractPages/right sha=067b1cb1ae4e66cf len=535
      |r4_locked decryptPdf/right sha=a8ab8f1b728a19ab len=641
      |r4_locked pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r4_locked extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r4_locked decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r5_empty extractOne pages=2 spans=2 media=0 failure= sha=505f20c80885caff
      |r5_empty pdfInfo/none Right(PdfInfo(2,1399,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 5,Author 5))
      |r5_empty extractPages/none sha=067b1cb1ae4e66cf len=535
      |r5_empty decryptPdf/none sha=48995051ad00db9c len=639
      |r5_empty pdfInfo/right Right(PdfInfo(2,1399,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 5,Author 5))
      |r5_empty extractPages/right sha=067b1cb1ae4e66cf len=535
      |r5_empty decryptPdf/right sha=48995051ad00db9c len=639
      |r5_empty pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r5_empty extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r5_empty decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r5_locked extractOne pages=0 spans=0 media=0 failure= sha=5d7bf14002d73290
      |r5_locked pdfInfo/none Right(PdfInfo(0,1399,true,List(),,))
      |r5_locked extractPages/none pdf_encrypted: password required
      |r5_locked decryptPdf/none pdf_encrypted: password required
      |r5_locked pdfInfo/right Right(PdfInfo(2,1399,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Locked 5,Author 5))
      |r5_locked extractPages/right sha=067b1cb1ae4e66cf len=535
      |r5_locked decryptPdf/right sha=fd133f263be38901 len=641
      |r5_locked pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r5_locked extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r5_locked decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r6_empty extractOne pages=2 spans=2 media=0 failure= sha=f17890235fcc62ec
      |r6_empty pdfInfo/none Right(PdfInfo(2,1399,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 6,Author 6))
      |r6_empty extractPages/none sha=067b1cb1ae4e66cf len=535
      |r6_empty decryptPdf/none sha=9d9a0b1cf01e0973 len=639
      |r6_empty pdfInfo/right Right(PdfInfo(2,1399,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Empty 6,Author 6))
      |r6_empty extractPages/right sha=067b1cb1ae4e66cf len=535
      |r6_empty decryptPdf/right sha=9d9a0b1cf01e0973 len=639
      |r6_empty pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r6_empty extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r6_empty decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r6_locked extractOne pages=0 spans=0 media=0 failure= sha=42928922aa90014b
      |r6_locked pdfInfo/none Right(PdfInfo(0,1399,true,List(),,))
      |r6_locked extractPages/none pdf_encrypted: password required
      |r6_locked decryptPdf/none pdf_encrypted: password required
      |r6_locked pdfInfo/right Right(PdfInfo(2,1399,false,Vector(PageDim(200.0,300.0), PageDim(400.5,500.0)),Locked 6,Author 6))
      |r6_locked extractPages/right sha=067b1cb1ae4e66cf len=535
      |r6_locked decryptPdf/right sha=8ecfc6e1926bb43e len=641
      |r6_locked pdfInfo/wrong Left(pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF)
      |r6_locked extractPages/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |r6_locked decryptPdf/wrong pdf_parse_error: IllegalStateException: Incorrect password for encrypted PDF
      |""".stripMargin.linesIterator.filter(_.nonEmpty).toSeq
    val actual = PinnedPdfs.rows
    val diffs = actual.zipAll(expected, "<missing>", "<missing>").collect {
      case (a, e) if a != e => s"got  $a\nwant $e"
    }
    assert(diffs.isEmpty, diffs.mkString("\n", "\n", "\n") + actual.mkString("\n"))
  }
}

/** Every PDF entry point's result over the writer-built files: the text
  * builders (compressed, raw, with images, each embedded-font family) and
  * the info builder (plain, and every encryption revision with an empty
  * and with a real user password). One line per (file, call); binary
  * results and the extraction row are sha-256 digests.
  */
object PinnedPdfs {
  import graft.extract.{PdfRewrite, PdfText}
  import graft.io.Ingest
  import graft.pipeline.{ExtractOut, Pipeline}

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  private def shaOf(s: String): String = sha(s.getBytes("UTF-8")).take(16)

  /** Every `ExtractOut` field, media payloads by sha-256. */
  def digest(o: ExtractOut): String = {
    val canon = Seq(o.doc_id,
      o.spans.map(s => s"${s.kind}|${s.text}|${s.media_ref}|${s.offset}").mkString("\n"),
      o.mime_type, o.page_count.toString, o.failure, o.title, o.source_path,
      o.media.map(m => s"${m.media_ref}|${m.mime_type}|${sha(m.content)}").mkString("\n"),
      o.metadata.toSeq.sorted.mkString("\n")).mkString("\u0001")
    s"pages=${o.page_count} spans=${o.spans.size} media=${o.media.size} " +
      s"failure=${o.failure} sha=${shaOf(canon)}"
  }

  private def bytesOf(r: Either[String, Array[Byte]]): String =
    r.fold(identity, b => s"sha=${sha(b).take(16)} len=${b.length}")

  private val text = Seq(Seq("Hello World", "Second line here", "third line"), Seq("Page two text"))
  private val pages = Seq((200.0, 300.0), (400.5, 500.0))

  /** (name, bytes, user password: "" when none is needed). */
  val files: Seq[(String, Array[Byte], String)] = {
    val img = (n: Int) => Array.tabulate[Byte](n)(i => (i * 31 + n).toByte)
    Seq(
      ("text_flate", PdfText.buildTextPdf(text), ""),
      ("text_raw", PdfText.buildTextPdf(text, compress = false), ""),
      ("text_images", PdfText.buildTextPdf(text, compress = true,
        Seq(Seq((img(40), 4, 3)), Seq((img(12), 2, 2), (img(7), 1, 1)))), ""),
      ("tt_post", PdfText.buildTextPdfTT(text, unicodeCmap = false), ""),
      ("tt_unicode", PdfText.buildTextPdfTT(text, unicodeCmap = true), ""),
      ("cff", PdfText.buildTextPdfCFF(text), ""),
      ("type1", PdfText.buildTextPdfT1(text), ""),
      ("plain", PdfBytes.buildPdf(pages, "Plain Title", "Plain Author"), "")) ++
      (2 to 6).flatMap { r =>
        Seq(
          (s"r${r}_empty", PdfBytes.buildPdf(pages, s"Empty $r", s"Author $r", Some(("", r))), ""),
          (s"r${r}_locked", PdfBytes.buildPdf(pages, s"Locked $r", s"Author $r",
            Some((s"pw-$r", r))), s"pw-$r"))
      }
  }

  def rows: Seq[String] = files.flatMap { case (name, bytes, pw) =>
    val passwords = Seq("none" -> None, "right" -> Some(pw), "wrong" -> Some("wrong"))
    Seq(s"$name extractOne ${digest(Pipeline.extractOne(Ingest.toRawDoc(s"pinned/$name.pdf", bytes)))}") ++
      passwords.flatMap { case (label, p) =>
        Seq(
          s"$name pdfInfo/$label ${PdfBytes.pdfInfo(bytes, p)}",
          s"$name extractPages/$label ${bytesOf(PdfRewrite.extractPages(bytes, Seq(1, 0), p))}",
          s"$name decryptPdf/$label ${bytesOf(PdfRewrite.decryptPdf(bytes, p.getOrElse("")))}")
      }
  }
}

/** PDFs whose structure is deeper than any real file's. */
object HostilePdfs {
  /** A one-page PDF whose trailer carries `depth` nested arrays. */
  def nestedArrays(depth: Int): Array[Byte] = {
    val pdf = new graft.extract.Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] >>")
    pdf.finish(" /Nest " + "[" * depth + "]" * depth)
  }

  /** One page whose Flate content stream inflates to 1 MiB past
    * [[graft.extract.Bin.MaxEntryBytes]] of zeros (about 260 KB on disk).
    */
  lazy val flateBomb: Array[Byte] = {
    val z = new java.io.ByteArrayOutputStream()
    val d = new java.util.zip.DeflaterOutputStream(z)
    val chunk = new Array[Byte](1 << 20)
    for (_ <- 0L to (graft.extract.Bin.MaxEntryBytes >> 20)) d.write(chunk)
    d.close()
    val pdf = new graft.extract.Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    pdf.obj(2, "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")
    pdf.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] /Contents 4 0 R >>")
    pdf.stream(4, s"<< /Filter /FlateDecode /Length ${z.size} >>", z.toByteArray)
    pdf.finish("")
  }

  /** One page under a chain of `depth` single-kid /Pages nodes. */
  def deepPageTree(depth: Int): Array[Byte] = {
    val pdf = new graft.extract.Bin.PdfWriter
    pdf.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    (2 until 2 + depth).foreach(n =>
      pdf.obj(n, s"<< /Type /Pages /Kids [ ${n + 1} 0 R ] /Count 1 >>"))
    pdf.obj(2 + depth, s"<< /Type /Page /Parent ${1 + depth} 0 R /MediaBox [ 0 0 612 792 ] >>")
    pdf.finish("")
  }
}
