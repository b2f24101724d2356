package graft

import graft.extract.{CslJsonExtract, EndnoteExtract, RisExtract}
import org.scalatest.funsuite.AnyFunSuite

/** RIS / CSL-JSON / EndNote XML bibliography extraction: all three dialects
  * normalize into BibtexExtract.render's shared reference-list shape, so a
  * record with the same author/year/title/venue produces the SAME line from
  * every format (modulo the kind vocabulary each format uses).
  */
class BibFormatsSpec extends AnyFunSuite {

  test("RIS: tags map to the shared slots; multi-author; date prefix") {
    val ris =
      """TY  - JOUR
        |AU  - Knuth, Donald E.
        |AU  - Second, Author
        |TI  - Literate Programming
        |JO  - The Computer Journal
        |PY  - 1984/01/01/other info
        |ID  - knuth84
        |ER  -
        |TY  - CONF
        |T1  - Syntactic Clustering
        |T2  - WWW
        |Y1  - 1997
        |ER  -
        |""".stripMargin
    assert(RisExtract.toMarkdown(ris) ==
      "- **knuth84** (jour): Knuth, Donald E., Second, Author (1984). *Literate Programming*. The Computer Journal.\n" +
      "- **ref-2** (conf): (1997). *Syntactic Clustering*. WWW.")
  }

  test("RIS: garbage outside records skips; no TY throws") {
    val ris =
      "junk line\nTY  - BOOK\nTI  - Only Title\nER  -\ntrailing garbage"
    assert(RisExtract.toMarkdown(ris) == "- **ref-1** (book): *Only Title*.")
    intercept[IllegalArgumentException](RisExtract.toMarkdown("no tags here"))
  }

  test("CSL-JSON: family/given, date-parts, container-title; literal author") {
    val json =
      """[{"id":"k84","type":"article-journal",
        |  "author":[{"family":"Knuth","given":"Donald E."}],
        |  "issued":{"date-parts":[[1984,1,1]]},
        |  "title":"Literate Programming",
        |  "container-title":"The Computer Journal"},
        | {"type":"book",
        |  "author":[{"literal":"Some Committee"}],
        |  "issued":{"literal":"1997ish"},
        |  "title":"A Report"}]""".stripMargin
    assert(CslJsonExtract.toMarkdown(json) ==
      "- **k84** (article-journal): Knuth, Donald E. (1984). *Literate Programming*. The Computer Journal.\n" +
      "- **ref-2** (book): Some Committee (1997). *A Report*.")
  }

  test("CSL-JSON: non-array root and empty array throw") {
    intercept[IllegalArgumentException](CslJsonExtract.toMarkdown("{}"))
    intercept[IllegalArgumentException](CslJsonExtract.toMarkdown("[]"))
  }

  test("EndNote XML: style-wrapped runs accumulate; periodical over secondary") {
    assert(EndnoteExtract.toMarkdown(BibFormatsSpec.endnoteRecords) ==
      "- **84** (journal-article): Knuth, Donald E. (1984). *Literate Programming*. The Computer Journal.\n" +
      "- **ref-2** (conference-paper): *No Style Wrapper*. WWW.")
  }

  test("EndNote XML: CDATA text counts") {
    assert(EndnoteExtract.toMarkdown("<xml><records><record><titles><title><style><![CDATA[A & B]]>" +
      "</style></title></titles></record></records></xml>") == "- **ref-1** (entry): *A & B*.")
  }

  test("EndNote XML: no records throws") {
    intercept[IllegalArgumentException](EndnoteExtract.toMarkdown(BibFormatsSpec.endnoteEmpty))
  }

  test("real ingestion routes: explicit MIME → one list span each") {
    val cases = Seq(
      ("refs.ris", "TY  - JOUR\nTI  - T1\nER  -",
        "application/x-research-info-systems", "- **ref-1** (jour): *T1*."),
      ("refs.json", """[{"id":"a","type":"book","title":"T2"}]""",
        "application/csl+json", "- **a** (book): *T2*."),
      ("refs.xml", BibFormatsSpec.endnoteRouted, "application/x-endnote+xml", "- **ref-1** (entry): *T3*."))
    for ((name, body, mime, expect) <- cases) {
      val out = graft.pipeline.Pipeline.extractOne(
        graft.io.Ingest.toRawDoc(name, body.getBytes("UTF-8"), mime))
      assert(out.failure.isEmpty, s"$mime: ${out.failure}")
      assert(out.mime_type == mime)
      assert(out.spans.map(_.text) == Seq(expect), mime)
    }
    // biblatex shares the BibTeX grammar end-to-end
    val bl = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc(
      "refs.bib", "@online{w, title = {Web Page}}".getBytes("UTF-8"),
      "application/x-biblatex"))
    assert(bl.failure.isEmpty)
    assert(bl.spans.map(_.text) == Seq("- **w** (online): *Web Page*."))

    val bad = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc(
      "bad.ris", "not ris at all".getBytes("UTF-8"),
      "application/x-research-info-systems"))
    assert(bad.failure.nonEmpty)
  }
}

object BibFormatsSpec {
  val endnoteRecords =
    """<xml><records>
      |<record>
      | <rec-number>84</rec-number>
      | <ref-type name="Journal Article">17</ref-type>
      | <contributors><authors>
      |   <author><style face="normal">Knuth, </style><style>Donald E.</style></author>
      | </authors></contributors>
      | <titles><title><style>Literate Programming</style></title>
      |   <secondary-title><style>Ignored When Periodical</style></secondary-title></titles>
      | <periodical><full-title><style>The Computer Journal</style></full-title></periodical>
      | <dates><year><style>1984</style></year></dates>
      |</record>
      |<record>
      | <ref-type name="Conference Paper">47</ref-type>
      | <titles><title>No Style Wrapper</title>
      |   <secondary-title>WWW</secondary-title></titles>
      |</record>
      |</records></xml>""".stripMargin
  val endnoteEmpty = "<xml><records></records></xml>"
  val endnoteRouted =
    "<xml><records><record><titles><title><style>T3</style></title></titles></record></records></xml>"
  val endnoteInputs = Seq(endnoteRecords, endnoteEmpty, endnoteRouted)
}
