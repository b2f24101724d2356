package graft

import graft.extract.{Fb2Extract, JatsExtract, OpmlExtract}
import org.scalatest.funsuite.AnyFunSuite

/** FictionBook 2 / JATS / OPML extraction: the remaining XML members of
  * the reference's pandoc surface, each a deterministic StAX subset.
  */
class XmlMarkupSpec extends AnyFunSuite {

  test("fb2: book-title, body/section titles, poem, cite, image, binary skip") {
    assert(Fb2Extract.toMarkdown(XmlMarkupSpec.fb2Book) ==
      """# War 1
        |
        |# Volume One
        |
        |## Chapter 1
        |
        |It was *a* dark **night**.
        |
        |line one
        |line two
        |
        |> Quoted words.
        |
        |![pic1.png](pic1.png)""".stripMargin)
  }

  test("jats: front matter, abstract, nested secs, list, preformat, fig") {
    assert(JatsExtract.toMarkdown(XmlMarkupSpec.jatsArticle) ==
      "# Paper 7\n\n## Abstract\n\nWe study things.\n\n## Methods\n\n" +
        "See [site](http://z) for `cmd`.\n\n1. first\n2. second\n\n" +
        "### Detail\n\nInner *i* and **b**.\n\n```\nx = 1\n```\n\n" +
        "![f1.png](f1.png)\n\nA figure.")
  }

  test("opml: head title, nested outlines, xmlUrl link, _note") {
    assert(OpmlExtract.toMarkdown(XmlMarkupSpec.opmlPlans) ==
      "# Plans 3\n\n- Top A\n  - Sub A1\n  - [Feed](http://f/rss)\n- Top B — remember")
  }

  test("jats: a list-item outside any list renders as blocks; text before a list is flushed") {
    assert(JatsExtract.toMarkdown("<article><body><p>Before</p><list-item><p>Def</p></list-item>" +
      "</body></article>") == "Before\n\nDef")
    assert(JatsExtract.toMarkdown("<article><body><p>Intro: <list><list-item><p>one</p></list-item>" +
      "</list> after</p></body></article>") == "Intro:\n\n- one\n\nafter")
  }

  test("opml: CDATA text counts") {
    assert(OpmlExtract.toMarkdown("<opml><head><title><![CDATA[My & Plans]]></title></head>" +
      """<body><outline text="x"/></body></opml>""") == "# My & Plans\n\n- x")
  }

  test("pinned: docbook, fb2, jats, opml and endnote output") {
    // recorded on the five per-format StAX loops, before the shared walker;
    // never edit to pass
    val pinned = Map(
      "docbook" -> "8554d1ebad533619",
      "endnote" -> "148b8feef9eb721c",
      "fb2" -> "a0e80d43e8f27cf0",
      "jats" -> "e7441ca80d76c078",
      "opml" -> "0e9ca7bf9001129a")
    val got = pinned.keys.map(k => k -> XmlMarkupSpec.digest(
      XmlMarkupSpec.pinnedCorpus(k).map(XmlMarkupSpec.render(k, _)))).toMap
    assert(got == pinned, got.toSeq.sorted.map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString(",\n"))
  }

  test("empty documents throw; real ingestion routes by explicit MIME") {
    import XmlMarkupSpec._
    intercept[IllegalArgumentException](Fb2Extract.toMarkdown(fb2Empty))
    intercept[IllegalArgumentException](JatsExtract.toMarkdown(jatsEmpty))
    intercept[IllegalArgumentException](OpmlExtract.toMarkdown(opmlEmpty))

    val cases = Seq(
      ("b.fb2", fb2Routed, "application/x-fictionbook+xml", Seq("Text 1.")),
      ("a.xml", jatsRouted, "application/x-jats+xml", Seq("## S", "Text 2.")),
      ("o.opml", opmlRouted, "application/x-opml+xml", Seq("# O", "- x")))
    for ((name, body, mime, expect) <- cases) {
      val out = graft.pipeline.Pipeline.extractOne(
        graft.io.Ingest.toRawDoc(name, body.getBytes("UTF-8"), mime))
      assert(out.failure.isEmpty, s"$mime: ${out.failure}")
      assert(out.mime_type == mime)
      assert(out.spans.map(_.text) == expect, mime)
    }
  }
}

object XmlMarkupSpec {
  val fb2Book =
    """<FictionBook xmlns="http://www.gribuser.ru/xml/fictionbook/2.0"
      |             xmlns:l="http://www.w3.org/1999/xlink">
      |<description><title-info><book-title>War 1</book-title></title-info></description>
      |<body>
      | <title><p>Volume One</p></title>
      | <section>
      |  <title><p>Chapter 1</p></title>
      |  <p>It was <emphasis>a</emphasis> dark <strong>night</strong>.</p>
      |  <poem><stanza><v>line one</v><v>line two</v></stanza></poem>
      |  <cite><p>Quoted words.</p></cite>
      |  <image l:href="#pic1.png"/>
      | </section>
      |</body>
      |<binary id="pic1.png" content-type="image/png">aGVsbG8=</binary>
      |</FictionBook>""".stripMargin
  val jatsArticle =
    """<article xmlns:xlink="http://www.w3.org/1999/xlink">
      | <front><article-meta><title-group><article-title>Paper 7</article-title></title-group>
      |  <abstract><p>We study things.</p></abstract></article-meta></front>
      | <body>
      |  <sec><title>Methods</title>
      |   <p>See <ext-link xlink:href="http://z">site</ext-link> for <monospace>cmd</monospace>.</p>
      |   <list list-type="order"><list-item><p>first</p></list-item>
      |     <list-item><p>second</p></list-item></list>
      |   <sec><title>Detail</title>
      |    <p>Inner <italic>i</italic> and <bold>b</bold>.</p>
      |    <preformat>x = 1</preformat>
      |   </sec>
      |  </sec>
      |  <fig><graphic xlink:href="f1.png"/><caption><p>A figure.</p></caption></fig>
      | </body>
      |</article>""".stripMargin
  val opmlPlans =
    """<opml version="2.0">
      | <head><title>Plans 3</title></head>
      | <body>
      |  <outline text="Top A">
      |   <outline text="Sub A1"/>
      |   <outline text="Feed" xmlUrl="http://f/rss"/>
      |  </outline>
      |  <outline text="Top B" _note="remember"/>
      | </body>
      |</opml>""".stripMargin
  val fb2Empty = "<FictionBook><body></body></FictionBook>"
  val jatsEmpty = "<article><body></body></article>"
  val opmlEmpty = "<opml><body></body></opml>"
  val fb2Routed = "<FictionBook><body><section><p>Text 1.</p></section></body></FictionBook>"
  val jatsRouted = "<article><body><sec><title>S</title><p>Text 2.</p></sec></body></article>"
  val opmlRouted = """<opml><head><title>O</title></head><body><outline text="x"/></body></opml>"""

  /** Seeded element soups over one kind's vocabulary: well-formed trees of
    * random elements (up to six deep), attributes, text and, when `cdata`,
    * CDATA sections under the kind's root element.
    */
  final case class Vocab(root: String, tags: IndexedSeq[String], attrs: IndexedSeq[String], cdata: Boolean)

  private val SoupText = IndexedSeq("a", "Word", " ", "\n  ", "*", "`", "```", "&amp;", "&lt;b&gt;",
    "x y", "é", "[", "](", "#", "- ", "1.", "\t", "\n\n")
  private val SoupValues = IndexedSeq("", "x", "#pic.png", "bold", "strong", "order", "bullet",
    "http://u/1", "a b", "scala", "Journal Article", "&amp;`")

  def soups(v: Vocab, seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))
    def node(sb: StringBuilder, depth: Int): Unit = rnd.nextInt(10) match {
      case 0 | 1 | 2 => sb ++= pick(SoupText)
      case 3 if v.cdata => sb ++= "<![CDATA[" ++= pick(SoupText) ++= "]]>"
      case _ => element(sb, pick(v.tags), depth)
    }
    def element(sb: StringBuilder, name: String, depth: Int): Unit = {
      sb ++= "<" ++= name
      rnd.shuffle(v.attrs).take(rnd.nextInt(3)).foreach(a => sb ++= s""" $a="${pick(SoupValues)}"""")
      val kids = if (depth >= 6) 0 else rnd.nextInt(5)
      if (kids == 0 && rnd.nextBoolean()) sb ++= "/>"
      else {
        sb ++= ">"
        for (_ <- 0 until kids) node(sb, depth + 1)
        sb ++= s"</$name>"
      }
    }
    Seq.fill(n) {
      val sb = new StringBuilder(s"""<${v.root} xmlns:l="http://www.w3.org/1999/xlink">""")
      for (_ <- 0 to rnd.nextInt(6)) node(sb, 1)
      sb ++= s"</${v.root}>"
      sb.toString
    }
  }

  /** `n` soups, each cut at a random point. */
  def truncations(v: Vocab, seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    soups(v, seed, n).map(s => s.substring(0, 1 + rnd.nextInt(s.length - 1)))
  }

  /** Each kind's element vocabulary, in full. */
  val Vocabs: Map[String, Vocab] = Map(
    "docbook" -> Vocab("article", IndexedSeq("article", "book", "chapter", "section", "sect1", "sect2",
      "appendix", "info", "articleinfo", "title", "para", "simpara", "emphasis", "literal", "code",
      "command", "filename", "varname", "ulink", "link", "imagedata", "mediaobject", "programlisting",
      "screen", "itemizedlist", "orderedlist", "listitem", "variablelist", "varlistentry", "term",
      "phrase"), IndexedSeq("role", "url", "l:href", "href", "fileref", "language"), cdata = true),
    "fb2" -> Vocab("FictionBook", IndexedSeq("description", "title-info", "book-title", "body",
      "section", "title", "p", "v", "subtitle", "text-author", "poem", "stanza", "cite", "emphasis",
      "strong", "code", "a", "image", "binary", "empty-line", "epigraph"),
      IndexedSeq("l:href", "href", "id"), cdata = true),
    "jats" -> Vocab("article", IndexedSeq("front", "article-meta", "title-group", "article-title",
      "abstract", "body", "sec", "title", "p", "preformat", "list", "list-item", "italic", "bold",
      "monospace", "code", "ext-link", "xref", "graphic", "inline-graphic", "fig", "caption"),
      IndexedSeq("list-type", "l:href", "href"), cdata = true),
    "opml" -> Vocab("opml", IndexedSeq("head", "title", "body", "outline", "dateCreated"),
      IndexedSeq("text", "title", "xmlUrl", "_note"), cdata = true),
    "endnote" -> Vocab("xml", IndexedSeq("records", "record", "rec-number", "ref-type", "contributors",
      "authors", "author", "titles", "title", "secondary-title", "periodical", "full-title", "dates",
      "year", "style"), IndexedSeq("name", "face"), cdata = true))

  /** The five `SparkEntry` oracle templates (`q_docbook`, `q_fb2`, `q_jats`,
    * `q_opml`, and the EndNote arm of `q_refs`) as functions of the doc id.
    */
  val Templates: Map[String, Long => String] = Map(
    "docbook" -> (id =>
      s"""<article>
         |  <info><title>Guide ${id % 5}</title></info>
         |  <section>
         |    <title>Intro ${(id * 2) % 7}</title>
         |    <para>Hello <emphasis>world ${id % 4}</emphasis> and
         |      <emphasis role="bold">bold</emphasis> text.</para>
         |    <programlisting language="scala">val x = ${id % 9}</programlisting>
         |    <itemizedlist>
         |      <listitem><para>first ${id % 3}</para></listitem>
         |      <listitem><para>second</para></listitem>
         |    </itemizedlist>
         |    <mediaobject><imageobject><imagedata fileref="fig${id % 2}.png"/></imageobject></mediaobject>
         |  </section>
         |</article>""".stripMargin),
    "fb2" -> (id =>
      s"""<FictionBook xmlns="http://www.gribuser.ru/xml/fictionbook/2.0"
         |             xmlns:l="http://www.w3.org/1999/xlink">
         |<description><title-info><book-title>Book ${id % 5}</book-title></title-info></description>
         |<body>
         | <title><p>Volume ${(id % 3) + 1}</p></title>
         | <section>
         |  <title><p>Chapter ${(id * 2) % 9}</p></title>
         |  <p>It was <emphasis>a</emphasis> night ${id % 4}.</p>
         |  <cite><p>Quote ${(id + 5) % 7}.</p></cite>
         |  <image l:href="#pic${id % 2}.png"/>
         | </section>
         |</body>
         |</FictionBook>""".stripMargin),
    "jats" -> (id =>
      s"""<article xmlns:xlink="http://www.w3.org/1999/xlink">
         | <front><article-meta><title-group><article-title>Paper ${id % 6}</article-title></title-group>
         |  <abstract><p>We study ${id % 4} things.</p></abstract></article-meta></front>
         | <body>
         |  <sec><title>Methods ${(id * 3) % 8}</title>
         |   <p>Use <monospace>cmd-${id % 5}</monospace> now.</p>
         |   <list list-type="order"><list-item><p>first ${id % 3}</p></list-item>
         |     <list-item><p>second</p></list-item></list>
         |  </sec>
         |  <fig><graphic xlink:href="f${id % 2}.png"/><caption><p>Figure ${(id + 1) % 7}.</p></caption></fig>
         | </body>
         |</article>""".stripMargin),
    "opml" -> (id =>
      s"""<opml version="2.0">
         | <head><title>Plans ${id % 5}</title></head>
         | <body>
         |  <outline text="Top ${(id * 2) % 7}">
         |   <outline text="Sub ${id % 4}"/>
         |   <outline text="Feed" xmlUrl="http://f/${id % 3}"/>
         |  </outline>
         |  <outline text="Item ${(id + 4) % 9}" _note="note ${id % 6}"/>
         | </body>
         |</opml>""".stripMargin),
    "endnote" -> { id =>
      val (y, m, j, k, p) = (1980 + (id % 40), id % 9, id % 4, id % 10, (id + 1) % 6)
      s"""<xml><records>
         |<record>
         | <rec-number>$k</rec-number>
         | <ref-type name="Journal Article">17</ref-type>
         | <contributors><authors><author><style>Knuth, Donald E.</style></author></authors></contributors>
         | <titles><title><style>Study $m</style></title></titles>
         | <periodical><full-title><style>Journal $j</style></full-title></periodical>
         | <dates><year><style>$y</style></year></dates>
         |</record>
         |<record>
         | <ref-type name="Book">6</ref-type>
         | <titles><title><style>Note $p</style></title></titles>
         |</record>
         |</records></xml>""".stripMargin
    })

  val Convert: Map[String, String => String] = Map(
    "docbook" -> graft.extract.DocbookExtract.toMarkdown, "fb2" -> Fb2Extract.toMarkdown,
    "jats" -> JatsExtract.toMarkdown, "opml" -> OpmlExtract.toMarkdown,
    "endnote" -> graft.extract.EndnoteExtract.toMarkdown)

  /** One kind's output for one input: the markdown, or the failure as a row reads it. */
  def render(kind: String, src: String): String =
    try Convert(kind)(src) catch { case e: Exception => graft.extract.Formats.describe(e) }

  /** The pinned corpus per kind: the oracle template for ids 0–199, the
    * spec inputs, 2,000 soups and 500 truncations. The soups leave out the
    * inputs whose output the shared walker changes on purpose, each pinned
    * by its own test: CDATA in OPML and EndNote, and the list, item and
    * verbatim tags of DocBook and JATS.
    */
  def pinnedCorpus(kind: String): Seq[String] = {
    val full = Vocabs(kind)
    val v = kind match {
      case "opml" | "endnote" => full.copy(cdata = false)
      case "docbook" => full.copy(tags = full.tags.filterNot(Set("programlisting", "screen",
        "itemizedlist", "orderedlist", "listitem")))
      case "jats" => full.copy(tags = full.tags.filterNot(Set("preformat", "list", "list-item")))
      case _ => full
    }
    val specInputs = kind match {
      case "docbook" => DocbookSpec.inputs
      case "fb2" => Seq(fb2Book, fb2Empty, fb2Routed)
      case "jats" => Seq(jatsArticle, jatsEmpty, jatsRouted)
      case "opml" => Seq(opmlPlans, opmlEmpty, opmlRouted)
      case "endnote" => BibFormatsSpec.endnoteInputs
    }
    val seed = kind.hashCode.toLong
    (0L until 200L).map(Templates(kind)) ++ specInputs ++ soups(v, seed, 2000) ++ truncations(v, seed + 1, 500)
  }

  def digest(outs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    outs.foreach { o => md.update(o.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
