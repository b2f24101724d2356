package graft

import graft.extract.DocbookExtract
import org.scalatest.funsuite.AnyFunSuite

/** DocBook XML extraction: sections → headings, inline markup, verbatim
  * fences, nested lists in document order, and the real ingestion route.
  */
class DocbookSpec extends AnyFunSuite {

  test("sections, info-wrapped title, inline markup, verbatim, lists, image") {
    assert(DocbookExtract.toMarkdown(DocbookSpec.guide) ==
      """# Guide 1
        |
        |## Intro
        |
        |Hello *world* and **bold** text.
        |
        |See [the site](http://x.example) or `code`.
        |
        |```scala
        |val x = 1
        |val y = 2
        |```
        |
        |- first
        |- second
        |  1. sub one
        |  2. sub two
        |
        |![fig.png](fig.png)""".stripMargin)
  }

  test("DocBook 5 link@xlink:href; sect1 depth; heading cap at 6") {
    assert(DocbookExtract.toMarkdown(DocbookSpec.deepBook) ==
      "# B\n\n## C\n\n### S1\n\n#### S2\n\n##### S3\n\n###### S4\n\n###### S5\n\n" +
        "Read [docs](http://y).")
  }

  test("screen verbatim with backticks grows the fence; CDATA passes") {
    assert(DocbookExtract.toMarkdown(DocbookSpec.cdataScreen) ==
      "# T\n\n````\nrun ```x``` now\n````")
  }

  test("a listitem outside any list renders its paragraphs as blocks") {
    val xml = "<article><para>Before</para><variablelist><varlistentry><term>T</term>" +
      "<listitem><para>Def</para></listitem></varlistentry></variablelist></article>"
    assert(DocbookExtract.toMarkdown(xml) == "Before\n\nDef")
    val out = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc(
      "v.xml", xml.getBytes("UTF-8"), "application/docbook+xml"))
    assert(out.failure.isEmpty, out.failure)
    assert(out.spans.map(_.text) == Seq("Before", "Def"))
  }

  test("text before a list is flushed as a paragraph, or as item text inside an item") {
    assert(DocbookExtract.toMarkdown("<article><para>Intro: <itemizedlist><listitem><para>one</para>" +
      "</listitem></itemizedlist> after</para></article>") == "Intro:\n\n- one\n\nafter")
    assert(DocbookExtract.toMarkdown("<article><itemizedlist><listitem>Lead <orderedlist><listitem>" +
      "<para>x</para></listitem></orderedlist></listitem></itemizedlist></article>") == "- Lead\n  1. x")
  }

  test("a verbatim block ends only when the element that opened it closes") {
    assert(DocbookExtract.toMarkdown("<article><programlisting>a<screen/>b</programlisting></article>") ==
      "```\nab\n```")
  }

  test("a block inside a list item goes after the items before it") {
    assert(DocbookExtract.toMarkdown("<article><orderedlist><listitem><para>a</para>" +
      "<programlisting>x</programlisting><para>b</para></listitem><listitem><para>c</para>" +
      "<mediaobject><imageobject><imagedata fileref=\"f.png\"/></imageobject></mediaobject>" +
      "</listitem></orderedlist></article>") == "1. a\n\n```\nx\n```\n\nb\n\n2. c\n\n![f.png](f.png)")
    assert(graft.extract.JatsExtract.toMarkdown("<article><body><list><list-item><p>a</p>" +
      "<preformat>x</preformat></list-item><list-item><p>b</p></list-item></list></body></article>") ==
      "- a\n\n```\nx\n```\n\n- b")
  }

  test("no content throws; real ingestion route by explicit MIME") {
    intercept[IllegalArgumentException](DocbookExtract.toMarkdown(DocbookSpec.empty))

    val out = graft.pipeline.Pipeline.extractOne(graft.io.Ingest.toRawDoc(
      "g.xml",
      DocbookSpec.routed.getBytes("UTF-8"),
      "application/docbook+xml"))
    assert(out.failure.isEmpty, out.failure)
    assert(out.mime_type == "application/docbook+xml")
    assert(out.spans.map(_.text) == Seq("# Doc 9", "Body here."))
  }
}

object DocbookSpec {
  val guide =
    """<article>
      |  <info><title>Guide 1</title></info>
      |  <section>
      |    <title>Intro</title>
      |    <para>Hello <emphasis>world</emphasis> and
      |      <emphasis role="bold">bold</emphasis> text.</para>
      |    <para>See <ulink url="http://x.example">the site</ulink> or
      |      <literal>code</literal>.</para>
      |    <programlisting language="scala">val x = 1
      |val y = 2</programlisting>
      |    <itemizedlist>
      |      <listitem><para>first</para></listitem>
      |      <listitem><para>second</para>
      |        <orderedlist>
      |          <listitem><para>sub one</para></listitem>
      |          <listitem><para>sub two</para></listitem>
      |        </orderedlist>
      |      </listitem>
      |    </itemizedlist>
      |    <mediaobject><imageobject><imagedata fileref="fig.png"/></imageobject></mediaobject>
      |  </section>
      |</article>""".stripMargin
  val deepBook =
    """<book xmlns:xlink="http://www.w3.org/1999/xlink">
      |  <title>B</title>
      |  <chapter><title>C</title>
      |    <sect1><title>S1</title>
      |      <sect2><title>S2</title>
      |        <sect3><title>S3</title>
      |          <sect4><title>S4</title>
      |            <sect5><title>S5</title>
      |              <para>Read <link xlink:href="http://y">docs</link>.</para>
      |            </sect5></sect4></sect3></sect2></sect1></chapter>
      |</book>""".stripMargin
  val cdataScreen = "<article><title>T</title><screen><![CDATA[run ```x``` now]]></screen></article>"
  val empty = "<article><section></section></article>"
  val routed = "<article><title>Doc 9</title><para>Body here.</para></article>"
  val inputs = Seq(guide, deepBook, cdataScreen, empty, routed)
}
