package graft

import graft.extract.{DokuwikiExtract, MdocExtract, PodExtract, TroffExtract, TypstExtract}
import org.scalatest.funsuite.AnyFunSuite

/** Typst / troff / DokuWiki / mdoc / POD extraction: the line-oriented
  * text-markup members of the reference's pandoc surface.
  */
class TextMarkupSpec extends AnyFunSuite {
  import TextMarkupSpec._

  test("typst: headings, inline styles, lists, image, link, raw block") {
    assert(TypstExtract.toMarkdown(typstDoc) ==
      """# Doc 3
        |
        |## Part 1
        |
        |Some **very** important *words* here, continuing on a second line.
        |
        |![plot.png](plot.png)
        |
        |- alpha
        |- beta
        |  1. one
        |  2. two
        |1. top numbered
        |
        |```scala
        |val x = 1
        |```
        |
        |See [the docs](http://e.x) now.""".stripMargin)
  }

  test("troff: TH/SH/SS, font requests and escapes, TP tag, nf/fi") {
    assert(TroffExtract.toMarkdown(manDoc) ==
      "# GREP(1)\n\n## NAME\n\ngrep - print lines\n\n## DESCRIPTION TEXT\n\n" +
        "Searches with **bold** and *italic* forms.\n\n**-v**\n\n" +
        "Invert the match. **grep**(1), more text.\n\n" +
        "```\nliteral code\n  kept\n```\n\n### Sub\n\nDone.")
  }

  test("troff: .SH with the heading on the following line; unclosed .nf") {
    assert(TroffExtract.toMarkdown(".SH\nSEE ALSO\nBody.\n.nf\nraw") ==
      "## SEE ALSO\n\nBody.\n\n```\nraw\n```")
  }

  test("dokuwiki: headings, inline, links, media, lists, code block") {
    assert(DokuwikiExtract.toMarkdown(dokuDoc) ==
      "# Wiki 4\n\n## Section\n\n" +
        "Some *italic* and **bold** with `mono` text. " +
        "Link [site A](http://a) and bare [http://b](http://b). " +
        "![image.png](image.png)\n\n" +
        "- one\n- two\n  1. first\n  2. second\n\n" +
        "```python\nprint(1)\n```")
  }

  test("mdoc: prologue, Nm/Nd, callable macros, tag list, Bd/Dl") {
    assert(MdocExtract.toMarkdown(mdocDoc) ==
      "# CAT(1)\n\n## NAME\n\n**cat** — concatenate files\n\n## DESCRIPTION\n\n" +
        "The **cat** utility reads *file* operands.\n\n" +
        "- **-b** Number the lines.\n- **-e** Display a dollar sign.\n\n" +
        "See less(1), then exit.\n\n```\nx = 1\n```\n\n```\nmake install\n```")
  }

  test("pod: heads, inline codes, E escapes, verbatim, lists, cut") {
    assert(PodExtract.toMarkdown(podDoc) ==
      "# Tool 5\n\n" +
        "Runs **fast** with *style* and `cmd --x`. " +
        "See [perldoc](http://p.example) or [http://q.example](http://q.example); " +
        "compare 1 < 2.\n\n" +
        "```\n    $ tool --run\n    ok\n```\n\n" +
        "- First choice continues here.\n- Second choice.\n\n" +
        "## Options\n\n" +
        "- **-v** Verbose output.")
  }

  test("typst: emphasis needs word boundaries; URLs/snake_case/2*3*4 safe") {
    assert(TypstExtract.toMarkdown("run foo_bar_baz now and 2*3*4 stays") ==
      "run foo_bar_baz now and 2*3*4 stays")
    // an underscore-bearing URL inside an already-rendered link must not
    // be re-processed as emphasis
    assert(TypstExtract.toMarkdown("""see #link("http://e.x/a_b_c")[t] ok""") ==
      "see [t](http://e.x/a_b_c) ok")
    assert(TypstExtract.toMarkdown("real *bold* and _emph_ here") ==
      "real **bold** and *emph* here")
  }

  test("fences widen past backtick runs in the body (all five dialects)") {
    assert(TypstExtract.toMarkdown("```\n````x\n```")
      .startsWith("`````\n````x\n`````"))
    assert(DokuwikiExtract.toMarkdown("<code>\n```\ninner\n```\n</code>") ==
      "````\n```\ninner\n```\n````")
    assert(TroffExtract.toMarkdown(".nf\n```\nx\n.fi") == "````\n```\nx\n````")
    assert(MdocExtract.toMarkdown(".Dt X 1\n.Bd -literal\n```\n.Ed") ==
      "# X(1)\n\n````\n```\n````")
    assert(PodExtract.toMarkdown("=head1 H\n\n    ```\n    x\n") ==
      "# H\n\n````\n    ```\n    x\n````")
  }

  test("dokuwiki: slashes inside URLs never open or close emphasis") {
    assert(DokuwikiExtract.toMarkdown("see http://a//b then http://c//d") ==
      "see http://a//b then http://c//d")
    assert(DokuwikiExtract.toMarkdown("a //real// span and [[http://x//y|L]]") ==
      "a *real* span and [L](http://x//y)")
  }

  test("troff: an intervening request abandons a pending .TP tag") {
    assert(TroffExtract.toMarkdown(".TP\n.SH OPTIONS\nPlain paragraph.") ==
      "## OPTIONS\n\nPlain paragraph.")
    // a font request after argless .SH becomes the heading, not a tag
    assert(TroffExtract.toMarkdown(".SH\n.B LOUD\nBody.") ==
      "## **LOUD**\n\nBody.")
  }

  test("pod: numeric E escapes stay literal; =for skips its paragraph") {
    assert(PodExtract.toMarkdown("=head1 H\n\nIE<60>worksE<62> fine.") ==
      "# H\n\nI<works> fine.")
    assert(PodExtract.toMarkdown(
      "=head1 H\n\n=for html\n<div>raw</div>\n\nReal para.") ==
      "# H\n\nReal para.")
  }

  test("pod: a block inside a list item goes after the items before it") {
    assert(PodExtract.toMarkdown("=over\n\n=item *\n\nA\n\n    code\n\n=back") ==
      "- A\n\n```\n    code\n```")
    assert(PodExtract.toMarkdown("=over\n\n=item *\n\nA\n\n=head1 H\n\nB") ==
      "- A\n\n# H\n\nB")
  }

  test("mdoc: a block inside a list goes after the items before it; numbering goes on") {
    assert(MdocExtract.toMarkdown(".Bl -bullet\n.It a\n.Bd -literal\nx\n.Ed\n.It b\n.El") ==
      "- a\n\n```\nx\n```\n\n- b")
    assert(MdocExtract.toMarkdown(".Bl -enum\n.It a\n.Sh S\n.It b\n.El") ==
      "1. a\n\n## S\n\n2. b")
  }

  test("mdoc: .It outside any .Bl joins the running paragraph") {
    assert(MdocExtract.toMarkdown(".Dt X 1\n.It a\ntext") == "# X(1)\n\na text")
  }

  test("pod: numbering restarts at each =over, as mdoc's .Bl does") {
    val nested = Seq("=over", "=item 1.", "A", "=over", "=item 1.", "B", "=back",
      "=over", "=item 1.", "C", "=back", "=back").mkString("\n\n")
    assert(PodExtract.toMarkdown(nested) == "1. A\n  1. B\n  1. C")
    assert(MdocExtract.toMarkdown(".Bl -enum\n.It A\n.Bl -enum\n.It B\n.El\n" +
      ".Bl -enum\n.It C\n.El\n.El") == "1. A\n  1. B\n  1. C")
  }

  test("typst and dokuwiki: a shallower item ends the deeper lists") {
    assert(TypstExtract.toMarkdown("+ a\n  + b\n- c\n  + d") == "1. a\n  1. b\n- c\n  1. d")
    assert(DokuwikiExtract.toMarkdown("  - a\n    - b\n  * c\n    - d") ==
      "1. a\n  1. b\n- c\n  1. d")
  }

  test("paragraphs keep no edge whitespace; an empty line adds nothing to an item") {
    assert(DokuwikiExtract.toMarkdown("\\\\\nA") == "A")
    assert(MdocExtract.toMarkdown(".Dt X 1\n.Ar\ntext") == "# X(1)\n\ntext")
    assert(PodExtract.toMarkdown("=over\n\n=item *\n\nZ<>\nB\n\n=back") == "- B")
  }

  test("pinned: typst, dokuwiki, pod, troff and mdoc output") {
    // recorded on the five per-format block loops, before the shared block
    // builder; never edit to pass
    val pinned = Map(
      "dokuwiki" -> "5280f0c6f348e102",
      "mdoc" -> "15e56dbd8d06f985",
      "pod" -> "71689c489e472b67",
      "troff" -> "8e6b4d2d8e668d96",
      "typst" -> "d4f352273d465552")
    val got = pinned.keys.map(k => k -> XmlMarkupSpec.digest(pinnedCorpus(k).map(render(k, _)))).toMap
    assert(got == pinned, got.toSeq.sorted.map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString(",\n"))
  }

  test("empty inputs throw; real ingestion routes by explicit MIME") {
    intercept[IllegalArgumentException](TypstExtract.toMarkdown(""))
    intercept[IllegalArgumentException](TroffExtract.toMarkdown(".\\\" only\n"))
    intercept[IllegalArgumentException](DokuwikiExtract.toMarkdown("\n\n"))
    intercept[IllegalArgumentException](MdocExtract.toMarkdown(".Dd x\n.Os\n"))
    intercept[IllegalArgumentException](PodExtract.toMarkdown("=cut\nhidden\n"))

    val cases = Seq(
      ("t.typ", "= T6\nBody.", "application/x-typst", Seq("# T6", "Body.")),
      ("m.1", ".TH M 1\nBody.", "text/troff", Seq("# M(1)", "Body.")),
      ("w.txt", "====== W ======\nBody.", "text/x-dokuwiki", Seq("# W", "Body.")),
      ("d.mdoc", ".Dt D 1\nBody.", "text/x-mdoc", Seq("# D(1)", "Body.")),
      ("p.pod", "=head1 P\n\nBody.", "text/x-pod", Seq("# P", "Body.")))
    for ((name, body, mime, expect) <- cases) {
      val out = graft.pipeline.Pipeline.extractOne(
        graft.io.Ingest.toRawDoc(name, body.getBytes("UTF-8"), mime))
      assert(out.failure.isEmpty, s"$mime: ${out.failure}")
      assert(out.mime_type == mime)
      assert(out.spans.map(_.text) == expect, mime)
    }
  }
}

object TextMarkupSpec {
  val typstDoc =
    """= Doc 3
      |== Part 1
      |Some *very* important _words_ here,
      |continuing on a second line.
      |
      |#image("plot.png")
      |
      |- alpha
      |- beta
      |  + one
      |  + two
      |+ top numbered
      |
      |```scala
      |val x = 1
      |```
      |See #link("http://e.x")[the docs] now.
      |""".stripMargin
  val manDoc =
    """.\" comment line
      |.TH GREP 1 "2024" "GNU"
      |.SH NAME
      |grep \- print lines
      |.SH "DESCRIPTION TEXT"
      |.PP
      |Searches with \fBbold\fR and \fIitalic\fP forms.
      |.TP
      |.B \-v
      |Invert the match.
      |.BR grep (1),
      |more text.
      |.nf
      |literal code
      |  kept
      |.fi
      |.SS Sub
      |Done.
      |""".stripMargin
  val dokuDoc =
    """====== Wiki 4 ======
      |===== Section =====
      |Some //italic// and **bold** with ''mono'' text.
      |Link [[http://a|site A]] and bare [[http://b]].
      |{{ image.png?200 |caption}}
      |
      |  * one
      |  * two
      |    - first
      |    - second
      |
      |<code python>
      |print(1)
      |</code>
      |""".stripMargin
  val mdocDoc =
    """.\" comment
      |.Dd January 1, 2024
      |.Dt CAT 1
      |.Os
      |.Sh NAME
      |.Nm cat
      |.Nd concatenate files
      |.Sh DESCRIPTION
      |The
      |.Nm
      |utility reads
      |.Ar file
      |operands.
      |.Bl -tag -width x
      |.It Fl b
      |Number the lines.
      |.It Fl e
      |Display a dollar sign.
      |.El
      |.Pp
      |See
      |.Xr less 1 ,
      |then exit.
      |.Bd -literal
      |x = 1
      |.Ed
      |.Dl make install
      |""".stripMargin
  val podDoc =
    """=pod
      |
      |=head1 Tool 5
      |
      |Runs B<fast> with I<style> and C<cmd --x>.
      |See L<perldoc|http://p.example> or L<http://q.example>;
      |compare 1 E<lt> 2.
      |
      |    $ tool --run
      |    ok
      |
      |=over 4
      |
      |=item *
      |
      |First choice continues here.
      |
      |=item *
      |
      |Second choice.
      |
      |=back
      |
      |=head2 Options
      |
      |=over 4
      |
      |=item B<-v>
      |
      |Verbose output.
      |
      |=back
      |
      |=cut
      |
      |ignored text after cut
      |""".stripMargin

  /** The short inputs of this spec's other tests, per kind. */
  val shortInputs: Map[String, Seq[String]] = Map(
    "typst" -> Seq("run foo_bar_baz now and 2*3*4 stays", """see #link("http://e.x/a_b_c")[t] ok""",
      "real *bold* and _emph_ here", "```\n````x\n```", "", "= T6\nBody.", "+ a\n  + b\n- c\n  + d"),
    "dokuwiki" -> Seq("<code>\n```\ninner\n```\n</code>", "see http://a//b then http://c//d",
      "a //real// span and [[http://x//y|L]]", "\n\n", "====== W ======\nBody.",
      "  - a\n    - b\n  * c\n    - d", "\\\\\nA"),
    "pod" -> Seq("=head1 H\n\n    ```\n    x\n", "=head1 H\n\nIE<60>worksE<62> fine.",
      "=head1 H\n\n=for html\n<div>raw</div>\n\nReal para.", "=cut\nhidden\n", "=head1 P\n\nBody.",
      "=over\n\n=item *\n\nA\n\n    code\n\n=back", "=over\n\n=item *\n\nA\n\n=head1 H\n\nB",
      Seq("=over", "=item 1.", "A", "=over", "=item 1.", "B", "=back",
        "=over", "=item 1.", "C", "=back", "=back").mkString("\n\n"),
      "=over\n\n=item *\n\nZ<>\nB\n\n=back"),
    "troff" -> Seq(".SH\nSEE ALSO\nBody.\n.nf\nraw", ".nf\n```\nx\n.fi", ".TP\n.SH OPTIONS\nPlain paragraph.",
      ".SH\n.B LOUD\nBody.", ".\\\" only\n", ".TH M 1\nBody."),
    "mdoc" -> Seq(".Dt X 1\n.Bd -literal\n```\n.Ed", ".Dd x\n.Os\n", ".Dt D 1\nBody.",
      ".Bl -bullet\n.It a\n.Bd -literal\nx\n.Ed\n.It b\n.El", ".Bl -enum\n.It a\n.Sh S\n.It b\n.El",
      ".Dt X 1\n.It a\ntext", ".Bl -enum\n.It A\n.Bl -enum\n.It B\n.El\n.Bl -enum\n.It C\n.El\n.El",
      ".Dt X 1\n.Ar\ntext"))

  /** The `SparkEntry` oracle templates of the line kinds (`q_typst`,
    * `q_dokuwiki`, `q_pod`, and both arms of `q_man`) as functions of the doc id.
    */
  val Templates: Map[String, Long => String] = Map(
    "typst" -> (id =>
      s"""= Doc ${id % 5}
         |== Part ${(id * 2) % 7}
         |Some *very* important _words_ ${(id + 1) % 4} here.
         |
         |#image("plot-${id % 3}.png")
         |
         |- alpha ${id % 6}
         |- beta
         |
         |```scala
         |val x = ${id % 9}
         |```
         |See #link("http://e.x")[docs ${id % 2}] now.
         |""".stripMargin),
    "troff" -> (id =>
      s""".TH TOOL${id % 4} 1
         |.SH NAME
         |tool${id % 4} \\- does thing ${(id * 3) % 7}
         |.SH DESCRIPTION
         |Runs with \\fBbold ${id % 5}\\fR form.
         |.TP
         |.B \\-x
         |Option ${(id + 2) % 6}.
         |.nf
         |code ${id % 3}
         |.fi
         |""".stripMargin),
    "mdoc" -> (id =>
      s""".Dd January 1, 2024
         |.Dt TOOL${id % 4} 1
         |.Os
         |.Sh NAME
         |.Nm tool${id % 4}
         |.Nd does thing ${(id * 3) % 7}
         |.Sh DESCRIPTION
         |Runs with
         |.Ar file
         |operands ${id % 5}.
         |.Dl make ${id % 3}
         |""".stripMargin),
    "dokuwiki" -> (id =>
      s"""====== Wiki ${id % 5} ======
         |===== Part ${(id * 2) % 7} =====
         |Some //italic ${id % 4}// and **bold** with ''mono ${id % 6}'' text.
         |Link [[http://a|site ${id % 3}]] here.
         |
         |{{ img-${id % 2}.png?200 |cap}}
         |
         |  * one ${(id + 3) % 8}
         |  * two
         |
         |<code python>
         |print(${id % 9})
         |</code>
         |""".stripMargin),
    "pod" -> (id =>
      s"""=pod
         |
         |=head1 Tool ${id % 5}
         |
         |Runs B<fast ${id % 4}> with C<cmd --${id % 7}>.
         |Compare 1 E<lt> ${(id + 2) % 9}.
         |
         |    $$ tool --run ${id % 3}
         |
         |=over 4
         |
         |=item *
         |
         |First choice ${(id * 2) % 11}.
         |
         |=item *
         |
         |Second choice.
         |
         |=back
         |
         |=head2 Options ${id % 6}
         |
         |=cut
         |
         |ignored after cut
         |""".stripMargin))

  /** Each kind's line starters (every construct its grammar opens a line
    * with), the list-building ones among them, and the words its lines carry.
    */
  final case class Grammar(starters: IndexedSeq[String], lists: IndexedSeq[String], words: IndexedSeq[String])

  private val CommonWords = IndexedSeq("a", "Word", "x y", "é", "*", "_", "`", "```", "[", "](", "#",
    "- ", "1.", "\t", "", "\\", "<", ">", "|", "//", "http://u/a_b", "  ")

  val Grammars: Map[String, Grammar] = Map(
    "typst" -> Grammar(IndexedSeq("= ", "== ", "======= ", "=", "- ", "-", "+ ", "+", "```", "```scala",
      "#image(\"f.png\")", "#image(\"g.png\", width: 50%)", "#link(\"http://e\")[t]", "*b*", "_e_", ""),
      IndexedSeq("- ", "+ ", "  - ", "  + ", "    + ", "\t+ "),
      IndexedSeq("*bold*", "_emph_", "#link(\"u\")[t]", "#image(\"i.png\")", "2*3*4", "snake_case")),
    "dokuwiki" -> Grammar(IndexedSeq("====== ", "===== ", "== ", "=", "  * ", "  - ", "    * ", "    - ",
      "* ", "<code>", "<code python>", "</code>", "{{img.png}}", "{{ i.png?200 |c}}", "\\\\", "[[", ""),
      IndexedSeq("  * ", "  - ", "    * ", "    - ", "      - "),
      IndexedSeq("======", "==", "//i//", "**b**", "''m''", "[[http://a|t]]", "[[http://b]]",
        "{{x.png}}", "\\\\ ", "\\\\", "}}", "]]")),
    "pod" -> Grammar(IndexedSeq("=head1 ", "=head2 ", "=head3 ", "=head4 ", "=over", "=over 4", "=item *",
      "=item 1.", "=item 2", "=item ", "=back", "=begin html", "=begin", "=end html", "=for html", "=cut",
      "=pod", "=encoding utf8", "=unknown", " ", "\t", "    ", ""),
      IndexedSeq("=over", "=item *", "=item 1.", "=item 2", "=back", ""),
      IndexedSeq("B<b>", "I<i>", "C<c --x>", "F<f>", "S<s>", "X<x>", "Z<>", "L<t|http://u>", "L<http://v>",
        "E<lt>", "E<gt>", "E<verbar>", "E<sol>", "E<60>", "E<124>", "B<I<n>>", "*", "1.")),
    "troff" -> Grammar(IndexedSeq(".TH ", ".SH", ".SH ", ".SS", ".SS ", ".PP", ".LP", ".P", ".br", ".sp",
      ".TP", ".IP", ".IP ", ".B ", ".B", ".I ", ".BR ", ".RB ", ".IR ", ".RI ", ".nf", ".fi", ".\\\" ",
      "'\\\" ", "'br", ".XX ", "\\&.", ""),
      IndexedSeq(".TP", ".IP ", ".B ", ""),
      IndexedSeq("\\fB", "\\fI", "\\fR", "\\fP", "\\f1", "\\-", "\\&", "\\e", "\\\\", "\\ ", "\"q r\"",
        "\"", "GREP", "1")),
    "mdoc" -> Grammar(IndexedSeq(".Dd ", ".Dt ", ".Os", ".Sh ", ".Ss ", ".Pp", ".Lp", ".Nd ", ".Bl -bullet",
      ".Bl -enum", ".Bl -tag -width x", ".It ", ".It", ".El", ".Bd -literal", ".Ed", ".Dl ", ".D1 ", ".Fl ",
      ".Ar ", ".Em ", ".Pa ", ".Va ", ".Cm ", ".Ic ", ".Sy ", ".Li ", ".Dv ", ".Er ", ".Ev ", ".Xr ", ".Nm ",
      ".Nm", ".No ", ".\\\" ", ".Xx ", "."),
      IndexedSeq(".Bl -bullet", ".Bl -enum", ".It ", ".It", ".El", ""),
      IndexedSeq("Fl", "Ar", "Nm", "Xr", "No", "Em", "Sy", "Li", "\"\"", "\"q r\"", ",", ".", ")", "cat",
        "1", "-enum")))

  /** Seeded line soups over one kind's grammar: each line a starter (a
    * list starter one time in three) at a random indent with up to three
    * words, or a blank line; `\n` or CRLF line ends.
    */
  def soups(g: Grammar, seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))
    val words = g.words ++ CommonWords
    Seq.fill(n) {
      val sb = new StringBuilder
      for (_ <- 0 to rnd.nextInt(20)) {
        if (rnd.nextInt(6) > 0) {
          rnd.nextInt(6) match {
            case 0 => sb ++= " " * (1 + rnd.nextInt(6))
            case 1 => sb ++= "\t"
            case _ => ()
          }
          sb ++= pick(if (rnd.nextInt(3) == 0) g.lists else g.starters)
          for (k <- 0 until rnd.nextInt(4)) sb ++= (if (k == 0 && rnd.nextBoolean()) "" else " ") ++= pick(words)
        }
        sb ++= (if (rnd.nextInt(4) == 0) "\r\n" else "\n")
      }
      sb.toString
    }
  }

  /** `n` soups, each cut at a random point. */
  def truncations(g: Grammar, seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    soups(g, seed, n).map(s => s.substring(0, rnd.nextInt(s.length + 1)))
  }

  val Convert: Map[String, String => String] = Map(
    "typst" -> TypstExtract.toMarkdown, "dokuwiki" -> DokuwikiExtract.toMarkdown,
    "pod" -> PodExtract.toMarkdown, "troff" -> TroffExtract.toMarkdown, "mdoc" -> MdocExtract.toMarkdown)

  /** One kind's output for one input: the markdown, or the failure as a row reads it. */
  def render(kind: String, src: String): String =
    try Convert(kind)(src) catch { case e: Exception => graft.extract.Formats.describe(e) }

  private val mainDocs = Map("typst" -> typstDoc, "dokuwiki" -> dokuDoc, "pod" -> podDoc,
    "troff" -> manDoc, "mdoc" -> mdocDoc)

  /** The pinned corpus per kind: the oracle template for ids 0–199, the
    * spec inputs, 2,000 soups and 500 truncations.
    */
  def pinnedCorpus(kind: String): Seq[String] = {
    val seed = kind.hashCode.toLong
    (0L until 200L).map(Templates(kind)) ++ (mainDocs(kind) +: shortInputs(kind)) ++
      soups(Grammars(kind), seed, 2000) ++ truncations(Grammars(kind), seed + 1, 500)
  }
}
