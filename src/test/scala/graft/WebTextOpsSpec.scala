package graft

import graft.ops.{TextAnalysis, WebOps}
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PII scrub, Gopher repetition signals, and URL/domain hygiene — the
  * round-5 training-pipeline additions (q_pii / q_gopher / q_urls carry
  * the at-scale oracle gates; this spec pins the edge semantics).
  */
class WebTextOpsSpec extends AnyFunSuite {

  lazy val spark = Pipeline.session("local[4]", 4, "graft-test")
  import spark.implicits._

  test("scrubPii masks all three kinds and leaves clean text alone") {
    val df = Seq(
      (1L, "Mail a@b.co or 555-123-4567; host 192.168.0.1 ok"),
      (2L, "No pii here, just 3.14 and v1.2.3 and x@ incomplete"))
      .toDF("doc_id", "text")
      .withColumn("clean", TextAnalysis.scrubPii(col("text")))
    val out = df.orderBy("doc_id").select("clean").as[String].collect()
    assert(out(0) == "Mail |||EMAIL||| or |||PHONE|||; host |||IP||| ok")
    // a dotted version string is NOT an IP (needs four octets), a bare
    // 3.14 is not either, and a lone @ is not an email
    assert(out(1) == "No pii here, just 3.14 and v1.2.3 and x@ incomplete")
  }

  test("withPiiCounts counts per kind") {
    val row = TextAnalysis.withPiiCounts(
      Seq((1L, "a@b.co c@d.org (123) 456-7890 10.0.0.1 10.0.0.2")).toDF("doc_id", "text"))
      .select("n_emails", "n_phones", "n_ips").as[(Int, Int, Int)].head()
    assert(row == ((2, 1, 2)))
  }

  test("repetition signals: single line, all dups, bullets and ellipses") {
    val df = TextAnalysis.withRepetitionSignals(Seq(
      (1L, "only line"),
      (2L, "x\nx\nx\nx"),
      (3L, "- a\n* b\n• c\nend…")).toDF("doc_id", "text"))
      .select("doc_id", "n_lines", "dup_line_frac", "top_line_frac",
        "bullet_line_frac", "ellipsis_line_frac")
      .as[(Long, Int, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(df(0) == ((1L, 1, 0.0, 1.0, 0.0, 0.0)))
    assert(df(1) == ((2L, 4, 0.75, 1.0, 0.0, 0.0)))
    assert(df(2) == ((3L, 4, 0.0, 0.25, 0.75, 0.25)))
  }

  test("gopherRepetitionFilter keeps clean docs, drops repetitive ones") {
    val kept = TextAnalysis.gopherRepetitionFilter(Seq(
      (1L, "a\nb\nc\nd\ne"),
      (2L, "x\nx\nx\ny")).toDF("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
  }

  test("urlHost/registeredDomain: subdomains collapse, single label passes") {
    val df = Seq(
      (1L, "https://news.site4.com/a/b?q=1"),
      (2L, "http://localhost/x"),
      (3L, "https://site9.com/p")).toDF("doc_id", "url")
    val out = WebOps.withUrlParts(df).orderBy("doc_id")
      .select("host", "domain").as[(String, String)].collect()
    assert(out(0) == (("news.site4.com", "site4.com")))
    assert(out(1) == (("localhost", "localhost")))
    assert(out(2) == (("site9.com", "site9.com")))
  }

  test("pii boundaries: 5-digit phone tails and out-of-range IPs stay text") {
    val out = Seq(
      (1L, "call (555) 123-45678 ext"),   // not NANP: no partial mask
      (2L, "code 999.999.999.999 fails"), // octets out of range
      (3L, "at 10.2.3.4 and 0.0.0.0 ok")) // valid quads mask
      .toDF("doc_id", "text")
      .withColumn("clean", TextAnalysis.scrubPii(col("text")))
      .orderBy("doc_id").select("clean").as[String].collect()
    assert(out(0) == "call (555) 123-45678 ext")
    assert(out(1) == "code 999.999.999.999 fails")
    assert(out(2) == "at |||IP||| and |||IP||| ok")
  }

  test("repetition signals skip blank lines and CRLF carriage returns") {
    val doc = "p1\r\n\r\np2\r\n\r\np3...\r\n"
    val row = TextAnalysis.withRepetitionSignals(Seq((1L, doc)).toDF("doc_id", "text"))
      .select("n_lines", "dup_line_frac", "ellipsis_line_frac")
      .as[(Int, Double, Double)].head()
    // 3 content lines, no dups from the blank separators, the CRLF line
    // still ends with '...'
    assert(row == ((3, 0.0, 1.0 / 3.0)))
  }

  test("gopher gate bypasses sub-minLines docs instead of auto-rejecting") {
    val kept = TextAnalysis.gopherRepetitionFilter(Seq(
      (1L, "Title\nBody text here"),  // 2 lines: top=0.5 but under minLines
      (2L, "x\nx\nx\nx\ny")).toDF("doc_id", "text")) // 5 lines, dup 0.6
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L))
  }

  test("registeredDomain: multi-label public suffixes take three labels") {
    val df = Seq(
      (1L, "https://badsite.co.uk/x"),
      (2L, "https://news.badsite.co.uk/y"),
      (3L, "https://co.uk/odd")).toDF("doc_id", "url")
    val out = WebOps.withUrlParts(df).orderBy("doc_id")
      .select("domain").as[String].collect()
    assert(out(0) == "badsite.co.uk")
    assert(out(1) == "badsite.co.uk")
    assert(out(2) == "co.uk")
    // a co.uk blocklist entry now actually blocks
    val kept = WebOps.filterBlockedDomains(df, Seq("badsite.co.uk").toDF("domain"))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(3L))
  }

  test("duplicate-window fraction: identical docs 1.0, short docs 0 windows") {
    val df = graft.ops.Dedup.withDuplicateWindowFraction(Seq(
      (1L, "one two three four five"),
      (2L, "one two three four five"),
      (3L, "only three words"),
      (4L, "wholly unique text runs through here now")).toDF("doc_id", "text"),
      k = 4)
      .select("doc_id", "n_windows", "dup_window_frac")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(df(0) == ((1L, 2, 1.0))) // both windows shared with doc 2
    assert(df(1) == ((2L, 2, 1.0)))
    assert(df(2) == ((3L, 0, 0.0))) // < k tokens: no windows
    assert(df(3) == ((4L, 4, 0.0)))
  }

  test("content-hash sampling: deterministic, monotone in threshold") {
    val docs = (0 until 200).map(i => (i.toLong, s"document body $i")).toDF("doc_id", "text")
    def ids(t: String) = TextAnalysis.sampleByContentHash(docs, t)
      .select("doc_id").as[Long].collect().toSet
    val a = ids("29"); val b = ids("29"); val small = ids("10")
    assert(a == b) // reproducible, unlike random()
    assert(small.subsetOf(a)) // lower threshold = strict subsample
    assert(a.nonEmpty && a.size < 200)
    intercept[IllegalArgumentException](ids("2G")) // not lowercase hex
  }

  test("filterBlockedDomains broadcasts the blocklist (plan-locked)") {
    val docs = Seq((1L, "https://a.bad.com/x"), (2L, "https://ok.good.com/y"))
      .toDF("doc_id", "url")
    val block = Seq("bad.com", "bad.com").toDF("domain") // dup collapses
    val out = WebOps.filterBlockedDomains(docs, block)
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }
}
