package graft.report

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Golden report fixture (FIXTURES.md §3; reference CLI.t:74-78:
  * "sorted in both dimensions", tab-separated, duplicates-only) and
  * the CLI summary/identity operators.
  */
class ReportSpec extends SparkSpec {
  import spark.implicits._

  private def blocks = Seq(
    Seq("foo", "bar", "baz"),
    Seq("qux", "quux"),
    Seq("gamma", "alpha", "beta", "delta", "epsilon"),
    Seq("loner")).toDF("members")

  test("golden duplicate report: sorted within line and across lines") {
    val lines = Report.duplicateReport(blocks).collect().map(_.getString(0))
    assert(lines.toSeq == Seq(
      "alpha\tbeta\tdelta\tepsilon\tgamma",
      "bar\tbaz\tfoo",
      "quux\tqux"))
  }

  test("summary counts (A8): unique/distinct/duplicate") {
    val r = Report.summary(blocks).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 3L, 7L)))
  }

  test("identity groups + canonical min (hardlink analog, Files.t:133-183)") {
    val docs = Seq(
      ("https://a.example/p/1", "x"),
      ("https://a.example/p/1/", "x"),
      ("https://a.example/p/1?utm_source=feed", "x"),
      ("https://a.example/p/2", "y")).toDF("url", "text")
    val g = Report.identityGroups(docs)
    assert(g.count() == 2)
    val big = g.filter(size(col("aliases")) === 3).head().getSeq[String](1)
    assert(big.head == "https://a.example/p/1") // alphabetical min first
    // the pipeline's identity pre-pass: the min url is the canonical,
    // the two other spellings become alias edges to it
    val (aliasEdges, canon) = graft.pipeline.DedupPipeline.identityPass(docs)
    assert(canon.count() == 2)
    assert(canon.filter(col("url") === "https://a.example/p/1").count() == 1)
    val aliases = aliasEdges.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(aliases.toSet == Set(
      ("https://a.example/p/1/", "https://a.example/p/1", "alias"),
      ("https://a.example/p/1?utm_source=feed", "https://a.example/p/1", "alias")))
    assert(aliases.length == 2)
  }

  test("humanBytes formatting (CLI.pm:42-67)") {
    assert(Report.humanBytes(512) == "512 B")
    assert(Report.humanBytes(2048) == "2.0 KiB")
    assert(Report.humanBytes(3L * 1024 * 1024 * 1024) == "3.0 GiB")
  }

  test("dedupNormalized collapses case/whitespace variants the exact digests keep apart") {
    val docs = Seq(
      ("a", "Hello   World"),
      ("b", "hello world"),       // same after normalize
      ("c", " HELLO\tWORLD \n"),  // same after normalize
      ("d", "hello, world"),      // different (punctuation is content)
      ("e", null: String)).toDF("url", "text")
    val out = Report.dedupNormalized(docs).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(out.keySet == Set("a", "b", "c", "d"), "null text dropped")
    assert(out("a") == (("a", false)) && out("b") == (("a", true)) &&
      out("c") == (("a", true)))
    assert(out("d") == (("d", false)))
  }

  test("latestRevisits keeps the latest fetch per CANONICAL url (recrawl policy)") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val docs = Seq(
      ("https://www.a.example/p?utm_source=x", ts(100), "f1"),
      ("https://a.example/p", ts(300), "f2"),           // same canonical, later
      ("https://a.example/p#frag", ts(200), "f3"),      // same canonical, middle
      ("https://b.example/q", ts(50), "f4"),
      (null, ts(999), "f5")).toDF("url", "warc_ts", "fetch_id")
    val out = Report.latestRevisits(docs, idCol = "fetch_id").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getTimestamp(3)))).toMap
    assert(out.keySet == Set("https://a.example/p", "https://b.example/q"),
      "null urls dropped; trackers/fragments/www collapse")
    assert(out("https://a.example/p") == (("f2", 3L, ts(300))))
    assert(out("https://b.example/q") == (("f4", 1L, ts(50))))
  }
}
