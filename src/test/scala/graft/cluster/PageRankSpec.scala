package graft.cluster

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-Scala reference of the exact integer iteration. */
  private def reference(edges: Seq[(String, String)], iters: Int,
      scale: Long = 1000000000000L): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length
    val outdeg = e.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    val base = (scale * 15L / 100L) / n
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _) => (r(s) * 85L) / (100L * outdeg(s)) }.sum
      }
      r = nodes.map(id => id -> (base + contrib.getOrElse(id, 0L))).toMap
    }
    r
  }

  test("integer PageRank matches the closed-form reference exactly, at any partitioning") {
    // a hub (everyone links to h), a 2-cycle, a dangling node d
    val edges = Seq(("a", "h"), ("b", "h"), ("c", "h"), ("h", "a"),
      ("a", "b"), ("b", "a"), ("c", "d"), ("a", "h") /* dup edge */ )
    val expect = reference(edges, iters = 10)
    for (parts <- Seq(1, 7)) {
      val out = PageRank.ranks(edges.toDF("src", "dst").repartition(parts), iters = 10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == expect, s"parts=$parts")
    }
    // `a` receives the hub's ENTIRE outflow (h→a is h's only edge) so
    // it out-ranks even the hub; `c` has no in-links at all → pure base
    assert(expect("a") == expect.values.max)
    assert(expect("c") == expect.values.min)
    assert(expect("h") > expect("b") && expect("d") > expect("c"))
    // the lineage cut every 4 iterations must not change values: runs
    // that end before, at and past a cut match the reference
    for (iters <- Seq(3, 4, 5, 9)) {
      val out = PageRank.ranks(edges.toDF("src", "dst"), iters = iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == reference(edges, iters), s"iters=$iters")
    }
  }

  test("an empty edge frame fails and releases every frame ranks cached") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // whatever earlier suites left cached
    val ex = intercept[IllegalArgumentException] {
      PageRank.ranks(Seq.empty[(String, String)].toDF("src", "dst"))
    }
    assert(ex.getMessage.contains("empty graph"))
    assert(cacheManager.isEmpty, "a frame ranks persisted is still cached")
  }

  test("href extraction: absolute http(s) only, fragment-stopped, document order") {
    val html = """<a href="https://a.example/p">x</a> junk
      |<a HREF="https://up.example/">case-sensitive attr skipped</a>
      |<a href="/relative/skipped">y</a>
      |<a href="http://b.example/q#frag">z</a>
      |<a href="ftp://c.example/">scheme skipped</a>""".stripMargin
    val out = Seq(("u", html)).toDF("url", "html")
      .select(graft.extract.Links.hrefs(col("html")).as("h"))
      .head().getSeq[String](0)
    assert(out == Seq("https://a.example/p", "http://b.example/q"))
  }

  test("topK is the deterministic (rank desc, id asc) head") {
    val edges = Seq(("a", "h"), ("b", "h"), ("c", "h"), ("h", "a"),
      ("a", "b"), ("b", "a"), ("c", "d"))
    val r = PageRank.ranks(edges.toDF("src", "dst"), iters = 10)
    val top = PageRank.topK(r, 3).collect().map(_.getString(0))
    assert(top.toSeq == Seq("a", "h", "b")) // the reference ordering above
    // ties break by id: equal-rank symmetric pair
    val sym = PageRank.ranks(Seq(("x", "y"), ("y", "x")).toDF("src", "dst"), iters = 3)
    assert(PageRank.topK(sym, 1).collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  test("anchorPairs zips hrefs with anchor text; anchorTexts normalizes and aggregates") {
    val html = """<a href="https://a.example/p">Read  ME now</a>
      |<a href="https://b.example/q#frag" class="x">read me NOW</a>
      |<a class="y" href="https://skip.example/">attrs before href skipped</a>
      |<a href="/rel">relative skipped</a>
      |<a href="https://c.example/r"><b>nested tag ends text</b></a>
      |<a href="https://d.example/s">   </a>""".stripMargin
    val pairs = Seq(Tuple1(html)).toDF("html")
      .select(explode(graft.extract.Links.anchorPairs(col("html"))).as("p"))
      .select(col("p.href"), col("p.anchor")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSeq == Seq(
      ("https://a.example/p", "Read  ME now"),
      ("https://b.example/q", "read me NOW"),
      ("https://d.example/s", "   ")))
    val agg = graft.extract.Links.anchorTexts(
        Seq(Tuple1(html)).toDF("html").withColumn("html", col("html").cast("binary")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(agg == Map( // case/whitespace collapse merges the two; blank anchor dropped
      ("a.example", "read me now") -> 1L,
      ("b.example", "read me now") -> 1L))
  }

  test("domainEdges aggregates link occurrences at registrable-domain grain, keeps self-links") {
    val docs = Seq(
      ("https://www.a.example/1",
        """<a href="https://b.example/x">1</a><a href="https://sub.b.example/y">2</a>
          |<a href="https://a.example/self">3</a>""".stripMargin),
      ("https://a.example/2", """<a href="https://b.example/z">4</a>"""),
      ("https://c.example/3", """no links at all"""),
      (null, """<a href="https://b.example/n">null src dropped</a>"""))
      .toDF("url", "html").withColumn("html", col("html").cast("binary"))
    val out = graft.extract.Links.domainEdges(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("a.example", "b.example") -> 3L, // subdomain collapses, both pages count
      ("a.example", "a.example") -> 1L)) // self-link kept
  }
}
