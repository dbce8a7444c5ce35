package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.checkpoint.Catalog
import graft.corpus.Corpus
import graft.functions.DriverCollect
import graft.near.SimHash

/** Checkpoint/resume semantics of the staged pipeline (north rule:
  * "resumes mid-run without recomputation").
  */
class CheckpointPipelineSpec extends SparkSpec {

  /** 6 docs sharing a hot 25-token window (cap 3 → over-capacity) PLUS
    * a planted 99-char character run on two of them, with the config
    * that turns on both opt-in stages (substring windows, long runs).
    */
  private def overCapFixture: (DataFrame, DedupPipeline.Config) = {
    import spark.implicits._
    val shared = (0 until 25).map(i => s"s$i").mkString(" ")
    val run = (0 until 25).map(i => f"r$i%02d").mkString("x")
    val docs = (0 until 6).map { i =>
      val tail = (0 until 50).map(j => s"t$i-$j").mkString(" ")
      val text = if (i < 2) shared + " " + run + tail else shared + " " + tail
      (s"https://d.example/$i", text)
    }.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val cfg = DedupPipeline.Config(
      useSubstring = true,
      substring = DedupPipeline.SubstringConfig(w = 20, stride = 1, minShared = 1,
        maxDocsPerWindow = 3),
      useLongRun = true,
      longRun = DedupPipeline.LongRunConfig(minLen = 90))
    (docs, cfg)
  }

  /** Equal clusters, equal edges (as multisets) and equal skip rows. */
  private def assertSameResult(a: DedupPipeline.Result, b: DedupPipeline.Result,
      what: String): Unit = {
    def same(x: DataFrame, y: DataFrame) =
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    assert(same(a.clusters, b.clusters), s"$what: clusters differ")
    assert(same(a.edges, b.edges), s"$what: edges differ")
    assert(a.skippedBucketRows == b.skippedBucketRows, s"$what: skipped bucket rows differ")
  }

  test("a SimHash shingleK that differs from MinHash's is rejected while SimHash is on") {
    val ex = intercept[IllegalArgumentException] {
      DedupPipeline.Config(simhash = SimHash.Config(shingleK = 3))
    }
    assert(ex.getMessage.contains("simhash.shingleK (3)") &&
      ex.getMessage.contains("minhash.shingleK (5)"), ex.getMessage)
    // SimHash off: its shingleK is never read, so it is not checked
    DedupPipeline.Config(useSimHash = false, simhash = SimHash.Config(shingleK = 3))
  }

  // each edge and skip case runs with MinHash and SimHash decided on
  // the driver (default gate) and as distributed stages (gate 0); the
  // default-gate names are the historical ones
  for ((suffix, gate) <- Seq("" -> DriverCollect.NearDupBound,
      " [distributed, localBelow = 0]" -> 0)) {
    test("checkpointed run equals direct run; re-run resumes without rewriting stage tables" +
        suffix) {
      val docs = Corpus.docs(spark, 400).toDF()
      val dir = Files.createTempDirectory("graft-ckpt").toString
      val cat = new Catalog(dir, spark)

      val direct = DedupPipeline.run(docs, localBelow = gate)
      val staged = DedupPipeline.runCheckpointed(docs, cat, inputLineage = "corpus400",
        localBelow = gate)
      assertSameResult(direct, staged, "default, fresh")

      def mtimes(name: String): Map[String, Long] = {
        val d = Paths.get(s"$dir/$name")
        import scala.jdk.CollectionConverters._
        Files.list(d).iterator().asScala
          .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      }
      val stagedCount = staged.clusters.count()
      val before = (mtimes("edges"), mtimes("clusters"))
      Thread.sleep(1100)
      val resumed = DedupPipeline.runCheckpointed(docs, cat, inputLineage = "corpus400",
        localBelow = gate)
      assert(resumed.clusters.count() == stagedCount)
      assert((mtimes("edges"), mtimes("clusters")) == before,
        "stage tables were rewritten on an unchanged-lineage resume")
      assertSameResult(direct, resumed, "default, resumed")

      // changed config ⇒ lineage differs ⇒ stages recompute
      val changed = DedupPipeline.runCheckpointed(docs, cat,
        cfg = DedupPipeline.Config(ignoreEmpty = true), inputLineage = "corpus400",
        localBelow = gate)
      val changedCount = changed.clusters.count()
      assert(mtimes("edges") != before._1)
      assert(changedCount <= stagedCount)

      // every config: run ≡ a fresh runCheckpointed ≡ a resumed one
      val (subDocs, subCfg) = overCapFixture
      val table = Seq(
        ("exact-only", docs, DedupPipeline.Config(useMinHash = false, useSimHash = false)),
        ("substring+longrun over cap", subDocs, subCfg),
        ("simhash only", docs, DedupPipeline.Config(useMinHash = false)),
        ("ignoreEmpty", docs, DedupPipeline.Config(ignoreEmpty = true)))
      for ((name, d, cfg) <- table) {
        val c = new Catalog(Files.createTempDirectory("graft-ckpt-eq").toString, spark)
        val direct = DedupPipeline.run(d, cfg, gate)
        assertSameResult(direct, DedupPipeline.runCheckpointed(d, c, cfg, "eq", gate),
          s"$name, fresh")
        assertSameResult(direct, DedupPipeline.runCheckpointed(d, c, cfg, "eq", gate),
          s"$name, resumed")
      }
    }

    test("checkpointed substring+longrun stages persist their skip metrics; " +
        "resume reads them back" + suffix) {
      val (docs, cfg) = overCapFixture
      val dir = Files.createTempDirectory("graft-ckpt-sub").toString
      val cat = new Catalog(dir, spark)
      val staged = DedupPipeline.runCheckpointed(docs, cat, cfg, inputLineage = "sub6",
        localBelow = gate)
      assert(staged.skippedBucketRows.get("substring").exists(_ >= 6L))
      assert(staged.skippedBucketRows.get("longrun").contains(0L))
      assert(staged.edges.filter(col("kind") === "longrun").count() >= 1)
      // resume: metrics come back from the staged table, not a recompute
      val resumed = DedupPipeline.runCheckpointed(docs, cat, cfg, inputLineage = "sub6",
        localBelow = gate)
      assert(resumed.skippedBucketRows == staged.skippedBucketRows)
    }

    test("a run that fails writing its edges releases every frame the edge DAG cached" + suffix) {
      val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      spark.catalog.clearCache() // whatever earlier suites left cached
      // a catalog root that is a regular file: the edges write throws
      // after the DAG has persisted its signatures and stage outputs
      val root = Files.createTempFile("graft-ckpt-root", ".file").toString
      val (docs, cfg) = overCapFixture
      intercept[Exception] {
        DedupPipeline.runCheckpointed(docs, new Catalog(root, spark), cfg, inputLineage = "fail",
          localBelow = gate)
      }
      assert(cacheManager.isEmpty, "a frame the edge DAG persisted is still cached")
    }
  }

  test("deduped corpus stage uses the (days(warc_ts), lang) layout (north rule)") {
    val docs = Corpus.docs(spark, 300).toDF()
    val dir = Files.createTempDirectory("graft-ckpt-layout").toString
    val cat = new Catalog(dir, spark)
    val r = DedupPipeline.runCheckpointed(docs, cat, inputLineage = "corpus300")
    // physical directory layout: warc_day=YYYY-MM-DD/lang=xx
    import scala.jdk.CollectionConverters._
    val dayDirs = Files.list(Paths.get(s"$dir/deduped_docs")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("warc_day=")).toSeq
    assert(dayDirs.nonEmpty)
    val langDirs = Files.list(Paths.get(s"$dir/deduped_docs/${dayDirs.head}"))
      .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("lang=")).toSeq
    assert(langDirs.nonEmpty)
    // one row per cluster canonical, pruned read works
    val deduped = r.dedupedDocs.get
    assert(deduped.count() ==
      r.clusters.select(col("cluster_id")).distinct().count())
    val oneLang = langDirs.head.stripPrefix("lang=")
    assert(cat.read("deduped_docs").filter(col("lang") === oneLang).count() > 0)
  }
}
