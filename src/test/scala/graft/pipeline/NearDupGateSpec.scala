package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.checkpoint.Catalog
import graft.corpus.Corpus
import graft.functions.{Digests, DriverCollect}
import graft.near.{MinHashLSH, SimHash}

/** The driver gate of `DedupPipeline.EdgeDag.rows`: under the bound
  * the driver finisher yields the same alias, exact, MinHash and
  * SimHash rows, skip rows included, as the distributed plan
  * (`localBelow = 0`), and it costs one collect job, no broadcast and
  * no shuffle write. A run finished from those rows on the driver
  * commits the same edges, clusters, deduped corpus and metrics as the
  * distributed stages, in the collect plus one job per write.
  */
class NearDupGateSpec extends SparkSpec {
  import NearDupGateSpec.Shape
  import spark.implicits._

  private def pages(rows: Seq[(String, String)]): DataFrame = rows.toDF("url", "text")
    .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    .withColumn("html", col("text").cast("binary"))
    .withColumn("lang", lit("en"))

  private def words(tag: String, n: Int, edit: Int = -1): String =
    (0 until n).map(i => if (edit > 0 && i % edit == 0) s"alt$i" else s"$tag$i").mkString(" ")

  /** `EdgeDag.rows` at `gate` as a multiset, and whether the driver
    * finisher decided them: the whole plan is its local frame (no
    * opt-in stage is on in these cases).
    */
  private def rowsAt(docs: DataFrame, cfg: DedupPipeline.Config,
      gate: Int): (Map[Row, Int], Boolean) = {
    val dag = new DedupPipeline.EdgeDag(docs, cfg, gate)
    try {
      val local = dag.rows.queryExecution.analyzed match {
        case l: LocalRelation => l.output.map(_.name) == Seq("src", "dst", "kind", "skipped")
        case _ => false
      }
      (dag.rows.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap, local)
    } finally dag.release()
  }

  /** Asserts the driver finisher ran at the default gate, the
    * distributed stages at 0, and both gave the same rows; returns them.
    */
  private def sameUnderBothGates(docs: DataFrame,
      cfg: DedupPipeline.Config = DedupPipeline.Config()): Map[Row, Int] = {
    val (local, ranLocally) = rowsAt(docs, cfg, DriverCollect.NearDupBound)
    val (distributed, ranLocallyAt0) = rowsAt(docs, cfg, 0)
    assert(ranLocally && !ranLocallyAt0)
    assert(local == distributed)
    local
  }

  private def skipped(rows: Map[Row, Int], stage: String): Long =
    rows.keys.filter(_.getString(2) == s"skip:$stage").map(_.getLong(3)).toSeq match {
      case Seq(n) => n
      case other => fail(s"skip:$stage rows: $other")
    }

  private def edgeCount(rows: Map[Row, Int], kind: String): Int =
    rows.collect { case (r, n) if r.getString(2) == kind => n }.sum

  for (seed <- Seq(3L, 17L, 701L))
    test(s"driver finisher ≡ distributed stages on the standard mix, seed $seed") {
      val rows = sameUnderBothGates(Corpus.docs(spark, 300L, seed).toDF())
      assert(edgeCount(rows, "minhash") > 0 && edgeCount(rows, "simhash") > 0)
      assert(skipped(rows, "minhash") == 0L && skipped(rows, "simhash") == 0L)
    }

  test("driver finisher ≡ distributed stages with over-cap buckets on both stages") {
    // 30 identical pages fill every band and probe bucket past the cap
    // of 20; the near-dup pages below, one of them copied, stay under it
    val hot = (0 until 30).map(i => (s"https://h.example/$i", "same tokens " * 30))
    val near = (0 until 4).map(i => (s"https://n.example/$i", words("near", 120, 40 + i))) :+
      ("https://n.example/copy", words("near", 120, 40))
    val cfg = DedupPipeline.Config(minhash = MinHashLSH.Config(maxBucket = 20),
      simhash = SimHash.Config(maxBucket = 20))
    val rows = sameUnderBothGates(pages(hot ++ near), cfg)
    assert(skipped(rows, "minhash") == 30L * cfg.minhash.bands)
    assert(skipped(rows, "simhash") == 30L * cfg.simhash.tables.size)
    assert(edgeCount(rows, "minhash") > 0 && edgeCount(rows, "simhash") > 0)
  }

  /** A url held three times: as a near-dup of another page, as an
    * unrelated page and as whitespace; a second url held twice with the
    * same near-dup text.
    */
  private def duplicateUrls = pages(Seq(
    ("https://d.example/a", words("page", 120)),
    ("https://d.example/b", words("page", 120, 40)),
    ("https://d.example/b", words("other", 120)),
    ("https://d.example/b", "\t"),
    ("https://d.example/c", words("page", 120, 60)),
    ("https://d.example/c", words("page", 120, 60))))

  test("driver finisher ≡ distributed stages with duplicate urls") {
    // the verify yields one row per passing shingle-set pairing, and
    // SimHash's pair of equal ids survives
    val rows = sameUnderBothGates(duplicateUrls)
    assert(rows.exists { case (r, n) => r.getString(2) == "minhash" && n == 2 },
      "a pair verified over two shingle sets of one url")
    assert(rows.keys.exists(r => r.getString(2) == "simhash" && r.getString(0) == r.getString(1)))
  }

  test("driver finisher ≡ distributed stages with docs shorter than k tokens") {
    val rows = sameUnderBothGates(pages(Seq(
      ("https://s.example/1", "two words"), ("https://s.example/2", "two words"),
      ("https://s.example/3", "two  words "), ("https://s.example/4", "three more words"),
      ("https://s.example/5", "x"), ("https://s.example/6", words("long", 80)))))
    assert(edgeCount(rows, "minhash") > 0)
  }

  test("driver finisher ≡ distributed stages with tab- or newline-only text") {
    // Spark's trim keeps these docs; the tokenizer sees no token, so
    // they have empty shingle sets, no signature and no fingerprint
    val rows = sameUnderBothGates(pages(Seq(
      ("https://w.example/1", "\t"), ("https://w.example/2", "\n\n"),
      ("https://w.example/3", "\t \n"), ("https://w.example/4", words("page", 60)),
      ("https://w.example/5", words("page", 60, 30)))))
    assert(skipped(rows, "minhash") == 0L && skipped(rows, "simhash") == 0L)
  }

  /** Alias variants of one page (`/`, `?utm_source=feed`, `#top`: the
    * same page, a near-dup page, an unrelated page) whose canonical
    * also has an exact dup under another url.
    */
  private def aliasVariants = pages(Seq(
    ("https://a.example/p", words("page", 120)),
    ("https://a.example/p/", words("page", 120)),
    ("https://a.example/p?utm_source=feed", words("page", 120, 40)),
    ("https://a.example/p#top", words("other", 120)),
    ("https://b.example/q", words("page", 120)),
    ("https://c.example/r", words("page", 120, 60))))

  /** Urls held more than once: x twice with one page, y with x's page
    * and with its own, and x's alias x/ twice, once with x's page.
    */
  private def repeatedUrls = pages(Seq(
    ("https://d.example/x", words("page", 120)),
    ("https://d.example/x", words("page", 120)),
    ("https://d.example/y", words("page", 120)),
    ("https://d.example/y", words("else", 120)),
    ("https://d.example/x/", words("page", 120)),
    ("https://d.example/x/", words("third", 120, 50))))

  /** Zero-byte pages, one of them under an alias url, beside text pages. */
  private def zeroBytePages = pages(Seq(
    ("https://e.example/1", ""), ("https://e.example/2", ""), ("https://e.example/3", ""),
    ("https://e.example/3/", ""), ("https://e.example/4", words("page", 60)),
    ("https://e.example/5", words("page", 60, 30))))

  /** A null url holding a named page's text, and one with a page of its own. */
  private def nullUrls = pages(Seq(
    (null, words("page", 120)), (null, words("lone", 120)),
    ("https://n.example/1", words("page", 120)),
    ("https://n.example/2", words("page", 120, 40))))

  private val cascades = Seq(
    "default cascade" -> DedupPipeline.Config(),
    "sha only" -> DedupPipeline.Config(algs = Seq("sha")),
    "exact only" -> DedupPipeline.Config(useMinHash = false, useSimHash = false))

  private def stagesOf(rows: Map[Row, Int]): Set[String] =
    rows.keys.map(_.getString(2)).filter(_.startsWith("skip:")).map(_.stripPrefix("skip:")).toSet

  private def nearDupStages(cfg: DedupPipeline.Config): Set[String] =
    Set("minhash" -> cfg.useMinHash, "simhash" -> cfg.useSimHash).collect { case (k, true) => k }

  for ((what, cfg) <- cascades) {
    test(s"whole edge DAG on the driver ≡ distributed with alias variants [$what]") {
      val rows = sameUnderBothGates(aliasVariants, cfg)
      assert(edgeCount(rows, "alias") == 3)
      assert(rows.get(Row("https://b.example/q", "https://a.example/p", "exact", 0L)).contains(1))
      assert(edgeCount(rows, "exact") == 1)
      assert(stagesOf(rows) == nearDupStages(cfg))
      if (cfg.useMinHash) assert(edgeCount(rows, "minhash") > 0)
    }

    test(s"whole edge DAG on the driver ≡ distributed with repeated urls [$what]") {
      val rows = sameUnderBothGates(repeatedUrls, cfg)
      // one alias row per losing row: x/ keeps its multiplicity
      assert(rows.get(Row("https://d.example/x/", "https://d.example/x", "alias", 0L)).contains(2))
      assert(edgeCount(rows, "alias") == 2)
      assert(rows.get(Row("https://d.example/y", "https://d.example/x", "exact", 0L)).contains(1))
      assert(edgeCount(rows, "exact") == 1)
    }

    test(s"whole edge DAG on the driver ≡ distributed with null urls [$what]") {
      val rows = sameUnderBothGates(nullUrls, cfg)
      // a null url is canonical and never an edge end: the near-dup
      // stages read only the docs with a url
      assert(rows.keys.forall(r => r.getString(2).startsWith("skip:") ||
        (r.getString(0) != null && r.getString(1) != null)))
      assert(edgeCount(rows, "alias") == 0 && edgeCount(rows, "exact") == 0)
      assert(stagesOf(rows) == nearDupStages(cfg))
    }

    for (ignoreEmpty <- Seq(false, true))
      test(s"whole edge DAG on the driver ≡ distributed with zero-byte pages, " +
          s"ignoreEmpty = $ignoreEmpty [$what]") {
        val rows = sameUnderBothGates(zeroBytePages, cfg.copy(ignoreEmpty = ignoreEmpty))
        assert(edgeCount(rows, "alias") == (if (ignoreEmpty) 0 else 1))
        assert(edgeCount(rows, "exact") == (if (ignoreEmpty) 0 else 2))
      }
  }

  /** A fresh `runCheckpointed` at `gate`: its edges, clusters and
    * deduped corpus, and its metrics (metric → value), each metric
    * checked against a recount of its table.
    */
  private def checkpointedAt(docs: DataFrame, gate: Int): (Seq[DataFrame], Map[String, Long]) = {
    assert(new DedupPipeline.EdgeDag(docs, DedupPipeline.Config(), gate).finished.isDefined ==
      (gate > 0), s"the driver finisher ran at gate $gate")
    val cat = new Catalog(Files.createTempDirectory("graft-gate-eq").toString, spark)
    val r = DedupPipeline.runCheckpointed(docs, cat, inputLineage = "eq", localBelow = gate)
    val recorded = cat.metrics().select("metric", "value").as[(String, Long)].collect().toSeq
    val metrics = recorded.toMap
    assert(metrics.size == recorded.size, s"one row per metric: $recorded")
    val skips = cat.read("edges").filter(col("kind").startsWith("skip:"))
      .select("kind", "skipped").as[(String, Long)].collect()
      .map { case (k, n) => s"skipped_bucket_rows_${k.stripPrefix("skip:")}" -> n }.toMap
    assert(metrics == skips ++ Map("edges" -> r.edges.count(),
      "clusters" -> r.clusters.select("cluster_id").distinct().count()))
    (Seq(r.edges, r.clusters, r.dedupedDocs.get), metrics)
  }

  private def finishFixtures: Seq[(String, () => DataFrame)] =
    Seq(3L, 17L, 701L).map(seed =>
      s"seed $seed" -> (() => Corpus.docs(spark, 300L, seed).toDF())) ++ Seq(
      "duplicate urls" -> (() => duplicateUrls), "repeated urls" -> (() => repeatedUrls),
      "null urls" -> (() => nullUrls))

  for ((what, docs) <- finishFixtures)
    test(s"a checkpointed run finished on the driver ≡ distributed: tables and metrics [$what]") {
      val (local, localMetrics) = checkpointedAt(docs(), DriverCollect.NearDupBound)
      val (distributed, distributedMetrics) = checkpointedAt(docs(), 0)
      val tables = Seq("edges", "clusters", "deduped_docs")
      for ((name, a, b) <- tables.lazyZip(local).lazyZip(distributed)) {
        assert(a.schema == b.schema, s"$name schemas")
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$name rows")
      }
      assert(localMetrics == distributedMetrics)
    }

  test("deduped_docs keeps each valid row of a repeated canonical url once, under both gates") {
    // x is held twice and is the canonical of x, x/ and y: a join
    // against its two clusters rows would give each of its rows twice
    for (gate <- Seq(DriverCollect.NearDupBound, 0)) {
      val (Seq(_, _, deduped), _) = checkpointedAt(repeatedUrls, gate)
      assert(deduped.select("url").as[String].collect().toSeq ==
        Seq.fill(2)("https://d.example/x"), s"gate $gate")
    }
  }

  test("--byte-verify keys weigh their bytes: pages past the bound take the distributed plan") {
    val bytes = DedupPipeline.Config(algs = Digests.DefaultAlgs :+ "bytes")
    // 40 pages of about 8 KB in 8 exact groups: their hex keys weigh
    // about 670k, over the bound, and their shingles about 48k
    val big = pages((0 until 40).map(i => (s"https://big.example/$i", words(s"w${i % 8}-", 1200))))
    val (distributed, bytesLocal) = rowsAt(big, bytes, DriverCollect.NearDupBound)
    val (local, ranLocally) = rowsAt(big, DedupPipeline.Config(), DriverCollect.NearDupBound)
    assert(!bytesLocal && ranLocally)
    // the bytes level splits no block the hashes keep together here
    assert(distributed == local && edgeCount(local, "exact") == 32)
    // a small corpus stays on the driver with the bytes level too
    val small = sameUnderBothGates(aliasVariants, bytes)
    assert(edgeCount(small, "exact") == 1)
  }

  private def shapeOf[T](body: => T): (T, Shape) = {
    val sc = spark.sparkContext
    val group = s"near-dup-gate-${System.nanoTime()}"
    var jobs = 0
    var collects = 0
    var broadcasts = 0
    var aliasBroadcasts = 0
    var records = 0L
    var bytes = 0L
    val stages = scala.collection.mutable.Set.empty[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          synchronized {
            jobs += 1
            stages ++= e.stageIds
            if (e.stageInfos.exists(_.name.contains("DriverCollect.scala"))) collects += 1
            if (Option(e.properties.getProperty("spark.job.tags"))
                .exists(_.contains("broadcast exchange"))) {
              broadcasts += 1
              // the identity pass's loser set is the one checkpoint the
              // edge DAG's broadcasts read
              if (e.stageInfos.exists(_.rddInfos.exists(
                  _.callSite.startsWith("localCheckpoint at DedupPipeline.scala"))))
                aliasBroadcasts += 1
            }
          }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized {
          if (stages(e.stageId) && e.taskMetrics != null) {
            records += e.taskMetrics.shuffleWriteMetrics.recordsWritten
            bytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup(group, "near-dup gate", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    } finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (out, listener.synchronized(
      Shape(jobs, collects, broadcasts, aliasBroadcasts, records, bytes)))
  }

  private def edgeRowsOf(docs: DataFrame, cfg: DedupPipeline.Config, gate: Int): Array[Row] = {
    val dag = new DedupPipeline.EdgeDag(docs, cfg, gate)
    try dag.rows.collect() finally dag.release()
  }

  // pins the shape of the whole edge DAG, not only of its near-dup stages
  test("a 300-doc run decides MinHash and SimHash in one collect job with no shuffle write") {
    val dir = Files.createTempDirectory("graft-gate-shape").toString + "/docs"
    Corpus.docs(spark, 300L).toDF().write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val cfg = DedupPipeline.Config()
    // the edge rows: the collect alone, no broadcast, no shuffle row
    val (local, edges) = shapeOf(edgeRowsOf(docs, cfg, DriverCollect.NearDupBound))
    assert(edges == Shape(1, 1, 0, 0, 0L, 0L), s"$edges")
    // the distributed plan, same rows: the collect stops past the
    // bound and broadcasts nothing; the loser set is broadcast to the
    // exact cascade's canonical docs and to the held signature pass
    // (a cached plan of its own), nowhere else
    val (distributed, at0) = shapeOf(edgeRowsOf(docs, cfg, 0))
    assert(at0.collects == 1 && at0.aliasBroadcasts == 2 && at0.shuffleRecords > 0, s"$at0")
    assert(local.toSeq.groupBy(identity).view.mapValues(_.size).toMap ==
      distributed.toSeq.groupBy(identity).view.mapValues(_.size).toMap)

    // a whole run is the collect alone: skip totals, connected
    // components and the clusters are finished on the driver; with the
    // near-dup stages off, the same one job
    val off = DedupPipeline.Config(useMinHash = false, useSimHash = false)
    val (_, without) = shapeOf(DedupPipeline.run(docs, off))
    val (r, on) = shapeOf(DedupPipeline.run(docs, cfg))
    info(s"near-dup stages off: $without; on: $on; edge rows at localBelow = 0: $at0")
    assert(r.skippedBucketRows.keySet == Set("minhash", "simhash"))
    assert(on == Shape(1, 1, 0, 0, 0L, 0L) && without == on, s"$on vs $without")

    // a fresh checkpointed run: the collect, the three commits and the
    // metrics append. A resume reads the edge rows, skip rows
    // included, back from the catalog and never reaches the collect:
    // its one job is the skip-row fold
    val cat = new Catalog(Files.createTempDirectory("graft-gate-ckpt").toString, spark)
    val (fresh, staged) = shapeOf(DedupPipeline.runCheckpointed(docs, cat, inputLineage = "g"))
    val (resumed, again) = shapeOf(DedupPipeline.runCheckpointed(docs, cat, inputLineage = "g"))
    assert(staged == Shape(5, 1, 0, 0, 0L, 0L), s"$staged")
    assert(again == Shape(1, 0, 0, 0, 0L, 0L), s"$again")
    assert(resumed.skippedBucketRows == fresh.skippedBucketRows &&
      fresh.skippedBucketRows == r.skippedBucketRows)
  }
}

object NearDupGateSpec {
  /** Jobs, driver-collect jobs, broadcast jobs (all, and those of the
    * identity pass's loser set) and shuffle writes of a measured body.
    */
  final case class Shape(jobs: Int, collects: Int, broadcasts: Int, aliasBroadcasts: Int,
      shuffleRecords: Long, shuffleBytes: Long)
}
