package graft.pipeline

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.corpus.Corpus

/** End-to-end pipeline: dup-pair recall ≥ 0.99 vs planted ground truth
  * (BASELINE.json north_rule), intended negatives stay separate,
  * quarantine counts (FIXTURES.md §1).
  */
class PipelineSpec extends SparkSpec {

  private val N = 1000L
  private lazy val result = DedupPipeline.run(Corpus.docs(spark, N).toDF())
  private lazy val truth = Corpus.truth(spark, N).toDF()

  test("dup-pair recall >= 0.99 against planted truth") {
    // truth pairs: all same-truth_group pairs among positive kinds
    val pos = truth.filter(col("truth_kind").isin(
      "exact_dup", "alias", "empty", "near_dup_95", "near_dup_80"))
    val t1 = pos.select(col("url").as("u1"), col("truth_group").as("g"))
    val t2 = pos.select(col("url").as("u2"), col("truth_group").as("g"))
    val truthPairs = t1.join(t2, "g").filter(col("u1") < col("u2"))
      .select("u1", "u2")
    val c = result.clusters
    val found = truthPairs
      .join(c.withColumnRenamed("url", "u1").withColumnRenamed("cluster_id", "c1"), "u1")
      .join(c.withColumnRenamed("url", "u2").withColumnRenamed("cluster_id", "c2"), "u2")
      .filter(col("c1") === col("c2"))
    val total = truthPairs.count().toDouble
    val recall = found.count() / total
    info(f"dup-pair recall = $recall%.4f over ${total.toLong} planted pairs")
    assert(recall >= 0.99, f"recall $recall%.4f < 0.99")
  }

  test("intended negatives (near_dup_50 tier, uniques) are not merged") {
    val neg = truth.filter(col("truth_kind").isin("unique", "near_dup_50"))
      .select("url")
    val c = result.clusters.join(neg, "url")
    // negatives must be singletons in their clusters w.r.t. other negatives
    val merged = c.groupBy("cluster_id").count().filter(col("count") > 1)
    val mergedCount = merged.agg(coalesce(sum(col("count")), lit(0L))).head().getLong(0)
    val negTotal = neg.count()
    val falseMergeRate = mergedCount.toDouble / negTotal
    info(f"false-merge rate on negatives = $falseMergeRate%.4f")
    assert(falseMergeRate <= 0.01, f"false-merge rate $falseMergeRate%.4f > 0.01")
  }

  test("undecodable docs are quarantined, counted, excluded from clusters") {
    assert(result.quarantinedCount == N * 5 / 100)
    assert(result.clusters.count() == N - result.quarantinedCount)
  }

  test("empty docs form one cluster (default keep-empties, Files.t:253-258)") {
    val empties = truth.filter(col("truth_kind") === "empty").select("url")
    val nClusters = result.clusters.join(empties, "url")
      .select("cluster_id").distinct().count()
    assert(nClusters == 1)
  }

  test("exact stage digest counts are lazy: sha computed only for collided rows") {
    val dc = result.exact.digestCounts
    assert(dc.length == 3)
    assert(dc(0) >= dc(1) && dc(1) >= dc(2), s"non-monotonic: $dc")
    // most uniques resolve by level 2 (filesize+initial_xxhash), so the
    // authoritative sha level must see strictly fewer rows
    assert(dc(2) < dc(0), s"sha level saw everything: $dc")
  }

  test("opt-in substring stage links long shared runs that whole-doc stages miss") {
    import spark.implicits._
    // a 40-token shared run inside otherwise-disjoint docs: bigram
    // Jaccard ≈ 0.09 (MinHash θ=0.7 never fires), SimHash Hamming far
    // outside the default ball — only the duplicated-window stage can
    // link them (Lee et al.'s partial-overlap case)
    val run40 = (0 until 40).map(i => s"run$i").mkString(" ")
    val a = (0 until 200).map(i => s"alpha$i").mkString(" ") + " " + run40
    val b = run40 + " " + (0 until 200).map(i => s"beta$i").mkString(" ")
    val c = (0 until 240).map(i => s"gamma$i").mkString(" ")
    val docs = Seq(("https://a.example/1", a), ("https://b.example/2", b),
        ("https://c.example/3", c)).toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    def clusterOf(r: DedupPipeline.Result): Map[String, String] =
      r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val off = clusterOf(DedupPipeline.run(docs))
    assert(off("https://a.example/1") != off("https://b.example/2"))
    val on = clusterOf(DedupPipeline.run(docs,
      DedupPipeline.Config(useSubstring = true)))
    assert(on("https://a.example/1") == on("https://b.example/2"))
    assert(on("https://c.example/3") != on("https://a.example/1"))
  }

  test("opt-in long-run stage clusters a cross-partition 100-char run (r3 VERDICT #3)") {
    import spark.implicits._
    // a ~100-char exact CHARACTER run (not window-aligned: char-level
    // winnowing, any alignment) planted in docs FORCED into different
    // partitions; whole-doc stages can't see it, and the window-hash
    // substring stage would too (this one is char- not token-windowed)
    val run = (0 until 25).map(i => f"r$i%02d").mkString("x") // 99 chars, no spaces
    val a = (0 until 200).map(i => s"alpha$i").mkString(" ") + " " + run
    val b = run + " " + (0 until 200).map(i => s"beta$i").mkString(" ")
    val c = (0 until 240).map(i => s"gamma$i").mkString(" ")
    // explicit RDD slices: slice 0 = (a, c), slice 1 = (b) — the
    // planted pair is guaranteed split across partitions
    val rdd = spark.sparkContext.parallelize(Seq(
      ("https://a.example/1", a), ("https://c.example/3", c),
      ("https://b.example/2", b)), 2)
    val docs = spark.createDataset(rdd).toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    def clusterOf(r: DedupPipeline.Result): Map[String, String] =
      r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val off = DedupPipeline.run(docs)
    assert(clusterOf(off)("https://a.example/1") != clusterOf(off)("https://b.example/2"))
    assert(!off.skippedBucketRows.contains("longrun"))
    val onR = DedupPipeline.run(docs,
      DedupPipeline.Config(useLongRun = true, longRun = DedupPipeline.LongRunConfig(minLen = 90)))
    val on = clusterOf(onR)
    assert(on("https://a.example/1") == on("https://b.example/2"))
    assert(on("https://c.example/3") != on("https://a.example/1"))
    // the edge carries its stage tag and the skip metric is surfaced
    assert(onR.edges.filter(col("kind") === "longrun").count() >= 1)
    assert(onR.skippedBucketRows.get("longrun").contains(0L))
  }

  test("keepBestCanonical picks the highest-quality cluster member, not min-id") {
    import spark.implicits._
    // u1 < u2 lexically, but u2 carries the higher score — the quality
    // policy must pick u2 where the min-id canonical picks u1
    val docs = Seq(
      ("https://a.example/1", "dup dup dup"),
      ("https://a.example/2", "dup dup dup"),
      ("https://z.example/9", "unique text here")).toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val r = DedupPipeline.run(docs)
    val scored = docs.select(col("url"),
      when(col("url") === "https://a.example/2", 0.9).otherwise(0.2).as("score"))
    val best = r.keepBestCanonical(scored).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    val cid = r.clusters.filter(col("url") === "https://a.example/1")
      .head().getString(1)
    assert(best(cid) == "https://a.example/2") // quality beats min-id
    assert(best.size == r.clusters.select("cluster_id").distinct().count())
  }

  test("substring stage surfaces over-cap window skips (ADVICE r3 #2)") {
    import spark.implicits._
    // 6 docs all sharing one 25-token window with cap 3 → the window is
    // over-capacity: zero substring edges, a surfaced skip count of 6
    val shared = (0 until 25).map(i => s"s$i").mkString(" ")
    val docs = (0 until 6).map(i =>
        (s"https://d.example/$i", shared + " " + (0 until 50).map(j => s"t$i-$j").mkString(" ")))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val r = DedupPipeline.run(docs, DedupPipeline.Config(useSubstring = true,
      substring = DedupPipeline.SubstringConfig(w = 20, stride = 1, minShared = 1,
        maxDocsPerWindow = 3)))
    assert(r.edges.filter(col("kind") === "substring").count() == 0)
    assert(r.skippedBucketRows.get("substring").exists(_ >= 6L))
  }

  /** The digest exchanges (a column repartition whose output carries
    * the exact stage's `__id`) of a physical plan, through AQE plans,
    * query stages and subqueries; a reused exchange is not counted.
    */
  private def digestExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case a: AdaptiveSparkPlanExec => digestExchanges(a.executedPlan)
    case s: QueryStageExec => digestExchanges(s.plan)
    case _: ReusedExchangeExec => Nil
    case e: ShuffleExchangeExec =>
      (if (e.shuffleOrigin == REPARTITION_BY_COL && e.output.exists(_.name == "__id")) Seq(e)
        else Nil) ++ digestExchanges(e.child)
    case other => (other.children ++ other.subqueries).flatMap(digestExchanges)
  }

  test("the edge plan digests every page once: one digest exchange, initial and final plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-digest-xchg").toString + "/docs"
    Corpus.docs(spark, 300L).toDF().write.parquet(dir)
    // 300 docs fit the driver gate, whose edge rows plan no exchange at
    // all: localBelow = 0 keeps this on the distributed plan
    val dag = new DedupPipeline.EdgeDag(spark.read.parquet(dir), DedupPipeline.Config(),
      localBelow = 0)
    try {
      val rows = dag.rows
      val initial = rows.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      // before AQE's stage reuse: the consumers' exchanges are one plan
      assert(digestExchanges(initial).map(_.canonicalized).distinct.size == 1,
        initial.treeString)
      rows.collect()
      val fin = rows.queryExecution.executedPlan
      assert(digestExchanges(fin).size == 1, fin.treeString)
    } finally dag.release()
  }
}
