package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** CLI quality keep-policy (r4 VERDICT #5): the cluster survivor under
  * `--keep-policy quality` is the argmax-quality member, not the
  * min-url canonical; metrics land in the Catalog.
  */
class KeepPolicySpec extends SparkSpec {
  import spark.implicits._

  private def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
    .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    .withColumn("html", col("text").cast("binary"))
    .withColumn("lang", lit("en"))

  // alias pair (trailing slash normalizes away): the min url carries
  // junk text, the alias carries a long clean document — min-policy
  // keeps the junk, quality-policy must keep the alias
  private val good = (0 until 120).map(i => s"word$i").mkString(" ")
  private lazy val docs = mk(Seq(
    ("https://x.example/a", "hi"),
    ("https://x.example/a/", good),
    ("https://y.example/solo", "an ordinary single document with several words")))
  private lazy val result = DedupPipeline.run(docs)

  test("quality keep-policy keeps the argmax-quality member, not the min url") {
    val keepers = graft.Main.keepPolicyKeepers(docs, result, "quality").get
    val xCluster = result.clusters.filter(col("url") === "https://x.example/a")
      .head().getString(1)
    assert(xCluster == "https://x.example/a", "alias canonical should be min url")
    val keep = keepers.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(keep(xCluster) == "https://x.example/a/",
      s"quality keeper should be the high-quality alias, got ${keep(xCluster)}")

    // `clusters` format re-keys every member to the quality keeper
    val out = graft.Main.formatOutput(docs, result, "clusters", Some(keepers))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("https://x.example/a") == "https://x.example/a/")
    assert(out("https://x.example/a/") == "https://x.example/a/")
    assert(out("https://y.example/solo") == "https://y.example/solo")
  }

  test("min policy computes no keepers frame (default path unchanged)") {
    assert(graft.Main.keepPolicyKeepers(docs, result, "min").isEmpty)
    val out = graft.Main.formatOutput(docs, result, "clusters", None)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("https://x.example/a/") == "https://x.example/a")
  }

  test("keep_policy metrics row lands in the Catalog (kept_by_quality, changed_from_min)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kp").toString
    val keepers = graft.Main.keepPolicyKeepers(docs, result, "quality").get
    graft.Main.recordKeepPolicyMetrics(keepers, new graft.checkpoint.Catalog(dir, spark))
    val m = new graft.checkpoint.Catalog(dir, spark).metrics()
      .filter(col("stage") === "keep_policy")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("kept_by_quality") == 2L) // two clusters total
    assert(m("changed_from_min") == 1L) // only the alias cluster moved
  }

  test("qualityScores: null-text docs score -1 so a cluster never loses its keeper") {
    val withNull = mk(Seq(("https://z.example/ok", "fine text here")))
      .unionByName(Seq(("https://z.example/bad"))
        .toDF("url")
        .withColumn("text", lit(null).cast("string"))
        .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
        .withColumn("html", lit(Array[Byte](0x80.toByte)))
        .withColumn("lang", lit("en")))
    val s = graft.Main.qualityScores(withNull, "quality")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s("https://z.example/bad") == -1.0)
    assert(s("https://z.example/ok") > 0.0)
  }

  test("a sink that throws leaves no keepers frame cached") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // whatever earlier suites left cached
    // an output path under a regular file: the csv write fails
    val file = java.nio.file.Files.createTempFile("graft-keep-sink", ".txt").toString
    val conf = graft.Main.parse(List("--input", "x.parquet", "--format", "clusters",
      "--keep-policy", "quality", "--outfile", s"$file/out"))
    intercept[Exception](graft.Main.emitReport(docs, result, conf, None))
    assert(cacheManager.isEmpty, "the keepers are still cached")
  }
}

