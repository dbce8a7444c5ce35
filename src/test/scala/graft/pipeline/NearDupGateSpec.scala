package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.checkpoint.Catalog
import graft.corpus.Corpus
import graft.functions.DriverCollect
import graft.near.{MinHashLSH, SimHash}

/** The MinHash/SimHash driver gate of `DedupPipeline.EdgeDag.rows`:
  * under the bound the driver finisher yields the same rows, skip rows
  * included, as the distributed stages (`localBelow = 0`), and it
  * costs one collect job and no shuffle write.
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
    * finisher's local frame is in its plan.
    */
  private def rowsAt(docs: DataFrame, cfg: DedupPipeline.Config,
      gate: Int): (Map[Row, Int], Boolean) = {
    val dag = new DedupPipeline.EdgeDag(docs, cfg, gate)
    try {
      val local = dag.rows.queryExecution.analyzed.collectFirst {
        case l: LocalRelation if l.output.map(_.name) == Seq("src", "dst", "kind", "skipped") => l
      }.nonEmpty
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

  test("driver finisher ≡ distributed stages with duplicate urls") {
    // a url held three times: as a near-dup of another page, as an
    // unrelated page and as whitespace; a second url held twice with
    // the same near-dup text. The verify yields one row per passing
    // shingle-set pairing, and SimHash's pair of equal ids survives
    val rows = sameUnderBothGates(pages(Seq(
      ("https://d.example/a", words("page", 120)),
      ("https://d.example/b", words("page", 120, 40)),
      ("https://d.example/b", words("other", 120)),
      ("https://d.example/b", "\t"),
      ("https://d.example/c", words("page", 120, 60)),
      ("https://d.example/c", words("page", 120, 60)))))
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

  private def shapeOf[T](body: => T): (T, Shape) = {
    val sc = spark.sparkContext
    val group = s"near-dup-gate-${System.nanoTime()}"
    var jobs = 0
    var collects = 0
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
    (out, listener.synchronized(Shape(jobs, collects, records, bytes)))
  }

  test("a 300-doc run decides MinHash and SimHash in one collect job with no shuffle write") {
    val dir = Files.createTempDirectory("graft-gate-shape").toString + "/docs"
    Corpus.docs(spark, 300L).toDF().write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val off = DedupPipeline.Config(useMinHash = false, useSimHash = false)
    val (_, without) = shapeOf(DedupPipeline.run(docs, off))
    val (r, on) = shapeOf(DedupPipeline.run(docs))
    info(s"near-dup stages off: $without; on: $on")
    assert(r.skippedBucketRows.keySet == Set("minhash", "simhash"))
    assert(without.collects == 0 && on.collects == 1)
    // the rest of the run is the same plan: the stages add the collect,
    // whose query broadcasts the identity pass's alias urls once more
    // for its canonical docs, and not one shuffled row
    assert(on.jobs == without.jobs + 2, s"$on vs $without")
    assert(on.shuffleRecords == without.shuffleRecords, s"$on vs $without")

    // a resume reads the edge rows, skip rows included, back from the
    // catalog and never reaches the collect
    val cat = new Catalog(Files.createTempDirectory("graft-gate-ckpt").toString, spark)
    val (fresh, staged) = shapeOf(DedupPipeline.runCheckpointed(docs, cat, inputLineage = "g"))
    val (resumed, again) = shapeOf(DedupPipeline.runCheckpointed(docs, cat, inputLineage = "g"))
    assert(staged.collects == 1 && again.collects == 0, s"$staged, then $again")
    assert(resumed.skippedBucketRows == fresh.skippedBucketRows &&
      fresh.skippedBucketRows == r.skippedBucketRows)
  }
}

object NearDupGateSpec {
  /** Jobs, driver-collect jobs and shuffle writes of a measured body. */
  final case class Shape(jobs: Int, collects: Int, shuffleRecords: Long, shuffleBytes: Long)
}
