package graft.checkpoint

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.corpus.Corpus
import graft.pipeline.DedupPipeline

/** Crash windows of the `Catalog` commit: a stage never resumes a
  * partial table, and a commit interrupted between its renames is
  * finished by the next probe.
  */
class CatalogCommitSpec extends SparkSpec {

  test("a write that fails mid-job leaves the committed table resumable under its lineage") {
    val dir = Files.createTempDirectory("graft-cat-crash").toString
    val cat = new Catalog(dir, spark)
    cat.stage("s1", "v1")(spark.range(0, 10, 1, 4).toDF("id"))
    val boom = udf((x: Long) => if (x == 7) throw new IllegalStateException("injected") else x)
    intercept[Exception] {
      cat.stage("s1", "v2")(spark.range(0, 10, 1, 4).toDF("id").select(boom(col("id")).as("id")))
    }
    var computes = 0
    val back = cat.stage("s1", "v1") { computes += 1; spark.range(3).toDF("id") }
    assert(computes == 0, "the v1 table was recomputed instead of resumed")
    assert(back.agg(count(lit(1)), sum(col("id"))).head().toSeq == Seq(10L, 45L))
    // the partial write left behind does not block the next commit
    assert(cat.stage("s1", "v2")(spark.range(4).toDF("id")).count() == 4)
  }

  test("a complete name_next with no committed table is promoted and resumed") {
    val dir = Files.createTempDirectory("graft-cat-swap").toString
    val cat = new Catalog(dir, spark)
    cat.stage("s2", "v1")(spark.range(5).toDF("id"))
    // the window between demoting s2 and promoting s2_next
    Files.move(Paths.get(s"$dir/s2"), Paths.get(s"$dir/s2_next"))
    var computes = 0
    val back = cat.stage("s2", "v1") { computes += 1; spark.range(3).toDF("id") }
    assert(computes == 0, "the committed s2_next was not promoted")
    assert(back.count() == 5)
    assert(Files.exists(Paths.get(s"$dir/s2")) && !Files.exists(Paths.get(s"$dir/s2_next")))
  }
}

/** What `DedupPipeline.runCheckpointed` resumes, and what it records. */
class CheckpointResumeSpec extends SparkSpec {

  private def sameClusters(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a resume appends no metrics rows") {
    val cat = new Catalog(Files.createTempDirectory("graft-ckpt-metrics").toString, spark)
    val docs = Corpus.docs(spark, 200).toDF()
    DedupPipeline.runCheckpointed(docs, cat, inputLineage = "corpus200")
    val rows = cat.metrics().count()
    assert(rows > 0)
    DedupPipeline.runCheckpointed(docs, cat, inputLineage = "corpus200")
    assert(cat.metrics().count() == rows)
  }

  test("the input's files are its lineage; an input with no files and no lineage recomputes") {
    val base = Files.createTempDirectory("graft-ckpt-input").toString
    // one parquet path, rewritten with a larger corpus between runs
    val input = s"$base/docs"
    val cat = new Catalog(s"$base/catalog", spark)
    Corpus.docs(spark, 200).toDF().write.parquet(input)
    val small = DedupPipeline.runCheckpointed(spark.read.parquet(input), cat).clusters.count()
    Corpus.docs(spark, 600).toDF().write.mode("overwrite").parquet(input)
    val docs600 = spark.read.parquet(input)
    val big = DedupPipeline.runCheckpointed(docs600, cat).clusters
    assert(big.count() > small)
    assert(sameClusters(big, DedupPipeline.run(docs600).clusters))

    // in-memory docs and no inputLineage: nothing to resume by
    val mem = new Catalog(s"$base/mem", spark)
    DedupPipeline.runCheckpointed(Corpus.docs(spark, 200).toDF(), mem)
    val mem600 = Corpus.docs(spark, 600).toDF()
    assert(sameClusters(DedupPipeline.runCheckpointed(mem600, mem).clusters,
      DedupPipeline.run(mem600).clusters))
  }
}
