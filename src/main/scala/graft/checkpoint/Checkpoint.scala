package graft.checkpoint

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Using
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The one table store (north rule: every stage materializes with
  * lineage so the pipeline resumes mid-run without recompute): table
  * `name` is the parquet directory `root/name` on the Hadoop
  * `FileSystem`; Iceberg's commit model on plain Parquet (the build
  * ships no Iceberg jar). Commit: write `name_next` with a `_manifest` (schema,
  * then the full lineage), demote `name` to `name_prev`, promote
  * `name_next`, drop `name_prev`. A crash mid-write leaves `name` and
  * its lineage untouched; one between demote and promote leaves no
  * `name`, and the next probe promotes the `name_next` that has a
  * `_SUCCESS`. Append-only tables are written in place, unmanifested.
  */
class Catalog(val root: String, spark: SparkSession) {

  private lazy val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def path(name: String) = new Path(root, name)
  private def next(name: String) = new Path(root, s"${name}_next")
  private def prev(name: String) = new Path(root, s"${name}_prev")
  private def readString(p: Path) =
    Using.resource(fs.open(p))(in => new String(in.readAllBytes(), UTF_8))
  private def writeString(p: Path, s: String): Unit =
    Using.resource(fs.create(p, true))(_.write(s.getBytes(UTF_8)))
  private def rename(src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new java.io.IOException(s"rename $src -> $dst failed")

  /** `name`'s directory, after finishing a commit interrupted before its promote. */
  private def committed(name: String): Path = {
    if (!fs.exists(path(name)) && fs.exists(new Path(next(name), "_SUCCESS")))
      rename(next(name), path(name))
    path(name)
  }

  /** Whether `name` holds a committed table (its writing job finished). */
  def exists(name: String): Boolean = fs.exists(new Path(committed(name), "_SUCCESS"))

  /** `name` with an inferred schema (one parquet footer job). */
  def read(name: String): DataFrame = spark.read.parquet(committed(name).toString)

  /** `name` read with a declared schema: no inference job. */
  def read(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path(name).toString)

  /** Replace `name` with `df` through the commit (class doc). */
  def commit(name: String, df: DataFrame, lineage: String = "",
      partitionBy: Seq[String] = Nil): Unit = {
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(next(name).toString)
    writeString(new Path(next(name), "_manifest"), df.schema.json + "\n" + lineage)
    fs.delete(prev(name), true)
    if (fs.exists(path(name))) rename(path(name), prev(name))
    rename(next(name), path(name))
    fs.delete(prev(name), true)
  }

  /** Append `df`'s rows to the append-only table `name`. */
  def append(name: String, df: DataFrame): Unit =
    df.write.mode("append").parquet(path(name).toString)

  /** The value pinned at `name`: written by the first call, returned by later ones. */
  def pin(name: String, value: String): String =
    if (fs.exists(path(name))) readString(path(name)).trim
    else { writeString(path(name), value); value }

  /** Run-or-resume a stage: a manifest lineage equal to `lineage` (which
    * must change whenever the stage's inputs or config do) reads the
    * table back with the recorded schema, no inference job; anything
    * else computes and commits, laid out by `partitionBy`.
    */
  def stage(name: String, lineage: String, partitionBy: Seq[String] = Nil)(
      compute: => DataFrame): DataFrame = {
    val manifest = new Path(committed(name), "_manifest")
    val schema = Option.when(fs.exists(manifest))(readString(manifest).split("\n", 2)) match {
      case Some(Array(s, l)) if l == lineage => DataType.fromJson(s).asInstanceOf[StructType]
      case _ =>
        val df = compute
        commit(name, df, lineage, partitionBy)
        df.schema
    }
    read(name, schema)
  }

  /** Append a per-stage metrics row (S5/S6: the metrics sink). */
  def recordMetrics(stageName: String, metrics: Map[String, Long]): Unit = {
    import spark.implicits._
    append("_metrics", metrics.toSeq.toDF("metric", "value").withColumn("stage", lit(stageName)))
  }

  def metrics(): DataFrame = read("_metrics")

  /** Per-partition row counts of a stage output (north rule "per-partition lineage"). */
  def partitionCounts(df: DataFrame): DataFrame =
    df.withColumn("__part", spark_partition_id())
      .groupBy(col("__part")).count()
}

object Catalog {

  /** The catalog holding the table directory `dir`, and the table's name. */
  def ofTable(dir: String, spark: SparkSession): (Catalog, String) =
    (new Catalog(new Path(dir).getParent.toString, spark), new Path(dir).getName)

  /** "files=N:<SHA-256>" over the (path, length, mtime) of every file
    * `df` scans, from the listings its file indexes already hold; ""
    * when it scans none.
    */
  def inputFiles(df: DataFrame): String = {
    val files = df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location }
      .collect { case l: PartitioningAwareFileIndex => l.allFiles() }.flatten
      .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n").sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach(f => sha.update(f.getBytes(UTF_8)))
    if (files.isEmpty) "" else s"files=${files.size}:" + sha.digest().map(b => f"$b%02x").mkString
  }
}
