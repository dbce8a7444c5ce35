package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.Catalog
import graft.cluster.ConnectedComponents
import graft.engine.{DedupEngine, DedupResult}
import graft.functions.Digests
import graft.near.{MinHashLSH, SimHash}
import graft.pipeline.DedupPipeline
import graft.report.Urls

/** The batch pipelines recomposed from the same public calls, with the
  * same arguments, that `DedupPipeline.run` and `runCheckpointed` make
  * under the default config. Each layer's output is materialized inside
  * its span, so a span measures only that layer's work. Counters that
  * need extra jobs are taken by `Traced.finish` after the op's clock
  * has stopped. The benchmark checks that these compositions return
  * the shipped clusters.
  */
object Traced {

  final class Op(val tracer: Tracer) {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    val after = mutable.ArrayBuffer.empty[() => Unit]

    /** Persist `df` and count it (the count is the materializing job);
      * the count is `layer`'s rows_out.
      */
    def materialize(layer: String, df: DataFrame): DataFrame = {
      val m = df.persist()
      tracer.add(layer, "rows_out", m.count().toDouble)
      held += m
      m
    }
  }

  /** Take the post-op counters, then release everything the op held. */
  def finish(o: Op): Unit = {
    o.after.foreach(_())
    o.held.foreach(_.unpersist())
  }

  private final class EdgeDag(val exact: DedupResult, val edges: DataFrame,
      val mhOut: DataFrame, val shOut: DataFrame)

  private def requireDefault(cfg: DedupPipeline.Config): Unit =
    require(cfg.useMinHash && cfg.useSimHash && !cfg.useSubstring && !cfg.useLongRun &&
      !cfg.ignoreEmpty && cfg.simhash.shingleK == cfg.minhash.shingleK,
      "the traced composition follows the default pipeline config only")

  /** identity, exact, signatures, MinHash candidates and verify, SimHash. */
  private def edgeDag(valid: DataFrame, cfg: DedupPipeline.Config, o: Op): EdgeDag = {
    val t = o.tracer
    val canon = t.span("identity") {
      val aliasEdges = o.materialize("alias", valid
        .select(Urls.normalize(col("url")).as("identity"), col("url"))
        .join(valid
          .select(Urls.normalize(col("url")).as("identity"), col("url"))
          .groupBy(col("identity")).agg(min(col("url")).as("canonical")),
          Seq("identity"))
        .filter(col("url") =!= col("canonical"))
        .select(col("url").as("src"), col("canonical").as("dst"), lit("alias").as("kind")))
      (aliasEdges, o.materialize("identity",
        valid.join(aliasEdges.select(col("src").as("url")), Seq("url"), "left_anti")))
    }
    val (aliasEdges, canonDocs) = canon
    val (exact, exactEdges) = t.span("exact") {
      val ex = DedupEngine.run(canonDocs, "url", Digests.cascade(col("html"), cfg.algs))
      (ex, o.materialize("exact", ex.assignments
        .filter(col("id") =!= col("block_id"))
        .select(col("id").as("src"), col("block_id").as("dst"), lit("exact").as("kind"))))
    }
    val textDocs = canonDocs.filter(trim(col("text")) =!= "")
    val sigs = t.span("signatures") {
      o.materialize("signatures", MinHashLSH.signatures(textDocs, cfg.minhash))
    }
    val mhOut = t.span("mh_candidates") {
      o.materialize("mh_candidates", MinHashLSH.candidatesAndSkips(sigs, cfg.minhash))
    }
    val cand = mhOut.filter(col("src").isNotNull).select("src", "dst").distinct()
    val mh = t.span("mh_verify") {
      o.materialize("mh_verify", MinHashLSH.verifyCandidates(cand, sigs, cfg.minhash)
        .withColumn("kind", lit("minhash")).drop("jaccard"))
    }
    val shOut = t.span("simhash") {
      o.materialize("simhash", SimHash.edgesAndSkips(
        SimHash.fingerprintsFromShingles(sigs, cfg.simhash), cfg.simhash))
    }
    val sh = shOut.filter(col("src").isNotNull).select("src", "dst").distinct()
      .withColumn("kind", lit("simhash"))
    o.after += { () =>
      def skipped(df: DataFrame): Double = df.filter(col("src").isNull)
        .agg(coalesce(sum(col("skipped")), lit(0L))).head().getLong(0).toDouble
      t.add("mh_candidates", "skipped_rows", skipped(mhOut))
      t.add("simhash", "skipped_rows", skipped(shOut))
      val nCand = cand.count()
      t.add("mh_verify", "yield", if (nCand == 0) 0.0 else mh.count().toDouble / nCand)
    }
    val edges = Seq(aliasEdges, exactEdges, mh, sh)
      .map(_.select("src", "dst", "kind")).reduce(_ unionByName _)
    new EdgeDag(exact, edges, mhOut, shOut)
  }

  private def clustersOf(valid: DataFrame, cc: DataFrame): DataFrame =
    valid.select(col("url"))
      .join(cc, valid("url") === cc("id"), "left")
      .select(col("url"), coalesce(col("component"), col("url")).as("cluster_id"))

  /** `DedupPipeline.run` followed by the `--format clusters` output
    * written as parquet to `out`.
    */
  def run(docsRaw: DataFrame, cfg: DedupPipeline.Config, out: String, o: Op): Unit = {
    requireDefault(cfg)
    val t = o.tracer
    t.span("op") {
      val quarantined = docsRaw.filter(col("text").isNull)
      val valid = docsRaw.filter(col("text").isNotNull)
      val dag = edgeDag(valid, cfg, o)
      val allEdges = dag.edges.localCheckpoint()
      val skippedCounts = Seq("minhash" -> dag.mhOut, "simhash" -> dag.shOut)
        .map { case (k, df) => df.filter(col("src").isNull)
          .agg(coalesce(sum(col("skipped")), lit(0L)).as("skipped"))
          .select(lit(k).as("stage"), col("skipped")) }
        .reduce(_ unionByName _)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val cc = t.span("cc") {
        o.materialize("cc", ConnectedComponents.run(allEdges.select("src", "dst")))
      }
      t.span("sink") {
        val result = new DedupPipeline.Result(clustersOf(valid, cc), dag.exact, allEdges,
          quarantined, () => docsRaw.count(), skippedCounts)
        graft.Main.formatOutput(docsRaw, result, "clusters", None).write.parquet(out)
      }
      o.after += { () =>
        t.add("cc", "edges_in", allEdges.count().toDouble)
        t.add("sink", "rows_out", docsRaw.sparkSession.read.parquet(out).count().toDouble)
      }
    }
  }

  /** `DedupPipeline.runCheckpointed` into `catalog`; returns the staged
    * clusters.
    */
  def runCheckpointed(docsRaw: DataFrame, catalog: Catalog, cfg: DedupPipeline.Config,
      o: Op): DataFrame = {
    requireDefault(cfg)
    val t = o.tracer
    t.span("op") {
      val base = s"|algs=${cfg.algs.mkString(",")}|ie=${cfg.ignoreEmpty}" +
        s"|mh=${cfg.useMinHash}:${cfg.minhash}|sh=${cfg.useSimHash}:${cfg.simhash}" +
        s"|sub=${cfg.useSubstring}:${cfg.substring}" +
        s"|lr=${cfg.useLongRun}:${cfg.longRun}"
      val valid = docsRaw.filter(col("text").isNotNull)
      val staged = t.span("catalog") {
        catalog.stage("edges", base) {
          val dag = edgeDag(valid, cfg, o)
          def skipRow(df: DataFrame, kind: String): DataFrame = df
            .filter(col("src").isNull)
            .agg(coalesce(sum(col("skipped")), lit(0L)).as("skipped"))
            .select(lit(null).cast("string").as("src"), lit(null).cast("string").as("dst"),
              lit(s"skip:$kind").as("kind"), col("skipped"))
          Seq(dag.edges.withColumn("skipped", lit(0L)),
            skipRow(dag.mhOut, "minhash"), skipRow(dag.shOut, "simhash"))
            .reduce(_ unionByName _)
        }
      }
      val edges = staged.filter(!col("kind").startsWith("skip:")).drop("skipped")
      val skippedCounts = staged.filter(col("kind").startsWith("skip:"))
        .select(col("kind"), col("skipped")).collect()
        .map(r => r.getString(0).stripPrefix("skip:") -> r.getLong(1)).toMap
      val clusters = t.span("catalog") {
        catalog.stage("clusters", base + "|edges") {
          val cc = t.span("cc") {
            o.materialize("cc", ConnectedComponents.run(edges.select("src", "dst")))
          }
          t.span("sink") { o.materialize("sink", clustersOf(valid, cc)) }
        }
      }
      t.span("catalog") {
        catalog.stage("deduped_docs", base + "|clusters", Seq("warc_day", "lang")) {
          valid
            .join(clusters.filter(col("url") === col("cluster_id")).select("url"), "url")
            .withColumn("warc_day", to_date(col("warc_ts")))
        }
      }
      catalog.recordMetrics("clusters", Map(
        "clusters" -> clusters.select(col("cluster_id")).distinct().count(),
        "edges" -> edges.count()) ++
        skippedCounts.map { case (k, v) => s"skipped_bucket_rows_$k" -> v })
      o.after += { () => t.add("cc", "edges_in", edges.count().toDouble) }
      clusters
    }
  }
}
