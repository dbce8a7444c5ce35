package graft.pipeline

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.Catalog
import graft.cluster.ConnectedComponents
import graft.engine.{DedupEngine, DedupResult}
import graft.functions.Digests
import graft.near.{MinHashLSH, SimHash}
import graft.report.{Report, Urls}
import graft.substring.SubstringDedup

/** The flagship end-to-end pipeline (north rule): exact content-hash
  * grouping (reference semantics, stage 1) + MinHash/LSH and SimHash
  * near-dup edges + alias (identity) edges → large-star/small-star
  * connected components → cluster assignments.
  *
  * Dataflow (every arrow a narrow, declarative DataFrame transform —
  * Catalyst plans the physical side):
  *
  *   docs ─ quarantine(F4) ─ identity pre-pass(F3) ─┬─ exact cascade (A1) ─ star edges
  *                                                  ├─ MinHash/LSH [EXT] ─ verified edges
  *                                                  ├─ SimHash [EXT] ───── verified edges
  *                                                  ├─ substring windows [EXT, opt-in]
  *                                                  └─ long runs [EXT, opt-in]
  *   all edges ∪ alias edges → connected components → (url, cluster_id)
  *
  * The edge DAG is written once (`EdgeDag`): `run` materializes its
  * rows with a `localCheckpoint`; `runCheckpointed` is `run`'s stages
  * wrapped in `Catalog.stage` (edges, clusters, deduped corpus).
  */
object DedupPipeline {

  /** Substring-stage knobs (Lee et al.-style duplicated-window edges:
    * docs sharing ≥ minShared duplicated w-token windows are linked).
    * Off by default — it links PARTIAL overlaps (boilerplate, quoted
    * passages) that whole-doc near-dup stages rightly ignore, so it is
    * a policy choice, not a strictness increment.
    */
  case class SubstringConfig(
      w: Int = 20,
      stride: Int = 10,
      minShared: Int = 2,
      maxDocsPerWindow: Int = 50,
      /** > 1 spreads a corpus-dominating window hash over this many
        * round-1 tasks (shared CappedGroups.saltedDrain mechanism).
        */
      salts: Int = 1)

  /** Long-run stage knobs (Lee et al.'s policy: link docs sharing one
    * exact run of ≥ minLen chars, any alignment, any partition
    * placement — winnowing candidates + exact LCS verify).
    */
  case class LongRunConfig(
      minLen: Int = 60,
      maxDocsPerGram: Int = 50,
      /** > 1 spreads a corpus-dominating winnow gram over this many
        * round-1 tasks (shared CappedGroups.saltedDrain mechanism).
        */
      salts: Int = 1)

  case class Config(
      algs: Seq[String] = Seq("filesize", "initial_xxhash", "sha"),
      ignoreEmpty: Boolean = false,
      useMinHash: Boolean = true,
      useSimHash: Boolean = true,
      useSubstring: Boolean = false,
      useLongRun: Boolean = false,
      minhash: MinHashLSH.Config = MinHashLSH.Config(),
      simhash: SimHash.Config = SimHash.Config(),
      substring: SubstringConfig = SubstringConfig(),
      longRun: LongRunConfig = LongRunConfig())

  final class Result(
      val clusters: DataFrame, // (url, cluster_id) — every input url
      val exact: DedupResult,
      val edges: DataFrame, // (src, dst, kind)
      val quarantined: DataFrame,
      docsInThunk: () => Long,
      /** Rows dropped by over-cap LSH/SimHash buckets (SCALE.md
        * invariant 3: capped AND surfaced, never silent). Emitted as a
        * side output of the candidate-generation pass itself — no
        * second shingling scan.
        */
      val skippedBucketRows: Map[String, Long] = Map.empty,
      /** checkpointed runs only: the deduped corpus (one row per
        * cluster canonical), staged with the north rule's
        * (days(warc_ts), lang) physical layout
        */
      val dedupedDocs: Option[DataFrame] = None) {
    lazy val docsIn: Long = docsInThunk()
    lazy val quarantinedCount: Long = quarantined.count()
    /** duplicates-only tab report over final clusters (reference P2). */
    lazy val report: DataFrame = Report.duplicateReport(
      clusters.groupBy("cluster_id").agg(sort_array(collect_list(col("url"))).as("members")))
    lazy val summary: DataFrame = Report.summary(
      clusters.groupBy("cluster_id").agg(collect_list(col("url")).as("members")))

    /** Quality keep-policy over the final clusters: one row per
      * cluster — (cluster_id, keep_id = best-scoring member url,
      * best_score) — the CCNet/RefinedWeb-style alternative to the
      * min-id canonical (ties → min url). `scored` supplies
      * (urlCol, scoreCol) for every clustered url; score must be
      * non-null/non-NaN. One map-side-combinable aggregate
      * (graft.cluster.KeepBest), no window sort.
      */
    def keepBestCanonical(scored: DataFrame, urlCol: String = "url",
        scoreCol: String = "score"): DataFrame =
      graft.cluster.KeepBest.representatives(
        clusters.join(
          scored.select(col(urlCol).as("url"), col(scoreCol).as("__q")), "url"),
        Seq("cluster_id"), col("__q"), "url")
  }

  /** F3 identity pre-pass: one canonical row per normalized url (the
    * alphabetical min, the reference's resolve_hardlinks rule); alias
    * edges keep the dropped members clustered with their canonical.
    * Returns (alias edges (src, dst, kind), canonical docs).
    *
    * The pass runs ONCE: the (small) loser→canonical set is a lazy
    * localCheckpoint, cached on first use inside the first consuming
    * job (the broadcast build of the canonical anti-join), and the
    * canonical docs are a broadcast anti-join of the source scan
    * against its src column. Page bytes are never cached, only alias
    * urls. groupBy+join min, not a window (de-skew: a hot identity
    * would sort its whole alias group in one window task).
    */
  private[graft] def identityPass(valid: DataFrame): (DataFrame, DataFrame) = {
    val keyed = valid.select(Urls.normalize(col("url")).as("identity"), col("url"))
    val aliasEdges = keyed
      .join(keyed.groupBy(col("identity")).agg(min(col("url")).as("canonical")),
        Seq("identity"))
      .filter(col("url") =!= col("canonical"))
      .select(col("url").as("src"), col("canonical").as("dst"), lit("alias").as("kind"))
      .localCheckpoint(false)
    (aliasEdges, valid.join(aliasEdges.select(col("src").as("url")), Seq("url"), "left_anti"))
  }

  /** The edge DAG that `run` and `runCheckpointed` share. Nothing runs
    * until `rows` is materialized: a resumed `runCheckpointed` never
    * builds the near-dup stages, and `exact` costs only what its
    * consumers force.
    */
  private final class EdgeDag(docsRaw: DataFrame, cfg: Config) {
    // F4 quarantine: undecodable rows (text null) are counted and routed
    // out, never silently dropped (Files.pm:229-233, Files.t:290-299)
    val quarantined: DataFrame = docsRaw.filter(col("text").isNull)
    val valid: DataFrame = {
      val v = docsRaw.filter(col("text").isNotNull)
      if (cfg.ignoreEmpty) v.filter(octet_length(col("html")) > 0) else v
    }
    private lazy val (aliasEdges, canon) = identityPass(valid)
    // stage 1: exact content-hash cascade (reference semantics)
    lazy val exact: DedupResult =
      DedupEngine.run(canon, "url", Digests.cascade(col("html"), cfg.algs))

    private val persisted = mutable.ArrayBuffer.empty[DataFrame]
    private def held(df: DataFrame): DataFrame = { val p = df.persist(); persisted += p; p }

    /** Unpersist every frame `rows` persisted; callers run it in a
      * `finally`, so no cached frame outlives the call, on error paths
      * too.
      */
    def release(): Unit = persisted.foreach(_.unpersist())

    /** All edges (src, dst, kind, skipped = 0) — alias, exact, then the
      * near-dup stages — plus one row per enabled near-dup stage with
      * kind = 'skip:<stage>', null src/dst and its over-cap bucket rows
      * in `skipped`. The skip metric is part of the materialized output,
      * so a RESUME reads it back instead of re-shingling the corpus.
      */
    lazy val rows: DataFrame = {
      val exactEdges = exact.assignments
        .filter(col("id") =!= col("block_id"))
        .select(col("id").as("src"), col("block_id").as("dst"), lit("exact").as("kind"))

      // [EXT] near-dup stages over non-empty canonical text. ONE
      // shingling/signature pass feeds MinHash banding, verification,
      // SimHash fingerprints AND the skip metrics (tokenize+hash is the
      // dominant map-side cost); SimHash shares MinHash's shingles only
      // when both stages use the same shingleK — a differing
      // cfg.simhash.shingleK gets its own pass instead of silently
      // inheriting the wrong feature universe.
      val textDocs = canon.filter(trim(col("text")) =!= "")
      val sameK = cfg.simhash.shingleK == cfg.minhash.shingleK
      val sigsMh =
        if (cfg.useMinHash || (cfg.useSimHash && sameK))
          Some(held(MinHashLSH.signatures(textDocs, cfg.minhash)))
        else None
      val sigsSh =
        if (!cfg.useSimHash) None
        else if (sameK) sigsMh
        else Some(held(MinHashLSH.signatures(textDocs,
          cfg.minhash.copy(shingleK = cfg.simhash.shingleK))))

      // per stage: candidate pairs + over-cap skip rows (src null) from
      // one streamed pass, held so its edges and its skip row share it,
      // and the step from (src, dst) candidates to edges. [EXT] opt-in
      // substring stage: duplicated-window edges link docs with long
      // shared runs that whole-doc similarity misses. [EXT] opt-in
      // long-run stage (Lee et al. policy): one exact shared run
      // ≥ minLen chars links the pair, verified by LCS.
      val stages: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
        Option.when(cfg.useMinHash)(("minhash",
          MinHashLSH.candidatesAndSkips(sigsMh.get, cfg.minhash),
          (c: DataFrame) =>
            MinHashLSH.verifyCandidates(c.distinct(), sigsMh.get, cfg.minhash).drop("jaccard"))),
        sigsSh.map(sg => ("simhash",
          SimHash.edgesAndSkips(SimHash.fingerprintsFromShingles(sg, cfg.simhash), cfg.simhash),
          (c: DataFrame) => c.distinct())),
        Option.when(cfg.useSubstring)(("substring",
          SubstringDedup.edgesAndSkips(textDocs, cfg.substring.w, cfg.substring.stride,
            cfg.substring.minShared, maxDocsPerWindow = cfg.substring.maxDocsPerWindow,
            salts = cfg.substring.salts),
          (c: DataFrame) => c)),
        Option.when(cfg.useLongRun)(("longrun",
          SubstringDedup.longRunEdgesAndSkips(textDocs, cfg.longRun.minLen,
            maxDocsPerGram = cfg.longRun.maxDocsPerGram, salts = cfg.longRun.salts),
          (c: DataFrame) => c))
      ).flatten.map { case (k, out, toEdges) => (k, held(out), toEdges) }

      val edgeRows = (Seq(aliasEdges, exactEdges) ++ stages.map { case (k, out, toEdges) =>
          toEdges(out.filter(col("src").isNotNull).select("src", "dst"))
            .withColumn("kind", lit(k)) })
        .map(_.select("src", "dst", "kind").withColumn("skipped", lit(0L)))
        .reduce(_ unionByName _)
      val skipRows = stages.map { case (k, out, _) => out
        .filter(col("src").isNull)
        .agg(coalesce(sum(col("skipped")), lit(0L)).as("skipped"))
        .select(lit(null).cast("string").as("src"), lit(null).cast("string").as("dst"),
          lit(s"skip:$k").as("kind"), col("skipped")) }
      (edgeRows +: skipRows).reduce(_ unionByName _)
    }
  }

  /** Materialized edge rows → (edges (src, dst, kind), skippedBucketRows
    * by stage); one collect of the skip rows.
    */
  private def splitSkips(staged: DataFrame): (DataFrame, Map[String, Long]) = {
    val skip = col("kind").startsWith("skip:")
    (staged.filter(!skip).drop("skipped"),
      staged.filter(skip).select(col("kind"), col("skipped")).collect()
        .map(r => r.getString(0).stripPrefix("skip:") -> r.getLong(1)).toMap)
  }

  /** (url, cluster_id) for every valid url; singletons keep their own id. */
  private def clustersOf(valid: DataFrame, cc: DataFrame): DataFrame =
    valid.select(col("url"))
      .join(cc, valid("url") === cc("id"), "left")
      .select(col("url"), coalesce(col("component"), col("url")).as("cluster_id"))

  def run(docsRaw: DataFrame, cfg: Config = Config()): Result = {
    val dag = new EdgeDag(docsRaw, cfg)
    // ONE materialization of the whole edge dag (r2 VERDICT #2); the
    // skip sums are read back from it
    val staged = try dag.rows.localCheckpoint() finally dag.release()
    val (edges, skipped) = splitSkips(staged)
    // [EXT] connected components
    val cc = ConnectedComponents.run(edges.select("src", "dst"))
    new Result(clustersOf(dag.valid, cc), dag.exact, edges, dag.quarantined,
      () => docsRaw.count(), skipped)
  }

  /** Checkpointed variant (north rule: every stage materializes with
    * lineage so the pipeline resumes mid-run without recompute): `run`'s
    * stages wrapped in `Catalog.stage` — the edge rows, the clusters
    * and the deduped corpus. The input lineage is `inputLineage` plus
    * the files `docsRaw` scans; with neither, every stage recomputes.
    * The run that computes the clusters records their metrics in the
    * catalog's metrics table (S5/S6).
    */
  def runCheckpointed(docsRaw: DataFrame, catalog: Catalog,
      cfg: Config = Config(), inputLineage: String = ""): Result = {
    val input = Seq(inputLineage, Catalog.inputFiles(docsRaw)).filter(_.nonEmpty).mkString("|")
    val base = (if (input.isEmpty) s"unknown:${java.util.UUID.randomUUID}" else input) +
      s"|algs=${cfg.algs.mkString(",")}|ie=${cfg.ignoreEmpty}" +
      s"|mh=${cfg.useMinHash}:${cfg.minhash}|sh=${cfg.useSimHash}:${cfg.simhash}" +
      s"|sub=${cfg.useSubstring}:${cfg.substring}" +
      s"|lr=${cfg.useLongRun}:${cfg.longRun}"
    val dag = new EdgeDag(docsRaw, cfg)
    // stage 1: the edge rows with their skip rows (resume skips
    // digesting/shingling entirely)
    val staged = try catalog.stage("edges", base)(dag.rows) finally dag.release()
    val (edges, skipped) = splitSkips(staged)
    // stage 2: connected components over the staged edges
    var computed = false
    val clusters = catalog.stage("clusters", base + "|edges") {
      computed = true
      clustersOf(dag.valid, ConnectedComponents.run(edges.select("src", "dst")))
    }
    // stage 3: the deduped corpus itself (one row per cluster
    // canonical), laid out by the north rule's (days(warc_ts), lang)
    // partitioning — partition pruning serves day- or language-scoped
    // downstream reads without a full scan
    val deduped = catalog.stage("deduped_docs", base + "|clusters",
      Seq("warc_day", "lang")) {
      dag.valid
        .join(clusters.filter(col("url") === col("cluster_id")).select("url"), "url")
        .withColumn("warc_day", to_date(col("warc_ts")))
    }
    // a resume appends no duplicate rows and runs no bookkeeping job
    if (computed) catalog.recordMetrics("clusters", Map(
      "clusters" -> clusters.select(col("cluster_id")).distinct().count(),
      "edges" -> edges.count()) ++
      skipped.map { case (k, v) => s"skipped_bucket_rows_$k" -> v })
    new Result(clusters, dag.exact, edges, dag.quarantined, () => docsRaw.count(),
      skipped, Some(deduped))
  }
}
