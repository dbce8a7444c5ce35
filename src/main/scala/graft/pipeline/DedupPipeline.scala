package graft.pipeline

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.checkpoint.Catalog
import graft.cluster.ConnectedComponents
import graft.engine.{DedupEngine, DedupResult}
import graft.functions.{Digests, DriverCollect}
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
  * rows once (the driver finisher's collect, else a
  * `localCheckpoint`); `runCheckpointed` is `run`'s stages
  * wrapped in `Catalog.stage` (edges, clusters, deduped corpus).
  *
  * The edge DAG picks its plan from the measured input size ("To
  * Partition, or Not to Partition", SIGMOD'21), as
  * `ConnectedComponents` and `IncrementalNearDup` do: when the valid
  * docs' urls, cascade keys and shingles fit
  * `DriverCollect.NearDupBound`, one bounded collect brings them to the
  * driver with each text doc's MinHash signature and SimHash
  * fingerprint, computed in the collect's task; the driver runs the
  * identity pass, the exact assignments, MinHash banding, drain and
  * verify, and SimHash probes in plain Scala with the distributed
  * stages' own rules, and returns the alias, exact, near-dup and skip
  * rows as one local frame; above the
  * bound the identity checkpoint, the exact cascade and the near-dup
  * drains run distributed. Both plans yield the same rows
  * (NearDupGateSpec); the opt-in substring and long-run stages are
  * distributed under both. When the driver decided every edge row
  * (`EdgeDag.finished`), the run finishes on the driver from those
  * rows and the shipped urls: skip totals, edge count, connected
  * components (`ConnectedComponents.unionFind`), the clusters as a
  * local frame, the deduped corpus as one filtered scan of the valid
  * docs, and the metrics. `run` is then the collect alone and a fresh
  * `runCheckpointed` the collect, three commits and the metrics
  * append; otherwise CC, clusters and the deduped corpus are
  * distributed plans over the materialized edges.
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
        * round-1 tasks (CappedGroups.drainGroups).
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
        * round-1 tasks (CappedGroups.drainGroups).
        */
      salts: Int = 1)

  case class Config(
      algs: Seq[String] = Digests.DefaultAlgs,
      ignoreEmpty: Boolean = false,
      useMinHash: Boolean = true,
      useSimHash: Boolean = true,
      useSubstring: Boolean = false,
      useLongRun: Boolean = false,
      minhash: MinHashLSH.Config = MinHashLSH.Config(),
      simhash: SimHash.Config = SimHash.Config(),
      substring: SubstringConfig = SubstringConfig(),
      longRun: LongRunConfig = LongRunConfig()) {
    // SimHash fingerprints the shingles MinHash's signature pass
    // already holds: one shingling pass per run
    require(!useSimHash || simhash.shingleK == minhash.shingleK,
      s"simhash.shingleK (${simhash.shingleK}) must equal minhash.shingleK " +
        s"(${minhash.shingleK}) while SimHash is on: both stages share one shingling pass")
  }

  /** A run's outputs. From [[runCheckpointed]], `clusters`, `edges`
    * and `dedupedDocs` are lazy reads of the catalog's committed
    * tables: a later run into the same catalog that recomputes a stage
    * replaces their files, and reading this `Result` afterwards fails
    * with `FAILED_READ_FILE.FILE_NOT_EXIST`. Collect or persist what
    * must outlive the next run.
    */
  final class Result(
      val clusters: DataFrame, // (url, cluster_id) — every input url
      exact0: => DedupResult,
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
    /** The distributed exact cascade (digest and collision counts),
      * built on first use: a run whose edge rows were decided on the
      * driver plans it only for a consumer that asks.
      */
    lazy val exact: DedupResult = exact0
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
    * builds it, and `exact` costs only what its consumers force.
    * `localBelow` is the driver gate of `rows`; 0 forces the
    * distributed plan for any non-empty input.
    */
  private[pipeline] final class EdgeDag(docsRaw: DataFrame, cfg: Config,
      localBelow: Int = DriverCollect.NearDupBound) {
    // F4 quarantine: undecodable rows (text null) are counted and routed
    // out, never silently dropped (Files.pm:229-233, Files.t:290-299)
    val quarantined: DataFrame = docsRaw.filter(col("text").isNull)
    val valid: DataFrame = {
      val v = docsRaw.filter(col("text").isNotNull)
      if (cfg.ignoreEmpty) v.filter(octet_length(col("html")) > 0) else v
    }
    private val cascade = Digests.cascade(col("html"), cfg.algs)
    private lazy val (aliasEdges, canon) = identityPass(valid)
    // stage 1: exact content-hash cascade (reference semantics); the
    // distributed plan, which report consumers (digest and collision
    // counts) force even when `rows` was decided on the driver
    lazy val exact: DedupResult = DedupEngine.run(canon, "url", cascade)

    private val persisted = mutable.ArrayBuffer.empty[DataFrame]
    private def held(df: DataFrame): DataFrame = { val p = df.persist(); persisted += p; p }

    /** Unpersist every frame `rows` persisted; callers run it in a
      * `finally`, so no cached frame outlives the call, on error paths
      * too.
      */
    def release(): Unit = persisted.foreach(_.unpersist())

    /** The driver finisher's values (`edgesLocally`), None over
      * `localBelow`; `rows` forces them.
      */
    private lazy val decided: Option[Decided] = edgesLocally()

    /** `rows` as the driver finisher's values when they are the whole
      * of it (under `localBelow`, no opt-in stage on), else None. Runs
      * the one bounded collect that `rows` would run, so a run that
      * takes this path runs no other job for its edge rows.
      */
    lazy val finished: Option[Decided] =
      if (cfg.useSubstring || cfg.useLongRun) None else decided

    /** All edges (src, dst, kind, skipped = 0) — alias, exact, then the
      * near-dup stages — plus one row per enabled near-dup stage with
      * kind = 'skip:<stage>', null src/dst and its over-cap bucket rows
      * in `skipped`. The skip metric is part of the materialized output,
      * so a RESUME reads it back instead of re-shingling the corpus.
      *
      * The alias, exact, MinHash and SimHash rows take one of two
      * plans, chosen from the measured input size, with the same rows:
      * when the valid docs fit `localBelow` (a doc weighs one plus its
      * key bytes, plus its band count and shingle count when it is a
      * text doc with a url and a near-dup stage is on), building `rows`
      * runs ONE bounded collect of (url, identity, cascade keys,
      * text flag, shingles, signature, fingerprint) and the driver
      * decides the identity pass, the exact assignments and both
      * near-dup stages, their skip totals included, into one local
      * frame; above it they are the distributed identity checkpoint,
      * exact cascade and near-dup drains over one held signature pass.
      * The opt-in substring and long-run stages are distributed under
      * either plan.
      */
    lazy val rows: DataFrame = {
      val local = decided.map(d => localFrame(d.rows, EdgeRowSchema))
      val distributed = local.isEmpty
      // [EXT] near-dup stages over the canonical docs with a url and
      // non-empty text (a null id can be no edge end, and the in-bucket
      // emits order ids). ONE shingling/signature pass feeds MinHash
      // banding, verification, SimHash fingerprints AND the skip
      // metrics (tokenize+hash is the dominant map-side cost); `Config`
      // pins SimHash to MinHash's shingleK, so both stages read the
      // same feature universe.
      lazy val textDocs = canon.filter(trim(col("text")) =!= "" && col("url").isNotNull)
      lazy val sigs = held(MinHashLSH.signatures(textDocs, cfg.minhash))
      // null-tolerant on purpose: from a bare `id =!= block_id`,
      // constraint inference derives `isnotnull(id)` and pushes it under
      // the assignments' probe side only, which splits the shared digest
      // exchange in two (every page digested twice). A null id still
      // yields no edge.
      def exactEdges = exact.assignments
        .filter(coalesce(col("id") =!= col("block_id"), lit(false)))
        .select(col("id").as("src"), col("block_id").as("dst"), lit("exact").as("kind"))

      // per stage: candidate pairs + over-cap skip rows (src null) from
      // one streamed pass, held so its edges and its skip row share it,
      // and the step from (src, dst) candidates to edges. [EXT] opt-in
      // substring stage: duplicated-window edges link docs with long
      // shared runs that whole-doc similarity misses. [EXT] opt-in
      // long-run stage (Lee et al. policy): one exact shared run
      // ≥ minLen chars links the pair, verified by LCS.
      val stages: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
        Option.when(cfg.useMinHash && distributed)(("minhash",
          MinHashLSH.candidatesAndSkips(sigs, cfg.minhash),
          (c: DataFrame) =>
            MinHashLSH.verifyCandidates(c.distinct(), sigs, cfg.minhash).drop("jaccard"))),
        Option.when(cfg.useSimHash && distributed)(("simhash",
          SimHash.edgesAndSkips(SimHash.fingerprintsFromShingles(sigs, cfg.simhash), cfg.simhash),
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

      val edgeRows = ((if (distributed) Seq(aliasEdges, exactEdges) else Nil) ++
          stages.map { case (k, out, toEdges) =>
            toEdges(out.filter(col("src").isNotNull).select("src", "dst"))
              .withColumn("kind", lit(k)) })
        .map(_.select("src", "dst", "kind").withColumn("skipped", lit(0L)))
      val skipRows = stages.map { case (k, out, _) => out
        .filter(col("src").isNull)
        .agg(coalesce(sum(col("skipped")), lit(0L)).as("skipped"))
        .select(lit(null).cast("string").as("src"), lit(null).cast("string").as("dst"),
          lit(s"skip:$k").as("kind"), col("skipped")) }
      (edgeRows ++ skipRows ++ local).reduce(_ unionByName _)
    }

    /** The edge DAG's driver finisher (see `rows`): the alias, exact,
      * MinHash and SimHash edge and skip rows with every valid row's
      * url, or None when the valid docs are over `localBelow`. One
      * bounded collect over `valid` ships each doc's url, its identity
      * key (`Urls.normalize`), its cascade keys
      * (`DedupEngine.keyColumns`, the distributed plan's key rule),
      * whether it is a text doc with a url and, for such a doc while a
      * near-dup stage is on, what the stages read of its shingles: the
      * shingles and MinHash signature while MinHash is on, the SimHash
      * fingerprint while SimHash is on. Only a row that ships is signed
      * and fingerprinted, in the collect's task, so a pass over the
      * bound costs digests and shingling, not MinHash or SimHash. Plain
      * Scala on the driver: the op plans no operator for these stages.
      */
    private def edgesLocally(): Option[Decided] = {
      // the task closures capture no EdgeDag
      val (mh, sh, n) = (cfg.minhash, cfg.simhash, cascade.length)
      val (signed, printed) = (cfg.useMinHash, cfg.useSimHash)
      val textDoc = trim(col("text")) =!= "" && col("url").isNotNull
      val shingles =
        if (cfg.useMinHash || cfg.useSimHash) when(textDoc, MinHashLSH.shingles(col("text"), mh))
        else lit(null).cast("array<bigint>")
      val shipped = valid.select(Seq(col("url"), Urls.normalize(col("url")), textDoc) ++
        DedupEngine.keyColumns(valid, cascade) :+ shingles: _*)
      DriverCollect.collectWithin(shipped, localBelow)(
        r => 1L + (3 until 3 + n).iterator.map(DriverCollect.bytesAt(r, _)).sum +
          (if (r.isNullAt(3 + n)) 0L else mh.bands + DriverCollect.sizeAt(r, 3 + n)),
        r => {
          val shingles = DriverCollect.longsAt(r, 3 + n)
          Shipped(DriverCollect.utf8At(r, 0), DriverCollect.utf8At(r, 1),
            (3 until 3 + n).map(DriverCollect.utf8At(r, _)), r.getBoolean(2),
            if (signed) shingles else null,
            if (signed && shingles != null) MinHashLSH.signatureOf(shingles, mh) else null,
            Option.when(printed && shingles != null && shingles.nonEmpty)(
              SimHash.simhash64(shingles, sh.seed)))
        })
        .map { case (docs, _) =>
          new Decided(decideLocally(docs, cfg), docs.map(d => Option(d.url).map(_.toString).orNull))
        }
    }

    private def localFrame(rows: Seq[Row], schema: StructType): DataFrame =
      docsRaw.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    /** The run's (url, cluster_id) frame over its materialized `edges`:
      * the finished run's clusters as a local frame (see `Decided`),
      * else connected components over `edges` (`clustersOf`).
      */
    def clusters(edges: DataFrame, finished: Option[Decided]): DataFrame = finished match {
      case Some(d) => localFrame(d.clusters.map { case (u, c) => Row(u, c) }, ClusterSchema)
      case None => clustersOf(valid, ConnectedComponents.run(edges.select("src", "dst")))
    }
  }

  /** The driver finisher's decision: the edge and skip rows of
    * `EdgeDag.rows` and the url of every shipped valid row, null urls
    * included. When those rows are the whole of `rows`
    * (`EdgeDag.finished`), a run finishes from them on the driver with
    * the distributed plan's rules: the skip totals and the edge count
    * are read off the rows, connected components run as
    * `ConnectedComponents.unionFind`, and the clusters, their
    * canonicals and their count follow. A doc that ships costs one
    * url, so this is within the collect's bound.
    */
  private[pipeline] final class Decided(val rows: Seq[Row], urls: Seq[String]) {
    private val (skipRows, edgeRows) = rows.partition(_.getString(2).startsWith("skip:"))

    /** `Result.skippedBucketRows` */
    val skipped: Map[String, Long] =
      skipRows.map(r => r.getString(2).stripPrefix("skip:") -> r.getLong(3)).toMap

    def edgeCount: Long = edgeRows.size

    /** (url, cluster_id) per shipped url, the rows `clustersOf` gives
      * over `ConnectedComponents.run`: the url's component, or the url
      * itself when it is no edge end (null for a null url).
      */
    lazy val clusters: Seq[(String, String)] = {
      val component = ConnectedComponents.unionFind(edgeRows.collect {
        case Row(src: String, dst: String, _, _) =>
          (UTF8String.fromString(src), UTF8String.fromString(dst))
      }).iterator.map { case (id, c) => id.toString -> c.toString }.toMap
      urls.map(u => (u, if (u == null) null else component.getOrElse(u, u)))
    }

    /** The urls that are their own cluster id: the deduped corpus's urls. */
    def canonicals: Set[String] = clusters.collect { case (u, c) if u != null && u == c => u }.toSet

    /** Distinct cluster ids, null (a null url's) counted once, as Spark's `distinct` does. */
    def clusterCount: Long = clusters.iterator.map(_._2).distinct.size.toLong
  }

  /** One valid doc as the edge DAG's driver finisher ships it: url,
    * identity key, cascade keys, whether it is a text doc (a url and
    * non-empty trimmed text), and for a text doc its shingles and
    * MinHash signature (null unless MinHash is on) and its SimHash
    * fingerprint (empty unless SimHash is on and it has a shingle).
    */
  private final case class Shipped(url: UTF8String, identity: UTF8String,
      keys: Seq[UTF8String], text: Boolean, shingles: Array[Long], sig: Array[Long],
      fp: Option[Long])

  /** The driver finisher's rows over every shipped valid doc, each step
    * the plain-Scala twin of a distributed one: the identity pass (one
    * alias row per doc whose url is not the least url, in UTF-8 byte
    * order as Spark's `min`, of its identity key; a null url has none),
    * the canonical docs (the rest, null urls kept, as the `left_anti`
    * join keeps them), their exact assignments
    * (`DedupEngine.assignmentsLocal`: one edge per canonical doc whose
    * non-null id is not its block's), then the enabled near-dup stages
    * over the canonical text docs with their skip totals.
    */
  private def decideLocally(docs: Seq[Shipped], cfg: Config): Seq[Row] = {
    val canonical = mutable.HashMap.empty[UTF8String, UTF8String]
    for (d <- docs if d.url != null)
      canonical.updateWith(d.identity) {
        case Some(c) if c.binaryCompare(d.url) <= 0 => Some(c)
        case _ => Some(d.url)
      }
    val (canon, aliases) = docs.partition(d => d.url == null || canonical(d.identity) == d.url)
    val alias = aliases.map(d => Row(d.url.toString, canonical(d.identity).toString, "alias", 0L))
    val exact = DedupEngine.assignmentsLocal(canon.map(d => (d.url, d.keys))).collect {
      case (id, block) if id != null && block != null && id != block =>
        Row(id.toString, block.toString, "exact", 0L)
    }
    val text = canon.filter(_.text)
    val near = Seq(
      Option.when(cfg.useMinHash)("minhash" -> MinHashLSH.edgesAndSkippedLocal(
        text.map(d => (d.url.toString, d.shingles, d.sig)), cfg.minhash)),
      Option.when(cfg.useSimHash)("simhash" -> SimHash.edgesAndSkippedLocal(
        text.flatMap(d => d.fp.map(d.url.toString -> _)), cfg.simhash))
    ).flatten.flatMap { case (k, (edges, skipped)) =>
      edges.map { case (src, dst) => Row(src, dst, k, 0L) } :+ Row(null, null, s"skip:$k", skipped)
    }
    alias ++ exact ++ near
  }

  /** The schema of `EdgeDag.rows`. */
  private val EdgeRowSchema = StructType(Seq(StructField("src", StringType),
    StructField("dst", StringType), StructField("kind", StringType, nullable = false),
    StructField("skipped", LongType, nullable = false)))

  /** The schema of a run's clusters (`clustersOf`). */
  private val ClusterSchema = StructType(Seq(StructField("url", StringType),
    StructField("cluster_id", StringType)))

  private val SkipPrefix = UTF8String.fromString("skip:")

  /** Materialized edge rows → (edges (src, dst, kind), skippedBucketRows
    * by stage, edge count). The counts are `finished`'s values when the
    * driver finisher decided the rows; otherwise one job folds each
    * partition's (kind, skipped) into its edge count and skip sums,
    * map-side, with no shuffle.
    */
  private def splitSkips(staged: DataFrame,
      finished: Option[Decided]): (DataFrame, Map[String, Long], Long) = {
    val edges = staged.filter(!col("kind").startsWith("skip:")).drop("skipped")
    finished match {
      case Some(d) => (edges, d.skipped, d.edgeCount)
      case None =>
        val parts = staged.select(col("kind"), col("skipped")).queryExecution.toRdd
          .mapPartitions { rows =>
            var n = 0L
            val skips = mutable.HashMap.empty[String, Long]
            rows.foreach { r =>
              val kind = r.getUTF8String(0)
              if (!kind.startsWith(SkipPrefix)) n += 1
              else skips.updateWith(kind.toString.stripPrefix("skip:"))(
                v => Some(v.getOrElse(0L) + r.getLong(1)))
            }
            Iterator.single((n, skips.toMap))
          }
          .collect()
        (edges, parts.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _), parts.map(_._1).sum)
    }
  }

  /** (url, cluster_id) for every valid url; singletons keep their own id. */
  private def clustersOf(valid: DataFrame, cc: DataFrame): DataFrame =
    valid.select(col("url"))
      .join(cc, valid("url") === cc("id"), "left")
      .select(col("url"), coalesce(col("component"), col("url")).as("cluster_id"))

  /** `localBelow` is the edge DAG's driver gate (`EdgeDag.rows`); 0
    * forces the distributed plan.
    */
  def run(docsRaw: DataFrame, cfg: Config = Config(),
      localBelow: Int = DriverCollect.NearDupBound): Result = {
    val dag = new EdgeDag(docsRaw, cfg, localBelow)
    // ONE materialization of the whole edge dag (r2 VERDICT #2): the
    // driver finisher's collect, else the rows' localCheckpoint
    val staged = try {
      if (dag.finished.isDefined) dag.rows else dag.rows.localCheckpoint()
    } finally dag.release()
    val (edges, skipped, _) = splitSkips(staged, dag.finished)
    // [EXT] connected components
    new Result(dag.clusters(edges, dag.finished), dag.exact, edges, dag.quarantined,
      () => docsRaw.count(), skipped)
  }

  /** Checkpointed variant (north rule: every stage materializes with
    * lineage so the pipeline resumes mid-run without recompute): `run`'s
    * stages wrapped in `Catalog.stage` — the edge rows, the clusters
    * and the deduped corpus. The input lineage is `inputLineage` plus
    * the files `docsRaw` scans; with neither, every stage recomputes.
    * The run that computes the clusters records their metrics in the
    * catalog's metrics table (S5/S6). `localBelow` is `run`'s. A stage
    * that follows stages this run computed from the driver finisher's
    * values (`EdgeDag.finished`) is computed from them too: the
    * clusters as a local frame, the deduped corpus as one filtered scan
    * of the valid docs, the metrics from the values; after a resumed
    * stage, each later stage reads the committed tables.
    */
  def runCheckpointed(docsRaw: DataFrame, catalog: Catalog,
      cfg: Config = Config(), inputLineage: String = "",
      localBelow: Int = DriverCollect.NearDupBound): Result = {
    val input = Seq(inputLineage, Catalog.inputFiles(docsRaw)).filter(_.nonEmpty).mkString("|")
    val base = (if (input.isEmpty) s"unknown:${java.util.UUID.randomUUID}" else input) +
      s"|algs=${cfg.algs.mkString(",")}|ie=${cfg.ignoreEmpty}" +
      s"|mh=${cfg.useMinHash}:${cfg.minhash}|sh=${cfg.useSimHash}:${cfg.simhash}" +
      s"|sub=${cfg.useSubstring}:${cfg.substring}" +
      s"|lr=${cfg.useLongRun}:${cfg.longRun}"
    val dag = new EdgeDag(docsRaw, cfg, localBelow)
    // stage 1: the edge rows with their skip rows (resume skips
    // digesting/shingling entirely)
    var finished: Option[Decided] = None
    val staged = try catalog.stage("edges", base) {
      val rows = dag.rows
      finished = dag.finished
      rows
    } finally dag.release()
    val (edges, skipped, edgeCount) = splitSkips(staged, finished)
    // stage 2: connected components over the staged edges
    var computed = false
    val clusters = catalog.stage("clusters", base + "|edges") {
      computed = true
      dag.clusters(edges, finished)
    }
    // the values hold the clusters only when this run computed them
    val clustered = finished.filter(_ => computed)
    // stage 3: the deduped corpus itself (each valid row whose url is
    // its cluster's canonical), laid out by the north rule's
    // (days(warc_ts), lang) partitioning — partition pruning serves
    // day- or language-scoped downstream reads without a full scan
    val deduped = catalog.stage("deduped_docs", base + "|clusters",
      Seq("warc_day", "lang")) {
      (clustered match {
        case Some(d) => dag.valid.filter(col("url").isInCollection(d.canonicals))
        case None => dag.valid.join(
          clusters.filter(col("url") === col("cluster_id")).select("url"), Seq("url"), "left_semi")
      }).withColumn("warc_day", to_date(col("warc_ts")))
    }
    // a resume appends no duplicate rows and runs no bookkeeping job
    if (computed) catalog.recordMetrics("clusters", Map(
      "clusters" -> clustered.fold(clusters.select(col("cluster_id")).distinct().count())(
        _.clusterCount),
      "edges" -> edgeCount) ++
      skipped.map { case (k, v) => s"skipped_bucket_rows_$k" -> v })
    new Result(clusters, dag.exact, edges, dag.quarantined, () => docsRaw.count(),
      skipped, Some(deduped))
  }
}
