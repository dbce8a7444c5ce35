package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.near.MinHashLSH

/** Incremental (delta) NEAR-dup: check a new crawl batch against the
  * accumulated corpus's MinHash/LSH signature SNAPSHOT — without
  * re-reading or re-shingling the prior corpus (r4 VERDICT missing #2;
  * the continuous-ingest shape a 10^12-doc corpus actually runs —
  * [[IncrementalDedup]] covers exact digests, this covers the
  * near-duplicate tier of the same policy).
  *
  * Snapshot = two append-only tables (Iceberg-friendly: pure appends,
  * no rewrite of existing rows):
  *   - `bands`: (band_id, band_hash, id) — one row per LSH band of
  *     each RETAINED prior doc;
  *   - `sigs`:  (id, shingles) — the retained docs' shingle sets, the
  *     verify side.
  *
  * Policy (mirrors [[IncrementalDedup.dedupAgainst]]): a batch doc's
  * `near_dup_of` is the minimum prior keeper with verified Jaccard ≥
  * threshold (the prior corpus wins — its doc is the one already
  * retained downstream); otherwise the minimum EARLIER batch doc with
  * verified Jaccard ≥ threshold; otherwise null (novel). Single-pass
  * over originals — near-dup is not transitive, so no fixpoint chase.
  *
  * Scale shape: the snapshot is the 10^12-row side, the batch is
  * small. The snapshot is NEVER shuffled — `bands` is probed in ONE
  * map-side scan against the BROADCAST distinct band keys of the
  * batch; `sigs` in one map-side scan against the broadcast candidate
  * keeper ids (output ≤ |candidates|). Hot snapshot band buckets are
  * capped at `cfg.maxBucket` members and surfaced as skip rows, never
  * silently exploded (SCALE.md invariant 3). For batches whose band
  * key set outgrows a broadcast, the [[IncrementalDedup
  * .dedupAgainstBloom]] Bloom middle path applies unchanged to the
  * (band_id, band_hash) key.
  */
object IncrementalNearDup {

  /** The two snapshot frames (see object doc). */
  case class Snapshot(bands: DataFrame, sigs: DataFrame)

  /** Band rows (band_id, band_hash, id) of a signature frame. */
  private def bandRows(sigs: DataFrame, cfg: MinHashLSH.Config): DataFrame =
    sigs.filter(col("sig").isNotNull)
      .select(col("id"), posexplode(MinHashLSH.bandHashes(col("sig"), cfg))
        .as(Seq("band_id", "band_hash")))
      .select(col("band_id"), col("band_hash"), col("id"))

  /** Bootstrap snapshot over the initial corpus load: every doc is
    * retained (intra-corpus dedup of the bootstrap batch is the batch
    * pipeline's own job, before snapshotting its keepers).
    */
  def bootstrap(prior: DataFrame, cfg: MinHashLSH.Config = MinHashLSH.Config(),
      idCol: String = "url", textCol: String = "text"): Snapshot = {
    // lazy checkpoint (r6): both snapshot views (band rows, shingle
    // sets) derive from one signature pass — unmaterialized, the
    // probe scan and the keeper-shingle fetch each re-shingled the
    // prior corpus. Nothing is materialized here: the first job that
    // reads either view computes and caches the signatures. With the
    // default broadcastBatch, dedupAgainstSignatures' keeper-shingle
    // fetch waits for the band probe's broadcast output, so the views
    // are not computed concurrently; with broadcastBatch = false both
    // join sides may start together and shingle the prior corpus
    // twice. In production the snapshot IS a persisted table.
    val sigs = MinHashLSH.signatures(prior, cfg, textCol, idCol)
      .localCheckpoint(false)
    Snapshot(bandRows(sigs, cfg), sigs.select(col("id"), col("shingles")))
  }

  /** Candidate (id, keeper) pairs from probing the snapshot bands with
    * the batch's band keys, plus over-cap skip rows (null id/keeper,
    * skipped = bucket row count). The snapshot side never shuffles:
    * ONE map-side scan of `snapshot.bands` against the broadcast
    * batch band-key set; the (small) hit set is then grouped per
    * bucket through the bounded drain.
    */
  def probeCandidatesAndSkips(batchSigs: DataFrame, snapshot: Snapshot,
      cfg: MinHashLSH.Config = MinHashLSH.Config(),
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = batchSigs.sparkSession
    import spark.implicits._
    val cap = cfg.maxBucket
    val bb = bandRows(batchSigs, cfg)
    val keys = bb.select("band_id", "band_hash").distinct()
    val probe = if (broadcastBatch) broadcast(keys) else keys
    // ONE snapshot scan, map-side semi-probe, small output
    val hits = snapshot.bands.join(probe, Seq("band_id", "band_hash"))
      .select(col("band_id"), col("band_hash"), col("id").as("keeper"))
    // cap prior members per bucket (hot boilerplate band in the prior
    // corpus), then attach the batch ids of the same bucket
    val capped = hits
      .as[(Int, Long, String)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key, rows) =>
        val (n, ms) = graft.functions.CappedGroups.drain(rows.map(_._3), cap)
        if (n > cap) Iterator.single((key._1, key._2, null: String, n))
        else ms.iterator.map(m => (key._1, key._2, m, 0L))
      }
      .toDF("band_id", "band_hash", "keeper", "skipped")
    val cappedB = if (broadcastBatch) broadcast(capped) else capped
    bb.join(cappedB, Seq("band_id", "band_hash"))
      .select(col("id"), col("keeper"), col("skipped"))
      .groupBy("id", "keeper")
      .agg(sum(col("skipped")).as("skipped"))
    // keeper null = skip row, one per batch id whose candidate set was
    // truncated (summed over that id's saturated buckets); real pairs
    // carry skipped = 0
  }

  /** Per-batch-row verdicts: (idCol, near_dup_of, jaccard, is_novel).
    * See object doc for the policy. `jaccard` is the verified exact
    * shingle Jaccard with the chosen partner (null when novel).
    * Computes the batch signatures itself; callers that already hold
    * them (or need them again for [[snapshotDeltaFromSignatures]])
    * should use [[dedupAgainstSignatures]] — shingle + 128-perm
    * minhash is the dominant map-side cost of this stack, and paying
    * it twice per crawl is the exact waste this module exists to
    * avoid on the PRIOR corpus.
    */
  def dedupAgainst(batch: DataFrame, snapshot: Snapshot,
      cfg: MinHashLSH.Config = MinHashLSH.Config(),
      idCol: String = "url", textCol: String = "text",
      broadcastBatch: Boolean = true,
      skippedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val batchSigs = MinHashLSH.signatures(batch, cfg, textCol, idCol).persist()
    val out = dedupAgainstSignatures(batchSigs, snapshot, cfg, idCol,
      broadcastBatch, skippedAcc)
    batchSigs.unpersist()
    out
  }

  /** [[dedupAgainst]] over precomputed `MinHashLSH.signatures` rows
    * (persist them across this call and [[snapshotDeltaFromSignatures]]
    * so the batch is shingled ONCE per crawl). When `skippedAcc` is
    * given, the summed over-cap skip count (batch docs × saturated
    * snapshot buckets whose candidates were truncated — the signal
    * that recall is degrading on a hot boilerplate band) is added to
    * it: capped AND surfaced, the SCALE.md invariant-3 contract the
    * batch pipeline already honors.
    */
  def dedupAgainstSignatures(batchSigs: DataFrame, snapshot: Snapshot,
      cfg: MinHashLSH.Config = MinHashLSH.Config(),
      idCol: String = "url",
      broadcastBatch: Boolean = true,
      skippedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = batchSigs.sparkSession
    import spark.implicits._
    val jaccardUdf = udf((x: Seq[Long], y: Seq[Long]) =>
      graft.near.Hashing.jaccard(
        if (x == null) null else x.toArray, if (y == null) null else y.toArray))

    // --- prior-corpus tier: probe the snapshot ---
    // persisted so the skip-row aggregate below re-reads this SMALL
    // frame instead of re-scanning the 10^12-row snapshot a third time
    val candAll = probeCandidatesAndSkips(batchSigs, snapshot, cfg, broadcastBatch)
      .persist()
    val cand = candAll
      .filter(col("keeper").isNotNull)
      .select(col("id"), col("keeper"))
    val keeperIds = cand.select(col("keeper").as("id")).distinct()
    val keeperProbe = if (broadcastBatch) broadcast(keeperIds) else keeperIds
    // second (and last) snapshot scan: fetch ONLY candidate keepers'
    // shingles map-side
    val keeperSh = snapshot.sigs.join(keeperProbe, "id")
      .select(col("id").as("keeper"), col("shingles").as("sh_k"))
    val keeperShB = if (broadcastBatch) broadcast(keeperSh) else keeperSh
    val batchSh = batchSigs.select(col("id"), col("shingles").as("sh_b"))
    val priorBest = cand
      .join(keeperShB, Seq("keeper"))
      .join(batchSh, Seq("id"))
      .withColumn("j", jaccardUdf(col("sh_b"), col("sh_k")))
      .filter(col("j") >= cfg.jaccardThreshold)
      .groupBy("id")
      .agg(min(struct(col("keeper"), col("j"))).as("m"))
      .select(col("id"), col("m.keeper").as("prior_of"), col("m.j").as("prior_j"))

    // --- intra-batch tier: standard LSH edges (src < dst, verified) ---
    val batchBest = MinHashLSH.edgesFromSignatures(batchSigs, cfg)
      .groupBy(col("dst").as("id"))
      .agg(min(struct(col("src"), col("jaccard"))).as("m"))
      .select(col("id"), col("m.src").as("batch_of"), col("m.jaccard").as("batch_j"))

    val out = batchSigs.select(col("id"))
      .join(if (broadcastBatch) broadcast(priorBest) else priorBest, Seq("id"), "left")
      .join(if (broadcastBatch) broadcast(batchBest) else batchBest, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("prior_of"), col("batch_of")).as("near_dup_of"),
        when(col("prior_of").isNotNull, col("prior_j"))
          .otherwise(when(col("batch_of").isNotNull, col("batch_j"))).as("jaccard"))
      .withColumn("is_novel", col("near_dup_of").isNull)
      .localCheckpoint() // eager: candAll is materialized by here
    skippedAcc.foreach(_.add(
      candAll.filter(col("keeper").isNull)
        .agg(coalesce(sum(col("skipped")), lit(0L))).head().getLong(0)))
    candAll.unpersist()
    out
  }

  /** Append-only snapshot update: band + sig rows for the batch docs
    * RETAINED by `verdicts` (is_novel = true). Union these onto the
    * snapshot tables — near-dups never enter the snapshot, so it stays
    * one row per retained doc per band. Prefer
    * [[snapshotDeltaFromSignatures]] when the batch signatures are
    * already on hand (this overload re-shingles the batch).
    */
  def snapshotDelta(batch: DataFrame, verdicts: DataFrame,
      cfg: MinHashLSH.Config = MinHashLSH.Config(),
      idCol: String = "url", textCol: String = "text"): Snapshot =
    snapshotDeltaFromSignatures(
      MinHashLSH.signatures(batch, cfg, textCol, idCol), verdicts, cfg, idCol)

  /** [[snapshotDelta]] over precomputed batch signatures — zero
    * re-shingling: the delta is a filter of rows already computed for
    * the probe.
    */
  def snapshotDeltaFromSignatures(batchSigs: DataFrame, verdicts: DataFrame,
      cfg: MinHashLSH.Config = MinHashLSH.Config(),
      idCol: String = "url"): Snapshot = {
    val novel = verdicts.filter(col("is_novel")).select(col(idCol).as("id"))
    val kept = batchSigs.join(broadcast(novel), Seq("id"), "left_semi")
    Snapshot(bandRows(kept, cfg), kept.select(col("id"), col("shingles")))
  }
}
