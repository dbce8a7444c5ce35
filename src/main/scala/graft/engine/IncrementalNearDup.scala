package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  * small. Both verdict tiers come from ONE bucket pass and ONE verify:
  *   - `bands` is probed in ONE map-side `left_semi` scan against the
  *     BROADCAST batch band keys;
  *   - the hits (tier 0) and the batch's own band rows (tier 1) are
  *     grouped per (band_id, band_hash) bucket once, prior members
  *     first; the drain holds at most `cfg.maxBucket` + 1 members per
  *     tier and streams each batch member past the held prior members;
  *   - `sigs` is scanned once map-side against the broadcast candidate
  *     keeper ids, and one exact-Jaccard join over both tiers' shingles
  *     feeds one per-id `min(struct(tier, partner, j))`.
  * The caps apply per tier: a bucket with more than `cfg.maxBucket`
  * prior members, or more than `cfg.maxBucket` batch members, yields
  * skip rows for that tier instead of pairs — capped and surfaced,
  * never silently exploded (SCALE.md invariant 3). `cfg.salts` is not
  * used: one hot bucket streams through one task, as in the
  * single-round [[MinHashLSH.candidatesAndSkips]]. For batches whose
  * band key set outgrows a broadcast, the [[IncrementalDedup
  * .dedupAgainstBloom]] Bloom middle path applies unchanged to the
  * (band_id, band_hash) key.
  */
object IncrementalNearDup {

  /** The two snapshot frames (see object doc). */
  case class Snapshot(bands: DataFrame, sigs: DataFrame)

  object Snapshot {
    /** The schemas the snapshot tables are written with. Reading the
      * tables back with them skips parquet schema inference, which is
      * one Spark job per read.
      */
    val bandsSchema: StructType = StructType(Seq(StructField("band_id", IntegerType),
      StructField("band_hash", LongType), StructField("id", StringType)))
    val sigsSchema: StructType = StructType(Seq(StructField("id", StringType),
      StructField("shingles", ArrayType(LongType))))
  }

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
    // sets) derive from one signature pass, computed and cached by the
    // first job that reads either; the keeper-shingle fetch waits for
    // the band probe's broadcast output, so the views are never
    // computed concurrently. In production the snapshot IS a table.
    val sigs = MinHashLSH.signatures(prior, cfg, textCol, idCol)
      .localCheckpoint(false)
    Snapshot(bandRows(sigs, cfg), sigs.select(col("id"), col("shingles")))
  }

  /** Tier tags of the candidate frame: a prior snapshot keeper (tier
    * 0) wins over an earlier batch doc (tier 1).
    */
  private val Prior = 0
  private val Batch = 1

  /** One bucket's candidate rows (id, partner, tier, skipped) from its
    * members (id, tier), prior members first. At most cap+1 members of
    * each tier are held. Each batch member streams past the held prior
    * members: one (id, keeper, 0, 0) per prior member, or one
    * (id, null, 0, nPrior) skip row when the prior side is over cap.
    * After the stream, the held batch members pair up as
    * (later, earlier, 1, 0), or one (null, null, 1, nBatch) skip row
    * when the batch side is over cap. Pairs are lazy.
    */
  private def bucketRows(members: Iterator[(String, Int)],
      cap: Int): Iterator[(String, String, Int, Long)] = {
    val (priorIt, batchIt) = members.span(_._2 == Prior)
    val (nPrior, prior) = graft.functions.CappedGroups.drain(priorIt.map(_._1), cap)
    val held = new scala.collection.mutable.ArrayBuffer[String]()
    var nBatch = 0L
    batchIt.flatMap { case (id, _) =>
      if (nBatch <= cap) held += id
      nBatch += 1
      if (nPrior > cap) Iterator.single((id, null: String, Prior, nPrior))
      else prior.iterator.map(p => (id, p, Prior, 0L))
    } ++ {
      if (nBatch > cap) Iterator.single((null: String, null: String, Batch, nBatch))
      else {
        val ids = held.sorted
        for {
          j <- ids.indices.iterator
          i <- (0 until j).iterator
        } yield (ids(j), ids(i), Batch, 0L)
      }
    }
  }

  /** Both tiers' candidates in ONE bucket pass: (id, partner, tier,
    * skipped), skip rows with a null partner. The snapshot side never
    * shuffles its full size: ONE map-side `left_semi` scan of
    * `snapshot.bands` against the broadcast batch band keys keeps only
    * the hit rows, which are grouped per bucket together with the
    * batch's own band rows, prior members sorted first.
    */
  private def candidates(batchSigs: DataFrame, snapshot: Snapshot,
      cfg: MinHashLSH.Config): DataFrame = {
    val spark = batchSigs.sparkSession
    import spark.implicits._
    val cap = cfg.maxBucket
    val bb = bandRows(batchSigs, cfg)
    val keys = bb.select("band_id", "band_hash")
    snapshot.bands
      .join(broadcast(keys), Seq("band_id", "band_hash"), "left_semi")
      .select(col("band_id"), col("band_hash"), col("id"), lit(Prior).as("tier"))
      .unionByName(bb.withColumn("tier", lit(Batch)))
      .as[(Int, Long, String, Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapSortedGroups(col("tier"))((_, rows) =>
        bucketRows(rows.map(r => (r._3, r._4)), cap))
      .toDF("id", "partner", "tier", "skipped")
  }

  /** Candidate (id, keeper) pairs from probing the snapshot bands with
    * the batch's band keys, plus over-cap skip rows (keeper null,
    * skipped = summed prior bucket sizes of that batch id's saturated
    * buckets): the prior tier of the same bucket pass
    * [[dedupAgainstSignatures]] runs.
    */
  def probeCandidatesAndSkips(batchSigs: DataFrame, snapshot: Snapshot,
      cfg: MinHashLSH.Config = MinHashLSH.Config()): DataFrame =
    candidates(batchSigs, snapshot, cfg)
      .filter(col("tier") === Prior)
      .groupBy(col("id"), col("partner").as("keeper"))
      .agg(sum(col("skipped")).as("skipped"))

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
      skippedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val batchSigs = MinHashLSH.signatures(batch, cfg, textCol, idCol).persist()
    val out = dedupAgainstSignatures(batchSigs, snapshot, cfg, idCol, skippedAcc)
    batchSigs.unpersist()
    out
  }

  /** [[dedupAgainst]] over precomputed `MinHashLSH.signatures` rows
    * (persist them across this call and [[snapshotDeltaFromSignatures]]
    * so the batch is shingled ONCE per crawl). The result is eagerly
    * checkpointed. When `skippedAcc` is given, the summed over-cap
    * skip count of both tiers is added to it: per saturated prior
    * bucket, its size times the batch docs in it; per saturated batch
    * bucket, its size (the [[MinHashLSH.candidatesAndSkips]] count).
    * It is the signal that recall is degrading on a hot boilerplate
    * band: capped AND surfaced, SCALE.md invariant 3.
    */
  def dedupAgainstSignatures(batchSigs: DataFrame, snapshot: Snapshot,
      cfg: MinHashLSH.Config = MinHashLSH.Config(),
      idCol: String = "url",
      skippedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = batchSigs.sparkSession
    import spark.implicits._
    val jaccardUdf = udf((x: Seq[Long], y: Seq[Long]) =>
      graft.near.Hashing.jaccard(
        if (x == null) null else x.toArray, if (y == null) null else y.toArray))

    // persisted so the skip aggregate below re-reads this SMALL frame
    // instead of re-running the bucket pass
    val cand = candidates(batchSigs, snapshot, cfg).persist()
    // one pair per (id, partner, tier), partitioned by id so the per-id
    // minimum below needs no second exchange
    val pairs = cand.filter(col("partner").isNotNull)
      .select(col("id"), col("partner"), col("tier"))
      .repartition(col("id"))
      .distinct()
    // second (and last) snapshot scan: fetch ONLY candidate keepers'
    // shingles map-side; the batch's own shingles are tier 1
    val keeperIds = pairs.filter(col("tier") === Prior).select(col("partner").as("id"))
    val partnerSh = snapshot.sigs.join(broadcast(keeperIds), Seq("id"), "left_semi")
      .select(col("id").as("partner"), lit(Prior).as("tier"), col("shingles").as("sh_p"))
      .unionByName(batchSigs.select(col("id").as("partner"), lit(Batch).as("tier"),
        col("shingles").as("sh_p")))
    val batchSh = batchSigs.select(col("id"), col("shingles").as("sh_b"))
    val best = pairs
      .join(broadcast(partnerSh), Seq("partner", "tier"))
      .join(broadcast(batchSh), Seq("id"))
      .withColumn("j", jaccardUdf(col("sh_b"), col("sh_p")))
      .filter(col("j") >= cfg.jaccardThreshold)
      .groupBy("id")
      .agg(min(struct(col("tier"), col("partner"), col("j"))).as("m"))
      .select(col("id"), col("m.partner").as("near_dup_of"), col("m.j").as("jaccard"))

    val out = batchSigs.select(col("id"))
      .join(broadcast(best), Seq("id"), "left")
      .select(col("id").as(idCol), col("near_dup_of"), col("jaccard"))
      .withColumn("is_novel", col("near_dup_of").isNull)
      .localCheckpoint() // eager: cand is materialized by here
    // one job over the cached frame: a fold, where a global aggregate
    // would add a shuffle stage
    skippedAcc.foreach(_.add(
      cand.filter(col("partner").isNull).select(col("skipped")).as[Long]
        .rdd.fold(0L)(_ + _)))
    cand.unpersist()
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
