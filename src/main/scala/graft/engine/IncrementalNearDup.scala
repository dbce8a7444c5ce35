package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.DriverCollect
import graft.functions.DriverCollect.{collectWithin, longsAt, sizeAt, stringAt}
import graft.near.{Hashing, MinHashLSH}

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
  * verified Jaccard ≥ threshold; otherwise null (novel). "Minimum" is
  * Spark's string order (unsigned UTF-8 bytes); "earlier" is the
  * bucket pass's `String` order. Single-pass over originals —
  * near-dup is not transitive, so no fixpoint chase.
  *
  * Both verdict tiers come from ONE bucket pass (`bucketRows`) and ONE
  * verify. The caps apply per tier: a bucket with more than
  * `cfg.maxBucket` prior members, or more than `cfg.maxBucket` batch
  * members, yields skip rows for that tier instead of pairs — capped
  * and surfaced, never silently exploded (SCALE.md invariant 3).
  * `cfg.salts` is not used: one hot bucket streams through one task,
  * as in the single-round [[MinHashLSH.candidatesAndSkips]].
  *
  * Two paths, chosen from the measured input size ("To Partition, or
  * Not to Partition", SIGMOD'21), with identical verdicts and skip
  * totals:
  *   - Driver finisher, when the batch's signature rows, the snapshot
  *     band hits and the candidate keepers' shingle sets fit
  *     [[DriverCollect.NearDupBound]] (rows plus shingle hashes: a
  *     batch doc weighs one plus its band count plus its shingle count,
  *     a band hit one, a keeper's `sigs` row one plus its shingle
  *     count). Three bounded jobs ([[DriverCollect.collectWithin]])
  *     read them: a collect of the batch signatures (band hashes from
  *     `MinHashLSH.bandHashesLocal`, executor-side), ONE map-side scan
  *     of `bands` keeping the rows whose key is in the broadcast batch
  *     key set, and ONE map-side fetch of the candidate keepers' rows
  *     of `sigs`. The bucket pass, the skip total, `Hashing.jaccard`
  *     and the per-id minimum run on the driver, and the verdicts come
  *     back as a local frame. Each job ships a partition's rows only
  *     while they fit its share of what is left of the bound, so at
  *     most the bound's rows and hashes reach the driver (SCALE.md
  *     invariant 4).
  *   - Distributed plan, above the bound (the scale path): `bands` is
  *     probed in ONE map-side `left_semi` scan against the BROADCAST
  *     batch band keys; the hits (tier 0) and the batch's own band rows
  *     (tier 1) are grouped per (band_id, band_hash) bucket once, prior
  *     members first, and the drain holds at most `cfg.maxBucket` + 1
  *     members per tier; `sigs` is scanned once map-side against the
  *     broadcast candidate keeper ids, and one exact-Jaccard join over
  *     both tiers' shingles feeds one per-id
  *     `min(struct(tier, partner, j))`. For batches whose band key set
  *     outgrows a broadcast, the [[IncrementalDedup.dedupAgainstBloom]]
  *     Bloom middle path applies unchanged to the (band_id, band_hash)
  *     key.
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
    // eager checkpoint: both snapshot views (band rows, shingle sets)
    // read the one signature pass it materializes here, so a job that
    // reads both views never computes a partition twice. In production
    // the snapshot IS a table.
    val sigs = MinHashLSH.signatures(prior, cfg, textCol, idCol).localCheckpoint()
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
      skippedAcc: Option[org.apache.spark.util.LongAccumulator] = None,
      localBelow: Int = DriverCollect.NearDupBound): DataFrame = {
    val batchSigs = MinHashLSH.signatures(batch, cfg, textCol, idCol).persist()
    try dedupAgainstSignatures(batchSigs, snapshot, cfg, idCol, skippedAcc, localBelow)
    finally batchSigs.unpersist()
  }

  /** [[dedupAgainst]] over precomputed `MinHashLSH.signatures` rows
    * (persist them across this call and [[snapshotDeltaFromSignatures]]
    * so the batch is shingled ONCE per crawl). The result is
    * materialized: a local frame from the driver finisher, an eager
    * checkpoint from the distributed plan. When `skippedAcc` is given,
    * the summed over-cap skip count of both tiers is added to it: per
    * saturated prior bucket, its size times the batch docs in it; per
    * saturated batch bucket, its size (the
    * [[MinHashLSH.candidatesAndSkips]] count). It is the signal that
    * recall is degrading on a hot boilerplate band: capped AND
    * surfaced, SCALE.md invariant 3. `localBelow = 0` forces the
    * distributed plan for any batch with a row.
    */
  def dedupAgainstSignatures(batchSigs: DataFrame, snapshot: Snapshot,
      cfg: MinHashLSH.Config = MinHashLSH.Config(),
      idCol: String = "url",
      skippedAcc: Option[org.apache.spark.util.LongAccumulator] = None,
      localBelow: Int = DriverCollect.NearDupBound): DataFrame = {
    localVerdicts(batchSigs, snapshot, cfg, localBelow) match {
      case Some((rows, skipped)) =>
        skippedAcc.foreach(_.add(skipped))
        val schema = StructType(Seq(
          StructField(idCol, StringType, batchSigs.schema("id").nullable),
          StructField("near_dup_of", StringType), StructField("jaccard", DoubleType),
          StructField("is_novel", BooleanType, nullable = false)))
        batchSigs.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None => distributedVerdicts(batchSigs, snapshot, cfg, idCol, skippedAcc)
    }
  }

  /** The driver finisher (object doc): the verdict rows and the skip
    * total, or None when the batch, its band hits or its keepers'
    * shingle sets do not fit `budget`.
    */
  private def localVerdicts(batchSigs: DataFrame, snapshot: Snapshot, cfg: MinHashLSH.Config,
      budget: Long): Option[(Seq[Row], Long)] = {
    val sc = batchSigs.sparkSession.sparkContext
    val (bands, perBand) = (cfg.bands, cfg.rowsPerBand)
    // job 1: (id, shingles, band hashes) per batch row; the band
    // hashes are those of `bandRows` (null signature: no band rows)
    val batch = collectWithin(batchSigs.select(col("id"), col("shingles"), col("sig")), budget)(
      r => 1L + bands + sizeAt(r, 1),
      r => (stringAt(r, 0), longsAt(r, 1),
        Option(longsAt(r, 2)).map(MinHashLSH.bandHashesLocal(_, bands, perBand)).orNull))
    batch.flatMap { case (docs, w1) =>
      val keys = sc.broadcast(docs.iterator.filter(_._3 != null)
        .flatMap(d => d._3.iterator.zipWithIndex.map { case (h, b) => (b, h) }).toSet)
      // job 2: the snapshot band rows on a batch key (an equi-join: null keys never hit)
      val hits = try collectWithin(
          snapshot.bands.select(col("band_id"), col("band_hash"), col("id")), budget - w1)(
          r => if (!r.isNullAt(0) && !r.isNullAt(1) &&
            keys.value.contains((r.getInt(0), r.getLong(1)))) 1L else 0L,
          r => (r.getInt(0), r.getLong(1), stringAt(r, 2)))
        finally keys.destroy()
      hits.flatMap { case (prior, w2) =>
        decideLocally(docs, prior, snapshot, cfg, budget - w1 - w2) }
    }
  }

  /** The bucket pass, the keeper fetch (job 3) and the verify of the
    * driver finisher over the collected batch rows and band hits.
    */
  private def decideLocally(docs: Seq[(String, Array[Long], Array[Long])],
      hits: Seq[(Int, Long, String)], snapshot: Snapshot, cfg: MinHashLSH.Config,
      budget: Long): Option[(Seq[Row], Long)] = {
    val members = mutable.HashMap.empty[(Int, Long),
      (mutable.ArrayBuffer[String], mutable.ArrayBuffer[String])]
    def bucket(k: (Int, Long)) = members.getOrElseUpdate(k,
      (mutable.ArrayBuffer.empty[String], mutable.ArrayBuffer.empty[String]))
    for ((id, _, bh) <- docs if bh != null; b <- bh.indices) bucket((b, bh(b)))._2 += id
    for ((b, h, id) <- hits) bucket((b, h))._1 += id
    var skipped = 0L
    val pairs = mutable.LinkedHashSet.empty[(String, String, Int)]
    for ((prior, batch) <- members.valuesIterator;
         (id, partner, tier, n) <- bucketRows(
           prior.iterator.map((_, Prior)) ++ batch.iterator.map((_, Batch)), cfg.maxBucket))
      if (partner == null) skipped += n
      // a null batch id joins no shingle set: no verdict
      else if (id != null) pairs += ((id, partner, tier))
    val keeperIds = pairs.iterator.collect { case (_, p, Prior) => UTF8String.fromString(p) }.toSet
    val keepers =
      if (keeperIds.isEmpty) Some((Seq.empty[(String, Array[Long])], 0L))
      else {
        val ids = snapshot.sigs.sparkSession.sparkContext.broadcast(keeperIds)
        try collectWithin(snapshot.sigs.select(col("id"), col("shingles")), budget)(
            r => if (!r.isNullAt(0) && ids.value.contains(r.getUTF8String(0))) 1L + sizeAt(r, 1)
              else 0L,
            r => (stringAt(r, 0), longsAt(r, 1)))
        finally ids.destroy()
      }
    keepers.map { case (fetched, _) =>
      val shingles = Seq(Prior -> fetched, Batch -> docs.map(d => (d._1, d._2)))
        .map { case (t, rows) => t -> rows.filter(_._1 != null).groupMap(_._1)(_._2) }.toMap
      // per id, the minimum (tier, partner, j) in Spark's struct order
      // over every verified shingle-set pairing of (id, partner)
      def before(x: (Int, String, Double), y: (Int, String, Double)): Boolean =
        if (x._1 != y._1) x._1 < y._1
        else {
          val c = UTF8String.fromString(x._2).binaryCompare(UTF8String.fromString(y._2))
          if (c != 0) c < 0 else x._3 < y._3
        }
      val best = mutable.HashMap.empty[String, (Int, String, Double)]
      for ((id, partner, tier) <- pairs;
           sb <- shingles(Batch).getOrElse(id, Nil);
           sp <- shingles(tier).getOrElse(partner, Nil)) {
        val j = Hashing.jaccard(sb, sp)
        val m = (tier, partner, j)
        if (j >= cfg.jaccardThreshold && best.get(id).forall(before(m, _))) best(id) = m
      }
      (docs.map { case (id, _, _) => best.get(id) match {
        case Some((_, p, j)) => Row(id, p, j, false)
        case None => Row(id, null, null, true)
      } }, skipped)
    }
  }

  /** The distributed plan (object doc); the result is eagerly
    * checkpointed.
    */
  private def distributedVerdicts(batchSigs: DataFrame, snapshot: Snapshot,
      cfg: MinHashLSH.Config, idCol: String,
      skippedAcc: Option[org.apache.spark.util.LongAccumulator]): DataFrame = {
    val spark = batchSigs.sparkSession
    import spark.implicits._
    val jaccardUdf = udf((x: Seq[Long], y: Seq[Long]) =>
      Hashing.jaccard(if (x == null) null else x.toArray, if (y == null) null else y.toArray))

    // persisted so the skip aggregate below re-reads this SMALL frame
    // instead of re-running the bucket pass
    val cand = candidates(batchSigs, snapshot, cfg).persist()
    try {
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
      out
    } finally cand.unpersist()
  }

  /** Append-only snapshot update: band + sig rows for the batch docs
    * RETAINED by `verdicts` (is_novel = true). Union these onto the
    * snapshot tables — near-dups never enter the snapshot, so it stays
    * one row per retained doc per band. Zero re-shingling: the delta is
    * a filter of the batch signatures already computed for the probe.
    */
  def snapshotDeltaFromSignatures(batchSigs: DataFrame, verdicts: DataFrame,
      cfg: MinHashLSH.Config = MinHashLSH.Config(),
      idCol: String = "url"): Snapshot = {
    val novel = verdicts.filter(col("is_novel")).select(col(idCol).as("id"))
    // a local verdict frame (the driver finisher's) selects its novel
    // ids by value: broadcasting a local frame costs one Spark job per
    // consumer
    val kept =
      if (verdicts.isLocal)
        batchSigs.filter(col("id").isin(novel.collect().toSeq.map(_.get(0)): _*))
      else batchSigs.join(broadcast(novel), Seq("id"), "left_semi")
    Snapshot(bandRows(kept, cfg), kept.select(col("id"), col("shingles")))
  }
}
