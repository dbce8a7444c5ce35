package graft.near

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CappedGroups

/** SimHash fingerprints with Hamming-ball candidate probing [EXT]
  * (north rule; SURVEY §7.1 module 7).
  *
  * 64-bit SimHash over the doc's DISTINCT k-shingle features (the same
  * shingle universe MinHash permutes over — unigram token-frequency
  * features collapse on small-vocabulary web text, where unrelated
  * pages share most words and land within trivial Hamming distance).
  *
  * Candidate probing is the generalized block-permutation scheme of
  * Manku/Jain/Sarma, "Detecting Near-Duplicates for Web Crawling"
  * (WWW'07): split the 64 bits into `blocks` near-equal blocks; by
  * pigeonhole, two fingerprints within Hamming distance `maxHamming`
  * agree on at least (blocks − maxHamming) blocks, so they share at
  * least one of the C(blocks, blocks − maxHamming) block-combination
  * keys. Each combination is a probe table; the key packs the selected
  * block values into one long. With the web-scale default (blocks=6,
  * maxHamming=3) that is 20 tables keyed on ~32 bits — at 10^12 docs a
  * key space of 4·10^9, i.e. ~250 rows per bucket, vs the N/256
  * blowup of single-8-bit-chunk probing. All plain shuffled equi-joins
  * that Catalyst plans and AQE skew-handles; verification (popcount of
  * xor) is fused into in-bucket pair generation.
  */
object SimHash {

  /** `blocks`/`maxHamming` trade probe fan-out (C(blocks, blocks−h)
    * tables) against key width: keys carry (blocks−h)·(64/blocks)
    * bits, and must keep the expected bucket N/2^bits under
    * `maxBucket`. Defaults are the Manku web-scale point (20 tables,
    * 32-bit keys, ham ≤ 3). Small-corpus verification configs may
    * widen the ball instead (e.g. blocks=13, maxHamming=12 → 13
    * tables on ~5-bit keys — only sane when N is tiny).
    */
  case class Config(
      blocks: Int = 6,
      maxHamming: Int = 3,
      shingleK: Int = 5,
      seed: Long = 42L,
      maxBucket: Int = 200,
      /** > 1 drains in two salted rounds (CappedGroups.drainGroups):
        * a corpus dominated by ONE probe bucket streams through `salts`
        * round-1 tasks instead of one.
        */
      salts: Int = 1) {
    require(maxHamming < blocks && blocks <= 64, "pigeonhole needs maxHamming < blocks <= 64")
    require(salts >= 1, "salts must be >= 1")
    /** blocks that must agree = key blocks per table */
    def keyBlocks: Int = blocks - maxHamming
    /** (offset, width) of each block, widths differing by ≤1 */
    def blockBounds: Seq[(Int, Int)] = {
      val base = 64 / blocks; val extra = 64 % blocks
      val widths = Seq.tabulate(blocks)(i => if (i < extra) base + 1 else base)
      widths.scanLeft(0)(_ + _).zip(widths)
    }
    /** all C(blocks, keyBlocks) block-index combinations (probe tables) */
    def tables: Seq[Seq[Int]] = (0 until blocks).combinations(keyBlocks).toSeq
  }

  /** SimHash over pre-hashed distinct features. */
  def simhash64(features: Array[Long], seed: Long): Long = {
    if (features == null || features.isEmpty) return 0L
    val acc = new Array[Int](64)
    var i = 0
    while (i < features.length) {
      val h = Hashing.mix64(features(i) ^ seed)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private val simhashUdf = udf((text: String, k: Int, seed: Long) =>
    simhash64(Hashing.shingleHashes(Hashing.tokenize(text), k), seed))

  private val simhashFromShinglesUdf = udf((sh: Seq[Long], seed: Long) =>
    if (sh == null) null else java.lang.Long.valueOf(simhash64(sh.toArray, seed)))

  /** (id, simhash) — map-side only. Empty/null text → null fingerprint
    * (excluded from probing; empties are the exact stage's job).
    */
  def fingerprints(docs: DataFrame, cfg: Config = Config(), textCol: String = "text",
      idCol: String = "url"): DataFrame =
    docs.select(col(idCol).as("id"),
      when(col(textCol).isNull || trim(col(textCol)) === "", lit(null))
        .otherwise(simhashUdf(col(textCol), lit(cfg.shingleK), lit(cfg.seed))).as("simhash"))

  /** Fingerprints from an already-shingled frame (id, shingles) — the
    * pipeline shares ONE shingling pass between MinHash and SimHash
    * (tokenize+hash is the dominant map-side cost; paying it twice per
    * page at 10^12 docs is pure waste). Callers must shingle with the
    * same k.
    */
  def fingerprintsFromShingles(shingled: DataFrame, cfg: Config = Config()): DataFrame =
    shingled.select(col("id"),
      when(col("shingles").isNull || size(col("shingles")) === 0, lit(null))
        .otherwise(simhashFromShinglesUdf(col("shingles"), lit(cfg.seed))).as("simhash"))

  /** Pack the table's selected block values into one long — pure
    * codegen'd bit arithmetic, no UDF.
    */
  private def tableKey(sh: Column, table: Seq[Int], cfg: Config): Column = {
    val bounds = cfg.blockBounds
    var shift = 0
    var key: Column = lit(0L)
    table.foreach { b =>
      val (off, w) = bounds(b)
      val block = shiftright(sh, off).bitwiseAND(lit((1L << w) - 1L))
      key = key.bitwiseOR(shiftleft(block, shift))
      shift += w
    }
    key
  }

  /** Probe keys of ONE fingerprint — the scala-side analog of
    * `tableKey` for row-at-a-time consumers (the streaming state-store
    * near-dup). Same (table_id, packed key) values as the Column path.
    */
  def probeKeys(sh: Long, cfg: Config): Array[(Int, Long)] = {
    val bounds = cfg.blockBounds
    cfg.tables.zipWithIndex.map { case (table, t) =>
      var shift = 0
      var key = 0L
      table.foreach { b =>
        val (off, w) = bounds(b)
        key |= ((sh >>> off) & ((1L << w) - 1L)) << shift
        shift += w
      }
      (t, key)
    }.toArray
  }

  /** (id, simhash, table_id, key) — one row per probe table. */
  private def probed(fp: DataFrame, cfg: Config): DataFrame =
    fp.select(col("id"), col("simhash"),
      posexplode(array(cfg.tables.map(t => tableKey(col("simhash"), t, cfg)): _*))
        .as(Seq("table_id", "key")))

  /** Near-dup edges: pairs with Hamming(simhash) ≤ maxHamming.
    *
    * Hot-bucket cap via the streamed bounded drain (`CappedGroups` —
    * at most cap+1 members held, all rows counted): one shuffle pass,
    * bounded memory, over-cap buckets yield no pairs and are surfaced
    * as skip rows, never silently materialized.
    */
  def edges(docs: DataFrame, cfg: Config = Config(), textCol: String = "text",
      idCol: String = "url"): DataFrame =
    edgesFromFingerprints(fingerprints(docs, cfg, textCol, idCol), cfg)

  /** Hamming-verified pairs + over-cap skip rows in ONE streamed
    * shuffle pass (same shape and rationale as
    * MinHashLSH.candidatesAndSkips): each (table_id, key) probe bucket
    * drains through [[graft.functions.CappedGroups.drainGroups]] into
    * [[hammingPairsOrSkip]].
    */
  def edgesAndSkips(fp0: DataFrame, cfg: Config = Config()): DataFrame = {
    val spark = fp0.sparkSession
    import spark.implicits._
    val rows = probed(fp0.filter(col("simhash").isNotNull), cfg)
      .select(col("table_id"), col("key"), col("id"), col("simhash"))
      .as[(Int, Long, String, Long)]
    type Row = (Int, Long, String, Long)
    CappedGroups.drainGroups(rows, (r: Row) => (r._1, r._2), (r: Row) => (r._3, r._4),
        cfg.maxBucket, cfg.salts, (m: (String, Long)) => m._1)(
        hammingPairsOrSkip(cfg.maxBucket, cfg.maxHamming))
      .toDF("src", "dst", "hamming", "skipped")
  }

  /** The in-bucket emit of a probe bucket of `n` rows with members
    * (id, simhash): a bucket of 2..cap rows yields its pairs within
    * Hamming distance `maxHam` (verification fused into pair
    * generation) as (smaller id, larger id, hamming, skipped = 0); an
    * over-cap bucket yields ONE (null, null, 0, n) skip row instead.
    */
  def hammingPairsOrSkip(cap: Int, maxHam: Int)(n: Long,
      ms: collection.IndexedSeq[(String, Long)]): Iterator[(String, String, Int, Long)] =
    if (n > cap) Iterator.single((null: String, null: String, 0, n))
    else if (ms.length < 2) Iterator.empty
    else {
      val s = ms.sortBy(_._1)
      for {
        i <- s.indices.iterator
        j <- ((i + 1) until s.length).iterator
        h = java.lang.Long.bitCount(s(i)._2 ^ s(j)._2)
        if h <= maxHam
      } yield (s(i)._1, s(j)._1, h, 0L)
    }

  /** The driver twin of [[edgesAndSkips]] + the pipeline's `distinct`
    * over collected (id, fingerprint) rows, one per doc with a
    * non-empty shingle set (the docs [[fingerprintsFromShingles]]
    * gives a fingerprint, [[simhash64]] computed where the rows were
    * collected): the distinct (src, dst) edges and the summed rows of
    * the over-cap buckets. Probe keys ([[probeKeys]]) and the
    * in-bucket emit ([[hammingPairsOrSkip]]) are the distributed
    * plan's.
    */
  private[graft] def edgesAndSkippedLocal(docs: Seq[(String, Long)],
      cfg: Config): (Seq[(String, String)], Long) = {
    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[(String, Long)]]
    for ((id, fp) <- docs; k <- probeKeys(fp, cfg))
      buckets.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((id, fp))
    var skipped = 0L
    val edges = mutable.LinkedHashSet.empty[(String, String)]
    for (ms <- buckets.valuesIterator;
         (src, dst, _, n) <- hammingPairsOrSkip(cfg.maxBucket, cfg.maxHamming)(ms.length, ms))
      if (src == null) skipped += n else edges += ((src, dst))
    (edges.toSeq, skipped)
  }

  /** Edges from precomputed (id, simhash) — see fingerprintsFromShingles. */
  def edgesFromFingerprints(fp0: DataFrame, cfg: Config = Config()): DataFrame =
    edgesAndSkips(fp0, cfg)
      .filter(col("src").isNotNull)
      .select("src", "dst", "hamming")
      .distinct()
}
