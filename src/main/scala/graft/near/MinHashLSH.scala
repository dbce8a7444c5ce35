package graft.near

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.CappedGroups

/** Deterministic hashing primitives shared by the near-dup stack.
  * Pure functions of (seed, input) — reproducible across runs and
  * cluster sizes, as the north rule's "same shingle/signature config"
  * requires.
  */
object Hashing {
  /** splitmix64 finalizer — strong 64-bit mix. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else {
      val t = text.trim
      if (t.isEmpty) Array.empty else t.split("\\s+")
    }

  /** Distinct k-shingle hashes of a token stream: 64-bit hash of each
    * k-token window (k-gram), the universe MinHash permutes over.
    * Docs shorter than k tokens get a single whole-doc shingle so they
    * still participate.
    */
  def shingleHashes(tokens: Array[String], k: Int): Array[Long] = {
    if (tokens.isEmpty) return Array.empty
    val n = math.max(1, tokens.length - k + 1)
    val set = new java.util.HashSet[Long](n * 2)
    var i = 0
    while (i < n) {
      var h = 0x2545f4914f6cdd1dL
      var j = 0
      while (j < k && i + j < tokens.length) {
        val s = tokens(i + j)
        var sh = 0xcbf29ce484222325L
        var p = 0
        while (p < s.length) { sh = (sh ^ s.charAt(p)) * 0x100000001b3L; p += 1 }
        h = mix64(h ^ sh ^ (j * 0x9e3779b97f4a7c15L))
        j += 1
      }
      set.add(h)
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator(); var q = 0
    while (it.hasNext) { out(q) = it.next(); q += 1 }
    out
  }

  /** Batched MinHash: all `perms` minima in ONE pass over the shingle
    * set (SURVEY §2.5 — the one place a typed batch operator pays).
    * Permutation p is x → a_p * x + b_p with odd a_p (a bijection of
    * the 64-bit ring); min taken under unsigned order.
    */
  def minhash(shingles: Array[Long], perms: Int, seed: Long): Array[Long] = {
    if (shingles.isEmpty) return null
    val a = new Array[Long](perms); val b = new Array[Long](perms)
    var p = 0
    while (p < perms) {
      a(p) = mix64(seed ^ (2L * p)) | 1L; b(p) = mix64(seed ^ (2L * p + 1)); p += 1
    }
    val sig = Array.fill(perms)(-1L) // unsigned max
    var i = 0
    while (i < shingles.length) {
      val x = shingles(i)
      p = 0
      while (p < perms) {
        val v = a(p) * x + b(p)
        if (java.lang.Long.compareUnsigned(v, sig(p)) < 0) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  /** One-permutation MinHash (Li-Owen-Zhang NIPS'12) with
    * densification by rotation (Shrivastava & Li ICML'14): ONE hash
    * evaluation per shingle replaces the k-permutation inner loop, so
    * the per-doc signature cost drops from O(|S|·k) to O(|S| + k) —
    * and signature computation is the dominant cost of MinHash dedup
    * at corpus scale (128x fewer multiplies here). Each shingle is
    * hashed once (mix64(seed ^ x)); the hash picks a bin (unsigned
    * mod k — the "one permutation" partition of the universe) and
    * competes for that bin's unsigned min. An empty bin borrows the
    * value of the nearest non-empty bin to its RIGHT (circularly),
    * offset by d·C per step so borrows at different distances cannot
    * collide by accident — the rotation scheme that restores the
    * collision-probability ≈ J LSH property for sparse sets. Output
    * is a drop-in Array[Long] signature: banding, b-bit packing and
    * [[sigEstimate]] all apply unchanged.
    */
  def ophMinhash(shingles: Array[Long], k: Int, seed: Long): Array[Long] = {
    if (shingles == null || shingles.isEmpty) return null
    val C = 0x9e3779b97f4a7c15L // rotation offset; any odd constant works
    val sig = new Array[Long](k)
    val filled = new Array[Boolean](k)
    var i = 0
    while (i < shingles.length) {
      val h = mix64(seed ^ shingles(i))
      val bin = java.lang.Long.remainderUnsigned(h, k).toInt
      if (!filled(bin) || java.lang.Long.compareUnsigned(h, sig(bin)) < 0) {
        sig(bin) = h; filled(bin) = true
      }
      i += 1
    }
    // densification: ONE right-to-left sweep over the doubled ring —
    // descending from 2k-1, `next` always holds the nearest filled
    // position to the RIGHT of j (a filled bin f is first seen at its
    // doubled position f+k ≥ k, so `next` is set before any real
    // j < k needs it); empty bins assign only on the j < k half
    var next = -1
    var j = 2 * k - 1
    while (j >= 0) {
      val b = j % k
      if (filled(b)) next = j
      else if (j < k) sig(b) = sig(next % k) + (next - j) * C
      j -= 1
    }
    sig
  }

  /** Exact Jaccard of two distinct-hash sets. */
  def jaccard(x: Array[Long], y: Array[Long]): Double = {
    if (x == null || y == null || x.isEmpty || y.isEmpty) return 0.0
    val s = new java.util.HashSet[Long](x.length * 2)
    x.foreach(s.add)
    var inter = 0
    y.foreach(v => if (s.contains(v)) inter += 1)
    inter.toDouble / (x.length + y.length - inter)
  }

  /** Broder's MinHash estimator: the fraction of agreeing signature
    * components is an unbiased estimate of the Jaccard similarity
    * (stderr ≈ sqrt(J(1−J)/n) — ~0.04 at n = 128, J = 0.7). The
    * verify step for consumers that hold SIGNATURES but not shingle
    * sets (the streaming state store); the batch path exact-verifies
    * with [[jaccard]] on shingles instead.
    */
  def sigEstimate(x: Array[Long], y: Array[Long]): Double = {
    if (x == null || y == null || x.length == 0 || x.length != y.length) return 0.0
    var agree = 0
    var i = 0
    while (i < x.length) { if (x(i) == y(i)) agree += 1; i += 1 }
    agree.toDouble / x.length
  }

  /** b-bit MinHash (Li & Koenig, WWW'10): keep only the lowest `b`
    * bits of each signature value, bit-packed little-endian into
    * longs — a 64/b-fold signature-footprint reduction (128 perms at
    * b=2: 1 KB -> 32 B), the storage shape for signature CONSUMERS
    * that hold sketches per key at corpus scale (the incremental
    * near-dup snapshot, the streaming state store). Collisions now
    * happen by chance with probability C = 2^-b, so the match
    * fraction m estimates J via the unbiased correction
    * (m - C)/(1 - C) ([[bbitEstimate]]); the variance penalty is the
    * known Li-Koenig trade for the footprint.
    */
  def bbitPack(sig: Array[Long], b: Int): Array[Long] = {
    require(b >= 1 && b <= 32, s"b in [1,32]: $b")
    val out = new Array[Long]((sig.length * b + 63) >> 6)
    val mask = (1L << b) - 1
    var bit = 0
    var i = 0
    while (i < sig.length) {
      val x = sig(i) & mask
      val w = bit >> 6
      val off = bit & 63
      out(w) |= x << off
      if (off + b > 64) out(w + 1) |= x >>> (64 - off)
      bit += b
      i += 1
    }
    out
  }

  /** The i-th b-bit component of a [[bbitPack]]ed sketch. */
  def bbitAt(packed: Array[Long], i: Int, b: Int): Long = {
    val bit = i * b
    val w = bit >> 6
    val off = bit & 63
    val lo = packed(w) >>> off
    val v = if (off + b > 64) lo | (packed(w + 1) << (64 - off)) else lo
    v & ((1L << b) - 1)
  }

  /** Agreeing components between two packed b-bit sketches of `n`
    * permutations. For the power-of-two widths (components never
    * straddle a word) the comparison is word-wise — XOR, fold each
    * component's bits onto its LSB, popcount the mismatches — ~30x
    * fewer operations than per-component extraction, which is the
    * point of the packed layout on the corpus-scale compare path.
    * The final word is masked to the first `n` components, so a
    * PREFIX compare against sketches packed from more than `n`
    * permutations is exact too (real differing components past `n`
    * must not count as mismatches). Non-power widths fall back to
    * [[bbitAt]].
    */
  def bbitMatches(x: Array[Long], y: Array[Long], n: Int, b: Int): Int = {
    // mirrors bbitPack's domain: b=0 would pass the power-of-two test
    // below and spin the lsb-mask loop forever
    require(b >= 1 && b <= 32, s"b in [1,32]: $b")
    if ((b & (b - 1)) == 0) {
      // LSB-of-each-component mask, e.g. b=2: 0x5555...; b=8: 0x0101...
      var lsb = 1L
      var s = b
      while (s < 64) { lsb |= lsb << s; s <<= 1 }
      var mismatches = 0
      var w = 0
      val words = (n * b + 63) >> 6
      val rem = (n * b) & 63
      while (w < words) {
        var z = x(w) ^ y(w)
        if (w == words - 1 && rem != 0) z &= (1L << rem) - 1
        var sh = 1
        while (sh < b) { z |= z >>> sh; sh <<= 1 }
        mismatches += java.lang.Long.bitCount(z & lsb)
        w += 1
      }
      n - mismatches
    } else {
      var agree = 0
      var i = 0
      while (i < n) { if (bbitAt(x, i, b) == bbitAt(y, i, b)) agree += 1; i += 1 }
      agree
    }
  }

  /** Li-Koenig corrected Jaccard estimate from `matches` agreeing
    * b-bit components of `n`: (m/n - C)/(1 - C) with C = 2^-b,
    * clamped at 0 (chance-level agreement estimates J = 0).
    */
  def bbitEstimate(matches: Int, n: Int, b: Int): Double = {
    val c = 1.0 / (1L << b).toDouble
    math.max(0.0, (matches.toDouble / n - c) / (1.0 - c))
  }
}

/** MinHash + LSH near-duplicate detection [EXT] (SURVEY §7.1 module 7):
  * k-shingles → batched 128-perm MinHash → banded LSH self-join →
  * exact-Jaccard verification.
  *
  * Scale design: signatures are computed map-side in one pass per row;
  * the only shuffled payloads are (url, band_id, band_hash) triples for
  * candidate generation and (url, shingles) for verification of the
  * (small) candidate set. Hot bands — boilerplate pages all landing in
  * one (band_id, band_hash) bucket, a quadratic blowup — are capped at
  * `maxBucket` rows and routed to a skipped-buckets metric instead of
  * silently exploding (SURVEY §7.3); AQE skew-join handles the
  * residual moderate skew.
  */
object MinHashLSH {

  case class Config(
      shingleK: Int = 5,
      numPerms: Int = 128,
      bands: Int = 32,
      seed: Long = 42L,
      jaccardThreshold: Double = 0.7,
      maxBucket: Int = 200,
      /** > 1 enables the salted two-round drain: a corpus dominated by
        * ONE pathological band bucket (every doc sharing a boilerplate
        * band) streams through `salts` round-1 tasks instead of one
        * long task (see CappedGroups skew note). 1 = single-round.
        */
      salts: Int = 1,
      /** true = one-permutation hashing with rotation densification
        * ([[Hashing.ophMinhash]]) instead of the k-permutation batch:
        * O(|S| + k) per doc instead of O(|S|·k) — same signature
        * shape, banding and verify unchanged. The estimator variance
        * is slightly higher on short docs (borrowed components), which
        * is why it's opt-in rather than the default.
        */
      oph: Boolean = false) {
    require(numPerms % bands == 0, "bands must divide numPerms")
    require(salts >= 1, "salts must be >= 1")
    def rowsPerBand: Int = numPerms / bands
  }

  private val shinglesUdf = udf((text: String, k: Int) =>
    Hashing.shingleHashes(Hashing.tokenize(text), k))
  /** Row-level band hashes — the ONE banding arithmetic, shared by the
    * batch udf and row-at-a-time consumers (streaming state store,
    * incremental snapshot probes) so a streamed doc lands in exactly
    * the bucket its batch plan would.
    */
  private[graft] def bandHashesLocal(sig: Array[Long], bands: Int, r: Int): Array[Long] =
    Array.tabulate(bands) { b =>
      var h = 0x9e3779b97f4a7c15L ^ b
      var i = 0
      while (i < r) { h = Hashing.mix64(h ^ sig(b * r + i)); i += 1 }
      h
    }

  private val bandsUdf = udf((sig: Array[Long], bands: Int, r: Int) =>
    if (sig == null) null else bandHashesLocal(sig, bands, r))
  private val jaccardUdf = udf((x: Array[Long], y: Array[Long]) => Hashing.jaccard(x, y))

  /** Band-hash array Column of a signature Column — the banding step
    * exposed for row-level consumers (the incremental near-dup
    * snapshot builds its band table from this).
    */
  def bandHashes(sig: Column, cfg: Config): Column =
    bandsUdf(sig, lit(cfg.bands), lit(cfg.rowsPerBand))

  /** The shingle-hash array Column of a text Column under `cfg`: the
    * shingling rule of [[signatures]], for callers that ship shingles
    * beside other columns.
    */
  private[graft] def shingles(text: Column, cfg: Config): Column =
    shinglesUdf(text, lit(cfg.shingleK))

  /** (url, shingles, sig) — one scan, all map-side. */
  def signatures(docs: DataFrame, cfg: Config = Config(), textCol: String = "text",
      idCol: String = "url"): DataFrame =
    docs.select(col(idCol).as("id"), shingles(col(textCol), cfg).as("shingles"))
      .withColumn("sig", udf((sh: Array[Long]) => signatureOf(sh, cfg)).apply(col("shingles")))

  /** The signature of one shingle set under `cfg` (null when empty):
    * the row rule of [[signatures]], for row-at-a-time consumers.
    */
  private[graft] def signatureOf(shingles: Array[Long], cfg: Config): Array[Long] =
    if (cfg.oph) Hashing.ophMinhash(shingles, cfg.numPerms, cfg.seed)
    else Hashing.minhash(shingles, cfg.numPerms, cfg.seed)

  /** Candidate pairs + over-cap skip rows from banded LSH, in ONE
    * streamed shuffle pass: explode band hashes per doc and drain each
    * (band_id, band_hash) bucket through [[CappedGroups.drainGroups]]
    * (at most cap+1 members held, everything counted). A bucket of
    * 2..cap members emits its unordered pairs with skipped=0; an
    * over-capacity bucket (boilerplate hot band — the quadratic-blowup
    * guard of SURVEY §7.3) emits ONE (null, null, n) skip row instead,
    * so the skip metric is a side output of the same pass, never a
    * second shingling scan. With `cfg.salts` above 1 the drain runs in
    * two rounds.
    */
  def candidatesAndSkips(sigs: DataFrame, cfg: Config = Config()): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    type Row = (String, Int, Long)
    CappedGroups.drainGroups(banded(sigs, cfg), (r: Row) => (r._2, r._3), (r: Row) => r._1,
        cfg.maxBucket, cfg.salts, identity[String])(CappedGroups.pairsOrSkip(cfg.maxBucket))
      .toDF("src", "dst", "skipped")
  }

  /** (id, band_id, band_hash): one row per band of each signed doc. */
  private[near] def banded(sigs: DataFrame, cfg: Config): Dataset[(String, Int, Long)] = {
    val spark = sigs.sparkSession
    import spark.implicits._
    sigs
      .filter(col("sig").isNotNull)
      .select(col("id"),
        posexplode(bandsUdf(col("sig"), lit(cfg.bands), lit(cfg.rowsPerBand)))
          .as(Seq("band_id", "band_hash")))
      .as[(String, Int, Long)]
  }

  /** Verified near-dup edges: exact Jaccard on the shingle sets of the
    * candidate pairs (the small side), threshold from cfg.
    *
    * Terminal operator: the signature frame is persisted for the
    * candidate pass + the two verification joins, the (small) verified
    * edge set is materialized via localCheckpoint, and the signatures
    * are unpersisted before returning, on error too — no cached frame outlives the
    * call (r2 VERDICT #2: the persist leak pinned the widest
    * intermediate of the whole pipeline in executor storage).
    */
  def edges(docs: DataFrame, cfg: Config = Config(), textCol: String = "text",
      idCol: String = "url"): DataFrame = {
    val sigs = signatures(docs, cfg, textCol, idCol).persist()
    try {
      val cand = candidatesAndSkips(sigs, cfg).filter(col("src").isNotNull)
        .select("src", "dst").distinct()
      verifyCandidates(cand, sigs, cfg).localCheckpoint()
    } finally sigs.unpersist()
  }

  /** The driver twin of [[candidatesAndSkips]] + [[verifyCandidates]]
    * over collected (id, shingles, sig) rows: each signed doc's bands
    * ([[bandHashesLocal]]) fill the (band_id, band_hash) buckets, each
    * bucket goes through the drain's emit
    * ([[CappedGroups.pairsOrSkip]]), and each distinct candidate pair
    * yields one (src, dst) per shingle-set pairing of its two ids that
    * passes the exact-Jaccard threshold — the rows the verify's two
    * inner joins yield (an id held twice has two shingle sets). Returns
    * those rows and the summed rows of the over-cap buckets.
    */
  private[graft] def edgesAndSkippedLocal(docs: Seq[(String, Array[Long], Array[Long])],
      cfg: Config): (Seq[(String, String)], Long) = {
    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[String]]
    for ((id, _, sig) <- docs if sig != null;
         (h, b) <- bandHashesLocal(sig, cfg.bands, cfg.rowsPerBand).iterator.zipWithIndex)
      buckets.getOrElseUpdate((b, h), mutable.ArrayBuffer.empty) += id
    var skipped = 0L
    val cand = mutable.LinkedHashSet.empty[(String, String)]
    for (ids <- buckets.valuesIterator;
         (src, dst, n) <- CappedGroups.pairsOrSkip(cfg.maxBucket)(ids.length, ids))
      if (src == null) skipped += n else cand += ((src, dst))
    val shingles = docs.groupMap(_._1)(_._2)
    val edges = for {
      (src, dst) <- cand.toSeq
      a <- shingles(src)
      b <- shingles(dst)
      if Hashing.jaccard(a, b) >= cfg.jaccardThreshold
    } yield (src, dst)
    (edges, skipped)
  }

  /** Exact-Jaccard verification of (src, dst) candidate pairs against
    * the shingle sets in `sigs`.
    */
  def verifyCandidates(cand: DataFrame, sigs: DataFrame, cfg: Config = Config()): DataFrame = {
    val sh = sigs.select(col("id"), col("shingles"))
    cand
      .join(sh.withColumnRenamed("id", "src").withColumnRenamed("shingles", "sh_src"), "src")
      .join(sh.withColumnRenamed("id", "dst").withColumnRenamed("shingles", "sh_dst"), "dst")
      .withColumn("jaccard", jaccardUdf(col("sh_src"), col("sh_dst")))
      .filter(col("jaccard") >= cfg.jaccardThreshold)
      .select("src", "dst", "jaccard")
  }
}
