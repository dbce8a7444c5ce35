package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.near.Hashing

/** Similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the exact baseline (prenormed
  * broadcast nested-loop — correct at any scale where the query side
  * is small); the scale path is BANDED random-hyperplane LSH
  * (OR-construction, Indyk–Motwani / Charikar): T independent tables
  * of `bits` sign bits each, candidates restricted to pairs agreeing
  * on ALL bits of AT LEAST ONE table, exact cosine re-rank/verify on
  * the candidates.
  *
  * Why banding and not a Hamming-ball multiprobe (the r2 design — one
  * log2(N/target)-bit code probed within a fixed radius): for a true
  * near-dup at cosine c each sign bit flips independently with
  * p ≈ arccos(c)/π (0.045 at c = 0.99), so the EXPECTED Hamming
  * distance grows linearly with the code width — bits·p ≈ 1.5 at
  * N = 10^12 — and any fixed-radius ball loses recall as the corpus
  * grows (and a radius that grows with bits pays C(bits, r) probe
  * fan-out). Banding holds recall at EVERY corpus size: a pair
  * collides in one table w.p. q = (1−p)^bits, and T ≈
  * ln(1/(1−recall))/q tables make the miss probability (1−q)^T ≤
  * 1−recall by construction — the same AND/OR shape as MinHash band
  * LSH, with T growing only polynomially in bits (T ≈ 20 at
  * N = 10^12, target recall 0.99 at cosine 0.99).
  */
object Ann {

  /** cosine(a, b) in double precision, deterministic left-to-right
    * accumulation (matches the DuckDB oracle's list_dot_product on
    * double-cast lists).
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val na = aggregate(transform(ad, x => x * x), lit(0.0), (s, v) => s + v)
    val nb = aggregate(transform(bd, x => x * x), lit(0.0), (s, v) => s + v)
    when(na > 0 && nb > 0, dot / sqrt(na * nb)).otherwise(lit(0.0))
  }

  /** Exact top-k cosine neighbors for the `queries` subset against the
    * full corpus. Queries are expected to be small → broadcast side.
    */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(prenorm(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q0")),
      "query_id", col("q0"), "qv", "qn").drop("q0"))
    val c = prenorm(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c0")),
      "neighbor_id", col("c0"), "cv", "cn").drop("c0")
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosineFromParts(col("qv"), col("qn"), col("cv"), col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** Seeded deterministic ~N(0,1) hyperplanes, memoized per
    * (planes, dim, seed) — they were being regenerated per ROW inside
    * the udf otherwise.
    */
  private val hpCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()

  private def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    hpCache.computeIfAbsent((planes, dim, seed), { key: (Int, Int, Long) =>
      Array.tabulate(planes) { b =>
        Array.tabulate(dim) { d =>
          // deterministic ~N(0,1) via Box-Muller over seeded uniforms
          val u1 = (Hashing.mix64(seed ^ (b * 1009L + d)) >>> 11).toDouble / (1L << 53).toDouble
          val u2 = (Hashing.mix64(seed ^ (b * 2003L + d) ^ 0x5bf03635L) >>> 11).toDouble / (1L << 53).toDouble
          math.sqrt(-2 * math.log(u1 + 1e-300)) * math.cos(2 * math.Pi * u2)
        }
      }
    })

  /** All T table codes of a vector in one pass: table t packs the sign
    * bits of hyperplanes [t·bits, (t+1)·bits) into one LONG (codes are
    * 64-bit — the r2 Int packing silently wrapped `1 << b` past 31
    * bits, aliasing high hyperplanes onto low ones).
    */
  def tableCodes(tables: Int, bits: Int, seed: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((v: Seq[Float]) =>
      if (v == null || v.isEmpty) null
      else {
        val hp = hyperplanes(tables * bits, v.length, seed)
        Array.tabulate(tables) { t =>
          var code = 0L
          var b = 0
          while (b < bits) {
            val plane = hp(t * bits + b)
            var s = 0.0; var d = 0
            while (d < v.length) { s += plane(d) * v(d); d += 1 }
            if (s > 0) code |= (1L << b)
            b += 1
          }
          code
        }
      })

  /** Scale-adaptive per-table code width: buckets hold ~targetBucket
    * rows regardless of corpus size — bits grows with log N (a FIXED
    * bit count degenerates to scanning N/2^bits rows per query at
    * scale). Capped at 62 so the Long packing never wraps.
    */
  def adaptiveBits(n: Long, targetBucket: Int = 64): Int =
    math.min(62, math.max(1, math.ceil(math.log(math.max(2.0, n.toDouble / targetBucket)) /
      math.log(2.0)).toInt))

  /** Number of OR-construction tables for target `recall` on pairs at
    * cosine ≥ `simCos`, given per-table width `bits`:
    * smallest T with 1 − (1 − q)^T ≥ recall, q = (1 − arccos(c)/π)^bits.
    * Capped at 128: for NEAR-DUP regimes (c ≥ ~0.9) the cap never
    * binds (≈20 tables at 10^12 rows for c = 0.99); for LOW-similarity
    * retrieval (c ≲ 0.5) at large N the required T explodes — that is
    * the intrinsic hardness of far-neighbor LSH, and hitting the cap
    * means the recall target is honestly unattainable at that (bits,
    * simCos) point, not silently "handled".
    */
  def numTables(bits: Int, simCos: Double = 0.99, recall: Double = 0.99): Int = {
    val p = 1.0 - math.acos(math.min(1.0, math.max(-1.0, simCos))) / math.Pi
    val q = math.pow(p, bits.toDouble)
    if (q >= 1.0 - 1e-12) 1
    else math.min(128, math.max(1, math.ceil(math.log1p(-recall) / math.log1p(-q)).toInt))
  }

  /** Approximate top-k: banded LSH candidates (agree on all bits of
    * ≥1 table), exact cosine re-rank. Queries are broadcast, so the
    * corpus side never shuffles: corpus codes + prenormed vectors are
    * probed map-side against the query table codes; the only shuffles
    * are over the (small) scored candidate set. Candidate duplication
    * across tables collapses via max(score) (scores are deterministic
    * per pair).
    *
    * bits0/tables0 ≤ 0 (default) = adaptive: bits = log2(n/targetBucket)
    * (pass `n` to skip the corpus count), tables from `numTables(bits,
    * simCos, recall)`.
    */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int, bits0: Int = 0,
      tables0: Int = 0, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", targetBucket: Int = 64,
      n: Option[Long] = None, simCos: Double = 0.99, recall: Double = 0.99): DataFrame = {
    val bits = if (bits0 > 0) bits0 else adaptiveBits(n.getOrElse(corpus.count()), targetBucket)
    val tables = if (tables0 > 0) tables0 else numTables(bits, simCos, recall)
    // codes + vector in ONE projection: the corpus side stays entirely
    // map-side (probe of the broadcast query table), never shuffled
    val c = prenorm(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c0"),
        posexplode(tableCodes(tables, bits, seed)(col(vecCol)))
          .as(Seq("table_id", "code"))),
      "neighbor_id", col("c0"), "cv", "cn").drop("c0")
    val q = broadcast(prenorm(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q0"),
        posexplode(tableCodes(tables, bits, seed)(col(vecCol)))
          .as(Seq("table_id", "code"))),
      "query_id", col("q0"), "qv", "qn").drop("q0"))
    val scored = q.join(c, Seq("table_id", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosineFromParts(col("qv"), col("qn"), col("cv"), col("cn")))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("score")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** Per-row precomputation for pairwise cosine: double-cast vector +
    * its self-dot, so each PAIR only pays one dot product (norms were
    * being recomputed per pair otherwise). Values are bit-identical to
    * the naive form — same na/nb/dot inputs to the same expression.
    */
  def prenorm(df: DataFrame, idAs: String, vecCol: Column,
      vAs: String, nAs: String): DataFrame = {
    val vd = transform(vecCol, x => x.cast("double"))
    df.select(col("*")).select(
      df.columns.map(col) :+ vd.as(vAs): _*)
      .withColumn(nAs, dotUdf(col(vAs), col(vAs)))
  }

  /** Left-to-right double dot product. A UDF, deliberately: the
    * zip_with/aggregate HOF form is interpreted per element with boxed
    * lambdas (~10-50× slower on the per-PAIR hot path), while the
    * accumulation order — and therefore every result bit — is
    * identical (s += a(i)*b(i), i ascending, IEEE doubles). Null
    * vectors → null (not NPE): a null embedding row must degrade to a
    * filterable value, same contract as tableCodes (ADVICE r3 #1).
    */
  private val dotUdf = udf((a: Seq[Double], b: Seq[Double]) =>
    if (a == null || b == null) null
    else {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      java.lang.Double.valueOf(s)
    })

  /** cosine from prenormalized parts (dot / sqrt(na·nb)), zero-guarded. */
  def cosineFromParts(av: Column, an: Column, bv: Column, bn: Column): Column =
    when(an > 0 && bn > 0, dotUdf(av, bv) / sqrt(an * bn)).otherwise(lit(0.0))

  /** In-drain verify kernel shared by [[embeddingDupEdgesAndSkips]]
    * and [[SemDeDup.edgesAndSkips]] (r6, guide §8): score every
    * unordered pair of a drained bucket with the EXACT
    * round(cosineFromParts, 6) arithmetic (same prenormed doubles,
    * same left-to-right dot, same HALF_UP round — SemDeDupSpec /
    * MiscSpec pin it) and emit only pairs clearing `threshold`, or the
    * single counted skip row for an over-cap bucket. The quadratic
    * candidate set never leaves the task.
    */
  private[sim] def emitVerified(cap: Int, threshold: Double)(n: Long,
      ms: collection.IndexedSeq[(String, Seq[Double], Double)])
      : Iterator[(String, String, java.lang.Double, Long)] =
    if (n > cap) Iterator.single((null, null, null, n))
    else if (ms.length < 2) Iterator.empty
    else {
      val sorted = ms.sortBy(_._1)
      val ids = sorted.map(_._1).toArray
      val vs = sorted.map(_._2.toArray).toArray
      val ns = sorted.map(_._3).toArray
      for {
        i <- ids.indices.iterator
        j <- ((i + 1) until ids.length).iterator
        score = {
          val a = vs(i); val b = vs(j)
          val nD = math.min(a.length, b.length)
          var s = 0.0
          var d = 0
          while (d < nD) { s += a(d) * b(d); d += 1 }
          val c = if (ns(i) > 0 && ns(j) > 0) s / math.sqrt(ns(i) * ns(j)) else 0.0
          // Spark's round(col, 6) on DOUBLE: BigDecimal HALF_UP
          java.math.BigDecimal.valueOf(c)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        }
        if score >= threshold
      } yield (ids(i), ids(j), java.lang.Double.valueOf(score), 0L)
    }

  /** Re-type the (small) verified string-id pairs back to the ORIGINAL
    * id type and orient with least/greatest; LEFT joins pass skip rows
    * through unharmed. Shared output tail of the two in-drain verify
    * operators.
    */
  private[sim] def retypePairs(verified: DataFrame, corpus: DataFrame,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, least, greatest}
    val idMap = corpus.select(col(idCol).as("id0"),
      col(idCol).cast("string").as("ids"))
    verified
      .join(idMap.select(col("ids").as("src"), col("id0").as("src_id")),
        Seq("src"), "left")
      .join(idMap.select(col("ids").as("dst"), col("id0").as("dst_id")),
        Seq("dst"), "left")
      .select(least(col("src_id"), col("dst_id")).as("src"),
        greatest(col("src_id"), col("dst_id")).as("dst"), col("score"),
        col("skipped"))
  }

  /** Embedding near-duplicate edges + skip rows: verified pairs with
    * cosine ≥ threshold (skipped = 0) plus AT MOST ONE aggregated
    * (null, null, null, n) skip row — capped AND surfaced in the same
    * pass. Banded-LSH buckets (tables sized from the threshold itself:
    * a pair AT the threshold is found w.p. ≥ `recall` at any corpus
    * size) are drained with the cosine verify IN-TASK (r6, guide §8):
    * each vector rides the T-way code shuffle with its prenormed
    * doubles (bounded at cap·dim per drained bucket) and the
    * quadratic candidate set never shuffles — the previous shape
    * shuffled every candidate id-pair, then re-joined the prenormed
    * corpus onto it TWICE. A pair colliding in several tables is
    * re-scored per table (scores identical, near-dups are the rare
    * case) and deduped by the groupBy that also collapses skip rows.
    */
  def embeddingDupEdgesAndSkips(corpus: DataFrame, threshold: Double, bits0: Int = 0,
      tables0: Int = 0, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", targetBucket: Int = 64,
      n: Option[Long] = None, recall: Double = 0.99,
      maxBucket: Int = 4096, salts: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bits = if (bits0 > 0) bits0 else adaptiveBits(n.getOrElse(corpus.count()), targetBucket)
    val tables = if (tables0 > 0) tables0 else numTables(bits, threshold, recall)
    val cap = maxBucket
    // codes from the ORIGINAL float vectors (sign bits unchanged);
    // prenormed (v, nn) ride the code shuffle for the in-task verify
    val rows = prenorm(
        corpus.select(col(idCol).as("id0"), col(vecCol).as("v0")),
        "id0", col("v0"), "v", "nn")
      .select(col("id0").cast("string").as("ids"), col("v"), col("nn"),
        posexplode(tableCodes(tables, bits, seed)(col("v0")))
          .as(Seq("table_id", "code")))
      .select(struct(col("table_id").as("_1"), col("code").as("_2")).as("_1"),
        struct(col("ids").as("_1"), col("v").as("_2"), col("nn").as("_3")).as("_2"))
      .as[((Int, Long), (String, Seq[Double], Double))]
    val emit = emitVerified(cap, threshold) _
    type Row = ((Int, Long), (String, Seq[Double], Double))
    val raw = graft.functions.CappedGroups.drainGroups(rows, (r: Row) => r._1,
      (r: Row) => r._2, cap, salts, (m: (String, Seq[Double], Double)) => m._1)(emit)
    // dedupe pairs found in several tables (identical scores) AND
    // collapse over-cap skip rows (null keys group together) in one
    // small shuffle over the VERIFIED set
    val fused = raw.toDF("src", "dst", "score", "skipped")
      .groupBy(col("src"), col("dst"))
      .agg(max(col("score")).as("score"), sum(col("skipped")).as("skipped"))
    retypePairs(fused, corpus, idCol)
  }

  /** Pairs-only view of [[embeddingDupEdgesAndSkips]]:
    * (src, dst, score), skip rows excluded.
    */
  def embeddingDupEdges(corpus: DataFrame, threshold: Double, bits0: Int = 0,
      tables0: Int = 0, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", targetBucket: Int = 64,
      n: Option[Long] = None, recall: Double = 0.99,
      maxBucket: Int = 4096, salts: Int = 1): DataFrame =
    embeddingDupEdgesAndSkips(corpus, threshold, bits0, tables0, seed, idCol,
        vecCol, targetBucket, n, recall, maxBucket, salts)
      .filter(col("src").isNotNull)
      .select("src", "dst", "score")
}
