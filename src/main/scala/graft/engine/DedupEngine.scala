package graft.engine

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.unsafe.types.UTF8String
import graft.model.DigestSpec

/** Result of a dedup-engine run.
  *
  * The at-scale core is ARRAY-FREE (SURVEY §7.3): `blockMeta` is one
  * narrow row per block — (keys, size, nkeys, block_id) with NO member
  * list — and `assignments` is the normalized `(id, block_id)` frame a
  * 10^12-row pipeline consumes. A 10M-member duplicate cluster is just
  * 10M assignment rows and one meta row; no aggregation buffer ever
  * holds a member array.
  *
  * `blocks` reproduces the reference's Block semantics
  * (`/root/reference/lib/Data/Dedup/Engine.pm:228-328`): one row per
  * group with a sorted `members` array and `keys` possibly SHORTER
  * than the cascade — exactly the digests that were needed
  * (lazy-digest invariant, Engine.pm:246-252). It is derived LAZILY
  * from `assignments` and only materializes member arrays on the
  * reference-parity report path — never in the scale path.
  *
  * `digestCounts(k)` = number of objects whose level-k digest was
  * computed (reference `count_keys_computed`, Engine.pm:569-578).
  * `collisionCounts(k)` = (#blocks reachable through level-k keys) −
  * (#distinct level-k key paths) (reference `count_collisions`,
  * Engine.pm:500-532; oracle fixture [6,3,3,0], Engine.t:235-271).
  */
final class DedupResult(
    blockMeta0: => DataFrame,
    val assignments: DataFrame,
    val numLevels: Int) {

  /** Lazy (r6): building the meta frame needs the single-object probe
    * (a blocking limit-2 job) only for its `nkeys` expression —
    * assignments-only consumers (the pipeline's exact-edge stage)
    * never pay that job. Same frame, same rows, on first access.
    */
  lazy val blockMeta: DataFrame = blockMeta0

  /** Reference-parity blocks WITH member arrays — report path only.
    * block_id = lexicographic min member mirrors the reference CLI's
    * alphabetical-min canonical rule (CLI.pm:282), so grouping the
    * normalized assignments by block_id reconstructs the member sets.
    */
  lazy val blocks: DataFrame =
    assignments
      .groupBy(col("block_id"))
      .agg(sort_array(collect_list(col("id"))).as("members"))
      .join(blockMeta, "block_id")
      .select(col("keys"), col("members"), col("size"), col("nkeys"))

  /** Duplicate groups only (≥2 members) — reference `duplicates`
    * (Files.pm:298-319) + report filter (CLI.pm:306).
    */
  lazy val duplicates: DataFrame = blocks.filter(size(col("members")) > 1)

  lazy val (digestCounts, collisionCounts): (Seq[Long], Seq[Long]) = {
    if (numLevels == 0) (Seq.empty, Seq.empty)
    else {
      val nk = col("nkeys")
      val dcs = (0 until numLevels).map(k =>
        sum(when(nk > k, col("size")).otherwise(lit(0L))).as(s"dc$k"))
      val reached = (0 until numLevels).map(k =>
        sum(when(nk > k, lit(1L)).otherwise(lit(0L))).as(s"r$k"))
      val paths = (0 until numLevels).map { k =>
        val prefix = struct((0 to k).map(i => element_at(col("keys"), i + 1)): _*)
        count_distinct(when(nk > k, prefix)).as(s"p$k")
      }
      val row = blockMeta
        .agg((dcs ++ reached ++ paths).head, (dcs ++ reached ++ paths).tail: _*).head()
      val d = (0 until numLevels).map(k => row.getLong(k))
      val c = (0 until numLevels).map(k =>
        row.getLong(numLevels + k) - row.getLong(2 * numLevels + k))
      (d, c)
    }
  }
}

/** The dedup kernel: progressive multi-level blocking
  * (reference `Data::Dedup::Engine`, Engine.pm:70-607), re-expressed as
  * Spark dataflow instead of the reference's in-memory key-trie.
  *
  * One plan: every digest is computed map-side in ONE scan of the
  * content column, then only the stringified `(id, k0..kn)` tuples are
  * shuffled — a single wide group-by plus windows over an aggregated
  * (tiny) frame. The reference computes digest k only for rows that
  * still collide after level k−1, which saved disk seeks on a
  * filesystem; on columnar storage a second pass over `html` for
  * survivors costs more than hashing it once. Lazy *semantics* (short
  * key arrays, per-level digest/collision counts) are recovered
  * algebraically: a block's key count = the shortest key prefix that
  * isolates it (SURVEY.md §1.2.1), pinned by the ported [6,3,3,0]
  * collision oracle.
  *
  * A shuffled row is as wide as its keys: the hash digests are a few
  * bytes each, but the `bytes` level (`--byte-verify`) keys on
  * `hex(html)`, so under it every row's page crosses the exchange.
  *
  * Block aggregation is a map-side-combining groupBy (count + min),
  * never a collect_list, so a hot block (all-empty pages sharing one
  * full key) partial-aggregates safely; the assignments join back on
  * the full key is the one skewed join, handled by AQE skew-join.
  */
object DedupEngine {

  /** The cascade's key columns over `df`, `__k0..__kn`: the ONE key
    * rule, shared by [[run]] and the driver twin's callers
    * ([[assignmentsLocal]]). Each digest is stringified the way the
    * reference stringifies keys for hashing (Engine.pm:340), but
    * collision-safely: raw binary digests go through hex() (a
    * binary→string CAST would UTF-8-mangle distinct byte strings into
    * identical replacement-char strings = false merges).
    */
  private[graft] def keyColumns(df: DataFrame, cascade: Seq[DigestSpec]): Seq[Column] = {
    val types = df.select(cascade.zipWithIndex.map { case (d, i) => d.expr.as(s"__k$i") }: _*)
      .schema.fields.map(_.dataType)
    cascade.zip(types).zipWithIndex.map { case ((d, t), i) =>
      (if (t == BinaryType) hex(d.expr) else d.expr.cast("string")).as(s"__k$i") }
  }

  /** The driver twin of `run(...).assignments` over rows of (id, full
    * key from [[keyColumns]]): one (id, block_id) per row, in row
    * order, block_id being the least non-null id (UTF-8 byte order, as
    * Spark's `min`) among the rows with an equal full key, null digests
    * included (the null-safe key join); null when every such id is
    * null. An empty cascade is one block of everything.
    */
  private[graft] def assignmentsLocal(
      rows: Seq[(UTF8String, Seq[UTF8String])]): Seq[(UTF8String, UTF8String)] = {
    val blockId = mutable.HashMap.empty[Seq[UTF8String], UTF8String]
    for ((id, keys) <- rows if id != null)
      blockId.updateWith(keys) {
        case Some(b) if b.binaryCompare(id) <= 0 => Some(b)
        case _ => Some(id)
      }
    rows.map { case (id, keys) => (id, blockId.getOrElse(keys, null)) }
  }

  private def keyCols(n: Int): Seq[Column] = (0 until n).map(i => col(s"__k$i"))

  /** Run the cascade over `df`; `idCol` identifies the object (the
    * reference's opaque scalar — a url for the corpus, a path for
    * files). Degenerate empty cascade ⇒ one block of everything with
    * keys=[] (Engine.pm:138-139, Engine.t:65-84).
    */
  def run(df: DataFrame, idCol: String, cascade: Seq[DigestSpec]): DedupResult = {
    val withId = df.withColumn("__id", col(idCol).cast("string"))
    val n = cascade.length
    if (n == 0) {
      val blockMeta = withId
        .agg(count(lit(1)).as("size"), min(col("__id")).as("block_id"))
        .select(
          lit(Array.empty[String]).cast("array<string>").as("keys"),
          col("size"), lit(0).as("nkeys"), col("block_id"))
        .filter(col("size") > 0)
      val assignments = withId.select(col("__id").as("id"))
        .crossJoin(broadcast(blockMeta.select(col("block_id"))))
      return new DedupResult(blockMeta, assignments, 0)
    }
    val narrow0 = withId.select(col("__id") +: keyColumns(withId, cascade): _*)
    // the single-object degenerate (keys=[], Engine.pm:351-364) only
    // needs to know whether ≥2 rows exist — a limit(2) probe, not a
    // full count scan of the corpus. DEFERRED (r6): the probe result
    // feeds only the nkeys expression of blockMeta, so it runs when
    // blockMeta is first touched — assignments-only consumers skip
    // the blocking job entirely.
    lazy val single = narrow0.limit(2).count() < 2
    // ONE explicit exchange on the full key feeds BOTH the block
    // aggregation and the assignments probe side below: the two
    // subtrees canonicalize to the same Exchange, so the physical plan
    // is a ReusedExchange and the scan+digest projection runs ONCE per
    // action instead of once per consumer (digest CPU over page bytes
    // dominates everything else at 100 TB — the narrow-row shuffle it
    // trades away the map-side combine for is ~150 B/row). The reuse
    // holds only while both subtrees stay equal: a consumer predicate
    // on `id` alone, written or inferred (`id =!= block_id` infers
    // `isnotnull(id)`), is pushed below the probe side's exchange only
    // and splits it, so consumers filter null-tolerantly
    // (`coalesce(pred, false)`, as the pipeline's exact edges do).
    val narrow = narrow0.repartition(keyCols(n): _*)
    // aggregation over the pre-shuffled frame: hot blocks never
    // materialize arrays (count+min only)
    val grouped = narrow
      .groupBy(keyCols(n): _*)
      .agg(count(lit(1)).as("size"), min(col("__id")).as("block_id"))
      // one extra exchange on k0 buys exchange-free windows for EVERY
      // key prefix below (subset-of-clustering-keys rule); the windows
      // run over the BLOCK-level frame (one row per block), so a hot
      // block contributes one row, not its members
      .repartition(col("__k0"))
    var g = grouped
    for (k <- 1 until n) {
      val w = Window.partitionBy(keyCols(k): _*)
      g = g.withColumn(s"__s$k", sum(col("size")).over(w))
    }
    // nkeys = min k in [0..n] with (#rows under the k-prefix) == 1, else n.
    // s_0 = corpus total (degenerate single-row case), s_n = block size.
    // Built inside the lazy blockMeta thunk: constructing the nkeys
    // expression forces the `single` probe, and the assignments join
    // only needs the key columns + block_id (renameKeys prunes nkeys
    // anyway — joining on g is the identical frame).
    def blockMeta = {
      var nkeysExpr: Column = when(lit(single), 0)
      for (k <- 1 until n) nkeysExpr = nkeysExpr.when(col(s"__s$k") === 1L, k)
      nkeysExpr = nkeysExpr.otherwise(n)
      g.withColumn("nkeys", nkeysExpr).select(
        slice(array(keyCols(n): _*), lit(1), col("nkeys")).as("keys"),
        col("size"), col("nkeys"), col("block_id"))
    }
    val assignments = narrow
      .join(renameKeys(g, n), nullSafeKeyCond(n))
      .select(col("__id").as("id"), col("block_id"))
    new DedupResult(blockMeta, assignments, n)
  }

  /** Meta-side key columns renamed __m0.. so the assignments join can
    * use an expression condition without self-lineage ambiguity.
    */
  private def renameKeys(meta: DataFrame, n: Int): DataFrame =
    meta.select(keyCols(n) :+ col("block_id"): _*)
      .toDF(((0 until n).map(i => s"__m$i") :+ "block_id"): _*)

  /** NULL-SAFE equi-join on every key column: a null digest (e.g.
    * sha over null content) is a real key value — groupBy/windows
    * already treat it as one group, and a plain equi-join would
    * silently drop those rows from assignments while blockMeta still
    * counted them (r2 ADVICE). <=> is an equi-join predicate, so the
    * physical plan stays a hash join.
    */
  private def nullSafeKeyCond(n: Int): Column =
    (0 until n).map(i => col(s"__k$i") <=> col(s"__m$i")).reduce(_ && _)
}
