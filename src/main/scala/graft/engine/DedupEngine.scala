package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
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

  /** Total objects = Σ block sizes (computed from the aggregated
    * meta frame — never a second scan of the corpus).
    */
  lazy val totalObjects: Long =
    blockMeta.agg(coalesce(sum(col("size")), lit(0L))).head().getLong(0)

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
  * Two physically different plans, identical results (both are tested
  * against the ported collision oracle and against each other):
  *
  *  - **Eager** (default, the 100 TB path): all digests are computed
  *    map-side in ONE scan of the content column, then only the narrow
  *    `(id, k0..kn)` tuples are shuffled — a single wide group-by plus
  *    windows over an aggregated (tiny) frame. The reference's lazy
  *    per-level digest computation saved disk seeks on a filesystem;
  *    on columnar storage a second pass over `html` for survivors
  *    costs more than hashing it once, and crucially the SHUFFLE never
  *    carries page bytes. Lazy *semantics* (short key arrays, per-level
  *    digest/collision counts) are recovered algebraically: a block's
  *    key count = the shortest key prefix that isolates it
  *    (SURVEY.md §1.2.1).
  *
  *  - **Staged** (reference-shaped): one level at a time over a
  *    shrinking survivor set; digest k is genuinely only computed for
  *    rows still ambiguous after k-1 — the plan to choose when a later
  *    digest is drastically more expensive than a scan (e.g. a remote
  *    fetch). One repartition by k0 up front; every later per-level
  *    window reuses that partitioning (HashPartitioning(k0) satisfies
  *    ClusteredDistribution(k0..kk)), so the survivor loop adds sorts
  *    but NO further shuffles.
  *
  * Block aggregation is a map-side-combining groupBy (count + min),
  * never a collect_list, so a hot block (all-empty pages sharing one
  * full key) partial-aggregates safely; the assignments join back on
  * the full key is the one skewed join, handled by AQE skew-join.
  */
object DedupEngine {

  sealed trait Mode
  case object Eager extends Mode
  case object Staged extends Mode

  /** Stringify a digest column the way the reference stringifies keys
    * for hashing (Engine.pm:340) — but collision-safely: raw binary
    * digests go through hex() (a binary→string CAST would UTF-8-mangle
    * distinct byte strings into identical replacement-char strings =
    * false merges).
    */
  private def stringify(df: DataFrame, cascade: Seq[DigestSpec]): DataFrame = {
    val tmp = df.select(cascade.zipWithIndex.map { case (d, i) => d.expr.as(s"__k$i") }: _*)
    val types = tmp.schema.fields.map(_.dataType)
    val keyCols = cascade.zipWithIndex.map { case (d, i) =>
      val c = d.expr
      val s = if (types(i) == BinaryType) hex(c) else c.cast("string")
      s.as(s"__k$i")
    }
    df.select(col("__id") +: keyCols: _*)
  }

  /** Run the cascade over `df`; `idCol` identifies the object (the
    * reference's opaque scalar — a url for the corpus, a path for
    * files). Degenerate empty cascade ⇒ one block of everything with
    * keys=[] (Engine.pm:138-139, Engine.t:65-84).
    */
  def run(df: DataFrame, idCol: String, cascade: Seq[DigestSpec], mode: Mode = Eager): DedupResult = {
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
    mode match {
      case Eager  => runEager(withId, cascade)
      case Staged => runStaged(withId, cascade)
    }
  }

  private def keyCols(n: Int): Seq[Column] = (0 until n).map(i => col(s"__k$i"))

  private def runEager(withId: DataFrame, cascade: Seq[DigestSpec]): DedupResult = {
    val n = cascade.length
    val narrow0 = stringify(withId, cascade)
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
    // trades away the map-side combine for is ~150 B/row).
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

  private def runStaged(withId: DataFrame, cascade: Seq[DigestSpec]): DedupResult = {
    val n = cascade.length
    val types = withId
      .select(cascade.zipWithIndex.map { case (d, i) => d.expr.as(s"__k$i") }: _*)
      .schema.fields.map(_.dataType)
    def keyed(d: DigestSpec, i: Int): Column = {
      val c = if (types(i) == BinaryType) hex(d.expr) else d.expr.cast("string")
      c.as(s"__k$i")
    }
    var cur = withId.withColumn("__k0", keyed(cascade.head, 0)).repartition(col("__k0"))
    // deferred single-object probe (see runEager) — forced only when
    // blockMeta is first touched
    val cur0 = cur
    lazy val single = cur0.limit(2).count() < 2
    var metaParts = Vector.empty[DataFrame]
    var assignParts = Vector.empty[DataFrame]
    for (k <- 0 until n) {
      if (k > 0) cur = cur.withColumn(s"__k$k", keyed(cascade(k), k))
      val cnt = count(lit(1)).over(Window.partitionBy(keyCols(k + 1): _*))
      cur = cur.withColumn("__cnt", cnt)
      val singletons = cur.filter(col("__cnt") === 1L)
      metaParts = metaParts :+ singletons.select(
        array(keyCols(k + 1): _*).as("keys"),
        lit(1L).as("size"),
        lit(k + 1).as("nkeys"),
        col("__id").as("block_id"))
      assignParts = assignParts :+ singletons
        .select(col("__id").as("id"), col("__id").as("block_id"))
      cur = cur.filter(col("__cnt") > 1L).drop("__cnt")
    }
    val finalGrouped = cur
      .groupBy(keyCols(n): _*)
      .agg(count(lit(1)).as("size"), min(col("__id")).as("block_id"))
    metaParts = metaParts :+ finalGrouped.select(
      array(keyCols(n): _*).as("keys"), col("size"), lit(n).as("nkeys"), col("block_id"))
    assignParts = assignParts :+ cur
      .join(renameKeys(finalGrouped, n), nullSafeKeyCond(n))
      .select(col("__id").as("id"), col("block_id"))
    // single-object corpus: the reference never computes any key
    // (lazy — no collider ever arrives); mirror it post-hoc.
    val allMeta = metaParts.reduce(_ unionByName _)
    def blockMeta =
      if (single)
        allMeta.select(
          lit(Array.empty[String]).cast("array<string>").as("keys"),
          col("size"), lit(0).as("nkeys"), col("block_id"))
      else allMeta
    new DedupResult(blockMeta, assignParts.reduce(_ unionByName _), n)
  }
}
