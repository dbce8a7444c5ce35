package graft.cluster

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Distributed connected components via the alternating
  * large-star / small-star algorithm [EXT] (north rule; the
  * Catalyst-planned-self-join formulation — Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), with a
  * size-gated driver-side finisher.
  *
  * Node ids are STRINGS (urls): 64-bit surrogate ids would collide at
  * 10^12 nodes (birthday bound), so ordering is lexicographic and the
  * component id is the minimum member — which also mirrors the
  * reference CLI's alphabetical-min canonical rule (CLI.pm:282).
  * "Minimum" is Spark's string order: unsigned UTF-8 bytes, not
  * `String.compareTo`'s UTF-16 units.
  *
  * Each iteration is two shuffled group-by/join rounds over the
  * (shrinking, star-ifying) edge list; `localCheckpoint` cuts lineage
  * so the loop's plan doesn't grow (SURVEY §4.2).
  *
  * Size gate: whether to distribute follows the measured edge count
  * ("To Partition, or Not to Partition", SIGMOD'21). The job that
  * materializes an edge frame also counts it: at entry the oriented,
  * loop- and null-free rows (duplicates included), after each
  * iteration the star edges. A frame of at most `localBelow` rows
  * comes back with that same job and is finished on the driver with
  * union-find. Small graphs pay no star rounds; a large graph whose
  * star edges (nodes minus components) fit under the gate hands off
  * after the round that gets them there; one whose star edges stay
  * above it (a huge hub, long chains) runs every round. At most
  * `localBelow` rows ever reach the driver, the bound a broadcast
  * build side already has (SCALE.md invariant 4); the distributed
  * rounds stay the scale path.
  */
object ConnectedComponents {

  /** Default gate: 2^16 edges (at most 2^17 ids) is tens of MB of
    * driver heap, the order of a broadcast build side.
    */
  val LocalBelow: Int = 1 << 16

  /** edges: DataFrame(src, dst) string columns, undirected.
    * Returns (id, component) covering every endpoint; callers union
    * isolated nodes themselves (component = own id). Self-loops and
    * null endpoints are dropped. `localBelow = 0` forces the purely
    * distributed path. Throws `IllegalStateException` when the rounds
    * do not converge within `maxIter` iterations.
    */
  def run(edges: DataFrame, maxIter: Int = 25, localBelow: Int = LocalBelow): DataFrame = {
    // lazy localCheckpoint: the entry probe is the one job that
    // materializes it, so the upstream is evaluated once whichever
    // path follows, and iteration 1's two union branches read
    // materialized blocks instead of racing to compute them.
    // Deduplicated only on the distributed path: the finisher is
    // indifferent to duplicates
    val canonical = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      // canonical orientation matches the star outputs (src = greater,
      // dst = smaller) so the fixpoint compare sees stable sets
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .localCheckpoint(false)
    val entry = probe(canonical, localBelow)
    def log(path: String, atGate: Long, iter: Int): Unit =
      if (sys.env.contains("SPARK_GRAFT_CC_LOG"))
        System.err.println(s"[cc] path=$path edges_in=${entry.count} " +
          s"edges_at_gate=$atGate local_below=$localBelow iterations=$iter")
    if (entry.count <= localBelow) {
      log("local", entry.count, 0)
      return localLabels(canonical, entry)
    }
    // the distinct is lazy: iteration 1's two union branches share its
    // one exchange (exchange reuse). Each iteration's probe
    // materializes its lazy checkpoint — ONE job per iteration — and
    // its (count, xor) is both the convergence signature and the gate.
    // Iteration 1 always changes (star-ification), so it is never
    // compared.
    var e = canonical.distinct()
    var sig = (-1L, 0L)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(false)
      val p = probe(e, localBelow)
      converged = iter > 0 && (p.count, p.xor) == sig
      sig = (p.count, p.xor)
      iter += 1
      if (!converged && p.count <= localBelow) {
        log(s"handoff@$iter", p.count, iter)
        return localLabels(e, p)
      }
    }
    if (!converged)
      throw new IllegalStateException(s"ConnectedComponents did not converge in " +
        s"$iter iterations: ${sig._1} of ${entry.count} canonical edges left")
    log("distributed", sig._1, iter)
    // stars: dst is the root; every node maps to its root, roots to themselves
    val members = e.select(col("src").as("id"), col("dst").as("component"))
    val roots = e.select(col("dst").as("id"), col("dst").as("component")).distinct()
    members.unionByName(roots)
      .groupBy("id").agg(min(col("component")).as("component"))
  }

  private type Pairs = Seq[(UTF8String, UTF8String)]

  /** One probe job over a canonical edge frame: its row count, the
    * order-independent xor of its row hashes, and — when the count is
    * within the gate — its rows (`pairs`). It reads the plan's
    * internal rows, so a row costs one long read and its strings are
    * copied only while its partition is within its share of the gate
    * (`localBelow / numPartitions`): at most `localBelow` rows reach
    * the driver. `pairs` is None when the count is over the gate (the
    * rows shipped by partitions under their share are then dropped: a
    * bounded waste, nonzero only when partition sizes are skewed) or
    * when a skewed partition held its rows back.
    */
  private final case class Probe(count: Long, xor: Long, pairs: Option[Pairs])

  private def probe(df: DataFrame, localBelow: Int): Probe = {
    val parts = df.select(xxhash64(col("src"), col("dst")), col("src"), col("dst"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val share = localBelow / TaskContext.get().numPartitions()
        val kept = scala.collection.mutable.ArrayBuffer.empty[(UTF8String, UTF8String)]
        var n = 0L
        var x = 0L
        rows.foreach { r =>
          n += 1
          x ^= r.getLong(0)
          // clone: the row's buffer is reused for the next row
          if (n <= share) kept += ((r.getUTF8String(1).clone(), r.getUTF8String(2).clone()))
        }
        Iterator.single((n, x, if (n <= share) Some(kept.toSeq) else None))
      }
      .collect()
    val count = parts.map(_._1).sum
    Probe(count, parts.map(_._2).foldLeft(0L)(_ ^ _),
      if (count <= localBelow && parts.forall(_._3.isDefined)) Some(parts.flatMap(_._3.get).toSeq)
      else None)
  }

  /** Driver-side finisher over at most `localBelow` edges (`p.pairs`,
    * or one more collect of `e` when a skewed partition held its rows
    * back): [[unionFind]] as the same (id, component) frame as the
    * distributed extraction.
    */
  private def localLabels(e: DataFrame, p: Probe): DataFrame = {
    val pairs: Pairs = p.pairs.getOrElse(e.queryExecution.toRdd
      .map(r => (r.getUTF8String(0).clone(), r.getUTF8String(1).clone())).collect().toSeq)
    val rows = java.util.Arrays.asList(
      unionFind(pairs).map { case (id, c) => Row(id.toString, c.toString) }: _*)
    val schema = StructType(Seq(StructField("id", StringType), StructField("component", StringType)))
    e.sparkSession.createDataFrame(rows, schema)
  }

  /** The driver's connected components over non-null `pairs`: every
    * id with its component. Ids are ranked in Spark's string order and
    * union-find always keeps the smaller rank as the root, so each
    * component is its minimum member, as on the distributed path.
    * Self-loops and duplicate pairs are harmless.
    */
  private[graft] def unionFind(
      pairs: Seq[(UTF8String, UTF8String)]): Seq[(UTF8String, UTF8String)] = {
    val ids = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.toArray
      .sortWith(_.binaryCompare(_) < 0)
    val rank = new java.util.HashMap[UTF8String, Integer](ids.length * 2)
    ids.indices.foreach(i => rank.put(ids(i), i))
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(rank.get(a))
      val rb = find(rank.get(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    ids.indices.map(i => (ids(i), ids(find(i))))
  }

  /** Attach m(src) = min(dst) per src. SKEW-SAFE: a partial-aggregating
    * groupBy (map-side combine — a 10M-edge hub reduces to one row per
    * input partition before the shuffle) followed by a join back on
    * src, which AQE's skew-join splits when a hub key dominates. The
    * previous Window.partitionBy(src) min sorted ALL of a hub's edges
    * in ONE task — the 100×-scale stall this replaces.
    */
  private def withMin(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
    edges.join(mins, "src")
  }

  /** Emit the star edges in ONE pass: a self-union of the joined
    * (src, dst, m) frame would duplicate the groupBy+join subtree into
    * both branches (Spark re-executes unshared subplans), doubling
    * every iteration's work — explode emits both output edges per row
    * instead.
    */
  private def emitPairs(withM: DataFrame, emitDstCond: Column): DataFrame =
    withM
      .select(explode(when(emitDstCond,
        array(struct(col("dst").as("a"), col("m").as("b")),
          struct(col("src").as("a"), col("m").as("b"))))
        .otherwise(array(struct(col("src").as("a"), col("m").as("b"))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("src"), least(col("a"), col("b")).as("dst"))

  /** large-star: each node u connects its larger neighbors to its
    * current minimum m(u) = min(Γ(u) ∪ {u}). Output may contain
    * duplicate edges; smallStar's terminal distinct dedups once per
    * iteration (stage count per iteration is the serial critical
    * path, SCALE.md).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val withM = withMin(sym).withColumn("m", least(col("m"), col("src")))
    emitPairs(withM, col("dst") > col("src"))
  }

  /** small-star: orient edges large→small; each node connects its
    * smaller-or-equal neighbors to its minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    emitPairs(withMin(dir), col("dst") =!= col("m")).distinct()
  }
}
