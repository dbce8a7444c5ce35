package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank (Brin-Page 1998) over an edge list, in EXACT
  * INTEGER arithmetic — the link-structure quality signal webtext
  * pipelines rank/filter crawl corpora by (reference analog: none —
  * [EXT], the graph sibling of [[ConnectedComponents]]).
  *
  * Ranks are BIGINT micro-units (`scale` = 10^12 ≈ total mass 1.0)
  * and every step is a floor division:
  *
  *   contribution(src→dst) = (rank(src) * dampNum) / (dampDen * outdeg(src))
  *   rank'(id)             = base + Σ contributions,  base = (scale*(dampDen−dampNum)/dampDen)/n
  *
  * Long sums are associative, so the result is bit-identical across
  * partition counts, AQE re-plans, task retries — and engines: the
  * DuckDB oracle unrolls the same K iterations with `//` and must
  * agree hash-exactly (the [[graft.text.NgramLm]] micro-nat
  * discipline; a float PageRank differs in the last ulp per
  * reduction order and can never be oracle-compared). Dangling-node
  * mass and floor remainders are DROPPED — identically on both
  * sides; total mass decays slightly, relative order (the signal)
  * is unaffected.
  *
  * Scale shape (10^8-domain / 10^11-page graphs): per iteration, one
  * (src)-keyed join of ranks onto edges and one (dst)-keyed sum —
  * both map-side-combinable; AQE skew-join absorbs hub fan-in. The
  * rank frame is (id, long) — 16 bytes/node. Lineage is cut with
  * `localCheckpoint` every `CheckpointEvery` (4) iterations (the
  * [[ConnectedComponents]] recipe; K·3 stages of lineage otherwise
  * re-plan quadratically). Edges are DEDUPLICATED to a simple graph
  * first (a repeated anchor on one page is one edge; pass
  * pre-weighted edges through `domainEdges` if multiplicity should
  * count — then drop the distinct and document it).
  */
object PageRank {

  /** Iterations between lineage cuts of the rank frame. */
  private val CheckpointEvery = 4

  /** (id, rank) after `iters` synchronous iterations over `edges`
    * ((src, dst) columns; deduplicated here). Nodes = distinct
    * src ∪ dst. Every frame persisted here is released before the
    * call returns, on error paths too.
    */
  def ranks(edges: DataFrame, iters: Int = 10,
      scale: Long = 1000000000000L, dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum)
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def held(df: DataFrame): DataFrame = { val p = df.persist(); persisted += p; p }
    try {
      val e = held(edges.select(col("src"), col("dst")).distinct())
      val nodes = held(e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
      val n = nodes.count() // one tiny agg job; nodes are graph-grain, not corpus-grain
      require(n > 0, "empty graph")
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      // r6: the (src, dst, outdeg) frame is STATIC — join it once here
      // instead of once per iteration (one fewer join subtree on the
      // loop's serial critical path)
      val e2 = held(e.join(outdeg, Seq("src")))
      val base = (scale * (dampDen - dampNum) / dampDen) / n
      // r6: the per-node damping base enters the SAME aggregate as the
      // contributions (union of one base row per node), replacing the
      // per-iteration nodes-left-join: base + Σc == Σ(c ∪ {base}) —
      // integer addition, bit-identical; no-inbound nodes get the lone
      // base row, exactly the old coalesce(s, 0) + base
      val baseRows = held(nodes.select(col("id"), lit(base).as("c")))

      var r = nodes.select(col("id"), lit(scale / n).as("rank"))
      for (k <- 1 to iters) {
        val contrib = e2
          .join(r.withColumnRenamed("id", "src"), Seq("src"))
          // integer DIV, not `/` (double division rounds near integer
          // boundaries — the Packing.scala lesson); DuckDB `//` matches
          .select(col("dst").as("id"),
            expr(s"(rank * ${dampNum}L) DIV (${dampDen}L * outdeg)").as("c"))
        r = contrib.unionByName(baseRows)
          .groupBy(col("id"))
          .agg(sum(col("c")).as("rank"))
        // lazy (r6): lineage still cut at the cache point, but the
        // materialization folds into the next consuming job instead of
        // a dedicated blocking job per checkpoint (the CC-iteration /
        // IncrementalCC pattern — there is no per-iteration action here,
        // so eager checkpoints were the loop's only mid-loop jobs)
        if (k % CheckpointEvery == 0 && k < iters) r = r.localCheckpoint(false)
      }
      r.localCheckpoint(true) // materialize before unpersisting inputs
    } finally persisted.foreach(_.unpersist())
  }

  /** Top-k nodes by (rank desc, id asc) — the deterministic head of
    * the rank table (ties cannot make the cut ambiguous). Plans as
    * TakeOrderedAndProject: per-partition top-k then a k-row driver
    * merge, no global sort — the shape that survives a 10^8-node
    * rank table. Broadcast the (tiny) result to filter a corpus by
    * domain quality (the q_rank_filter composition).
    */
  def topK(ranks: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    ranks.orderBy(col("rank").desc, col("id")).limit(k)
  }
}
