package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  * deduplication over an embedding column — k-means-cluster the
  * embedding space, call two documents semantic duplicates when their
  * cosine similarity clears a threshold WITHIN a cluster, keep one
  * representative per duplicate group. The web-scale motivation is the
  * same as the reference's blocking cascade (Theory.pod's
  * never-all-pairs discipline): the cluster assignment is the cheap
  * blocking key, exact cosine the expensive verify.
  *
  * Re-expressed on this repo's existing kernels:
  *   - the IVF coarse quantizer ([[Ivf.train]]/[[Ivf.assign]]) IS the
  *     k-means clustering — assignment runs map-side against broadcast
  *     centroids, so the corpus never shuffles for clustering;
  *   - within-cell pairing streams through the bounded
  *     [[graft.functions.CappedGroups.drainGroups]] drain: a 2..maxCell
  *     cell emits its verified pairs, an over-cap cell emits ONE
  *     counted skip row — capped AND surfaced in the same pass
  *     (SCALE.md invariant 3), in two salted rounds when `salts` is
  *     above 1 (a corpus-dominating cell);
  *   - the exact cosine verify runs inside the drain
  *     ([[Ann.emitVerified]]): each vector rides the cell shuffle once.
  *
  * Differs from [[Ann.embeddingDupEdges]]'s banded hyperplane LSH in
  * being DATA-ADAPTIVE: one density-following partition instead of T
  * random tables — fewer shuffled candidate rows on clustered real
  * embeddings, at the cost of a (bounded, one-off) training pass and
  * of misses across cell boundaries, which is SemDeDup's own published
  * approximation (its dedup operates strictly within clusters).
  */
object SemDeDup {

  /** Within-cell semantic-duplicate edges + skip rows in one candidate
    * pass: verified (src, dst, score, skipped = 0) pairs with cosine ≥
    * `threshold`, plus at most one aggregated (null, null, null, n)
    * row counting members of over-cap cells (the
    * [[Ann.embeddingDupEdgesAndSkips]] fused-skip contract). Pair
    * orientation follows the ORIGINAL id type's ordering.
    */
  def edgesAndSkips(corpus: DataFrame, centroids: Array[Array[Double]],
      threshold: Double, idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = 4096, salts: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cap = maxCell
    // r6: cosine verify runs INSIDE the bounded drain (guide §8 — move
    // the heavy bytes once, decide in place): each vector rides the
    // cell shuffle ONE time (bounded at cap·dim doubles per task by
    // the same cap that bounds the drain), candidate pairs are
    // generated, scored and filtered in-task — the previous shape
    // shuffled the QUADRATIC (up to cap²/2 per cell) candidate id-pair
    // set and then re-joined the vectors onto it twice (2 more
    // shuffles of the pair set + 2 corpus scans). Only verified edges
    // and skip rows leave the task. Arithmetic is bit-identical to
    // round(Ann.cosineFromParts(...), 6): same prenormed doubles, same
    // left-to-right dot, same HALF_UP round (SemDeDupSpec pins it).
    val emit = Ann.emitVerified(cap, threshold) _
    // ONE argmax pass (k·dim per row against broadcast centroids);
    // assign's prenormed (v, nn) ride the cell shuffle directly
    val rows = Ivf.assign(corpus, centroids, idCol, vecCol)
      .select(col("cell").as("_1"),
        struct(col("id").cast("string").as("_1"), col("v").as("_2"),
          col("nn").as("_3")).as("_2"))
      .as[(Int, (String, Seq[Double], Double))]
    type Row = (Int, (String, Seq[Double], Double))
    val raw = graft.functions.CappedGroups.drainGroups(rows, (r: Row) => r._1,
      (r: Row) => r._2, cap, salts, (m: (String, Seq[Double], Double)) => m._1)(emit)
    // cells partition the corpus, so verified (src, dst) pairs are
    // already distinct; the groupBy only collapses over-cap cells'
    // skip rows into one summed row — now over the SMALL verified set
    val fused = raw.toDF("src", "dst", "score", "skipped")
      .groupBy(col("src"), col("dst"))
      .agg(max(col("score")).as("score"), sum(col("skipped")).as("skipped"))
    Ann.retypePairs(fused, corpus, idCol)
  }

  /** Pairs-only view of [[edgesAndSkips]]: (src, dst, score). */
  def edges(corpus: DataFrame, centroids: Array[Array[Double]], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = 4096, salts: Int = 1): DataFrame =
    edgesAndSkips(corpus, centroids, threshold, idCol, vecCol, maxCell, salts)
      .filter(col("src").isNotNull)
      .select("src", "dst", "score")

  /** SemDeDup's keep-one policy: (id, keep_id) for EVERY corpus id —
    * the representative of the semantic-duplicate group (connected
    * components over the edge set, so chains a~b~c collapse even when
    * a~c itself misses the threshold — the published policy prunes all
    * but one per group). Docs with no semantic dup keep themselves.
    * Group representatives are minima of the ids' STRING form (the
    * [[graft.cluster.ConnectedComponents]] label domain) — fixed-width
    * ids (lpad) make that order match the natural one.
    */
  def keepers(corpus: DataFrame, centroids: Array[Array[Double]], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = 4096, salts: Int = 1): DataFrame = {
    val e = edges(corpus, centroids, threshold, idCol, vecCol, maxCell, salts)
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
    val cc = graft.cluster.ConnectedComponents.run(e)
      .select(col("id").as("ids"), col("component"))
    corpus.select(col(idCol).as("id"), col(idCol).cast("string").as("ids"))
      .join(cc, Seq("ids"), "left")
      .select(col("id"), coalesce(col("component"), col("ids")).as("keep_id"))
  }
}
