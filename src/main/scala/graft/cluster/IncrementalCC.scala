package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Incremental connected-components maintenance: fold a new crawl
  * batch's edges into a PERSISTED prior cluster assignment without
  * re-running CC over the prior corpus's edge set (the continuous-
  * ingest shape of the north rule — [[graft.engine.IncrementalDedup]]
  * supplies the exact-digest delta edges, [[graft.engine
  * .IncrementalNearDup]] the near-dup ones; this folds either into the
  * standing clusters).
  *
  * Key fact: a min-label assignment IS a star forest — the edge set
  * {(id, component)} has exactly the connectivity of the original
  * graph. So folding a delta only needs CC over the SMALL graph
  *   deltaEdges ∪ {(id, component) : id touched by the batch}
  * whose labels are then correct GLOBAL minima: a prior component id
  * is already the minimum of its entire prior membership, so the
  * small-graph minimum over (touched ids ∪ new ids ∪ prior component
  * ids) equals the minimum over the full merged membership.
  *
  * Scale shape (SCALE.md invariants): the 10^12-row prior assignment
  * is scanned ONCE, map-side, against the broadcast set of batch keys
  * — it never shuffles; the CC runs on the touched subgraph only
  * (|delta| + |touched|, batch-sized: the driver finisher up to
  * `ConnectedComponents.LocalBelow` edges); the write plan relabels
  * the prior map-side through the broadcast cc label map and adds the
  * batch-sized new rows through broadcast anti-joins — no distinct and
  * no shuffle of its own. On an
  * Iceberg table the relabel is a MERGE INTO touching relabeled rows,
  * not a rewrite.
  */
object IncrementalCC {

  /** The schema a persisted (id, component) assignment is written
    * with. Reading it back with this skips parquet schema inference,
    * which is one Spark job per read.
    */
  val assignSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("component", StringType)))

  /** The assignment after a batch: every prior row (relabelled where
    * its component merged under a smaller id), every delta endpoint
    * and batch id absent from the prior (a batch id no edge touches is
    * its own singleton), one row per id.
    *
    * prior: (id, component) string columns, min-member labels, one row
    * per id (roots map to themselves — [[ConnectedComponents.run]]'s
    * output unioned with isolated ids). edges: (src, dst) the batch's
    * dup edges, each endpoint a prior or batch id (a dup edge runs from
    * a batch url to a prior or batch url). ids: (id) the batch's ids,
    * distinct. A batch id that is already a prior id (a re-crawled
    * url) keeps its one prior row. `report`,
    * when given, receives (prior components relabelled, new ids joined
    * to a component) — counted from the small frames, two jobs.
    */
  def fold(prior: DataFrame, edges: DataFrame, ids: DataFrame,
      report: Option[(Long, Long) => Unit] = None): DataFrame = {
    // lazy checkpoint: the edge subtree (often a join or window chain
    // over the batch) feeds both the broadcast keys and the graph
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    val batchIds = ids.select(col("id"))
    // both endpoints from one read of each checkpointed partition
    val keys = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .unionByName(batchIds)
    // ONE map-side scan of the prior vs the broadcast keys (a semi join:
    // duplicate keys add no rows); materialized by the CC's entry probe,
    // the write plan's broadcasts read the cached blocks
    val touched = prior.join(broadcast(keys), Seq("id"), "left_semi")
      .select(col("id"), col("component"))
      .localCheckpoint(false)
    val cc = ConnectedComponents.run(e.unionByName(
      touched.select(col("id").as("src"), col("component").as("dst"))))
    // a prior row's component is a prior root: it relabels when the cc
    // labels that root below itself
    val labels = cc.select(col("id").as("old"), col("component").as("new"))
    val relabelled = prior
      .join(broadcast(labels), col("component") === col("old"), "left")
      .select(col("id"), coalesce(col("new"), col("component")).as("component"))
    // the prior ids in the small graph are the touched ids and their roots
    val inPrior = touched.select(col("id"))
      .unionByName(touched.select(col("component").as("id")))
    val joined = cc.join(broadcast(inPrior), Seq("id"), "left_anti")
    // batch ids in neither the prior nor the cc; the same two broadcast
    // sides as above, so the plan builds each once
    val singletons = batchIds.join(broadcast(inPrior), Seq("id"), "left_anti")
      .join(broadcast(labels), col("id") === col("old"), "left")
      .filter(col("new").isNull)
      .select(col("id"), col("id").as("component"))
    report.foreach(_(labels.filter(col("new") =!= col("old"))
      .join(broadcast(touched.select(col("component").as("old"))), Seq("old"), "left_semi")
      .count(), joined.count()))
    relabelled.unionByName(joined).unionByName(singletons)
  }
}
