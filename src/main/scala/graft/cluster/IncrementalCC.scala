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
  * graph. So merging a delta only needs CC over the SMALL graph
  *   deltaEdges ∪ {(id, component) : id touched by a delta endpoint}
  * whose labels are then correct GLOBAL minima: a prior component id
  * is already the minimum of its entire prior membership, so the
  * small-graph minimum over (touched ids ∪ new ids ∪ prior component
  * ids) equals the minimum over the full merged membership.
  *
  * Scale shape (SCALE.md invariants): the 10^12-row prior assignment
  * is scanned ONCE, map-side, against the broadcast delta endpoint
  * set — it never shuffles; the CC iterations run on the touched
  * subgraph only (|delta| + |touched|, batch-sized); the relabel map
  * covers ONLY components whose label changes and is broadcast back —
  * on an Iceberg table `patch` is a MERGE INTO touching relabeled
  * rows, not a rewrite.
  */
object IncrementalCC {

  /** `relabel`: (old_component, new_component) for ONLY the prior
    * components whose label changes. `newAssign`: (id, component) for
    * delta endpoints absent from the prior assignment (the batch).
    */
  case class Merged(relabel: DataFrame, newAssign: DataFrame)

  /** The schema a persisted (id, component) assignment is written
    * with. Reading it back with this skips parquet schema inference,
    * which is one Spark job per read.
    */
  val assignSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("component", StringType)))

  /** priorAssign: (id, component) string columns, min-member labels
    * (every prior id has a row; roots map to themselves — exactly
    * [[ConnectedComponents.run]]'s output unioned with isolated ids).
    * deltaEdges: (src, dst) new edges, each involving at least one new
    * id or bridging prior components.
    */
  def merge(priorAssign: DataFrame, deltaEdges0: DataFrame,
      maxIter: Int = 25): Merged = {
    // batch-sized; materialized because the edge subtree (often a join
    // or window chain over the batch) feeds the graph AND both
    // endpoint derivations below
    // lazy checkpoints (r6): cached on first use inside the first
    // consuming job — three dedicated blocking jobs removed from the
    // merge's serial path; reuse semantics unchanged (the CC-iteration
    // localCheckpoint(false) pattern)
    val deltaEdges = deltaEdges0.select(col("src"), col("dst")).localCheckpoint(false)
    val endpoints = deltaEdges.select(col("src").as("id"))
      .unionByName(deltaEdges.select(col("dst").as("id")))
      .distinct()
    // ONE map-side scan of the prior assignment vs the broadcast
    // endpoint set; materialized because it feeds three small frames
    // (the graph, the component list, the new-id complement) that must
    // not re-scan the big table
    val touched = priorAssign.join(broadcast(endpoints), Seq("id"))
      .select(col("id"), col("component"))
      .localCheckpoint(false)
    val g = deltaEdges
      .unionByName(touched.select(col("id").as("src"), col("component").as("dst")))
    val cc = ConnectedComponents.run(g, maxIter).localCheckpoint(false)
    val priorComps = touched.select(col("component").as("id")).distinct()
    val relabel = cc.join(priorComps, Seq("id"))
      .filter(col("component") =!= col("id"))
      .select(col("id").as("old_component"), col("component").as("new_component"))
    val newIds = endpoints.exceptAll(touched.select(col("id")))
    val newAssign = cc.join(newIds, Seq("id"))
      .select(col("id"), col("component"))
    Merged(relabel, newAssign)
  }

  /** Apply a merge to the full prior assignment: broadcast relabel of
    * the affected components (map-side over the big table) plus the
    * new ids' rows. Isolated new ids (no delta edge) are the caller's
    * union, as with [[ConnectedComponents.run]].
    */
  def patch(priorAssign: DataFrame, m: Merged): DataFrame =
    priorAssign
      .join(broadcast(m.relabel),
        priorAssign("component") === m.relabel("old_component"), "left")
      .select(priorAssign("id"),
        coalesce(m.relabel("new_component"), priorAssign("component")).as("component"))
      .unionByName(m.newAssign)
}
