package graft.functions

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** The bounded driver collect behind the driver finishers of the
  * batch pipeline's edge DAG and the incremental near-snapshot
  * verdicts: one job that brings a frame's rows to the
  * driver only while they fit a weight budget ("To Partition, or Not
  * to Partition", SIGMOD'21: choose the local plan from the measured
  * input size). SCALE.md invariant 4: at most the budget reaches the
  * driver.
  */
object DriverCollect {

  /** Default budget of the driver finishers: 2^19 rows plus shingle
    * hashes plus key bytes, a few MB of driver heap. A text doc weighs
    * one plus its band count plus its shingle count; in the batch
    * pipeline's edge DAG, every doc also weighs its cascade keys'
    * bytes (about 60 under the default cascade, twice the page size
    * under `--byte-verify`). A 1,000-doc batch of 120-360 token pages
    * (about 300k) fits; a batch of some thousands of pages does not.
    */
  val NearDupBound: Int = 1 << 19

  /** One job over `df`'s internal rows: `weigh` gives each row's weight
    * (0 = not wanted) and `copy` its driver copy. A partition copies
    * rows while its summed weight is within its share of `budget`
    * (budget / numPartitions) and only weighs the rest, so at most
    * `budget` reaches the driver; a partition whose own weight passes
    * `budget` stops reading. Returns the copies and their total
    * weight, or None when the total is over `budget`. A skewed
    * partition past its share, with the total within `budget`, costs
    * one more, unshared run of the job.
    */
  def collectWithin[T](df: DataFrame, budget: Long)(weigh: InternalRow => Long,
      copy: InternalRow => T): Option[(Seq[T], Long)] = {
    def run(shared: Boolean) = df.queryExecution.toRdd.mapPartitions { rows =>
      val share = if (shared) budget / TaskContext.get().numPartitions() else budget
      val kept = mutable.ArrayBuffer.empty[T]
      var total = 0L
      // past `budget` the whole frame is over it: the rest is not read
      while (total <= budget && rows.hasNext) {
        val r = rows.next()
        val w = weigh(r)
        if (w > 0) {
          total += w
          if (total <= share) kept += copy(r) else kept.clear()
        }
      }
      Iterator.single((total, Option.when(total <= share)(kept.toSeq)))
    }.collect()
    val parts = run(shared = true)
    val total = parts.map(_._1).sum
    if (total > budget) None
    else Some(((if (parts.forall(_._2.isDefined)) parts else run(shared = false))
      .toSeq.flatMap(_._2.get), total))
  }

  def stringAt(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** A driver copy of the string at `i` (the row's buffer is reused). */
  def utf8At(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).copy()

  /** The UTF-8 byte length of the string at `i`, 0 when null. */
  def bytesAt(r: InternalRow, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getUTF8String(i).numBytes()

  def longsAt(r: InternalRow, i: Int): Array[Long] =
    if (r.isNullAt(i)) null else r.getArray(i).toLongArray()

  def sizeAt(r: InternalRow, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getArray(i).numElements()
}
