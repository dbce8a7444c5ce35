package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of the jobs that ran under one job group. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Aggregates Spark's scheduler events per job group, and the bytes of
  * cached or checkpointed RDD blocks per tag. The benchmark thread
  * names each op or span with `setJobGroup`; events are folded on the
  * listener bus thread, so read only after [[BenchListener.drain]].
  */
final class BenchListener(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]
  private val liveBlocks = mutable.Map.empty[String, (Int, Long)]
  private val tagBytes = mutable.Map.empty[Int, Long]
  private val tagPeak = mutable.Map.empty[Int, Long]
  /** Blocks first stored while this tag is set are charged to it. */
  @volatile private var tag = -1

  def drain(): Unit = org.apache.spark.ListenerBusDrain(sc)

  /** Charge blocks stored from now on to `t` (all earlier events are
    * folded first).
    */
  def setTag(t: Int): Unit = { drain(); tag = t }

  def stats(group: String): GroupStats = synchronized {
    groups.getOrElseUpdate(group, new GroupStats)
  }

  /** Highest total bytes of live blocks charged to `t` at any moment. */
  def peakBytes(t: Int): Long = synchronized { tagPeak.getOrElse(t, 0L) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    groups.getOrElseUpdate(g, new GroupStats).jobs += 1
    e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId)
      .foreach(g => groups.getOrElseUpdate(g, new GroupStats).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupStats)
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val prev = liveBlocks.remove(key)
      prev.foreach { case (t, b) => tagBytes(t) -= b }
      val bytes = info.memSize + info.diskSize
      if (info.storageLevel.isValid && bytes > 0) {
        val t = prev.map(_._1).getOrElse(tag)
        liveBlocks(key) = (t, bytes)
        val now = tagBytes.getOrElse(t, 0L) + bytes
        tagBytes(t) = now
        if (now > tagPeak.getOrElse(t, 0L)) tagPeak(t) = now
      }
    }
  }
}

/** One timed layer boundary. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory spans of one traced op, plus per-layer counters measured
  * at the same boundaries. Each span runs its jobs under its own job
  * group, so the listener attributes work to the innermost span.
  */
final class Tracer(sc: SparkContext, val op: Int) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[(String, String), Double]
  private var stack: List[Int] = Nil

  def group(spanId: Int): String = s"op$op-span$spanId"

  def span[T](name: String)(body: => T): T = {
    val id = Tracer.nextId()
    val parent = stack.headOption.getOrElse(-1)
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    stack = id :: stack
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, op, start, end)
    }
  }

  def add(layer: String, counter: String, v: Double): Unit =
    counters((layer, counter)) = counters.getOrElse((layer, counter), 0.0) + v

  /** Duration minus the time covered by direct children (children of
    * one span run one after another, never overlapping).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def root: Span = spans.find(_.parent == -1).get
}

object Tracer {
  private var last = 0
  private def nextId(): Int = synchronized { last += 1; last }

  val Layers: Seq[String] = Seq("identity", "exact", "signatures", "mh_candidates",
    "mh_verify", "simhash", "cc", "catalog", "sink", "near_snapshot", "clusters_snapshot")

  /** (name, unit) of the counters every layer reports. */
  val Common: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s",
    "util" -> "ratio", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "task_skew" -> "ratio",
    "rows_out" -> "rows")

  /** Layer-specific counters: (layer, name, unit). */
  val Extra: Seq[(String, String, String)] = Seq(
    ("mh_candidates", "skipped_rows", "rows"), ("mh_verify", "yield", "ratio"),
    ("simhash", "skipped_rows", "rows"), ("cc", "edges_in", "rows"),
    ("catalog", "bytes_written_mb", "MB"), ("near_snapshot", "skipped_rows", "rows"),
    ("near_snapshot", "novel_ratio", "ratio"))

  /** Every per-layer figure of one traced op, keyed `<layer>.<metric>`;
    * a layer that is not on the op's path reports zeros.
    */
  def layerFigures(t: Tracer, listener: BenchListener, nproc: Int): Map[String, Double] = {
    Layers.flatMap { layer =>
      val ss = t.spans.filter(_.name == layer).toSeq
      val st = ss.map(s => listener.stats(t.group(s.id)))
      val wall = ss.map(_.seconds).sum
      val self = ss.map(t.selfSeconds).sum
      val taskMs = st.flatMap(_.taskMs).map(_.toDouble)
      val util = if (self > 0) taskMs.sum / 1000.0 / (nproc * self) else 0.0
      val skew = if (taskMs.isEmpty || Checks.median(taskMs) <= 0) 0.0
        else taskMs.max / Checks.median(taskMs)
      val common = Map(
        "wall_s" -> wall, "self_s" -> self, "util" -> util,
        "jobs" -> st.map(_.jobs).sum.toDouble, "stages" -> st.map(_.stages).sum.toDouble,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / 1e6,
        "spill_mb" -> st.map(_.spillBytes).sum / 1e6, "task_skew" -> skew,
        "rows_out" -> t.counters.getOrElse((layer, "rows_out"), 0.0))
      val extra = Extra.filter(_._1 == layer)
        .map { case (_, n, _) => n -> t.counters.getOrElse((layer, n), 0.0) }
      (common ++ extra).map { case (k, v) => s"$layer.$k" -> v }
    }.toMap
  }
}
