package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.Catalog
import graft.corpus.Corpus
import graft.pipeline.DedupPipeline

/** What one op left behind for its checks. */
final case class OpOut(
    wallS: Double,
    problems: Seq[String],
    quality: Option[Checks.Quality],
    clusters: Map[String, String] = Map.empty,
    resumeS: Option[Double] = None)

/** One workload: seeded inputs written during set-up, and an op that
  * drives a shipped entry point over them. `traced` runs the op as the
  * span-instrumented composition instead.
  */
trait Workload {
  def docsPerOp: Long
  def warmups: Int
  /** Ops measured at the least, however short the window. */
  def minOps: Int
  /** Upper bound on measured ops, when inputs are consumed per op. */
  def maxOps: Int = Int.MaxValue
  /** Generate the inputs and write them under `dir`. */
  def prepare(dir: String): Unit
  /** State the ops need beyond the inputs (snapshots). */
  def bootstrap(): Unit = ()
  /** Run op `i`; only the work inside `clock` is timed and charged to
    * the op.
    */
  def op(i: Int, traced: Option[Traced.Op], clock: OpClock): OpOut
  /** Whole-run invariants, checked after the last op. */
  def finalProblems(): Seq[String] = Nil
}

/** Times one op and tags its jobs and cached blocks with the op index,
  * so the listener's counters cover exactly the timed work. It also logs
  * what the op cost the process besides wall time: CPU, JIT compile
  * time, Spark codegen compiles, and the CPU time the host stole from
  * this machine (from /proc/stat, where there is one). Those explain an
  * op that runs slow; none of them is a metric.
  */
final class OpClock(sc: org.apache.spark.SparkContext, listener: BenchListener, i: Int) {
  import org.apache.spark.metrics.source.CodegenMetrics
  var seconds = 0.0
  def apply[T](body: => T): T = {
    listener.setTag(i)
    sc.setJobGroup(s"op$i", "op", interruptOnCancel = false)
    val (cpu0, jit0, gen0, steal0) = (OpClock.cpuNanos(), OpClock.jitMs(),
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, OpClock.stealTicks())
    val t0 = System.nanoTime()
    try body
    finally {
      seconds = BenchMain.secondsSince(t0)
      sc.clearJobGroup()
      listener.setTag(-1)
      val steal = (steal0, OpClock.stealTicks()) match {
        case (Some(a), Some(b)) => f"${(b - a) / 100.0}%.2f s"
        case _ => "n/a"
      }
      val cpu = (OpClock.cpuNanos() - cpu0) / 1e9
      val jit = (OpClock.jitMs() - jit0) / 1000.0
      val gen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - gen0
      BenchMain.log(f"op $i: wall $seconds%.2f s, process cpu $cpu%.2f s, jit $jit%.2f s, " +
        s"$gen codegen compiles, host steal $steal")
    }
  }
}

object OpClock {
  import java.lang.management.ManagementFactory
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Steal ticks (1/100 s, all CPUs) of the machine, if /proc/stat has them. */
  def stealTicks(): Option[Long] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
  }.toOption
}

object BenchMain {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, launchedMs: Long, nproc: Int)

  private def parse(a: List[String], acc: Map[String, String] = Map.empty): Map[String, String] =
    a match {
      case k :: v :: rest if k.startsWith("--") => parse(rest, acc + (k.drop(2) -> v))
      case Nil => acc
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val m = parse(argv.toList)
    val args = Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("launched-ms").toLong, m("nproc").toInt)
    // the session of Main.main, with local[nproc] and nproc shuffle partitions
    val spark = SparkSession.builder()
      .master(s"local[${args.nproc}]")
      .config("spark.sql.shuffle.partitions", args.nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - args.launchedMs) / 1000.0
    val listener = new BenchListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val exit = try { run(spark, listener, args, sessionS); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    finally spark.stop()
    sys.exit(exit)
  }

  private def run(spark: SparkSession, listener: BenchListener, args: Args,
      sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val wl: Workload = args.workload match {
      case "crawl_snapshot" => new CrawlSnapshot(spark, args)
      case "mirror_chains" => new MirrorChains(spark, args)
      case "incremental_crawl" => new IncrementalCrawl(spark, args)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }

    // set-up: inputs are generated and written three times (median
    // reported), the last copy is the one the ops read
    val prepS = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      wl.prepare(s"${args.work}/input$r")
      secondsSince(t0)
    }
    val t1 = System.nanoTime()
    wl.bootstrap()
    val bootstrapS = secondsSince(t1)
    val t2 = System.nanoTime()
    (0 until wl.warmups).foreach { w =>
      val out = wl.op(-1 - w, None, new OpClock(sc, listener, -1 - w))
      require(out.problems.isEmpty, s"warm-up op failed: ${out.problems.mkString("; ")}")
    }
    val warmupS = secondsSince(t2)
    val setupS = sessionS + Checks.median(prepS) + bootstrapS + warmupS
    log(f"setup: session $sessionS%.2f s, inputs ${prepS.map(x => f"$x%.2f").mkString("/")} s, " +
      f"bootstrap $bootstrapS%.2f s, warm-up $warmupS%.2f s")

    // measurement: a closed loop, one op at a time; a traced run
    // alternates shipped and traced ops on the same inputs
    val ops = mutable.ArrayBuffer.empty[(OpOut, Option[Tracer], Int)]
    val tEnd = System.nanoTime() + args.seconds * 1000000000L
    var i = 0
    // a traced run alternates two shipped and two traced ops
    val wanted = if (args.trace) 4 else wl.minOps
    while ((i < wanted || System.nanoTime() < tEnd) && i < wl.maxOps) {
      val traced = if (args.trace && i % 2 == 1) Some(new Traced.Op(new Tracer(sc, i))) else None
      val clock = new OpClock(sc, listener, i)
      val out = try wl.op(i, traced, clock) catch {
        case e: Exception =>
          log(s"op $i threw: $e")
          OpOut(clock.seconds, Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"), None)
      }
      traced.foreach(Traced.finish)
      if (out.problems.nonEmpty) log(s"op $i failed: ${out.problems.mkString("; ")}")
      ops += ((out, traced.map(_.tracer), i))
      i += 1
    }
    log("op walls: " + ops.map(o => f"${o._1.wallS}%.2f").mkString(" "))
    val t3 = System.nanoTime()
    val finalProblems = wl.finalProblems()
    log(f"final checks: ${secondsSince(t3)}%.2f s")
    finalProblems.foreach(p => log(s"final check failed: $p"))

    val shipped = ops.filter(_._2.isEmpty)
    val tracedOps = ops.filter(_._2.nonEmpty)
    // a traced op must return the shipped op's clusters
    val drift = tracedOps.count { case (o, _, _) =>
      o.problems.isEmpty && shipped.exists(s => s._1.clusters.nonEmpty && s._1.clusters != o.clusters)
    }
    val failed = ops.count(_._1.problems.nonEmpty) + drift
    val attempted = ops.size
    val correct = failed == 0 && finalProblems.isEmpty

    val walls = shipped.map(_._1.wallS).toSeq
    val okShipped = shipped.filter(_._1.problems.isEmpty)
    val quality = okShipped.flatMap(_._1.quality).toSeq
    val tail = Checks.tail(walls)
    val resume = okShipped.flatMap(_._1.resumeS).toSeq
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      // a median op rather than the total, so one slowed op does not move
      // it; a failed op still counts as an op that delivered no docs
      ("docs_per_s", wl.docsPerOp * okShipped.size / shipped.size / Checks.median(walls),
        "docs/s"),
      ("latency_p50_s", Checks.median(walls), "s"),
      ("dup_pair_recall", if (quality.isEmpty) 0.0 else Checks.median(quality.map(_.recall)), "ratio"),
      ("shuffle_mb_per_kdoc", Checks.median(shipped.map(o =>
        listener.stats(s"op${o._3}").shuffleWriteBytes / 1e6 / (wl.docsPerOp / 1000.0)).toSeq),
        "MB"),
      ("peak_cached_mb", Checks.median(shipped.map(o => listener.peakBytes(o._3) / 1e6).toSeq),
        "MB"))

    println(s"perfbench workload=${args.workload} seed=${args.seed} nproc=${args.nproc} " +
      s"docs_per_op=${wl.docsPerOp} ops=$attempted shipped_ops=${shipped.size} " +
      s"traced_ops=${tracedOps.size} warmups=${wl.warmups} window_s=${args.seconds}")
    def show(name: String, v: String, unit: String): Unit = println(s"metric $name $v $unit")
    e2e.foreach { case (n, v, u) => show(n, v.toString, u) }
    show("latency_tail_s", tail.map { case (p, v) => f"$v (p$p%.1f of ${walls.size} ops)" }
      .getOrElse(s"n/a (${walls.size} ops; a tail needs more than 10)"), "s")
    show("resume_s", if (resume.isEmpty) "n/a" else Checks.median(resume).toString, "s")
    show("false_merge_rate",
      if (quality.isEmpty) "n/a" else Checks.median(quality.map(_.falseMergeRate)).toString,
      "ratio")
    show("error_rate", (failed.toDouble / attempted).toString, "ratio")

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) e2e
      else {
        val figures = tracedOps.map { case (_, t, _) =>
          Tracer.layerFigures(t.get, listener, args.nproc) }
        val layerUnits = Tracer.Layers.flatMap(l =>
          Tracer.Common.map { case (n, u) => (s"$l.$n", u) } ++
            Tracer.Extra.filter(_._1 == l).map { case (_, n, u) => (s"$l.$n", u) })
        val tracedS = tracedOps.map(_._2.get.root.seconds).toSeq
        val layers = layerUnits.map { case (n, u) =>
          (n, Checks.median(figures.map(_(n)).toSeq), u) }
        // self-time shares of the layers an acceptance check compares
        val self = layers.collect { case (n, v, _) if n.endsWith(".self_s") =>
          n.stripSuffix(".self_s") -> v }.toMap
        val opS = Checks.median(tracedS)
        println(f"trace self share: cc+exact ${(self("cc") + self("exact")) / opS}%.4f, " +
          f"signatures+simhash ${(self("signatures") + self("simhash")) / opS}%.4f")
        layers ++ Seq(
          ("trace.traced_op_s", opS, "s"),
          ("trace.shipped_op_s", Checks.median(walls), "s"),
          ("trace.overhead_ratio", opS / Checks.median(walls), "ratio"))
      }
    metrics.foreach { case (n, v, _) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number") }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }

  // --- helpers shared by the workloads ---------------------------------

  def collectClusters(df: DataFrame): Seq[(String, String)] =
    df.select(col("url"), col("cluster_id")).collect().map(r => r.getString(0) -> r.getString(1))
      .toSeq

  /** Delete an op's output directory once its checks and any post-op
    * trace counters have read it.
    */
  def deleteAfter(path: String, traced: Option[Traced.Op]): Unit = {
    def delete(): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    }
    traced match {
      case Some(o) => o.after += (() => delete())
      case None => delete()
    }
  }

  def dirBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }
}

/** The standard corpus mix through `DedupPipeline.runCheckpointed` into
  * a fresh catalog, followed by a resume over the complete catalog.
  */
final class CrawlSnapshot(spark: SparkSession, args: BenchMain.Args) extends Workload {
  import BenchMain._
  val docsPerOp = 1000L
  val warmups = 1
  // three, so that the median shrugs off one op the host slowed down
  val minOps = 3
  private val cfg = DedupPipeline.Config()
  private var input = ""
  private var truth: Seq[Truth] = Nil
  private var valid: Set[String] = Set.empty
  private var undecodable = 0L

  def prepare(dir: String): Unit = {
    Corpus.docs(spark, docsPerOp, args.seed).toDF()
      .repartition(args.nproc).write.parquet(s"$dir/docs")
    val t = Corpus.truth(spark, docsPerOp, args.seed).collect().toSeq
    truth = t.flatMap { d => d.truth_kind match {
      case "exact_dup" | "alias" | "empty" | "near_dup_95" | "near_dup_80" =>
        Some(Truth(d.url, d.truth_group.toString, positive = true))
      case "unique" | "near_dup_50" => Some(Truth(d.url, d.truth_group.toString, positive = false))
      case _ => None
    } }
    valid = t.filter(_.truth_kind != "undecodable").map(_.url).toSet
    undecodable = t.count(_.truth_kind == "undecodable").toLong
    input = s"$dir/docs"
  }

  def op(i: Int, traced: Option[Traced.Op], clock: OpClock): OpOut = {
    val docs = spark.read.parquet(input)
    val dir = s"${args.work}/catalog$i"
    val (clustersDf, quarantined) = clock {
      traced match {
        case None =>
          val r = DedupPipeline.runCheckpointed(docs, new Catalog(dir, spark), cfg)
          (r.clusters, r.quarantined)
        case Some(o) =>
          (Traced.runCheckpointed(docs, new Catalog(dir, spark), cfg, o),
            docs.filter(col("text").isNull))
      }
    }
    val rows = collectClusters(clustersDf)
    val clusters = rows.toMap
    val nq = quarantined.count()
    traced.foreach(o => o.tracer.add("catalog", "bytes_written_mb", dirBytes(dir) / 1e6))
    // a warm-up op (i < 0) skips the resume check to keep runs short
    val (resumeS, resumed) =
      if (traced.nonEmpty || i < 0) (None, clusters)
      else {
        val t0 = System.nanoTime()
        val r = DedupPipeline.runCheckpointed(docs, new Catalog(dir, spark), cfg)
        (Some(secondsSince(t0)), collectClusters(r.clusters).toMap)
      }
    val problems = Checks.clusterProblems(rows, valid) ++
      (if (nq != undecodable) Seq(s"quarantined $nq docs, planted $undecodable") else Nil) ++
      (if (resumed != clusters) Seq("resumed clusters differ from the fresh run") else Nil)
    deleteAfter(dir, traced)
    OpOut(clock.seconds, problems, Some(Checks.quality(clusters, truth)), clusters, resumeS)
  }
}

/** Short docs in long near-dup chains, every step mirrored under
  * several hosts, through `DedupPipeline.run` and the `--format
  * clusters` output written as parquet.
  */
final class MirrorChains(spark: SparkSession, args: BenchMain.Args) extends Workload {
  import BenchMain._
  private val rounds = 1
  val docsPerOp: Long = rounds * Gen.ChainLengths.sum * Gen.Mirrors.toLong
  val warmups = 1
  val minOps = 3
  private val cfg = DedupPipeline.Config()
  private var input = ""
  private var truth: Seq[Truth] = Nil
  private var urls: Set[String] = Set.empty

  def prepare(dir: String): Unit = {
    import spark.implicits._
    val (docs, t) = Gen.mirrorChains(args.seed, rounds)
    docs.toDS().repartition(args.nproc).write.parquet(s"$dir/docs")
    truth = t
    urls = t.map(_.url).toSet
    input = s"$dir/docs"
  }

  def op(i: Int, traced: Option[Traced.Op], clock: OpClock): OpOut = {
    val docs = spark.read.parquet(input)
    val out = s"${args.work}/clusters$i"
    val quarantined = clock {
      traced match {
        case None =>
          val r = DedupPipeline.run(docs, cfg)
          graft.Main.formatOutput(docs, r, "clusters", None).write.parquet(out)
          r.quarantined
        case Some(o) =>
          Traced.run(docs, cfg, out, o)
          docs.filter(col("text").isNull)
      }
    }
    val rows = collectClusters(spark.read.parquet(out))
    val nq = quarantined.count()
    val problems = Checks.clusterProblems(rows, urls) ++
      (if (nq != 0) Seq(s"quarantined $nq docs, planted 0") else Nil)
    deleteAfter(out, traced)
    OpOut(clock.seconds, problems, Some(Checks.quality(rows.toMap, truth)), rows.toMap)
  }
}

/** Crawl batches through the shipped `--near-snapshot
  * --clusters-snapshot` path (`Main.runIncrementalNear`, then
  * `Main.maintainClusters`) against snapshots bootstrapped from a prior
  * crawl in the standard mix.
  */
final class IncrementalCrawl(spark: SparkSession, args: BenchMain.Args) extends Workload {
  import BenchMain._
  private val priorDocs = 1000L
  val docsPerOp = 250L
  // the bootstrap already runs both shipped functions once, cold
  val warmups = 0
  // two: a third op would take the runs past the time budget (README)
  val minOps = 2
  private val batches = 6
  override def maxOps: Int = batches - warmups
  private val cfg = graft.near.MinHashLSH.Config()
  private var input = ""
  private val truth = mutable.Map.empty[String, Truth]
  private var batchTruth: IndexedSeq[Seq[Truth]] = IndexedSeq.empty
  private val near = s"${args.work}/near"
  private val clustersDir = s"${args.work}/clusters"
  private var nextBatch = 0
  // every verdict edge and id fed so far, for the from-scratch check
  private val edges = mutable.ArrayBuffer.empty[(String, String)]
  private val ids = mutable.LinkedHashSet.empty[String]

  def prepare(dir: String): Unit = {
    import spark.implicits._
    val prior = Corpus.docs(spark, priorDocs, args.seed)
    prior.toDF().repartition(args.nproc).write.parquet(s"$dir/prior")
    val priorTruth = Corpus.truth(spark, priorDocs, args.seed).collect().toSeq
    val pool = prior.collect().toSeq.zip(priorTruth)
      .collect { case (d, t) if t.truth_kind == "unique" && d.text.nonEmpty =>
        Gen.PriorPage(d, s"p${t.truth_group}") }.toIndexedSeq
    val gen = (0 until batches).map(k => Gen.crawlBatch(args.seed, k, docsPerOp.toInt, pool))
    gen.zipWithIndex.flatMap { case ((docs, _), k) => docs.map(d => (k, d)) }
      .toDF("batch", "doc").select(col("batch"), col("doc.*"))
      .repartition(args.nproc).write.partitionBy("batch").parquet(s"$dir/batches")
    truth.clear()
    priorTruth.foreach(t => Gen.priorTruth(t.url, t.truth_group, t.truth_kind)
      .foreach(x => truth(x.url) = x))
    batchTruth = gen.map(_._2)
    input = dir
  }

  /** One batch through the shipped path, as the CLI runs it with
    * `--outfile`; returns (url, near_dup_of) of every batch doc.
    */
  private def feed(docs: DataFrame, tag: String, o: Option[Traced.Op]): DataFrame = {
    def span[T](name: String)(body: => T): T = o.fold(body)(_.tracer.span(name)(body))
    val verdicts = span("near_snapshot") {
      graft.Main.runIncrementalNear(spark, docs, near,
        v => graft.Main.emit(s"${args.work}/verdicts-$tag", v), cfg)
    }
    span("clusters_snapshot") {
      graft.Main.maintainClusters(spark, clustersDir, verdicts, "near_dup_of")
    }
    verdicts
  }

  /** Record a batch's verdicts for the from-scratch check. */
  private def absorb(verdicts: DataFrame): Seq[(String, String)] = {
    val rows = verdicts.select(col("url"), col("near_dup_of")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    rows.foreach { case (u, d) => ids += u; if (d != null) edges += ((u, d)) }
    rows
  }

  override def bootstrap(): Unit = {
    absorb(feed(spark.read.parquet(s"$input/prior"), "prior", None))
  }

  def op(i: Int, traced: Option[Traced.Op], clock: OpClock): OpOut = {
    val k = nextBatch
    nextBatch += 1
    val docs = spark.read.parquet(s"$input/batches/batch=$k")
    batchTruth(k).foreach(t => truth(t.url) = t)
    // over-cap skips as the shipped probe will see them (it only logs them)
    val skipped = traced.map { _ =>
      val snap = graft.engine.IncrementalNearDup.Snapshot(
        spark.read.parquet(s"$near/bands"), spark.read.parquet(s"$near/sigs"))
      graft.engine.IncrementalNearDup.probeCandidatesAndSkips(
          graft.near.MinHashLSH.signatures(docs, cfg), snap, cfg)
        .filter(col("keeper").isNull)
        .agg(coalesce(sum(col("skipped")), lit(0L))).head().getLong(0)
    }
    val verdicts = clock {
      traced match {
        case None => feed(docs, s"$k", None)
        case Some(o) => o.tracer.span("op")(feed(docs, s"$k", Some(o)))
      }
    }
    val verdictRows = absorb(verdicts)
    val rows = collectClusters(spark.read.parquet(s"$clustersDir/assign")
      .select(col("id").as("url"), col("component").as("cluster_id")))
    traced.foreach { o =>
      val t = o.tracer
      t.add("near_snapshot", "rows_out", verdictRows.size)
      t.add("near_snapshot", "novel_ratio",
        verdictRows.count(_._2 == null).toDouble / verdictRows.size)
      t.add("near_snapshot", "skipped_rows", skipped.get.toDouble)
      t.add("clusters_snapshot", "rows_out", rows.size)
    }
    val problems = Checks.clusterProblems(rows, ids) ++
      (if (verdictRows.size != docsPerOp)
        Seq(s"${verdictRows.size} verdicts for $docsPerOp batch docs") else Nil)
    OpOut(clock.seconds, problems, Some(Checks.quality(rows.toMap, truth.values)))
  }

  /** IncrementalCC equals from-scratch connected components over every
    * verdict edge so far, plus the ids no edge touches.
    */
  override def finalProblems(): Seq[String] = {
    import spark.implicits._
    val cc = graft.cluster.ConnectedComponents.run(edges.toSeq.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val scratch = ids.iterator.map(u => u -> cc.getOrElse(u, u)).toMap
    val standing = collectClusters(spark.read.parquet(s"$clustersDir/assign")
      .select(col("id").as("url"), col("component").as("cluster_id"))).toMap
    val differ = (standing.keySet ++ scratch.keySet).count(u => standing.get(u) != scratch.get(u))
    if (differ == 0) Nil
    else Seq(s"standing assignment differs from from-scratch CC on $differ ids")
  }
}
