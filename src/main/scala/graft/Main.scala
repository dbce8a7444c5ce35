package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.Catalog
import graft.pipeline.DedupPipeline
import graft.report.Report

/** CLI front-end — parity with the reference's `bin/dedup_files`
  * option surface (P1, CLI.pm:30-39: alg/debug/dir/format/outfile/
  * progress/quiet/verbose), re-keyed for a corpus-table world:
  *
  *   --input PATH ...        doc source(s), repeatable (like --dir):
  *                           parquet (url, warc_ts, html, text, lang);
  *                           .json / .jsonl / .csv with at least
  *                           (url, text) — normalized into the corpus
  *                           schema; .warc(.gz) response segments;
  *                           .wet(.gz) pre-extracted-text conversion
  *                           segments; `synth:N` generates the seeded
  *                           corpus
  *   --alg ID ...            digest cascade selection (repeatable;
  *                           default filesize initial_xxhash sha)
  *   --ignore-empty          drop zero-byte docs (F2)
  *   --exact-only            skip MinHash/SimHash/CC extensions
  *   --outfile PATH|-        tab report destination (default stdout)
  *   --format report|clusters|clean|lines|paragraphs|spans|splits|overlap|lm|c4|ccnet|pack|quota|budget|mirrors|weights|hitters  output: P2 tab
  *                           report, normalized (url, cluster_id),
  *                           the chunk-deduped corpus (url,
  *                           clean_text — the TILED Lee et al.
  *                           removal policy over the canonical doc
  *                           per cluster), the line-deduped corpus
  *                           (CCNet first-occurrence line policy), or
  *                           the span-removed corpus (url, clean_text,
  *                           n_removed — the FULL Lee et al. policy:
  *                           exact shared runs ≥ 60 chars cut at any
  *                           alignment, first occurrence kept);
  *                           `overlap` = the cross-domain shingle
  *                           overlap audit matrix over the INPUT
  *                           corpus, `lm` = per-url corpus-bigram-LM
  *                           scores (n_bigrams, sum_logp_micro,
  *                           avg_logp), `ccnet` = CCNet head/middle/
  *                           tail perplexity buckets over the INPUT
  *                           corpus, `c4` = the C4-cleaned survivor
  *                           corpus (url, clean_text — kept pages
  *                           only), `pack` = the training-sequence
  *                           layout of the survivor corpus (url,
  *                           n_tokens, seq_id, seq_offset — dedup
  *                           then pack, the release-pipeline order),
  *                           `quota` = the site-balanced survivor
  *                           corpus (url, domain, score, rank — the
  *                           C4/Dolma per-domain cap, exact two-phase
  *                           top-k by quality micro-units), `budget` =
  *                           the token-budget selection of the
  *                           survivor corpus (url, score, n_tokens —
  *                           kept rows of the greedy quality prefix),
  *                           `mirrors` = the cross-domain mirror
  *                           audit over the INPUT corpus (d1, d2,
  *                           shared_chunks — domain pairs sharing
  *                           distinct 20-token chunks), `hitters` =
  *                           the heavy-line audit over the INPUT
  *                           corpus (line, cnt, est — the exact set
  *                           of lines with count > N/(m+1), the
  *                           boilerplate a dropCommonLines pass
  *                           would cut)
  *   --prefilter gopher      drop docs failing the Gopher quality-rule
  *                           battery BEFORE dedup (map-side, composes
  *                           with --block-domains — the webtext
  *                           pipeline order: hygiene → quality gate →
  *                           dedup)
  *   --domain-cap K          with --format quota: max docs kept per
  *                           registrable domain (default 1000)
  *   --token-budget B        with --format budget: the token budget
  *                           (default 10^9)
  *   --shards N              with --outfile PATH: write the output as
  *                           parquet hash-sharded into shard=K/ dirs
  *                           (deterministic md5-prefix assignment on
  *                           url) plus a _manifest table, instead of
  *                           one TSV — the trainer-facing layout.
  *                           Output format must carry a url column
  *   --robots PATH           crawl-policy re-filter (compliance pass
  *                           for third-party dumps): PATH is a
  *                           (domain, robots_txt) table
  *                           (parquet/json/csv); docs whose url the
  *                           policy DISALLOWS for --agent are dropped
  *                           BEFORE dedup; url-less docs pass (no
  *                           policy can apply). Requires --agent
  *   --agent NAME            the user-agent --robots evaluates
  *                           (RFC 9309 most-specific-group rules)
  *   --hitters-m M           with --format hitters: Misra-Gries
  *                           counters per partition (default 64);
  *                           the report threshold is N/(M+1)
  *   --ccnet-sample F        with --format ccnet: the deterministic
  *                           hash-sample fraction the tercile
  *                           thresholds are cut from (default 0.5;
  *                           pick F so corpus·F stays ≲10^6 — the
  *                           sample is collected to the driver)
  *   --keep-policy P         canonical selection for clusters/clean/
  *                           lines output: `min` (default — min-url,
  *                           the reference's resolve-aliases policy),
  *                           `quality` (argmax of the hand-crafted
  *                           TextStats quality score — the CCNet/
  *                           RefinedWeb keep-best policy), or
  *                           `quality:model` (argmax of the trained
  *                           QualityModel discriminator probability);
  *                           with --checkpoint the kept_by_quality /
  *                           changed_from_min counts land in the
  *                           Catalog metrics table
  *   --snapshot DIR          incremental mode: dedup the --input batch
  *                           against the (digest, keeper) snapshot
  *                           parquet at DIR (bootstrapped if absent),
  *                           emit per-doc verdicts (url, digest,
  *                           dup_of, is_novel), and append the
  *                           snapshot delta so the next run sees this
  *                           batch — the prior corpus is never
  *                           re-read; with --checkpoint DIR the
  *                           per-crawl (batch_docs, novel, duplicates)
  *                           counts land in the Catalog metrics table
  *   --near-snapshot DIR     incremental NEAR-dup mode: judge the
  *                           batch against the MinHash band+shingle
  *                           signature snapshot at DIR (tables
  *                           DIR/bands, DIR/sigs; bootstrapped if
  *                           absent), emit (url, near_dup_of,
  *                           jaccard, is_novel), append the band+sig
  *                           delta for retained docs — the prior
  *                           corpus is never re-read (the exact
  *                           --snapshot's contract at Jaccard
  *                           granularity); same --checkpoint metrics
  *   --clusters-snapshot DIR maintain a standing (id, component)
  *                           cluster assignment across incremental
  *                           runs (requires --snapshot or
  *                           --near-snapshot): each batch's dup edges
  *                           fold into the persisted assignment at
  *                           DIR/assign via IncrementalCC — CC runs
  *                           over only the touched subgraph, the
  *                           standing table is rewritten through the
  *                           Catalog commit (on Iceberg: a MERGE
  *                           touching relabeled rows only)
  *   --checkpoint DIR        materialize + resume stages via Catalog
  *                           (a stage resumes on the same config and
  *                           input files, or the same synth:N spec)
  *   --byte-verify           append a full byte-compare level to the
  *                           cascade (Theory.pod:113-118 — closes the
  *                           hash-collision caveat; off by default)
  *   --block-domains LIST    comma-separated registrable-domain
  *                           blocklist (C4/Dolma release hygiene):
  *                           docs whose url's registrable domain
  *                           matches are dropped BEFORE dedup —
  *                           subdomains match for free
  *                           (UrlNorm.registrableDomain)
  *   --badwords LIST         comma-separated word/phrase blocklist
  *                           (the C4 §2.2 LDNOOBW page gate): docs
  *                           whose text contains any entry as a
  *                           whole token are dropped BEFORE dedup;
  *                           entries are lowercase ASCII
  *                           (C4Clean.hasBlockedWord fails fast
  *                           otherwise)
  *   --split SPEC            with --format splits: the fraction spec
  *                           `name=frac,...` (default
  *                           train=0.8,val=0.1,test=0.1); output is
  *                           (url, split) assigned per DUP CLUSTER
  *                           (Splits.byAssignment over the pipeline
  *                           clusters) so no duplicate pair straddles
  *                           the eval boundary
  *   --jaccard T             target near-dup Jaccard threshold in
  *                           (0,1): the MinHash banding (bands × rows)
  *                           is PLANNED for T via [[graft.near
  *                           .LshPlanner.configFor]] (S-curve FP+FN
  *                           area minimization) instead of the ship
  *                           default 32×4 (midpoint ≈ 0.42); applies
  *                           to the pipeline near-dup stage and to
  *                           --near-snapshot (where the planned
  *                           banding is PINNED in DIR/config.json on
  *                           bootstrap — later runs must match, a
  *                           snapshot's band hashes are only
  *                           comparable under one banding)
  *   --substring [MINSHARED] opt-in duplicated-window edge stage
  *                           (Lee et al. partial-overlap policy)
  *   --longrun [MINLEN]      opt-in exact-shared-run edge stage
  *                           (winnowing candidates + LCS verify;
  *                           default minLen 60 chars)
  *   --progress              live progress stream (CLI.pm:125-156):
  *                           df.observe taps + QueryExecutionListener
  *                           echo per completed action
  *   --debug                 INFO logging + formatted physical plan of
  *                           the output (CLI.pm:30-39 --debug)
  *   --verbose               print summary statistics (S6)
  *   --quiet                 suppress non-output logging
  */
object Main {

  case class Conf(
      inputs: Seq[String] = Nil,
      algs: Seq[String] = graft.functions.Digests.DefaultAlgs,
      ignoreEmpty: Boolean = false,
      exactOnly: Boolean = false,
      outfile: String = "-",
      format: String = "report",
      checkpoint: Option[String] = None,
      snapshot: Option[String] = None,
      nearSnapshot: Option[String] = None,
      clustersSnapshot: Option[String] = None,
      keepPolicy: String = "min",
      byteVerify: Boolean = false,
      jaccard: Option[Double] = None,
      blockDomains: Seq[String] = Nil,
      badWords: Seq[String] = Nil,
      prefilter: Option[String] = None,
      ccnetSample: Double = 0.5,
      domainCap: Int = 1000,
      tokenBudget: Long = 1000000000L,
      hittersM: Int = 64,
      robots: Option[String] = None,
      agent: Option[String] = None,
      shards: Int = 0,
      split: Option[Seq[(String, Double)]] = None,
      substring: Option[Int] = None, // minShared windows
      longrun: Option[Int] = None, // minLen chars
      progress: Boolean = false,
      debug: Boolean = false,
      verbose: Boolean = false,
      quiet: Boolean = false)

  def parse(args: List[String], c: Conf = Conf(), algsSet: Boolean = false): Conf = args match {
    case Nil => c
    case "--input" :: v :: rest => parse(rest, c.copy(inputs = c.inputs :+ v), algsSet)
    case "--alg" :: v :: rest =>
      val base = if (algsSet) c.algs else Nil
      parse(rest, c.copy(algs = base :+ v), algsSet = true)
    case "--ignore-empty" :: rest => parse(rest, c.copy(ignoreEmpty = true), algsSet)
    case "--exact-only" :: rest => parse(rest, c.copy(exactOnly = true), algsSet)
    case "--outfile" :: v :: rest => parse(rest, c.copy(outfile = v), algsSet)
    case "--format" :: v :: rest => parse(rest, c.copy(format = v), algsSet)
    case "--checkpoint" :: v :: rest => parse(rest, c.copy(checkpoint = Some(v)), algsSet)
    case "--snapshot" :: v :: rest => parse(rest, c.copy(snapshot = Some(v)), algsSet)
    case "--near-snapshot" :: v :: rest => parse(rest, c.copy(nearSnapshot = Some(v)), algsSet)
    case "--clusters-snapshot" :: v :: rest =>
      parse(rest, c.copy(clustersSnapshot = Some(v)), algsSet)
    case "--keep-policy" :: v :: rest if Seq("min", "quality", "quality:model").contains(v) =>
      parse(rest, c.copy(keepPolicy = v), algsSet)
    case "--keep-policy" :: v :: _ =>
      throw new IllegalArgumentException(s"unknown --keep-policy: $v (min|quality|quality:model)")
    case "--byte-verify" :: rest => parse(rest, c.copy(byteVerify = true), algsSet)
    case "--block-domains" :: v :: rest if v.nonEmpty && !v.startsWith("--") =>
      parse(rest, c.copy(blockDomains =
        c.blockDomains ++ v.split(",").map(_.trim).filter(_.nonEmpty)), algsSet)
    case "--badwords" :: v :: rest if v.nonEmpty && !v.startsWith("--") =>
      parse(rest, c.copy(badWords =
        c.badWords ++ v.split(",").map(_.trim).filter(_.nonEmpty)), algsSet)
    case "--prefilter" :: v :: rest if v == "gopher" =>
      parse(rest, c.copy(prefilter = Some(v)), algsSet)
    case "--prefilter" :: v :: _ =>
      throw new IllegalArgumentException(s"unknown --prefilter: $v (gopher)")
    case "--hitters-m" :: v :: rest
        if v.forall(_.isDigit) && v.nonEmpty && v.length <= 9 && v.toInt >= 1 =>
      parse(rest, c.copy(hittersM = v.toInt), algsSet)
    case "--hitters-m" :: v :: _ =>
      throw new IllegalArgumentException(s"--hitters-m needs a positive int: $v")
    case "--ccnet-sample" :: v :: rest =>
      val f = try v.toDouble catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"--ccnet-sample not a number: $v")
      }
      if (f <= 0.0 || f > 1.0)
        throw new IllegalArgumentException(s"--ccnet-sample in (0,1]: $v")
      parse(rest, c.copy(ccnetSample = f), algsSet)
    case "--split" :: v :: rest if v.contains("=") =>
      val fracs = v.split(",").toSeq.map { part =>
        part.split("=", 2) match {
          case Array(n, f) if n.nonEmpty && scala.util.Try(f.toDouble).isSuccess =>
            n.trim -> f.toDouble
          case _ => throw new IllegalArgumentException(
            s"--split expects name=frac,... got: $v")
        }
      }
      graft.corpus.Splits.thresholds(fracs) // fail fast on bad fractions
      parse(rest, c.copy(split = Some(fracs)), algsSet)
    case "--split" :: v :: _ =>
      throw new IllegalArgumentException(s"--split expects name=frac,... got: $v")
    case "--jaccard" :: v :: rest
        if scala.util.Try(v.toDouble).toOption.exists(t => t > 0.0 && t < 1.0) =>
      parse(rest, c.copy(jaccard = Some(v.toDouble)), algsSet)
    case "--jaccard" :: v :: _ =>
      throw new IllegalArgumentException(s"--jaccard must be in (0,1), got: $v")
    case "--robots" :: v :: rest if v.nonEmpty && !v.startsWith("--") =>
      parse(rest, c.copy(robots = Some(v)), algsSet)
    case "--robots" :: _ =>
      throw new IllegalArgumentException("--robots needs a policy-table path")
    case "--agent" :: v :: rest if v.nonEmpty && !v.startsWith("--") =>
      parse(rest, c.copy(agent = Some(v)), algsSet)
    case "--agent" :: _ =>
      throw new IllegalArgumentException("--agent needs a user-agent token")
    // length <= 9 keeps v.toInt in range — an over-Int literal like
    // 99999999999 falls through to the usage error, not a raw
    // NumberFormatException (ADVICE r4 #5)
    case "--domain-cap" :: v :: rest
        if v.forall(_.isDigit) && v.nonEmpty && v.length <= 9 && v.toInt >= 1 =>
      parse(rest, c.copy(domainCap = v.toInt), algsSet)
    case "--shards" :: v :: rest
        if v.forall(_.isDigit) && v.nonEmpty && v.length <= 9 && v.toInt >= 1 =>
      parse(rest, c.copy(shards = v.toInt), algsSet)
    case "--shards" :: v :: _ =>
      throw new IllegalArgumentException(s"--shards needs a positive int: $v")
    case "--domain-cap" :: v :: _ =>
      throw new IllegalArgumentException(s"--domain-cap needs a positive int: $v")
    case "--token-budget" :: v :: rest
        if v.forall(_.isDigit) && v.nonEmpty && v.length <= 18 =>
      parse(rest, c.copy(tokenBudget = v.toLong), algsSet)
    case "--token-budget" :: v :: _ =>
      throw new IllegalArgumentException(s"--token-budget needs a non-negative long: $v")
    case "--substring" :: v :: rest if v.forall(_.isDigit) && v.nonEmpty && v.length <= 9 =>
      parse(rest, c.copy(substring = Some(v.toInt)), algsSet)
    case "--substring" :: rest => parse(rest, c.copy(substring = Some(2)), algsSet)
    case "--longrun" :: v :: rest if v.forall(_.isDigit) && v.nonEmpty && v.length <= 9 =>
      parse(rest, c.copy(longrun = Some(v.toInt)), algsSet)
    case "--longrun" :: rest => parse(rest, c.copy(longrun = Some(60)), algsSet)
    case "--progress" :: rest => parse(rest, c.copy(progress = true), algsSet)
    case "--debug" :: rest => parse(rest, c.copy(debug = true), algsSet)
    case "--verbose" :: rest => parse(rest, c.copy(verbose = true), algsSet)
    case "--quiet" :: rest => parse(rest, c.copy(quiet = true), algsSet)
    case other :: _ => throw new IllegalArgumentException(s"unknown option: $other")
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args.toList)
    require(conf.inputs.nonEmpty, "at least one --input required")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel(
      if (conf.debug) "INFO" else if (conf.quiet) "ERROR" else "WARN")

    val listener = new graft.progress.Progress.ProgressListener(echo = !conf.quiet)
    if (conf.progress) spark.listenerManager.register(listener)

    val docs = inputDocs(spark, conf)

    // incremental mode short-circuits the clustering pipeline: the
    // batch is judged against the accumulated digest snapshot only.
    // The sink (emit + stats) runs BEFORE the snapshot append, so a
    // failed emit never poisons the snapshot (a retry stays correct).
    val incremental = conf.snapshot.map(dir => (runIncremental(spark, docs, dir,
        incrementalSink(spark, conf, "incremental")), "dup_of"))
      .orElse(conf.nearSnapshot.map(dir => (runIncrementalNear(spark, docs, dir,
        incrementalSink(spark, conf, "incremental_near"), minhashConfigOf(conf)), "near_dup_of")))
    incremental.foreach { case (verdicts, dupCol) =>
      conf.clustersSnapshot.foreach(maintainClusters(spark, _, verdicts, dupCol, conf.verbose))
      spark.stop()
      return
    }
    require(conf.clustersSnapshot.isEmpty,
      "--clusters-snapshot requires --snapshot or --near-snapshot")

    // the pipeline is lazy: the audit formats never force it
    val auditOnly = AuditFormats.contains(conf.format)
    val catalog = conf.checkpoint.map(new Catalog(_, spark))
    lazy val result = runPipeline(docs, conf, catalog)

    emitReport(docs, result, conf, catalog)

    // observed progress metrics land in the checkpoint catalog's
    // metrics table (S5: metrics stream → metrics sink)
    if (conf.progress) catalog.foreach { cat =>
      listener.observations.foreach { o =>
        cat.recordMetrics(s"observe:${o.name}",
          o.metrics.collect { case (k, v: Long) => k -> v })
      }
    }

    if (conf.verbose && !auditOnly) {
      val s = result.summary.head()
      System.err.println(
        s"unique: ${s.getLong(0)}  distinct duplicated: ${s.getLong(1)}  duplicates: ${s.getLong(2)}")
      System.err.println(s"quarantined (undecodable): ${result.quarantinedCount} of ${result.docsIn}")
      result.skippedBucketRows.foreach { case (k, v) =>
        System.err.println(s"skipped over-cap $k bucket rows: $v")
      }
      result.exact.digestCounts.zip(result.exact.collisionCounts).zipWithIndex.foreach {
        case ((d, c), k) => System.err.println(s"level $k: digests computed $d, collisions $c")
      }
    }
    spark.stop()
  }

  /** The dataset-audit formats: they read only the INPUT corpus —
    * running the dedup DAG (shingles, MinHash-128, banded pairing, CC
    * iterations) to then never read its result would cost a
    * corpus-scale pass for nothing.
    */
  private val AuditFormats = Set("overlap", "lm", "ccnet", "mirrors", "hitters")

  /** Emit the report of `result` in `conf`'s format to `conf.outfile`.
    * Under a quality keep-policy (r4 VERDICT #5) the cluster survivor
    * is the argmax-quality member instead of the min-url canonical. The
    * keepers are one small row per cluster, persisted so survivor joins
    * and the metrics (how many clusters got a quality-selected keeper,
    * and how many differ from the min-url canonical; S5/S6 sink) share
    * one computation, and released on error too.
    */
  private[graft] def emitReport(docs: DataFrame, result: => DedupPipeline.Result, conf: Conf,
      catalog: Option[Catalog]): Unit = {
    val auditOnly = AuditFormats.contains(conf.format)
    val keepers =
      if (auditOnly) None else keepPolicyKeepers(docs, result, conf.keepPolicy)
    keepers.foreach(_.persist())
    try {
      val out0 = formatOutput(docs, result, conf.format, keepers, conf.split,
        conf.ccnetSample, conf.domainCap, conf.tokenBudget, conf.hittersM)
      val out =
        if (conf.progress) graft.progress.Progress.tap(out0, "report_out") else out0
      if (conf.debug) System.err.println(out.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      emit(conf.outfile, out, conf.shards)
      for (k <- keepers; cat <- catalog) recordKeepPolicyMetrics(k, cat)
    } finally keepers.foreach(_.unpersist())
  }

  /** The docs a run reads: the union of its inputs through the
    * pre-filters (`--block-domains`, `--badwords`, `--robots`/`--agent`,
    * `--prefilter`), all map-side over one scan.
    */
  private[graft] def inputDocs(spark: SparkSession, conf: Conf): DataFrame = {
    // repeated-input skip (F6, CLI.pm:179-183) + accumulation across
    // inputs (Files.pm:36-44): union of source reads
    val docs0 = conf.inputs.distinct.map(load(spark, _)).reduce(_ unionByName _)
    // release-hygiene pre-filter: blocked domains never enter the
    // pipeline (map-side codegen'd filter — pushes to the scan)
    val docs1d =
      if (conf.blockDomains.isEmpty) docs0
      else graft.text.UrlNorm.dropBlockedDomains(docs0, conf.blockDomains)
    // word-blocklist page gate (C4 §2.2) — same map-side scan
    val docs1 =
      if (conf.badWords.isEmpty) docs1d
      else graft.text.C4Clean.dropBadWordPages(docs1d, conf.badWords)
    // crawl-policy compliance re-filter (the --robots pass): disallowed
    // urls never enter the pipeline — the rule table is domain-grain
    val docs1r = conf.robots match {
      case Some(path) =>
        val agent = conf.agent.getOrElse(throw new IllegalArgumentException(
          "--robots requires --agent"))
        robotsSurvivors(docs1, loadRobots(spark, path), agent)
      case None =>
        require(conf.agent.isEmpty, "--agent requires --robots")
        docs1
    }
    // quality gate BEFORE dedup (the webtext pipeline order): docs
    // failing the Gopher rule battery never enter the pipeline —
    // map-side, same scan as the hygiene filter above
    val docs2 = conf.prefilter match {
      case Some("gopher") => gopherSurvivors(docs1r)
      case _ => docs1r
    }
    if (conf.progress) graft.progress.Progress.tap(docs2, "scan_docs", Some("html"))
    else docs2
  }

  /** The clustering pipeline over `docs`, staged in `catalog` when
    * `--checkpoint` is set.
    */
  private[graft] def runPipeline(docs: DataFrame, conf: Conf,
      catalog: Option[Catalog]): DedupPipeline.Result = {
    val cfg = DedupPipeline.Config(
      algs = if (conf.byteVerify) conf.algs :+ "bytes" else conf.algs,
      ignoreEmpty = conf.ignoreEmpty,
      useMinHash = !conf.exactOnly,
      useSimHash = !conf.exactOnly,
      minhash = minhashConfigOf(conf),
      useSubstring = conf.substring.isDefined,
      substring = conf.substring.map(m =>
        DedupPipeline.SubstringConfig(minShared = m))
        .getOrElse(DedupPipeline.SubstringConfig()),
      useLongRun = conf.longrun.isDefined,
      longRun = conf.longrun.map(l => DedupPipeline.LongRunConfig(minLen = l))
        .getOrElse(DedupPipeline.LongRunConfig()))
    catalog match {
      case Some(cat) => DedupPipeline.runCheckpointed(docs, cat, cfg, checkpointLineage(conf))
      case None => DedupPipeline.run(docs, cfg)
    }
  }

  /** The input lineage of a checkpointed run that the plan's file
    * listing (`Catalog.inputFiles`) cannot show: the `synth:N` specs,
    * which scan no file, and the pre-filters, which change the docs
    * without changing the files (the `--robots` table's own files are
    * in the plan). Empty when every input is a WARC/WET file, read
    * outside the plan, so such a run still recomputes every stage.
    */
  private[graft] def checkpointLineage(conf: Conf): String = {
    val inputs = conf.inputs.distinct
    if (inputs.forall(i => Seq(".warc", ".warc.gz", ".wet", ".wet.gz").exists(i.endsWith))) ""
    else (inputs.filter(_.startsWith("synth:")) ++ Seq(
        "block" -> conf.blockDomains.mkString(","), "badwords" -> conf.badWords.mkString(","),
        "robots" -> conf.robots.getOrElse(""), "agent" -> conf.agent.getOrElse(""),
        "prefilter" -> conf.prefilter.getOrElse(""))
      .collect { case (k, v) if v.nonEmpty => s"$k=$v" }).mkString(",")
  }

  /** Tab output to stdout or a csv path. Stdout streams
    * partition-at-a-time: corpus-sized formats (clean) would OOM the
    * driver under collect() (review finding #6).
    */
  private[graft] def emit(outfile: String, out: DataFrame, shards: Int = 0): Unit =
    (outfile, shards) match {
      case ("-", 0) =>
        out.toLocalIterator().forEachRemaining(r => println(r.mkString("\t")))
      case ("-", _) =>
        throw new IllegalArgumentException("--shards requires --outfile PATH")
      case (path, 0) =>
        out.coalesce(1).write.mode("overwrite").option("sep", "\t").csv(path)
      case (path, n) =>
        // the trainer-facing layout: shard=K/ parquet plus _manifest
        // (ShardManifest's deterministic md5-prefix assignment on url)
        require(out.columns.contains("url"),
          s"--shards needs a url-keyed output format, got: ${out.columns.mkString(",")}")
        // char mass from whichever text column this format carries
        // (clean/lines emit clean_text); id-grain formats get 0
        val tc = Seq("text", "clean_text").find(out.columns.contains)
          .getOrElse("text")
        graft.corpus.ShardManifest.writeSharded(out, path, n, idCol = "url",
          textCol = tc)
        ()
    }

  /** Incremental mode (--snapshot DIR): per-doc verdicts for the batch
    * against the digest snapshot parquet at DIR (bootstrapped empty
    * when DIR has no snapshot yet), with the batch's novel digests
    * appended back so the next run's snapshot includes this batch.
    * `sink` receives the verdicts BEFORE the append — a failed emit
    * must not leave the snapshot poisoned — and the verdicts are
    * eagerly `localCheckpoint`ed: the batch is read and digested
    * ONCE, shared by sink + delta + return, and the TRUNCATED lineage
    * means no later consumer can ever recompute through the snapshot
    * scan and see the delta this run appended (a plain persist is not
    * enough — an unpersisted recompute re-lists the snapshot
    * directory, measured in IncrementalCliSpec). The delta is the
    * verdicts' own novel rows (one per new digest by construction:
    * only a digest's first occurrence is novel) — no second pass over
    * the batch.
    */
  private[graft] def runIncremental(spark: SparkSession, docs: DataFrame,
      dir: String, sink: DataFrame => Unit = _ => ()): DataFrame = {
    import graft.engine.IncrementalDedup._
    val (cat, name) = Catalog.ofTable(dir, spark)
    val snap = if (cat.exists(name)) cat.read(name) else emptySnapshot(docs)
    val verdicts = dedupAgainst(docs, snap).localCheckpoint(true)
    sink(verdicts)
    cat.append(name, verdicts.filter(col("is_novel"))
      .select(col("digest"), col("url").as("keeper")))
    verdicts
  }

  /** Clusters-snapshot maintenance (--clusters-snapshot): fold the
    * batch's dup edges (url -> dup_of / near_dup_of) and its urls into
    * the standing (id, component) assignment at `dir`/assign via
    * [[graft.cluster.IncrementalCC.fold]] — one map-side scan of the
    * prior table, CC over the touched subgraph only, one write plan.
    * The rewrite is the [[Catalog]] commit of table `assign`: a crash
    * never leaves a partial table, and an interrupted swap is finished
    * by the next run; on Iceberg this step is a MERGE INTO touching
    * relabeled rows. A re-crawled url keeps its one standing row (and
    * component); urls are assumed unique within one batch.
    */
  private[graft] def maintainClusters(spark: SparkSession, dir: String,
      verdicts: DataFrame, dupCol: String, verbose: Boolean = false): Unit = {
    import spark.implicits._
    val cat = new Catalog(dir, spark)
    // read with the schema it was written with: no inference job
    val prior = if (cat.exists("assign"))
        cat.read("assign", graft.cluster.IncrementalCC.assignSchema)
      else Seq.empty[(String, String)].toDF("id", "component")
    val edges = verdicts.filter(col(dupCol).isNotNull)
      .select(col("url").as("src"), col(dupCol).as("dst"))
    // counted before the commit replaces the prior files they read
    val report = Option.when(verbose) { (nRelabel: Long, nNew: Long) =>
      System.err.println(s"clusters: $nRelabel components relabeled, " +
        s"$nNew ids joined existing/new merged components")
    }
    cat.commit("assign", graft.cluster.IncrementalCC.fold(prior, edges,
      verdicts.select(col("url").as("id")), report = report))
  }

  /** The shared incremental-mode sink: emit verdicts (progress-tapped,
    * debug-explained), then route per-crawl novelty counts to stderr
    * and/or the Catalog metrics table (S5/S6 — per-crawl novelty is
    * the number an operator of a continuously-fed corpus watches).
    * Both verdict shapes carry `is_novel`, so one sink serves the
    * exact (--snapshot) and near (--near-snapshot) modes.
    */
  private def incrementalSink(spark: SparkSession, conf: Conf,
      stage: String)(verdicts: DataFrame): Unit = {
    val out = if (conf.progress)
      graft.progress.Progress.tap(verdicts, "report_out") else verdicts
    if (conf.debug) System.err.println(out.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    emit(conf.outfile, out, conf.shards)
    if (conf.verbose || conf.checkpoint.isDefined) {
      val n = verdicts.agg(
        coalesce(sum(when(col("is_novel"), 1L).otherwise(0L)), lit(0L)),
        count(lit(1))).head()
      val (novel, total) = (n.getLong(0), n.getLong(1))
      if (conf.verbose)
        System.err.println(s"novel: $novel of $total batch docs")
      conf.checkpoint.foreach { cdir =>
        new Catalog(cdir, spark).recordMetrics(stage,
          Map("batch_docs" -> total, "novel" -> novel,
            "duplicates" -> (total - novel)))
      }
    }
  }

  /** Incremental NEAR-dup mode (--near-snapshot): judge the batch
    * against the persisted MinHash band+shingle signature snapshot at
    * `dir` (parquet tables dir/bands, dir/sigs; bootstrapped from an
    * empty prior when absent — the first batch is intra-batch-deduped
    * and becomes the snapshot), sink the verdicts FIRST (a failed emit
    * never poisons the snapshot — the --snapshot crash-safety
    * contract), then append the band+sig delta for retained docs.
    *
    * The banding is PINNED at bootstrap in `dir`/config.json: band
    * hashes are only comparable under the (shingleK, numPerms, bands)
    * they were computed with, so a mismatched --jaccard fails fast
    * instead of silently probing incomparable buckets.
    */
  private[graft] def runIncrementalNear(spark: SparkSession, docs: DataFrame,
      dir: String, sink: DataFrame => Unit = _ => (),
      cfg0: graft.near.MinHashLSH.Config = graft.near.MinHashLSH.Config()): DataFrame = {
    import graft.engine.IncrementalNearDup
    val cat = new Catalog(dir, spark)
    val cfg = cfg0
    val pin =
      s"""{"shingleK":${cfg.shingleK},"numPerms":${cfg.numPerms},"bands":${cfg.bands},""" +
        s""""seed":${cfg.seed},"jaccardThreshold":${cfg.jaccardThreshold}}"""
    val pinned = cat.pin("config.json", pin)
    require(pinned == pin,
      s"near-snapshot $dir was bootstrapped with banding $pinned; " +
        s"this run requests $pin — band hashes are not comparable " +
        "across bandings (re-bootstrap a fresh snapshot dir to change --jaccard)")
    val snap =
      if (cat.exists("bands") && cat.exists("sigs"))
        IncrementalNearDup.Snapshot(
          cat.read("bands", IncrementalNearDup.Snapshot.bandsSchema),
          cat.read("sigs", IncrementalNearDup.Snapshot.sigsSchema))
      else IncrementalNearDup.bootstrap(docs.limit(0), cfg)
    // the batch is shingled + minhashed ONCE, shared by the probe and
    // the snapshot delta (shingling is the dominant map-side cost of
    // this stack — paying it twice per crawl doubled the bill)
    val batchSigs = graft.near.MinHashLSH.signatures(docs, cfg).persist()
    try {
      val skippedAcc = spark.sparkContext.longAccumulator("near_snapshot_skipped")
      // eagerly checkpointed by dedupAgainstSignatures
      val verdicts = IncrementalNearDup
        .dedupAgainstSignatures(batchSigs, snap, cfg, skippedAcc = Some(skippedAcc))
      // over-cap skip surfacing (capped AND surfaced — a saturated prior
      // or batch band bucket silently degrading recall is the one failure
      // an operator of a standing snapshot must see)
      if (skippedAcc.value > 0)
        System.err.println(
          s"near-snapshot: ${skippedAcc.value} over-cap candidate rows skipped " +
            "(hot band bucket; raise maxBucket)")
      sink(verdicts)
      val delta = IncrementalNearDup.snapshotDeltaFromSignatures(batchSigs, verdicts, cfg)
      cat.append("bands", delta.bands)
      cat.append("sigs", delta.sigs)
      verdicts
    } finally batchSigs.unpersist()
  }

  /** The near-dup MinHash config for this invocation: the ship
    * default (32 bands × 4 rows, midpoint ≈ 0.42), or — under
    * `--jaccard T` — the [[graft.near.LshPlanner]]-optimal divisor
    * banding for T. Driver-side closed-form arithmetic; at corpus
    * scale the (bands, rows) choice IS the candidate-volume lever.
    */
  private[graft] def minhashConfigOf(conf: Conf): graft.near.MinHashLSH.Config =
    conf.jaccard.map(t => graft.near.LshPlanner.configFor(t))
      .getOrElse(graft.near.MinHashLSH.Config())

  /** One (cluster_id, keep_id, best_score) row per cluster under a
    * non-default keep policy, or None for `min` (the pipeline's
    * min-url canonical already IS the keeper — no extra pass).
    */
  private[graft] def keepPolicyKeepers(docs: DataFrame,
      result: DedupPipeline.Result, policy: String): Option[DataFrame] =
    if (policy == "min") None
    else Some(result.keepBestCanonical(qualityScores(docs, policy)))

  /** Reversible TSV escaping for corpus-shaped clean_text columns
    * that legitimately contain newlines/tabs (lines/paragraphs/spans/
    * c4): \ tab newline become \\ \t \n, so each doc is one physical
    * TSV line. ONE definition — the four consumers must never drift.
    */
  private def tsvEscaped(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(
      c, "\\\\", "\\\\\\\\"), "\t", "\\\\t"), "\n", "\\\\n")

  /** The CLI output frame for a --format under an optional quality
    * keeper set. Corpus-shaped formats (clean/lines) dedup to the
    * keeper survivors; `clusters` re-keys every member to its
    * cluster's keeper id.
    */
  private[graft] def formatOutput(docs: DataFrame,
      result: => DedupPipeline.Result, format: String,
      keepers: Option[DataFrame],
      splitFracs: Option[Seq[(String, Double)]] = None,
      ccnetSample: Double = 0.5,
      domainCap: Int = 1000,
      tokenBudget: Long = 1000000000L,
      hittersM: Int = 64): DataFrame = {
    // quality in integer micro-units (the exact-arithmetic discipline:
    // BudgetSelect/DomainQuota collapse the corpus to its DISTINCT
    // scores, so the score space must be bounded — rounded micro-units
    // cap it at ~10^6 classes; undecodable docs rank below everything)
    def qualityMicro = when(col("text").isNull, lit(-1000000L))
      .otherwise(round(coalesce(graft.text.TextStats.qualityFeatures(col("text"))
        .toMap.apply("quality_score"), lit(-1.0)) * 1000000).cast("long"))
    // survivor set for the corpus-shaped formats: one url per cluster
    def survivors: DataFrame = keepers match {
      case Some(k) => k.select(col("keep_id").as("url"))
      case None => result.clusters.filter(col("url") === col("cluster_id")).select("url")
    }
    format match {
      case "clusters" => keepers match {
        case Some(k) =>
          // re-key every member to its cluster's quality keeper (left
          // join: a cluster that somehow lost its keeper keeps the
          // min-id label rather than dropping rows)
          result.clusters
            .join(k.select(col("cluster_id"), col("keep_id")), Seq("cluster_id"), "left")
            .select(col("url"), coalesce(col("keep_id"), col("cluster_id")).as("cluster_id"))
        case None => result.clusters
      }
      case "clean" =>
        // doc-level dedup first (keep each cluster's canonical), then
        // chunk-level span removal across the survivors
        val canon = docs.join(survivors, "url")
        graft.substring.ChunkDedup.dedupChunks(canon)
          .select(col("id").as("url"), col("clean_text"))
      case "lines" =>
        // same survivor set, line-granularity removal (CCNet policy).
        // clean_text legitimately CONTAINS newlines here (it keeps the
        // doc's line structure), so the emitted column escapes
        // \ tab newline as \\ \t \n — one physical TSV line per doc,
        // reversible by the consumer
        val canon = docs.join(survivors, "url")
        val escaped = tsvEscaped(col("clean_text"))
        graft.substring.LineDedup.dedupLines(canon)
          .select(col("id").as("url"), escaped.as("clean_text"))
      case "paragraphs" =>
        // same survivor set, paragraph-granularity removal (Dolma's
        // blank-line-block policy, exact). Escaped like `lines`
        val canon = docs.join(survivors, "url")
        val escaped = tsvEscaped(col("clean_text"))
        graft.substring.LineDedup.dedupParagraphs(canon)
          .select(col("id").as("url"), escaped.as("clean_text"))
      case "spans" =>
        // same survivor set, then the FULL Lee et al. policy: exact
        // shared runs >= 60 chars cut at ANY alignment (first
        // occurrence kept corpus-wide). clean_text keeps the doc's
        // structure, so escape like `lines`
        val canon = docs.join(survivors, "url")
        val escaped = tsvEscaped(col("clean_text"))
        graft.substring.SpanRemoval.removeSharedRuns(canon)
          .select(col("id").as("url"), escaped.as("clean_text"), col("n_removed"))
      case "overlap" =>
        // cross-domain shingle-overlap audit (the dataset-audit
        // matrix, q_corpus_overlap at CLI grain): sources = the url's
        // registrable domain, so "how much do these two sites share"
        // is answered before paying for a full cross-site dedup pass.
        // Runs over the INPUT corpus — an audit of what arrived, not
        // of what survived. Overlap's contract is a CONFIG-SIZED
        // source set (its per-shingle aggregation state and its pair
        // matrix are both sources-squared) — an open crawl's domain
        // universe would OOM the shingle buffers and materialize a
        // D^2 frame, so guard loudly before paying for the scan
        // (r5 review). The gate is EXACT: an approx count's ~5% rsd
        // would reject a legitimately bounded corpus near the limit
        // nondeterministically, and the distinct-domain shuffle is
        // domain-grain (narrow) — same scan either way
        val src = docs.withColumn("source",
          graft.text.UrlNorm.registrableDomain(col("url")))
        val nSrc = src.agg(countDistinct(col("source"))).head().getLong(0)
        require(nSrc <= 1000,
          s"--format overlap is a cross-SOURCE audit (S^2 matrix; Overlap scaladoc): " +
            s"~$nSrc distinct domains is an open crawl, not a bounded source set - " +
            "pre-filter to the sites under comparison (--block-domains or a filtered input)")
        graft.corpus.Overlap.exactPairs(src, k = 3, textCol = "text")
      case "lm" =>
        // corpus bigram-LM scoring (q_lm_score at CLI grain): per-url
        // micro-nat log-prob totals under the corpus's own LM — the
        // CCNet-style quality column release pipelines sort on
        graft.text.NgramLm.scoreSelf(docs, idCol = "url", textCol = "text")
      case "c4" =>
        // C4 page cleaning (Raffel et al. 2020) over the SURVIVOR
        // corpus: dedup first, then the heuristic line/page gate —
        // kept pages only. clean_text keeps line structure, so escape
        // like `lines`
        val canon = docs.join(survivors, "url")
        val escaped = tsvEscaped(col("clean_text"))
        graft.text.C4Clean.cleanPages(canon, idCol = "url", textCol = "text")
          .filter(col("page_kept"))
          .select(col("id").as("url"), escaped.as("clean_text"))
      case "ccnet" =>
        // CCNet head/middle/tail perplexity buckets (Wenzek et al.
        // 2020) over the INPUT corpus — an audit of what arrived, the
        // column CCNet cuts its releases on
        graft.text.NgramLm.ccnetBuckets(docs, idCol = "url", textCol = "text",
          sampleFrac = ccnetSample)
      case "pack" =>
        // training-sequence layout of the SURVIVOR corpus (dedup then
        // pack — the release-pipeline order): GPT-style concatenate-
        // and-chunk at a 2048-token budget, deterministic epoch0 order
        val canon = docs.join(survivors, "url")
        graft.corpus.Packing.pack(canon,
            graft.text.TextStats.tokenCount(col("text")), budget = 2048L,
            idCol = "url", salt = "epoch0")
          .select(col("id").as("url"), col("n_tokens"),
            col("seq_id"), col("seq_offset"))
      case "quota" =>
        // site-balanced survivor corpus (C4/Dolma per-domain cap,
        // dedup-first order): the K best docs per registrable domain
        // by quality micro-units — DomainQuota's exact two-phase
        // top-k, so a mega-domain never sorts in one task
        val canon = docs.join(survivors, "url")
        graft.corpus.DomainQuota.cap(canon,
            graft.text.UrlNorm.registrableDomain(col("url")),
            qualityMicro, k = domainCap, idCol = "url")
          .select(col("id").as("url"), col("domain"), col("score"), col("rank"))
      case "budget" =>
        // token-budget selection of the survivor corpus: the greedy
        // quality prefix under B tokens (BudgetSelect's boundary-class
        // prefix sum — no global sort), kept rows only
        val canon = docs.join(survivors, "url")
        val nt = coalesce(
          graft.text.TextStats.tokenCount(col("text")).cast("long"), lit(0L))
        graft.corpus.BudgetSelect.select(
            canon.select(col("url"), qualityMicro.as("__q"), nt.as("__nt")),
            col("__q"), col("__nt"), budget = tokenBudget, idCol = "url")
          .filter(col("kept"))
          .select(col("id").as("url"), col("score"), col("n_tokens"))
      case "weights" =>
        // soft dedup (duplicate-aware loss re-weighting): EVERY member
        // of every dup cluster kept, weighted 10^6 div cluster size —
        // the keep-everything alternative to the keeper formats; a
        // trainer samples by weight instead of seeing the survivors
        graft.cluster.SoftDedup.weights(result.clusters, "url", "cluster_id")
      case "mirrors" =>
        // cross-domain mirror/syndication audit over the INPUT corpus
        // (auditOnly: the dedup DAG never runs); pair grain is tiny,
        // the orderBy is for stable console output
        graft.report.DomainStats.mirrorPairs(docs).orderBy("d1", "d2")
      case "hitters" =>
        // heavy-line audit over the INPUT corpus (auditOnly): the
        // exact set of non-blank lines with count > N/(m+1) — the
        // boilerplate lines a dropCommonLines pass would cut,
        // surfaced before committing to the cut (MG candidates +
        // gated exact counts + count-min estimate; HeavyHitters
        // scaladoc for the guarantees). Units are RAW lines under
        // LineDedup's own blank predicate — trimmed keys would merge
        // variants that pass would treat as distinct, and space-only
        // trim would report structural whitespace lines as cuttable
        graft.report.HeavyHitters.heavyHitters(
            docs.select(explode(split(coalesce(col("text"), lit("")), "\n")).as("l"))
              .filter(!graft.substring.LineDedup.isBlank(col("l"))),
            col("l"), m = hittersM)
          .withColumnRenamed("key", "line")
      case "splits" =>
        // leakage-safe train/val/test labels at CLUSTER grain: the
        // split hashes the cluster component, so no dup/near-dup pair
        // the pipeline found can straddle the eval boundary
        val fracs = splitFracs.getOrElse(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        graft.corpus.Splits.byAssignment(
            docs.select("url"),
            result.clusters.select(col("url").as("id"),
              col("cluster_id").as("component")),
            idCol = "url", fracs = fracs)
          .select(col("url"), col("split"))
      case _ => result.report
    }
  }

  /** Survivors of the Gopher rule battery (`--prefilter gopher`): the
    * map-side heuristic quality gate, run BEFORE dedup so failing
    * docs never pay for digests or shingles. Tokens are materialized
    * as their own projection and only the fused `gopher_pass` boolean
    * reaches the filter (SCALE.md invariant 7 — if Catalyst pushes
    * the predicate through the projections it re-inlines the tokenize
    * tree per reference; the gate stays map-only and one-scan either
    * way, which is the property that matters at corpus scale).
    */
  private[graft] def gopherSurvivors(docs: DataFrame): DataFrame = {
    val cols = docs.columns.toSeq
    val pass = graft.text.TextStats.gopherRules(col("text"), col("__lt"))
      .toMap.apply("gopher_pass")
    docs
      .select(col("*"), graft.text.TextStats.tokens(lower(col("text"))).as("__lt"))
      .select(col("*"), pass.as("__gopher_pass"))
      .filter(col("__gopher_pass"))
      .select(cols.map(col): _*)
  }

  /** keep-policy metrics (S5/S6 sink): how many clusters got a
    * quality-selected keeper, and how many differ from the min-url
    * canonical the default policy would have kept.
    */
  private[graft] def recordKeepPolicyMetrics(keepers: DataFrame,
      cat: Catalog): Unit = {
    val m = keepers.agg(count(lit(1)),
      coalesce(sum(when(col("keep_id") =!= col("cluster_id"), 1L).otherwise(0L)),
        lit(0L))).head()
    cat.recordMetrics("keep_policy",
      Map("kept_by_quality" -> m.getLong(0), "changed_from_min" -> m.getLong(1)))
  }

  /** (url, score) for every decodable doc under the given keep
    * policy: `quality` = the hand-crafted composite quality score
    * (TextStats, pure codegen'd Columns, map-only); `quality:model` =
    * P(real | doc) under a QualityModel discriminator trained on this
    * corpus (bounded deterministic fit, map-only scoring). Scores are
    * coalesced non-null (null-text docs score -1) so KeepBest's
    * argmax is total — a cluster can never lose its keeper to a null.
    */
  private[graft] def qualityScores(docs: DataFrame, policy: String): DataFrame =
    policy match {
      case "quality:model" =>
        val model = graft.text.QualityModel.train(
          docs.filter(col("text").isNotNull), "url", "text")
        graft.text.QualityModel.score(model, docs, "url", "text")
          .select(col("url"),
            coalesce(col("quality_prob"), lit(-1.0)).as("score"))
      case _ =>
        // qualityFeatures coalesces null text to "" (scoring it 0.1 on
        // the punct term) — an undecodable doc must rank BELOW every
        // real doc, so gate on text nullness before the score
        val q = graft.text.TextStats.qualityFeatures(col("text"))
          .toMap.apply("quality_score")
        docs.select(col("url"), when(col("text").isNull, lit(-1.0))
          .otherwise(coalesce(q, lit(-1.0))).as("score"))
    }

  /** Quoted-field CSV reader shared by the corpus and policy loaders:
    * multiLine because both text and robots_txt payloads legitimately
    * contain newlines inside quotes — without it the quoted field
    * splits into one corrupt record per line.
    */
  private[graft] def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(path)

  /** (domain, robots_txt) policy table for `--robots`. */
  private[graft] def loadRobots(spark: SparkSession, path: String): DataFrame = {
    val df =
      if (path.endsWith(".json") || path.endsWith(".jsonl")) spark.read.json(path)
      else if (path.endsWith(".csv")) readCsv(spark, path)
      else spark.read.parquet(path)
    require(df.columns.contains("domain") && df.columns.contains("robots_txt"),
      s"--robots table needs (domain, robots_txt) columns: $path")
    val policies =
      df.select(col("domain").cast("string"), col("robots_txt").cast("string"))
    // one policy per domain, verified up front: Robots.groups numbers
    // lines per PAYLOAD, so two rows for one domain would interleave
    // their lines in the grouping window and scramble rule-to-group
    // attribution nondeterministically (third-party dumps commonly
    // carry multiple snapshots). The check is one aggregation over the
    // domain-grain policy table — never corpus-sized.
    val dup = policies.groupBy("domain").count()
      .filter(col("count") > 1).select("domain").limit(1).collect()
    require(dup.isEmpty,
      s"--robots table has multiple rows for domain '${dup.head.getString(0)}' " +
        s"($path): keep one policy per domain (e.g. the latest snapshot)")
    policies
  }

  /** Docs whose url the robots policy ALLOWS for `agent`, plus all
    * url-less docs (no policy can apply to them — the null
    * passthrough convention of dropBlockedDomains). Verdicts are
    * computed once per DISTINCT url, then the corpus anti-joins the
    * BLOCKED urls: one scan of the corpus side (a null-filter +
    * semi-join union would scan it twice), null urls never equal a
    * blocked url so they pass for free, and the broadcast side is the
    * blocked set — typically far smaller than the allowed one.
    */
  private[graft] def robotsSurvivors(docs: DataFrame, robots: DataFrame,
      agent: String): DataFrame = {
    val urls = docs.filter(col("url").isNotNull)
      .select(col("url").as("u_id"), col("url")).distinct()
    val blocked = graft.extract.Robots.verdicts(urls, robots, agent, idCol = "u_id")
      .filter(!col("allowed")).select(col("url"))
    // the join hoists the key column first — restore the input order
    docs.join(blocked, Seq("url"), "left_anti")
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  private[graft] def load(spark: SparkSession, input: String): DataFrame =
    if (input.startsWith("synth:"))
      graft.corpus.Corpus.docs(spark, input.stripPrefix("synth:").toLong).toDF()
    else if (input.endsWith(".json") || input.endsWith(".jsonl"))
      normalize(spark.read.json(input))
    else if (input.endsWith(".csv"))
      normalize(readCsv(spark, input))
    else if (input.endsWith(".wet") || input.endsWith(".wet.gz"))
      graft.sources.Warc.readWet(spark, input)
    else if (input.endsWith(".warc") || input.endsWith(".warc.gz"))
      graft.sources.Warc.read(spark, input)
        .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
    else spark.read.parquet(input)

  /** Text-format sources (json/csv) carry no binary/timestamp typing;
    * coerce into the corpus schema (html utf-8 bytes, warc_ts
    * timestamp, lang defaulted) so every downstream stage sees one
    * shape regardless of source format.
    */
  private[graft] def normalize(df: DataFrame): DataFrame = {
    var d = df
    if (!d.columns.contains("url") || !d.columns.contains("text"))
      throw new IllegalArgumentException(
        "json/csv input needs at least (url, text) columns")
    if (!d.columns.contains("html")) d = d.withColumn("html", col("text"))
    if (!d.columns.contains("lang")) d = d.withColumn("lang", lit("und"))
    if (!d.columns.contains("warc_ts"))
      d = d.withColumn("warc_ts", lit("1970-01-01 00:00:00"))
    d.select(col("url").cast("string"), col("warc_ts").cast("timestamp"),
      col("html").cast("binary"), col("text").cast("string"),
      col("lang").cast("string"))
  }
}
