package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.{DigestSpec, KV}

/** Ported engine-kernel suite (reference t/unit/Data/Dedup/Engine.t;
  * fixture FIXTURES.md §2). Blocks are compared as (keys, members)
  * sets — order-insensitive like the reference's bag() matching.
  */
class DedupEngineSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    KV("A", 1), KV("B", 2), KV("C", 3),
    KV("A", 4), KV("B", 5), KV("C", 6),
    KV("A", 7), KV("B", 8), KV("C", 9))

  private def fixture: DataFrame =
    rows.toDF().withColumn("id", concat(col("letter"), col("n")))

  private val cascade = Seq(
    DigestSpec("letter", "letter", col("letter")),
    DigestSpec("mod2", "n%2", col("n") % 2),
    DigestSpec("mod3", "n%3", col("n") % 3),
    DigestSpec("mod5", "n%5", col("n") % 5))

  private def blockSet(r: DedupResult): Set[(Seq[String], Seq[String])] =
    r.blocks.select("keys", "members").collect()
      .map(row => (row.getSeq[String](0), row.getSeq[String](1))).toSet

  // expected per Engine.t:250-264 (bag of blocks incl. short key arrays)
  private val expected = Set(
    (Seq("A", "1", "1", "1"), Seq("A1")),
    (Seq("A", "0"), Seq("A4")),
    (Seq("A", "1", "1", "2"), Seq("A7")),
    (Seq("B", "0", "2", "2"), Seq("B2")),
    (Seq("B", "1"), Seq("B5")),
    (Seq("B", "0", "2", "3"), Seq("B8")),
    (Seq("C", "1", "0", "3"), Seq("C3")),
    (Seq("C", "0"), Seq("C6")),
    (Seq("C", "1", "0", "4"), Seq("C9")))

  for (mode <- Seq(DedupEngine.Eager, DedupEngine.Staged)) {
    val m = mode.toString

    test(s"$m: multi-level blocking reproduces reference blocks incl. short key arrays") {
      val r = DedupEngine.run(fixture, "id", cascade, mode)
      assert(blockSet(r) == expected)
    }

    test(s"$m: collision counts match the [6,3,3,0] oracle (Engine.t:267-271)") {
      val r = DedupEngine.run(fixture, "id", cascade, mode)
      assert(r.collisionCounts == Seq(6L, 3L, 3L, 0L))
    }

    test(s"$m: digest counts are monotonic non-increasing and lazy (Engine.pm:558-578)") {
      val r = DedupEngine.run(fixture, "id", cascade, mode)
      assert(r.digestCounts == Seq(9L, 9L, 6L, 6L))
    }

    test(s"$m: empty cascade puts everything in one keyless block (Engine.t:65-84)") {
      val r = DedupEngine.run(fixture, "id", Nil, mode)
      assert(blockSet(r) == Set((Seq.empty[String],
        Seq("A1", "A4", "A7", "B2", "B5", "B8", "C3", "C9", "C6").sorted)))
    }

    test(s"$m: single object never computes a key (lazy, Engine.pm:351-364)") {
      val r = DedupEngine.run(fixture.limit(1), "id", cascade, mode)
      assert(blockSet(r).head._1.isEmpty)
    }

    test(s"$m: single-level grouping (Engine.t:86-124)") {
      val r = DedupEngine.run(fixture, "id", cascade.take(1), mode)
      assert(blockSet(r) == Set(
        (Seq("A"), Seq("A1", "A4", "A7")),
        (Seq("B"), Seq("B2", "B5", "B8")),
        (Seq("C"), Seq("C3", "C6", "C9"))))
    }
  }

  test("eager and staged agree on a corpus slice") {
    val docs = graft.corpus.Corpus.docs(spark, 300).toDF()
    val casc = graft.functions.Digests.defaultCascade(col("html"))
    val a = DedupEngine.run(docs, "url", casc, DedupEngine.Eager)
    val b = DedupEngine.run(docs, "url", casc, DedupEngine.Staged)
    assert(blockSet(a) == blockSet(b))
    assert(a.digestCounts == b.digestCounts)
    assert(a.collisionCounts == b.collisionCounts)
  }

  test("construction fails fast on unknown digest id (Engine.t:210-232)") {
    intercept[IllegalArgumentException] {
      graft.functions.Digests.cascade(col("html"), Seq("filesize", "nope"))
    }
  }

  test("last-level collisions are zero by construction on exact grouping") {
    val docs = graft.corpus.Corpus.docs(spark, 500).toDF()
    val casc = graft.functions.Digests.defaultCascade(col("html"))
    val r = DedupEngine.run(docs, "url", casc)
    assert(r.collisionCounts.last == 0L)
  }

  for (mode <- Seq(DedupEngine.Eager, DedupEngine.Staged))
    test(s"$mode: null digests form a real block — no row vanishes (r2 ADVICE)") {
      // sha/md5 of NULL content is NULL at every level: groupBy counts
      // the null-key block but a plain equi-join drops its rows from
      // assignments — the null-safe join keeps blockMeta and
      // assignments consistent
      val docs = Seq(("u1", "same"), ("u2", "same"), ("u3", null),
        ("u4", null), ("u5", "only")).toDF("id", "content")
      val casc = Seq(
        DigestSpec("len", "length", length(col("content"))),
        DigestSpec("md5", "md5", md5(col("content").cast("binary"))))
      val r = DedupEngine.run(docs, "id", casc, mode)
      assert(r.assignments.count() == 5) // every input row assigned
      assert(r.totalObjects == 5)
      val byBlock = r.assignments.groupBy("block_id").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(byBlock == Map("u1" -> 2L, "u3" -> 2L, "u5" -> 1L))
    }

  test("hot-block skew: a degenerate single-key block completes sanely (r2 VERDICT #7)") {
    // 200k identical-content rows = ONE full-key block. The block
    // aggregation is map-side-combining (one row per block, never a
    // member array) and the assignments join back on the hot key is
    // AQE-skew-splittable; this must complete quickly with exact
    // counts, plus a handful of unique rows to keep the plan honest.
    import spark.implicits._
    val docs = spark.range(200000)
      .select(concat(lit("u"), col("id")).as("id"),
        when(col("id") < 199990, lit("hot")).otherwise(col("id").cast("string")).as("content"))
    val casc = Seq(
      DigestSpec("len", "length", length(col("content"))),
      DigestSpec("md5", "md5", md5(col("content").cast("binary"))))
    val r = DedupEngine.run(docs, "id", casc)
    assert(r.totalObjects == 200000L)
    assert(r.assignments.count() == 200000L)
    val hot = r.blockMeta.filter(col("size") > 1).collect()
    assert(hot.length == 1 && hot.head.getAs[Long]("size") == 199990L)
  }

  test("incremental dedup: batch vs snapshot, bootstrap, append-only delta") {
    import graft.engine.IncrementalDedup._
    val b1 = Seq(("A", "x"), ("B", "x"), ("C", "y")).toDF("url", "text")
    val empty = emptySnapshot(b1)
    // bootstrap verdicts: first occurrences novel, B dups A in-batch
    val v1 = dedupAgainst(b1, empty).collect()
      .map(r => r.getString(0) -> ((Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(v1 == Map("A" -> ((None, true)), "B" -> ((Some("A"), false)),
      "C" -> ((None, true))))
    val snap = snapshotDelta(b1, empty)
    assert(snap.collect().map(r => r.getString(1)).toSet == Set("A", "C"))
    // next crawl: prior keeper wins over in-batch first occurrence
    val b2 = Seq(("D", "x"), ("E", "z"), ("F", "z"), ("G", "y")).toDF("url", "text")
    val v2 = dedupAgainst(b2, snap).collect()
      .map(r => r.getString(0) -> ((Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(v2 == Map("D" -> ((Some("A"), false)), "E" -> ((None, true)),
      "F" -> ((Some("E"), false)), "G" -> ((Some("C"), false))))
    // append-only delta: only the digest the snapshot lacks
    val d2 = snapshotDelta(b2, snap).collect()
    assert(d2.length == 1 && d2.head.getString(1) == "E")
    // big-batch fallback (no broadcast) is plan-different, result-equal
    val v2s = dedupAgainst(b2, snap, broadcastBatch = false).collect()
      .map(r => r.getString(0) -> ((Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(v2s == v2)
    // bloom middle path: map-side snapshot pre-filter, result-equal
    // (false positives are discarded by the exact join)
    val v2b = dedupAgainstBloom(b2, snap).collect()
      .map(r => r.getString(0) -> ((Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(v2b == v2)
  }

  test("incremental NEAR-dup: batch probes the prior band+sig snapshot; prior keeper wins (r4 VERDICT #2)") {
    import graft.engine.IncrementalNearDup._
    import graft.near.MinHashLSH
    def mk(n: Int, tag: String) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val cfg = MinHashLSH.Config(jaccardThreshold = 0.5)
    val prior = Seq(
      ("A", mk(60, "w")), ("B", mk(60, "q")), ("C", mk(60, "c"))).toDF("url", "text")
    val snap = bootstrap(prior, cfg)
    // batch: D ~ prior A, G ~ prior B, E novel, F ~ E (intra-batch)
    val b2 = Seq(
      ("D", mk(58, "w") + " zz1 zz2"),
      ("E", mk(60, "e")),
      ("F", mk(58, "e") + " kk1 kk2"),
      ("G", mk(58, "q") + " yy1 yy2")).toDF("url", "text")
    val v = dedupAgainst(b2, snap, cfg).collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)), r.getBoolean(3)))).toMap
    assert(v == Map("D" -> ((Some("A"), false)), "E" -> ((None, true)),
      "F" -> ((Some("E"), false)), "G" -> ((Some("B"), false))))
    // jaccard column carries the verified exact value of the chosen pair
    val j = dedupAgainst(b2, snap, cfg).collect()
      .map(r => r.getString(0) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(j("E").isEmpty && j("D").exists(_ >= 0.5) && j("F").exists(_ >= 0.5))
    // append-only delta: only the NOVEL doc enters the snapshot
    val verd = dedupAgainst(b2, snap, cfg)
    val delta = snapshotDelta(b2, verd, cfg)
    assert(delta.sigs.select("id").collect().map(_.getString(0)).toSet == Set("E"))
    assert(delta.bands.select("id").distinct().collect().map(_.getString(0)).toSet == Set("E"))
    assert(delta.bands.count() == cfg.bands)
  }

  test("incremental NEAR-dup: hot snapshot band buckets are capped AND surfaced") {
    import graft.engine.IncrementalNearDup._
    import graft.near.MinHashLSH
    val text = (0 until 40).map(i => s"t$i").mkString(" ")
    // 30 identical prior docs → every band bucket holds 30 members
    val prior = (0 until 30).map(i => (f"P$i%02d", text)).toDF("url", "text")
    val cfg = MinHashLSH.Config(jaccardThreshold = 0.5, maxBucket = 10)
    val snap = bootstrap(prior, cfg)
    val batchSigs = MinHashLSH.signatures(Seq(("X", text)).toDF("url", "text"), cfg)
    val probed = probeCandidatesAndSkips(batchSigs, snap, cfg)
    val skips = probed.filter(col("keeper").isNull)
    assert(skips.count() >= 1) // truncated buckets surface, never explode
    assert(skips.filter(col("id").isNull).count() == 0,
      "skip rows keep their batch-id attribution (r5 review)")
    assert(probed.filter(col("keeper").isNotNull).count() == 0)
    // the verdict path SURFACES the summed skip count (capped AND
    // surfaced — invariant 3), instead of silently filtering it out
    val acc = spark.sparkContext.longAccumulator("t_near_skips")
    val v = dedupAgainst(Seq(("X", text)).toDF("url", "text"), snap, cfg,
      skippedAcc = Some(acc)).collect()
    assert(v.length == 1 && acc.value >= 1,
      s"over-cap skips must reach the accumulator (got ${acc.value})")
  }

  test("incremental NEAR-dup: over-cap buckets of the batch itself reach the skip count") {
    import graft.engine.IncrementalNearDup._
    import graft.near.MinHashLSH
    val text = (0 until 40).map(i => s"t$i").mkString(" ")
    // empty snapshot, 30 identical batch docs: every one of the 32 band
    // buckets holds 30 batch members, all over the cap of 10
    val cfg = MinHashLSH.Config(jaccardThreshold = 0.5, maxBucket = 10)
    val snap = bootstrap(Seq.empty[(String, String)].toDF("url", "text"), cfg)
    val batch = (0 until 30).map(i => (f"X$i%02d", text)).toDF("url", "text")
    val acc = spark.sparkContext.longAccumulator("t_batch_skips")
    val v = dedupAgainst(batch, snap, cfg, skippedAcc = Some(acc)).collect()
    assert(v.length == 30 && v.forall(_.getBoolean(3)))
    assert(acc.value == 30L * cfg.bands,
      s"each saturated batch bucket counts its 30 rows (got ${acc.value})")
  }

  test("incremental NEAR-dup: delta-from-signatures equals the re-shingling delta (r5 review)") {
    import graft.engine.IncrementalNearDup._
    import graft.near.MinHashLSH
    val mk = (p: String) => (0 until 6).map(i =>
      (s"$p$i", (0 until 30).map(j => s"w$p${i}_$j").mkString(" ")))
    val batch = (mk("a") :+ ("dup", mk("a").head._2)).toDF("url", "text")
    val cfg = MinHashLSH.Config(jaccardThreshold = 0.5)
    val snap = bootstrap(Seq.empty[(String, String)].toDF("url", "text"), cfg)
    val sigs = MinHashLSH.signatures(batch, cfg).persist()
    val verdicts = dedupAgainstSignatures(sigs, snap, cfg)
    val viaSigs = snapshotDeltaFromSignatures(sigs, verdicts, cfg)
    val viaText = snapshotDelta(batch, verdicts, cfg)
    assert(viaSigs.bands.collect().toSet == viaText.bands.collect().toSet)
    assert(viaSigs.sigs.select("id").collect().map(_.getString(0)).toSet ==
      viaText.sigs.select("id").collect().map(_.getString(0)).toSet)
    sigs.unpersist()
  }
}
