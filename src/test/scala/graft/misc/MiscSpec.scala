package graft.misc

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.checkpoint.Catalog
import graft.multimodal.Media
import graft.sim.Ann
import graft.substring.SubstringDedup
import graft.text.TextStats

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("PII redaction: typed placeholders, counts, null pass-through, no cross-class bleed") {
    import graft.text.Pii
    val rows = Seq(
      "mail a.b+c%d@sub.example.co.uk and x9@y.io now",     // 2 emails
      "nodes 10.0.0.1, 255.254.3.99 up; run 1234.5.6.7 ok", // 2 IPs; 4-digit octet excluded by \b
      "call +1 (555) 123-4567 or 555.987.6543 x",           // 2 phones
      "v2.0.1.3 released, use 2.0.1.3 now",                 // \b: letter-attached version safe, bare quad redacted
      "plain text, no identifiers",
      null.asInstanceOf[String])
    val df = rows.toDF("text").select(
      Seq(Pii.redact(col("text")).as("clean")) ++
        Pii.counts(col("text")).map { case (n, c) => c.as(n) }: _*)
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == (("mail <EMAIL> and <EMAIL> now", 2L, 0L, 0L)))
    assert(got(1) == (("nodes <IP>, <IP> up; run 1234.5.6.7 ok", 0L, 2L, 0L)))
    assert(got(2) == (("call <PHONE> or <PHONE> x", 0L, 0L, 2L)))
    assert(got(3) == (("v2.0.1.3 released, use <IP> now", 0L, 1L, 0L)))
    assert(got(4) == (("plain text, no identifiers", 0L, 0L, 0L)))
    assert(got(5)._1 == null && got(5)._2 == 0L)
  }

  test("token count: blank → 0, whitespace runs collapse") {
    val df = Seq("a b  c", "", "   ", "one").toDF("text")
      .select(TextStats.tokenCount(col("text")).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(3, 0, 0, 1))
  }

  test("BPE-ish token count: letter/digit/symbol runs, whitespace never tokenizes") {
    val df = Seq("a b2c, don't!", "", "   ", null.asInstanceOf[String], "abc123")
      .toDF("text").select(TextStats.bpeTokenCount(col("text")).as("n"))
    // a | b | 2 | c | , | don | ' | t | !  ->  9
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(9L, 0L, 0L, 0L, 2L))
    // vertical tab: Java \s includes \x0B, RE2 does not — the explicit
    // class makes both engines see "a" and "b" as two letter runs
    val vt = Seq("a\u000Bb").toDF("text")
      .select(TextStats.bpeTokenCount(col("text"))).head().getLong(0)
    assert(vt == 2L)
  }

  test("language id picks the stopword-dominant language") {
    val df = Seq(
      "the cat and the dog is that with the house",
      "der hund und die katze ist nicht mit der maus",
      "le chat est dans la maison les arbres une fleur",
      "el gato es por las casas para los arboles una flor",
      "xyzzy plugh qwerty").toDF("text")
      .select(TextStats.langId(col("text")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "de", "fr", "es", "und"))
  }

  test("repetition signals: duplicate and top bigram fractions") {
    val feats = TextStats.repetitionFeatures(col("bgs"))
    val df = Seq(
      "a b a b a b", // bigrams: ab,ba,ab,ba,ab → 5 total, 2 distinct
      "w x y z", // all distinct
      "solo", // < 2 tokens
      "").toDF("text")
      .select(col("text"), TextStats.tokens(col("text")).as("toks"))
      .select(col("text"), TextStats.bigrams(col("toks")).as("bgs"))
      .select(col("text") +: feats.map { case (n, c) => c.as(n) }: _*)
    val rows = df.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows("a b a b a b") == ((5L, 0.6, 0.6))) // (5-2)/5, top 'a b' 3/5
    assert(rows("w x y z") == ((3L, 0.0, round6(1.0 / 3))))
    assert(rows("solo") == ((0L, 0.0, 0.0)))
    assert(rows("") == ((0L, 0.0, 0.0)))
  }
  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("dup-unit signals: within-doc duplicate line/paragraph fractions (Gopher Table A1)") {
    val feats = TextStats.dupUnitFeatures(col("lns"), "lines") ++
      TextStats.dupUnitFeatures(col("paras"), "paras")
    val df = Seq(
      // lines: [ab, ab, c] → dup 1/3; chars 2+2+1=5, distinct 3 → dup 2/5
      // paras: [ab\nab, c] → both distinct
      ("dups", "ab\nab\n\nc"),
      // para-grain repeat: paras [x, x, y] → dup 1/3; chars 1+1+1, distinct 2 → 1/3
      ("paradups", "x\n\nx\n\ny"),
      // "\n\n\n" = one "\n\n" split + a leftover "\n" unit at para
      // grain (left-to-right non-overlapping in both engines); line
      // grain filters every empty piece
      ("blanks", "\n\n\n"),
      ("empty", ""),
      ("null", null: String)).toDF("name", "text")
      .select(col("name"),
        TextStats.unitArray(col("text"), "\n").as("lns"),
        TextStats.unitArray(col("text"), "\n\n").as("paras"))
      .select(col("name") +: feats.map { case (n, c) => c.as(n) }: _*)
    val rows = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(rows("dups") == ((3L, round6(1.0 / 3), 0.4, 2L, 0.0, 0.0)))
    assert(rows("paradups") == ((3L, round6(1.0 / 3), round6(1.0 / 3),
      3L, round6(1.0 / 3), round6(1.0 / 3))))
    assert(rows("blanks") == ((0L, 0.0, 0.0, 1L, 0.0, 0.0)))
    assert(rows("empty") == ((0L, 0.0, 0.0, 0L, 0.0, 0.0)))
    assert(rows("null") == ((0L, 0.0, 0.0, 0L, 0.0, 0.0)))
  }

  test("decontamination flags 13-gram benchmark overlap at any alignment") {
    val run = (0 until 13).map(i => s"g$i").mkString(" ")
    def filler(n: Int, tag: String) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val bench = Seq(("b1", "eval question prefix " + run + " answer suffix"))
      .toDF("url", "text")
    val docs = Seq(
      ("t1", filler(7, "a") + " " + run + " " + filler(9, "aa")), // misaligned hit
      ("t2", filler(30, "b")), // clean
      ("t3", run), // exactly the 13-gram
      ("t4", "   "), // whitespace-only: excluded
      ("t5", null)).toDF("url", "text")
    val out = graft.text.Decontaminate.flag(docs, bench).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out("t1")._2 && out("t1")._1 >= 1)
    assert(out("t2") == ((0L, false)))
    assert(out("t3") == ((1L, true)))
    assert(!out.contains("t4") && !out.contains("t5"))
  }

  test("url canonicalization: case, www, ports, fragments, tracking params, path-& safety") {
    import graft.text.UrlNorm.canonicalUrl
    val cases = Seq(
      "HTTP://WWW.EXAMPLE.COM:80/a/7/?utm_source=x" -> "http://example.com/a/7",
      "https://News.Example.com/Article?id=7&fbclid=zz#frag" ->
        "https://news.example.com/Article?id=7",
      "HTTPS://example.com:443/p?a=1&utm_medium=m&b=2" -> "https://example.com/p?a=1&b=2",
      // & in the PATH must never be rewritten (query surgery is ?-anchored)
      "http://example.com/q&r/s?x=7&utm_a1=z" -> "http://example.com/q&r/s?x=7",
      "https://www.example.com/" -> "https://example.com",
      // consecutive trackers, tracker-only query, dangling ?
      "https://a.com/p?utm_a=1&utm_b=2" -> "https://a.com/p",
      "https://a.com/p?utm_a=1&x=2&utm_b=3" -> "https://a.com/p?x=2",
      "https://a.com/p?" -> "https://a.com/p",
      // non-default port and a param NAMED xutm_a are preserved
      "https://a.com:8443/p?xutm_a=1" -> "https://a.com:8443/p?xutm_a=1",
      // http :443 / https :80 are NOT default — preserved
      "http://a.com:443/p" -> "http://a.com:443/p",
      "not a url at all" -> "not a url at all")
    val df = cases.map(_._1).toDF("u").select(col("u"), canonicalUrl(col("u")).as("c"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, s"on $in") }
    val n = Seq[String](null).toDF("u").select(canonicalUrl(col("u"))).head()
    assert(n.isNullAt(0))
  }

  test("fingerprints are whitespace/case insensitive but content sensitive") {
    val df = Seq(("A  B\tC", 1), ("a b c", 2), ("a b d", 3)).toDF("text", "i")
      .select(TextStats.fingerprintMd5(col("text")).as("fp"),
        TextStats.fingerprintRolling(col("text")).as("fr"))
    val rows = df.collect()
    assert(rows(0).getString(0) == rows(1).getString(0))
    assert(rows(0).getString(0) != rows(2).getString(0))
    assert(rows(0).getLong(1) == rows(1).getLong(1))
    assert(rows(0).getLong(1) != rows(2).getLong(1))
  }
}

class AnnSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("LSH ANN recall vs brute force (banded, simCos matched to the data regime)") {
    // raw sf0.001 embeddings have NO near pairs (max cosine ≈ 0.51):
    // exact top-5 neighbors sit at cosine ~0.3-0.5, so the table count
    // must be sized for THAT regime (simCos is the knob — tables =
    // numTables(bits, simCos, recall)); the default 0.99 targets
    // near-duplicates and rightly scans far fewer buckets
    val q = emb.filter(col("vec_id") < 20)
    val exact = Ann.knnBruteForce(emb, q, 5).select("query_id", "neighbor_id")
    val approx = Ann.knnLsh(emb, q, 5, simCos = 0.35, recall = 0.95)
      .select("query_id", "neighbor_id")
      .withColumn("hit", lit(1))
    val recall = exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .filter(col("hit").isNotNull).count().toDouble / exact.count()
    info(f"ANN recall@5 = $recall%.3f")
    assert(recall >= 0.9) // approximate path; brute force is the exact baseline
  }

  test("adaptive bits grow with log N (fixed buckets degenerate at scale)") {
    assert(Ann.adaptiveBits(500) == 3)
    assert(Ann.adaptiveBits(1000000) == 14)
    assert(Ann.adaptiveBits(1000000000L) == 24)
    assert(Ann.adaptiveBits(10) == 1)
    // Long-packed codes: width can never reach the shift-wrap point
    // (log2(2^63/64) = 57; the 62 cap is a belt-and-braces bound)
    assert(Ann.adaptiveBits(Long.MaxValue) == 57)
    assert(Ann.adaptiveBits(Long.MaxValue, targetBucket = 1) <= 62)
  }

  test("OR-construction table count compensates log-N code widths") {
    // per-table collision decays with bits; T grows to hold recall
    val t12 = Ann.numTables(Ann.adaptiveBits(1000000000000L), 0.99, 0.99)
    assert(Ann.numTables(4, 0.99, 0.99) < t12)
    assert(t12 <= 32) // ~20 at 10^12 — polynomial, not C(bits, r) fan-out
    assert(Ann.numTables(1, 0.99, 0.99) >= 1)
  }

  test("embedding near-dup edges are symmetric-free and high-score") {
    val edges = Ann.embeddingDupEdges(emb, 0.95)
    val bad = edges.filter(col("src") >= col("dst")).count()
    assert(bad == 0)
    assert(edges.filter(col("score") < 0.95).count() == 0)
  }

  /** Deterministic pseudorandom float in [-1, 1). */
  private def prf(seed: Long): Float =
    ((graft.near.Hashing.mix64(seed) >>> 11).toDouble / (1L << 53).toDouble * 2 - 1).toFloat

  test("recall >= 0.95 on DIRECTION-PERTURBED near-dups at 100k rows (r2 verdict #1)") {
    // The r2 multiprobe design passed only on positively-SCALED copies
    // (identical direction ⇒ identical code). These planted pairs are
    // perturbed per-coordinate — every hyperplane bit can flip — so
    // recall here is the OR-construction property, not a structural
    // accident.
    import spark.implicits._
    val dim = 64
    val nBase = 100000
    val nPlant = 500
    val eps = 0.12f // ⇒ cosine ≈ 1/sqrt(1+eps²) ≈ 0.993
    def base(i: Long): Array[Float] = Array.tabulate(dim)(d => prf(i * 131 + d))
    def perturbed(i: Long): Array[Float] = {
      val b = base(i)
      Array.tabulate(dim)(d => b(d) + eps * prf(0x9e37L ^ (i * 131 + d)))
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
      while (d < dim) { dot += a(d).toDouble * b(d); na += a(d).toDouble * a(d); nb += b(d).toDouble * b(d); d += 1 }
      dot / math.sqrt(na * nb)
    }
    val threshold = 0.98
    val truth = (0 until nPlant).filter(i => cos(base(i), perturbed(i)) >= threshold)
    assert(truth.size >= nPlant * 9 / 10) // the tier really sits above θ

    val rows = (0 until nBase).map(i => (i.toLong, base(i))) ++
      truth.map(i => (1000000L + i, perturbed(i)))
    val corpus = rows.toDF("vec_id", "embedding").repartition(8)
    val edges = Ann.embeddingDupEdges(corpus, threshold,
      n = Some(nBase.toLong + truth.size)).persist()
    val found = edges
      .filter(col("dst") === col("src") + 1000000L && col("src") < nPlant).count()
    val recall = found.toDouble / truth.size
    info(f"banded-LSH recall on perturbed pairs = $recall%.4f (${truth.size} planted)")
    assert(recall >= 0.95)
    // no false merges: every reported edge really verifies ≥ θ (the
    // verify stage is exact, so anything else would be a bug)
    assert(edges.filter(col("score") < threshold).count() == 0)
    edges.unpersist()

    // kNN flavor: a perturbed query's true top-1 is its base vector
    val queries = truth.take(50).map(i => (1000000L + i, perturbed(i))).toDF("vec_id", "embedding")
    val basesOnly = (0 until nBase).map(i => (i.toLong, base(i))).toDF("vec_id", "embedding")
    val top1 = Ann.knnLsh(basesOnly, queries, 1, n = Some(nBase.toLong), simCos = threshold)
      .filter(col("rank") === 1)
      .filter(col("neighbor_id") === col("query_id") - 1000000L).count()
    info(s"kNN top-1 recall on perturbed queries = $top1/50")
    assert(top1 >= 45)

    // IVF flavor at the same 100k scale: coarse-quantizer cells +
    // nprobe=8 must also recover the perturbed queries' bases
    val centroids = graft.sim.Ivf.train(basesOnly, k = 64, iters = 3, sampleMod = 10)
    assert(centroids.length == 64)
    val ivfTop1 = graft.sim.Ivf.knn(basesOnly, queries, 1, centroids, nprobe = 8)
      .filter(col("rank") === 1)
      .filter(col("neighbor_id") === col("query_id") - 1000000L).count()
    info(s"IVF top-1 recall on perturbed queries = $ivfTop1/50")
    assert(ivfTop1 >= 45)
    // cell balance: no cell holds more than a quarter of the corpus
    val maxCell = graft.sim.Ivf.cellSizes(basesOnly, centroids)
      .agg(max(col("count"))).head().getLong(0)
    info(s"largest IVF cell = $maxCell of $nBase")
    assert(maxCell < nBase / 4)
  }

  test("null and zero-norm embeddings are excluded, not NPEs (ADVICE r3 #1)") {
    import spark.implicits._
    val rows: Seq[(Long, Array[Float])] = Seq(
      (0L, Array.tabulate(8)(d => prf(d))),
      (1L, Array.tabulate(8)(d => prf(100 + d))),
      (2L, null),
      (3L, Array.fill(8)(0.0f)),
      (4L, Array.empty[Float]))
    val corpus = rows.toDF("vec_id", "embedding")
    val centroids = graft.sim.Ivf.train(corpus, k = 2, iters = 2)
    val assigned = graft.sim.Ivf.assign(corpus, centroids)
    assert(assigned.count() == 2) // only the two real vectors
    assert(assigned.filter(col("id").isin(2L, 3L, 4L)).count() == 0)
    // knn with degenerate rows on BOTH sides survives and scores sanely
    val out = graft.sim.Ivf.knn(corpus, corpus, 1, centroids, nprobe = 2).collect()
    assert(out.nonEmpty && out.forall(r => r.getLong(0) <= 1L && r.getLong(1) <= 1L))
    // the LSH paths accept the same degenerate rows
    assert(Ann.embeddingDupEdges(corpus, 0.99, n = Some(5L)).count() >= 0)
    assert(Ann.knnBruteForce(corpus, corpus.filter(col("vec_id") === 0L), 1)
      .count() >= 1)
  }

  test("over-cap hyperplane buckets surface as fused skip rows (ADVICE r3 #3)") {
    import spark.implicits._
    // many copies of ONE direction: every table has one bucket holding
    // all of them → with cap 10, pair rows are suppressed and each
    // table's bucket emits one skip row carrying the row count
    val v = Array.tabulate(16)(d => prf(d))
    val corpus = (0 until 40).map(i => (i.toLong, v.map(x => x * (1 + i)))) // same direction
      .toDF("vec_id", "embedding")
    val es = Ann.embeddingDupEdgesAndSkips(corpus, 0.99, bits0 = 4, tables0 = 3,
      n = Some(40L), maxBucket = 10)
    assert(es.filter(col("src").isNotNull).count() == 0)
    // the three tables' skip rows (40 rows each) fuse into one summed row
    val skips = es.filter(col("src").isNull).select("skipped").collect().map(_.getLong(0))
    assert(skips.toSeq == Seq(120L))
  }
}

class SubstringSpec extends SparkSpec {
  import spark.implicits._

  private def mk(n: Int, tag: String): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  test("duplicated windows found across docs sharing a 30-token run") {
    val shared = mk(30, "shared")
    val docs = Seq(
      ("d1", mk(40, "a") + " " + shared),
      ("d2", shared + " " + mk(40, "b")),
      ("d3", mk(80, "c"))).toDF("url", "text")
    val edges = SubstringDedup.substringDupEdges(docs, w = 20, stride = 1, minShared = 1)
    val pairs = edges.select("src", "dst").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("d1", "d2")))
  }

  test("a doc that repeats a window counts once toward the window's cap, in one round and salted") {
    val run = mk(10, "r")
    // every window of `run` occurs twice in d1 and once in d2: two
    // distinct docs, within a cap of 2 although the window has 3 rows
    val docs = Seq(("d1", run + " " + run), ("d2", run), ("d3", mk(20, "z")))
      .toDF("url", "text")
    def rows(salts: Int) = SubstringDedup.edgesAndSkips(docs, w = 5, stride = 1,
        minShared = 1, maxDocsPerWindow = 2, salts = salts).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val one = rows(1)
    assert(one == Set(("d1", "d2", 6L, 0L)), one.toString)
    assert(rows(7) == one)
  }

  test("suffix-array finds cross-doc repeats >= minLen chars") {
    val shared = mk(30, "rep")
    val docs = Seq(
      ("d1", mk(50, "x") + " " + shared),
      ("d2", shared + " " + mk(50, "y")),
      ("d3", mk(100, "z"))).toDF("url", "text").coalesce(1)
    val reps = SubstringDedup.suffixArrayRepeats(spark, docs, minLen = 60).collect()
    assert(reps.nonEmpty)
    assert(reps.exists(r => r.srcDoc == "d1" && r.dstDoc == "d2" && r.length >= 60))
    assert(!reps.exists(r => r.srcDoc == "d3" || r.dstDoc == "d3"))
  }

  test("crossDocRepeats finds a repeat planted across two FORCED partitions (r2 VERDICT #5)") {
    // suffixArrayRepeats is partition-local by design; the winnowing
    // path must see the repeat no matter where the docs physically live
    val shared = mk(30, "rep") // ≈ 150+ chars shared run
    // RDD-backed with explicit slices (a union of LocalRelations gets
    // FOLDED into one by the optimizer): slice 0 = (d1, d3), slice 1 =
    // (d2, d4) — the planted pair is guaranteed split
    val rdd = spark.sparkContext.parallelize(Seq(
      ("d1", mk(50, "x") + " " + shared),
      ("d3", mk(100, "z")),
      ("d2", shared + " " + mk(50, "y")),
      ("d4", mk(100, "w"))), 2)
    val docs = spark.createDataset(rdd).toDF("url", "text")
    val pids = docs.select(col("url"), spark_partition_id().as("p"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(pids("d1") != pids("d2")) // the planted pair really is split
    // the partition-local operator is blind to it...
    val local = SubstringDedup.suffixArrayRepeats(spark, docs, minLen = 60).collect()
    assert(!local.exists(r => r.srcDoc == "d1" && r.dstDoc == "d2"))
    // ...the winnowing operator is not
    val reps = SubstringDedup.crossDocRepeats(spark, docs, minLen = 60).collect()
    assert(reps.exists(r => r.srcDoc == "d1" && r.dstDoc == "d2" && r.length >= 60))
    assert(!reps.exists(r => r.srcDoc == "d3" || r.dstDoc == "d3" ||
      r.srcDoc == "d4" || r.dstDoc == "d4"))
  }

  test("winnowing guarantee: shared run of minLen chars always shares a fingerprint") {
    // alignment sweep — the stride-10 window-hash path misses
    // misaligned repeats; winnowing must not
    val shared = mk(40, "s")
    for (off <- 0 until 7) {
      val a = mk(13 + off, "a") + " " + shared
      val b = mk(29 + off * 3, "b") + " " + shared + " " + mk(5, "c")
      val fa = SubstringDedup.winnowFingerprints(a, 30, 31).toSet
      val fb = SubstringDedup.winnowFingerprints(b, 30, 31).toSet
      assert(fa.intersect(fb).nonEmpty, s"offset $off")
    }
    // and unrelated texts share none
    val fu = SubstringDedup.winnowFingerprints(mk(60, "u"), 30, 31).toSet
    val fv = SubstringDedup.winnowFingerprints(mk(60, "v"), 30, 31).toSet
    assert(fu.intersect(fv).isEmpty)
  }

  test("shipped windowHashes path matches the inline-md5 oracle path (r2 VERDICT #6)") {
    // q_substring verifies the WINDOW SEMANTICS via an inline md5
    // plan; this pins the production 64-bit-UDF operator to the same
    // per-doc (n_windows, n_dup_windows) on a real corpus slice
    val docs = graft.corpus.Corpus.docs(spark, 400).toDF()
      .filter(col("text").isNotNull).select(col("url"), col("text"))
    // production path
    val wh = SubstringDedup.windowHashes(docs, w = 20, stride = 10)
    val dup = wh.groupBy("win_hash").agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= 2)
    val prodDup = wh.join(dup, "win_hash").groupBy("id")
      .agg(count(lit(1)).as("n_dup"))
    val prod = wh.groupBy("id").agg(count(lit(1)).as("n_windows"))
      .join(prodDup, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"))
    // inline md5 path (the exact q_substring plan shape)
    val toks = col("toks")
    val nWin = when(size(toks) < 20, 0)
      .otherwise(floor((size(toks) - 20).cast("double") / 10).cast("int") + 1)
    val winHashes = transform(sequence(lit(0), nWin - 1),
      i => md5(concat_ws(" ", slice(toks, i * lit(10) + 1, lit(20))).cast("binary")))
    val d = docs.select(col("url").as("id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("id"), when(size(toks) < 20, array().cast("array<string>"))
        .otherwise(winHashes).as("whs"))
    val ex = d.select(col("id"), explode(col("whs")).as("wh"))
    val dupM = ex.groupBy("wh").agg(countDistinct(col("id")).as("nd")).filter(col("nd") >= 2)
    val orDup = ex.join(dupM, "wh").groupBy("id").agg(count(lit(1)).as("n_dup"))
    val oracle = d.select(col("id"), size(col("whs")).cast("long").as("n_windows"))
      .join(orDup, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"))
      // windowHashes emits no rows for sub-w docs; compare the docs
      // that HAVE windows (the zero rows are definitionally equal)
      .filter(col("n_windows") > 0)
    assert(prod.exceptAll(oracle).count() == 0)
    assert(oracle.exceptAll(prod).count() == 0)
    // non-vacuous: the synth corpus has duplicated windows
    assert(prod.agg(sum(col("n_dup_windows"))).head().getLong(0) > 0L)
  }

  test("chunk dedup cuts repeated tiles, keeps first occurrence, tails, and short docs") {
    import spark.implicits._
    val chunk = (0 until 20).map(i => s"c$i").mkString(" ") // shared 20-token tile
    val chunkZ = (0 until 20).map(i => s"z$i").mkString(" ")
    val a20 = mk(20, "a"); val b20 = mk(20, "b")
    val docs = Seq(
      ("d0", chunkZ + " " + chunkZ + " x"), // within-doc repeat: 2nd tile cut
      ("d1", chunk + " " + a20 + " tailA"), // first occurrence of `chunk`: kept whole
      ("d2", b20 + " " + chunk + " tailB tailB2"), // cross-doc repeat at tile 1: cut
      ("d3", chunk + " " + chunk), // all tiles are repeats: empty
      ("d4", "short doc kept verbatim"), // < w tokens: untouched
      ("d5", null)).toDF("url", "text")
    val out = graft.substring.ChunkDedup.dedupChunks(docs, w = 20)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("d0") == chunkZ + " x")
    assert(out("d1") == chunk + " " + a20 + " tailA")
    assert(out("d2") == b20 + " tailB tailB2")
    assert(out("d3") == "")
    assert(out("d4") == "short doc kept verbatim")
    assert(out("d5") == null)
  }

  test("SA-IS matches the naive suffix sort on random + degenerate strings") {
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(40)(Seq.fill(1 + rnd.nextInt(200))(
        ('a' + rnd.nextInt(4)).toChar).mkString) ++
      Seq("", "a", "aaaaaaaaaa", "abababab", "banana", "mississippi",
        "a" * 50 + "b" + "a" * 50, "\u0001\u0000ab\u0000ab")
    for (s <- cases) {
      val naive = Array.range(0, s.length)
        .sortWith((x, y) => s.substring(x) < s.substring(y))
      val sa = graft.substring.SaIs.suffixArray(s)
      assert(sa.toSeq == naive.toSeq, s"on $s")
      // Kasai LCPs match the per-pair char walk
      val lcps = graft.substring.SaIs.lcpArray(s, sa)
      def walk(a: Int, b: Int): Int = {
        var l = 0
        while (a + l < s.length && b + l < s.length && s(a + l) == s(b + l)) l += 1
        l
      }
      for (i <- 1 until sa.length)
        assert(lcps(i) == walk(sa(i - 1), sa(i)), s"lcp($i) on $s")
      if (sa.nonEmpty) assert(lcps(0) == 0)
    }
  }

  test("chunk dedup matches a naive in-memory reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def naive(rows: Seq[(String, String)], w: Int): Map[String, String] = {
      val seen = scala.collection.mutable.HashSet.empty[Seq[String]]
      rows.sortBy(_._1).map { case (id, text) =>
        val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
        val nc = toks.length / w
        val keptChunks = (0 until nc).flatMap { i =>
          val c = toks.slice(i * w, (i + 1) * w)
          if (seen.add(c)) c else Nil
        }
        id -> (keptChunks ++ toks.drop(nc * w)).mkString(" ")
      }.toMap
    }
    for (trial <- 0 until 10) {
      val w = 3 + rnd.nextInt(3)
      // small vocabulary → plenty of accidental exact chunk repeats
      val rows = (0 until 20).map { i =>
        (f"d$i%03d", Seq.fill(rnd.nextInt(30))("tok" + rnd.nextInt(4)).mkString(" "))
      }
      val out = graft.substring.ChunkDedup.dedupChunks(rows.toDF("url", "text"), w)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out == naive(rows, w), s"trial $trial w=$w")
    }
  }

  test("chunk reconstruction tokenizes exactly like the hashing side on exotic whitespace (r4 review #1)") {
    import spark.implicits._
    val a = (0 until 39).map("t" + _).mkString(" ")
    val docs = Seq(
      ("d0", a + "\n"), // trailing newline must not add a phantom token
      ("d1", "\n\t " + a), // leading whitespace must not shift the tiles
      ("d2", "\u0001 " + a)) // control char <= \x20: Java String.trim parity
      .toDF("url", "text")
    val out = graft.substring.ChunkDedup.dedupChunks(docs, w = 20)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // all three docs tokenize to the same 39 tokens → one full tile each;
    // d0 owns the first occurrence, d1/d2 lose the tile and keep the tail
    assert(out("d0") == a)
    val tail = (20 until 39).map("t" + _).mkString(" ")
    assert(out("d1") == tail)
    assert(out("d2") == tail)
  }

  test("hasCommonRun is the single-probe predicate of longestCommonRun (r4 review #4)") {
    import graft.substring.SubstringDedup._
    val rnd = new scala.util.Random(5)
    for (_ <- 0 until 30) {
      val a = Seq.fill(40 + rnd.nextInt(80))(('a' + rnd.nextInt(3)).toChar).mkString
      val b = Seq.fill(40 + rnd.nextInt(80))(('a' + rnd.nextInt(3)).toChar).mkString
      val len = longestCommonRun(a, b)._1
      for (l <- Seq(0, 1, len - 1, len, len + 1, a.length + b.length); if l >= 0)
        assert(hasCommonRun(a, b, l) == (l <= len), s"l=$l len=$len")
    }
    assert(!hasCommonRun(null, "x", 1) && !hasCommonRun("x", null, 1))
  }

  // naive reference for the exact-span removal policy: char p of doc i
  // survives iff NO length-minLen window containing p occurs in an
  // earlier doc's text (substring containment, any alignment)
  private def naiveSpanRemoval(docs: Seq[(String, String)], minLen: Int): Map[String, String] = {
    val sorted = docs.sortBy(_._1)
    sorted.zipWithIndex.map { case ((id, t), i) =>
      val earlier = sorted.take(i).map(_._2)
      val n = t.length
      val flagged = (0 to n - minLen).filter(s => earlier.exists(_.contains(t.substring(s, s + minLen))))
      val covered = new Array[Boolean](n)
      flagged.foreach(s => (s until s + minLen).foreach(covered(_) = true))
      id -> t.zipWithIndex.collect { case (c, p) if !covered(p) => c }.mkString
    }.toMap
  }

  test("exact-span removal cuts a 100-char unaligned run exactly once corpus-wide (r4 VERDICT #1)") {
    val run = mk(20, "run") // "run0 run1 … run19" ≥ 100 chars
    assert(run.length >= 100)
    // run planted at three DIFFERENT character offsets, none a tile
    // boundary — ChunkDedup's fixed 20-token tiling cannot cut these
    val a = mk(3, "pre") + " " + run + " " + mk(4, "asuf")
    val b = mk(7, "bx") + " " + run + " " + mk(2, "xsuf")
    val c = run + " " + mk(9, "cz")
    val fixture = Seq(("d1", a), ("d2", b), ("d3", c), ("d4", mk(40, "other")))
    val out = graft.substring.SpanRemoval.removeSharedRuns(
        fixture.toDF("url", "text"), minLen = 60)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = naiveSpanRemoval(fixture, 60)
    fixture.foreach { case (id, _) => assert(out(id) == expect(id), id) }
    // first occurrence keeps the run; later ones lose it; the run
    // survives exactly once corpus-wide
    assert(out("d1") == a)
    assert(!out("d2").contains(run) && !out("d3").contains(run))
    assert(fixture.map(f => out(f._1)).count(_.contains(run)) == 1)
    assert(out("d4") == mk(40, "other"))
    // a fully-shared doc reduces to "" (reconstruction handles empty)
    val dup = fixture :+ ("d5", a)
    val out2 = graft.substring.SpanRemoval.removeSharedRuns(
        dup.toDF("url", "text"), minLen = 60)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out2("d5") == "")
    // null text passes through as NULL, not "" (r5 review: "" is a
    // fully-covered all-duplicate doc — the sibling-policy convention)
    val withNull = fixture :+ ("d6", null: String)
    val out3 = graft.substring.SpanRemoval.removeSharedRuns(
        withNull.toDF("url", "text"), minLen = 60)
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out3("d6").isEmpty, "null clean_text for null text")
    assert(out3("d1").contains(a), "non-null docs unaffected")
  }

  test("span-removal coverage kernel matches the naive per-position reference on random corpora") {
    val rnd = new scala.util.Random(7)
    val pool = (0 until 8).map(i => mk(12 + i, s"s$i")) // shared sentence pool
    val docs = (0 until 12).map { i =>
      val parts = (0 until 3 + rnd.nextInt(3)).map(_ =>
        if (rnd.nextBoolean()) pool(rnd.nextInt(pool.length)) else mk(6 + rnd.nextInt(10), s"u$i${rnd.nextInt(1000)}"))
      f"d$i%02d" -> parts.mkString(" ")
    }
    val out = graft.substring.SpanRemoval.removeSharedRuns(
        docs.toDF("url", "text"), minLen = 40)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = naiveSpanRemoval(docs, 40)
    docs.foreach { case (id, _) => assert(out(id) == expect(id), id) }
    // kernel-level check: coverage == naive flagged-window union
    val (ta, tb) = (docs(1)._2, docs(5)._2)
    val cov = graft.substring.SpanRemoval.coverage(ta, tb, 40)
    val naive = new Array[Boolean](tb.length)
    (0 to tb.length - 40).foreach { s =>
      if (ta.contains(tb.substring(s, s + 40))) (s until s + 40).foreach(naive(_) = true)
    }
    val fromCov = new Array[Boolean](tb.length)
    cov.foreach { case (s, e) => (s until e).foreach(fromCov(_) = true) }
    assert(fromCov.toSeq == naive.toSeq)
  }

  test("line dedup: first occurrence kept, blanks preserved, within-doc repeats cut") {
    import spark.implicits._
    val docs = Seq(
      ("d1", "common line\nunique one\n\nafter blank"),
      ("d2", "common line\nunique two"),
      ("d3", "common line"),
      ("d4", "x\nx"), // within-doc repeat
      ("d5", null)).toDF("url", "text")
    val out = graft.substring.LineDedup.dedupLines(docs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("d1") == "common line\nunique one\n\nafter blank")
    assert(out("d2") == "unique two")
    assert(out("d3") == "")
    assert(out("d4") == "x")
    assert(out("d5") == null)
  }

  test("chunk reconstruction kernel == expression chain") {
    import spark.implicits._
    val docs = Seq(
      ("c1", ((1 to 47).map(i => s"t$i").mkString(" "))), // 2 full chunks + tail (w=20)
      ("c2", "short doc only"),
      ("c3", null),
      ("c4", "  padded\tdoc with control edges "),
      ("c5", "")).toDF("url", "text")
    val kept = Seq(("c1", Seq(1)), ("c4", Seq[Int]())).toDF("id", "kept_idx")
    for (w <- Seq(3, 20)) {
      val viaExpr = graft.substring.ChunkDedup
        .reconstructExpr(docs, kept, w, "url", "text")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val viaKernel = docs
        .select(org.apache.spark.sql.functions.col("url").as("id"),
          org.apache.spark.sql.functions.col("text"))
        .join(kept, Seq("id"), "left")
        .select(org.apache.spark.sql.functions.col("id"),
          graft.substring.ChunkDedup.reconstructKernel(w)(
            org.apache.spark.sql.functions.col("text"),
            org.apache.spark.sql.functions.col("kept_idx")).as("clean_text"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(viaKernel == viaExpr, s"w $w")
    }
  }

  test("reassembly kernel == expression chain (both grains, both polarities)") {
    import spark.implicits._
    // boundary texts: null, blank-only units (\t, \x0B), trailing
    // separators, astral chars, units equal to the separator run
    val docs = Seq(
      ("k1", "a\nb\n\nc\na"),
      ("k2", "\t\n\nx"),
      ("k3", "trail\n\n"),
      ("k4", null),
      ("k5", "🎉\nsame\nsame"),
      ("k6", "")).toDF("url", "text")
    val ix = Seq(("k1", Seq(1, 4)), ("k2", Seq(2)), ("k5", Seq(0)))
      .toDF("id", "rm_idx")
    for (sep <- Seq("\n", "\n\n"); keepListed <- Seq(true, false)) {
      val viaExpr = graft.substring.LineDedup
        .reassembleExpr(docs, ix, "rm_idx", keepListed, "url", "text", sep)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val viaKernel = docs
        .select(org.apache.spark.sql.functions.col("url").as("id"),
          org.apache.spark.sql.functions.col("text"))
        .join(ix, Seq("id"), "left")
        .select(org.apache.spark.sql.functions.col("id"),
          graft.substring.LineDedup.reassembleKernel(sep, keepListed)(
            org.apache.spark.sql.functions.col("text"),
            org.apache.spark.sql.functions.col("rm_idx")).as("clean_text"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(viaKernel == viaExpr, s"sep len ${sep.length} keepListed $keepListed")
    }
  }

  test("whitespace-only units are structural: a tab line and a lone-newline paragraph survive") {
    import spark.implicits._
    // Spark/DuckDB default trim strips only spaces — a "\t" line (or a
    // "\n" paragraph unit) must still count as blank (r5 review)
    val lines = Seq(("a1", "dup\n\t\ndup"), ("a2", "dup\n\t\ndup")).toDF("url", "text")
    val lOut = graft.substring.LineDedup.dedupLines(lines)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lOut("a1") == "dup\n\t") // first doc keeps its first copy; tab line structural
    assert(lOut("a2") == "\t") // later copies cut, the tab line untouched
    // units of "a\n\n\n \n\nb" under sep "\n\n": ["a", "\n ", "b"] —
    // the middle unit is whitespace WITH a newline, invisible to a
    // space-only trim
    val paras = Seq(("p1", "a\n\n\n \n\nb"), ("p2", "a\n\n\n \n\nb")).toDF("url", "text")
    val pOut = graft.substring.LineDedup.dedupParagraphs(paras)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pOut("p1") == "a\n\n\n \n\nb") // first doc intact; "\n " never hashes
    assert(pOut("p2") == "\n ") // a and b cut as dups; the structural unit survives
  }

  test("boilerplate lines (>= minDocs docs) are removed everywhere, blanks survive") {
    import spark.implicits._
    val docs = Seq(
      ("d1", "common line\nunique one\n\nafter blank"),
      ("d2", "common line\nunique two"),
      ("d3", "common line")).toDF("url", "text")
    val at3 = graft.substring.LineDedup.dropCommonLines(docs, minDocs = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(at3 == Map("d1" -> "unique one\n\nafter blank", "d2" -> "unique two", "d3" -> ""))
    val at4 = graft.substring.LineDedup.dropCommonLines(docs, minDocs = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(at4("d1") == "common line\nunique one\n\nafter blank") // below threshold

    // a line repeated 5× inside ONE doc passes the total-occurrence
    // pre-filter (count ≥ minDocs) but fails the exact distinct-doc
    // count — the boilerplate rule is per-DOC, so it must survive
    // (pins the r4 VERDICT #8 pre-filter as a superset, not a verdict)
    val rep = Seq(
      ("r1", "spam\nspam\nspam\nspam\nspam\nkeep me"),
      ("r2", "other text")).toDF("url", "text")
    val kept = graft.substring.LineDedup.dropCommonLines(rep, minDocs = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kept("r1") == "spam\nspam\nspam\nspam\nspam\nkeep me")
  }

  test("paragraph dedup: blank-line blocks, first occurrence kept, lone newlines structural") {
    import spark.implicits._
    // p1 repeats across d1/d2 and within d2; d3's "\n\n\n" leaves a
    // "\n"-prefixed second unit whose leading newline must round-trip;
    // single newlines INSIDE a paragraph are content, not separators
    val p1 = "shared para\nline two"
    val docs = Seq(
      ("d1", s"$p1\n\nunique one"),
      ("d2", s"$p1\n\n$p1\n\nunique two"),
      ("d3", "alone\n\n\nafter lone newline"),
      ("d4", null)).toDF("url", "text")
    val out = graft.substring.LineDedup.dedupParagraphs(docs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("d1") == s"$p1\n\nunique one")
    assert(out("d2") == "unique two")
    assert(out("d3") == "alone\n\n\nafter lone newline")
    assert(out("d4") == null)

    val at2 = graft.substring.LineDedup.dropCommonParagraphs(docs, minDocs = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(at2("d1") == "unique one")
    assert(at2("d2") == "unique two")
    assert(at2("d3") == "alone\n\n\nafter lone newline")
  }

  test("longestCommonRun matches the naive DP longest-common-substring") {
    val rnd = new scala.util.Random(23)
    def naive(a: String, b: String): Int = {
      // O(n·m) DP over suffix-match lengths
      var best = 0
      val dp = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        var prevDiag = 0
        for (j <- 1 to b.length) {
          val tmp = dp(j)
          dp(j) = if (a(i - 1) == b(j - 1)) prevDiag + 1 else 0
          if (dp(j) > best) best = dp(j)
          prevDiag = tmp
        }
      }
      best
    }
    for (_ <- 0 until 120) {
      val a = Seq.fill(1 + rnd.nextInt(120))(('a' + rnd.nextInt(3)).toChar).mkString
      val b = Seq.fill(1 + rnd.nextInt(120))(('a' + rnd.nextInt(3)).toChar).mkString
      val (len, sample) = SubstringDedup.longestCommonRun(a, b)
      assert(len == naive(a, b), s"on ($a, $b)")
      if (len > 0) {
        assert(sample.length == math.min(80, len))
        assert(a.contains(sample) && b.contains(sample))
      }
    }
    // edges: identical, disjoint, empty
    assert(SubstringDedup.longestCommonRun("abc", "abc")._1 == 3)
    assert(SubstringDedup.longestCommonRun("aaa", "bbb")._1 == 0)
    assert(SubstringDedup.longestCommonRun("", "abc")._1 == 0)
  }

  test("200KB near-identical pair verifies in bounded time (r3 VERDICT #2)") {
    // two ~200KB docs sharing a ~100KB run: the r3 comparison-sort
    // kernel was O(n·L·log n) ≈ 10^10 char ops here; the SA-IS +
    // binary-search/rolling-hash kernels must be near-linear
    val rnd = new scala.util.Random(11)
    def blob(n: Int): String = Seq.fill(n)(('a' + rnd.nextInt(3)).toChar).mkString
    val shared = blob(100000)
    val a = blob(50000) + shared + blob(50000)
    val b = blob(60000) + shared + blob(40000)
    val t0 = System.nanoTime()
    val (len, sample) = SubstringDedup.longestCommonRun(a, b)
    val lcsSec = (System.nanoTime() - t0) / 1e9
    info(f"longestCommonRun on 200KB pair: $lcsSec%.2fs, len=$len")
    assert(len >= 100000) // ≥: flanking randomness can extend the run
    assert(shared.contains(sample.take(40)) || a.contains(sample))
    assert(lcsSec < 30.0)
    // the partition-local SA path on the same degenerate pair
    val docs = Seq(("d1", a), ("d2", b)).toDF("url", "text").coalesce(1)
    val t1 = System.nanoTime()
    val reps = SubstringDedup.suffixArrayRepeats(spark, docs, minLen = 90000).collect()
    val saSec = (System.nanoTime() - t1) / 1e9
    info(f"suffixArrayRepeats on 200KB pair: $saSec%.2fs")
    assert(reps.exists(r => r.srcDoc == "d1" && r.dstDoc == "d2" && r.length >= 90000))
    assert(saSec < 60.0)
  }
}

class ProgressSpec extends SparkSpec {

  test("observe taps stream rows/bytes to the listener on action completion") {
    val listener = new graft.progress.Progress.ProgressListener(echo = false)
    spark.listenerManager.register(listener)
    try {
      val docs = graft.corpus.Corpus.docs(spark, 200).toDF()
      graft.progress.Progress.tap(docs, "scan_docs_test", Some("html"))
        .write.format("noop").mode("overwrite").save()
      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      def obs = listener.observations.filter(_.name == "scan_docs_test")
      while (obs.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(obs.nonEmpty)
      val m = obs.head.metrics
      assert(m("rows") == 200L)
      assert(m("bytes").asInstanceOf[Long] > 0L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("--progress/--debug/--byte-verify parse (CLI.pm:30-39 parity)") {
    val c = graft.Main.parse(List("--input", "x", "--progress", "--debug", "--byte-verify"))
    assert(c.progress && c.debug && c.byteVerify)
    // byte-compare stage appends a real cascade level
    val casc = graft.functions.Digests.cascade(col("html"), c.algs :+ "bytes")
    assert(casc.last.id == "bytes")
  }
}

class MediaSpec extends SparkSpec {

  test("PNG/GIF/JPEG header parsers recover exact dimensions (golden round-trip)") {
    import graft.multimodal.Media._
    for ((w, h) <- Seq((1, 1), (16, 16), (515, 415), (4096, 2160))) {
      assert(parseImageMeta(pngBytes(w, h)).contains(("png", w, h)))
      if (w <= 65535 && h <= 65535) {
        assert(parseImageMeta(gifBytes(w, h)).contains(("gif", w, h)))
        assert(parseImageMeta(jpegBytes(w, h)).contains(("jpeg", w, h)))
      }
    }
    assert(parseImageMeta("not an image at all".getBytes).isEmpty)
    assert(parseImageMeta(Array.emptyByteArray).isEmpty)
    // fixture byte counts are the closed form the oracle uses
    assert(pngBytes(9, 9).length.toLong == FixtureBytes("png"))
    assert(gifBytes(9, 9).length.toLong == FixtureBytes("gif"))
    assert(jpegBytes(9, 9).length.toLong == FixtureBytes("jpeg"))
  }

  test("decode routes known containers to real header metadata") {
    import spark.implicits._
    val rows = Seq(
      Media.MediaRow("p", "image", Media.pngBytes(100, 50)),
      Media.MediaRow("g", "image", Media.gifBytes(20, 30)),
      Media.MediaRow("j", "image", Media.jpegBytes(640, 480)),
      Media.MediaRow("u", "blob", "unknown payload bytes".getBytes)).toDS()
    val dec = Media.decode(spark, rows).collect().map(d => d.media_id -> d).toMap
    assert(dec("p").kind == "png" && dec("p").width == 100 && dec("p").height == 50)
    assert(dec("g").kind == "gif" && dec("g").width == 20 && dec("g").height == 30)
    assert(dec("j").kind == "jpeg" && dec("j").width == 640 && dec("j").height == 480)
    assert(dec("u").kind == "blob") // stub fallback keeps declared kind
    // junk bodies: header tier, no pixel decode
    assert(Seq("p", "g", "j", "u").forall(k => dec(k).red_mean == -1))
  }

  test("pixels=false skips the codec: header tier even for decodable payloads (r3 VERDICT #4)") {
    import spark.implicits._
    val rows = Seq(
      Media.MediaRow("real", "image", Media.encodedBytes("png", 33, 21, 96)),
      Media.MediaRow("junk", "image", Media.pngBytes(10, 10))).toDS()
    val dec = Media.decode(spark, rows, pixels = false).collect()
      .map(d => d.media_id -> d).toMap
    // a fully decodable image still lands on the header tier —
    // ImageIO is never consulted in header-only mode
    assert(dec("real").width == 33 && dec("real").height == 21 && dec("real").red_mean == -1)
    assert(dec("junk").width == 10 && dec("junk").red_mean == -1)
  }

  test("REAL pixel decode: JDK codecs round-trip solid gray bit-exact (r2 VERDICT #4)") {
    import spark.implicits._
    // the closed form q_media_pixels' oracle relies on: gray at
    // multiples of 32 survives png/gif/jpeg encode→decode exactly
    val cases = for {
      kind <- Seq("png", "gif", "jpeg")
      gray <- Seq(32, 96, 160, 224)
    } yield (s"$kind-$gray", kind, 40 + gray % 50, 25 + gray % 30, gray)
    val rows = cases.map { case (id, kind, w, h, g) =>
      Media.MediaRow(id, kind, Media.encodedBytes(kind, w, h, g))
    }.toDS()
    val dec = Media.decode(spark, rows).collect().map(d => d.media_id -> d).toMap
    cases.foreach { case (id, kind, w, h, g) =>
      val d = dec(id)
      assert(d.kind == kind && d.width == w && d.height == h, id)
      assert(d.red_mean == g, s"$id red_mean=${d.red_mean} expected $g")
      assert(d.n_frames == 1, id)
      // real features: a solid-gray raster is one luma bin with mass 1
      assert(d.features.length == 16)
      assert(math.abs(d.features.sum - 1.0f) < 1e-5)
      assert(d.features(math.min(15, g * 16 / 256)) == 1.0f, id)
    }
  }

  test("ImageIO-sniffed formats beyond png/gif/jpeg keep real pixel decode (r4 review #2)") {
    import spark.implicits._
    // BMP: parseImageMeta does NOT know the magic, but the JDK ships a
    // decoder — the magic gate must sniff the registry, not stub it
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8) img.setRGB(x, y, 0x804020)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val payload = bos.toByteArray
    assert(Media.parseImageMeta(payload).isEmpty) // the regression's precondition
    assert(Media.hasImageReader(payload))
    assert(!Media.hasImageReader("plain text, no reader claims this".getBytes))
    // WBMP's magic-less permissive sniff is excluded: 0x00 0x00 junk
    // must not route into a garbage decode (r4b review #2)
    assert(!Media.hasImageReader(Array[Byte](0, 0, 24, 24, 0, 0, 0, 0)))
    assert(!Media.hasImageReader(null) && !Media.hasImageReader(Array.emptyByteArray))
    val dec = Media.decode(spark, Seq(Media.MediaRow("b", "image", payload)).toDS())
      .collect().head
    assert(dec.width == 8 && dec.height == 4, "real raster dims, not stub")
    assert(dec.red_mean == 0x80.toDouble, s"real red channel, got ${dec.red_mean}")
  }

  test("resize: bilinear downscale preserves solid gray, floor dims, passthrough (r4 multimodal op)") {
    import spark.implicits._
    val smallBytes = Media.encodedBytes("gif", 8, 4, 64)
    val rows = Seq(
      Media.MediaRow("big", "image", Media.encodedBytes("png", 40, 20, 96)),
      Media.MediaRow("small", "image", smallBytes),
      Media.MediaRow("anim", "image", Media.animatedGifBytes(24, 16, Seq(32, 96, 160))),
      Media.MediaRow("junk", "blob", "not an image".getBytes)).toDS()
    val out = Media.resize(spark, rows, maxDim = 10).collect()
      .map(r => r.media_id -> r).toMap
    assert(out("big").width == 10 && out("big").height == 5 && out("big").resized)
    // within-bound: original payload passes through UNTOUCHED
    assert(out("small").width == 8 && out("small").height == 4)
    assert(!out("small").resized && out("small").payload.sameElements(smallBytes))
    assert(!out("junk").resized && out("junk").payload.sameElements("not an image".getBytes))
    // the resized payload is REAL png: re-decode recovers dims + exact gray
    val dec = Media.decode(spark,
      Seq(Media.MediaRow("big", "png", out("big").payload)).toDS()).collect().head
    assert(dec.width == 10 && dec.height == 5 && dec.red_mean == 96)
    // an ANIMATION keeps all frames, scaled (not flattened to frame 0)
    assert(out("anim").width == 10 && out("anim").height == 6 && out("anim").resized)
    assert(Media.frameCount(out("anim").payload) == 3)
    val da = Media.decode(spark,
      Seq(Media.MediaRow("anim", "gif", out("anim").payload)).toDS()).collect().head
    assert(da.width == 10 && da.height == 6 && da.red_mean == 32 && da.n_frames == 3)
  }

  test("animated GIF: real frame count drives frame sampling") {
    import spark.implicits._
    val anim = Media.animatedGifBytes(24, 16, Seq(32, 96, 160, 224, 32, 96, 160))
    assert(Media.frameCount(anim) == 7)
    val rows = Seq(Media.MediaRow("anim", "image", anim)).toDS()
    val dec = Media.decode(spark, rows)
    val d = dec.collect().head
    assert(d.kind == "gif" && d.n_frames == 7 && d.width == 24 && d.height == 16)
    // stride-3 sampling over 7 frames → indices 0, 3, 6
    val frames = Media.sampleFrames(dec.toDF(), stride = 3).collect()
      .map(_.getInt(1)).sorted.toSeq
    assert(frames == Seq(0, 3, 6))
  }

  test("partial-frame GIF composition honors offsets and disposal (r4 advice)") {
    import graft.multimodal.Media._
    // canvas 20x10: frame 0 full gray-32; frame 1 a 10x10 gray-160
    // patch at (10,0) — a viewer sees left half 32, right half 160
    val anim = animatedGifBytesAt(20, 10, Seq(
      GifFrameSpec(32, 0, 0, 20, 10, "none", 10),
      GifFrameSpec(160, 10, 0, 10, 10, "none", 20)), loop = 3)
    val (frames, loop) = compositedFrames(anim).get
    assert(frames.length == 2 && loop == 3)
    assert(frames.map(_._2) == Seq(10, 20), "per-frame delays read back")
    val f1 = frames(1)._1
    assert(f1.getWidth == 20 && f1.getHeight == 10, "full canvas, not the raw patch")
    assert((f1.getRGB(2, 5) & 0xff) == 32, "left half keeps frame 0")
    assert((f1.getRGB(15, 5) & 0xff) == 160, "patch composited at its offset")

    // restoreToBackgroundColor: the patch's rect clears after its frame
    val bg = animatedGifBytesAt(20, 10, Seq(
      GifFrameSpec(32, 0, 0, 20, 10, "none", 0),
      GifFrameSpec(160, 10, 0, 10, 10, "restoreToBackgroundColor", 0),
      GifFrameSpec(224, 0, 0, 10, 10, "none", 0)))
    val f2 = compositedFrames(bg).get._1(2)._1
    assert((f2.getRGB(2, 5) & 0xff) == 224, "frame 2 patch drawn")
    assert((f2.getRGB(15, 5) & 0xff) == 0, "disposed rect restored to background")

    // restoreToPrevious: the canvas reverts to the pre-frame state
    val prev = animatedGifBytesAt(20, 10, Seq(
      GifFrameSpec(32, 0, 0, 20, 10, "none", 0),
      GifFrameSpec(160, 10, 0, 10, 10, "restoreToPrevious", 0),
      GifFrameSpec(224, 0, 0, 10, 10, "none", 0)))
    val f3 = compositedFrames(prev).get._1(2)._1
    assert((f3.getRGB(15, 5) & 0xff) == 32, "previous canvas restored under frame 2")
  }

  test("SINGLE-frame GIF with a sub-screen offset patch composites like an animation frame would (r5 review)") {
    import graft.multimodal.Media._
    // one 10x10 gray-160 patch at (10,0) — a tracking-pixel/sprite-crop
    // shape. The old n==1 fast path returned the bare 10x10 raster,
    // disagreeing with what the multi-frame path (and a viewer) shows.
    val one = animatedGifBytesAt(20, 10, Seq(
      GifFrameSpec(160, 10, 0, 10, 10, "none", 7)), loop = -1)
    val (frames, _) = compositedFrames(one).get
    assert(frames.length == 1)
    val f0 = frames(0)._1
    assert(f0.getWidth == 20 && f0.getHeight == 10,
      "composited canvas, not the raw 10x10 patch")
    assert((f0.getRGB(15, 5) & 0xff) == 160, "patch drawn at its offset")
    assert((f0.getRGB(2, 5) & 0xff) == 0, "uncovered canvas is background")
    assert(frames(0)._2 == 7,
      "real delay read back (the old single-frame path pinned 0)")
  }

  test("animated resize composites (no stretch distortion) and carries delays + loop (r4 advice)") {
    import spark.implicits._
    import graft.multimodal.Media._
    val anim = animatedGifBytesAt(20, 10, Seq(
      GifFrameSpec(32, 0, 0, 20, 10, "none", 10),
      GifFrameSpec(160, 10, 0, 10, 10, "none", 20)), loop = 5)
    val out = Media.resize(spark, Seq(MediaRow("a", "image", anim)).toDS(), maxDim = 10)
      .collect().head
    assert(out.resized && out.width == 10 && out.height == 5)
    val (frames, loop) = compositedFrames(out.payload).get
    assert(frames.length == 2, "both frames survive")
    assert(frames.map(_._2) == Seq(10, 20), "delays carried through resize")
    assert(loop == 5, "loop count carried through resize")
    // the r4-advice regression: stretching the raw 10x10 patch to the
    // full canvas would paint frame 1 all-160; composited it is half/half
    val f1 = frames(1)._1
    assert((f1.getRGB(1, 2) & 0xff) == 32, "left half still frame 0's gray")
    assert((f1.getRGB(8, 2) & 0xff) == 160, "right half the patch's gray")
  }

  test("per-frame features: strided frames with distinct luma histograms (r4 VERDICT #7)") {
    import spark.implicits._
    import graft.multimodal.Media._
    val anim = animatedGifBytesAt(20, 10, Seq(
      GifFrameSpec(32, 0, 0, 20, 10),
      GifFrameSpec(160, 10, 0, 10, 10))) // composited mean (100·32+100·160)/200 = 96
    val rows = Seq(
      MediaRow("anim", "image", anim),
      MediaRow("still", "image", encodedBytes("png", 8, 4, 224)),
      MediaRow("junk", "blob", "no codec claims this".getBytes)).toDS()
    val ff = Media.frameFeatures(spark, rows).collect()
      .groupBy(_.media_id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }
    assert(ff("anim").map(_.frame_idx).toSeq == Seq(0, 1))
    assert(ff("anim").map(_.red_mean).toSeq == Seq(32, 96), "per-frame means, frame 1 composited")
    // distinct per-frame luma histograms (decode alone gives frame 0 only)
    assert(!ff("anim")(0).features.sameElements(ff("anim")(1).features))
    assert(math.abs(ff("anim")(1).features.sum - 1.0f) < 1e-5)
    assert(ff("still").map(_.red_mean).toSeq == Seq(224), "single-frame rows unchanged")
    assert(ff("junk").toSeq.map(f => (f.frame_idx, f.red_mean)) == Seq((0, -1)), "stub tier: one row, no vanish")
    // stride: 7-frame animation sampled every 3rd → 0, 3, 6
    val seven = animatedGifBytes(12, 8, Seq(32, 96, 160, 224, 32, 96, 160))
    val s = Media.frameFeatures(spark, Seq(MediaRow("s", "image", seven)).toDS(), stride = 3)
      .collect().map(_.frame_idx).sorted.toSeq
    assert(s == Seq(0, 3, 6))
  }

  test("binary media plumbing: stub decode is deterministic, schema typed") {
    val docs = graft.corpus.Corpus.docs(spark, 100).toDF()
      .filter(octet_length(col("html")) > 0)
    val media = Media.fromBinaryColumn(spark, docs, "url", "html")
    val dec = Media.decode(spark, media).persist()
    assert(dec.count() == docs.count())
    val r = dec.filter(col("n_bytes") > 0).head()
    assert(r.width >= 64)
    assert(r.features.length == 16)
    // deterministic: same input → same features
    val again = Media.decode(spark, media)
    assert(dec.select("media_id", "width", "height", "n_frames")
      .exceptAll(again.select("media_id", "width", "height", "n_frames")).count() == 0)
    val frames = Media.sampleFrames(dec.toDF(), stride = 5)
    assert(frames.count() >= dec.count()) // ≥1 frame per media row
  }

  test("dHash: deterministic, 1-bit under a right-edge flip, dispersive across patterns (r5 image near-dup)") {
    def pat(seed: Int, flipY: Int = -1): Array[Byte] =
      Media.grayPngBytes(9, 8) { (x, y) =>
        val base = (((seed * 31 + x * 7 + y * 13) % 5) % 2 + 2) % 2
        255 * (if (x == 8 && y == flipY) 1 - base else base)
      }
    def hashOf(bytes: Array[Byte]): Long =
      Media.dHash64(Media.decodePixels(bytes).get)
    // identical bytes → identical hash
    assert(hashOf(pat(3)) == hashOf(pat(3)))
    // a single right-edge pixel flip perturbs at most one comparison bit
    assert(java.lang.Long.bitCount(hashOf(pat(3)) ^ hashOf(pat(3, flipY = 2))) <= 1)
    // unrelated patterns disperse far beyond any probing ball
    assert(java.lang.Long.bitCount(hashOf(pat(3)) ^ hashOf(pat(4))) > 8)
  }

  test("dHash survives 10x magnification (the downscale path) within a small Hamming ball") {
    val base = Media.grayPngBytes(9, 8) { (x, y) => 255 * ((x * 7 + y * 13) % 2) }
    val big = Media.grayPngBytes(90, 80) { (x, y) => 255 * (((x / 10) * 7 + (y / 10) * 13) % 2) }
    val d = java.lang.Long.bitCount(
      Media.dHash64(Media.decodePixels(base).get) ^
        Media.dHash64(Media.decodePixels(big).get))
    assert(d <= 3, s"magnified dHash drifted $d bits")
  }

  test("dHashes + SimHash prober: planted image near-dups cluster, undecodable payloads excluded") {
    import spark.implicits._
    val a = Media.grayPngBytes(9, 8) { (x, y) => 255 * ((x + y) % 2) }
    val aFlip = Media.grayPngBytes(9, 8) { (x, y) =>
      val v = (x + y) % 2; 255 * (if (x == 8 && y == 1) 1 - v else v)
    }
    val far = Media.grayPngBytes(9, 8) { (x, y) => if (x < 4) 255 else 0 }
    val junk = Array[Byte](1, 2, 3, 4)
    val media = Seq(
      Media.MediaRow("a", "image", a), Media.MediaRow("b", "image", aFlip),
      Media.MediaRow("c", "image", far), Media.MediaRow("x", "image", junk)
    ).toDS()
    val fp = Media.dHashes(spark, media)
    assert(fp.filter(col("id") === "x").head().isNullAt(1)) // no fake hash for junk
    val edges = graft.near.SimHash
      .edgesFromFingerprints(fp, graft.near.SimHash.Config())
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("a", "b")))
  }
}

class SourceFormatSpec extends SparkSpec {
  import spark.implicits._

  test("json and csv sources normalize into the corpus schema and dedup end-to-end") {
    val rows = Seq(
      ("https://a.example/1", "the quick brown fox jumps over the lazy dog " * 8),
      ("https://a.example/2", "the quick brown fox jumps over the lazy dog " * 8), // exact dup
      ("https://a.example/3", "completely different content on this page " * 8))
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toString
    rows.toDF("url", "text").write.mode("overwrite").json(s"$dir/docs.json")
    rows.toDF("url", "text").write.mode("overwrite")
      .option("header", "true").csv(s"$dir/docs.csv")

    for (path <- Seq(s"$dir/docs.json", s"$dir/docs.csv")) {
      val d = graft.Main.load(spark, path)
      assert(d.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"), path)
      assert(d.schema("html").dataType == org.apache.spark.sql.types.BinaryType)
      assert(d.schema("warc_ts").dataType == org.apache.spark.sql.types.TimestampType)
      assert(d.count() == 3)
      val clusters = graft.pipeline.DedupPipeline.run(d).clusters
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(clusters.size == 3, path)
      assert(clusters("https://a.example/1") == clusters("https://a.example/2"), path)
      assert(clusters("https://a.example/3") != clusters("https://a.example/1"), path)
    }
    // missing text column fails fast, not silently
    Seq(("u", 1)).toDF("url", "n").write.mode("overwrite").json(s"$dir/bad.json")
    intercept[IllegalArgumentException](graft.Main.load(spark, s"$dir/bad.json"))
  }
}

class IncrementalCliSpec extends SparkSpec {
  import spark.implicits._

  test("--snapshot mode: second run sees the first batch's digests (append-only)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/snap"
    def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    // bootstrap run: no snapshot dir yet
    val v1 = graft.Main.runIncremental(spark, mk(Seq(
        ("A", "alpha text"), ("B", "alpha text"), ("C", "beta text"))), dir)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(v1 == Map("A" -> true, "B" -> false, "C" -> true))
    // second crawl: dup of A resolves to A (prior keeper), new text novel
    val v2 = graft.Main.runIncremental(spark, mk(Seq(
        ("D", "alpha text"), ("E", "gamma text"))), dir)
      .collect().map(r => r.getString(0) -> ((Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(v2 == Map("D" -> ((Some("A"), false)), "E" -> ((None, true))))
    // snapshot accumulated exactly the three distinct digests' keepers
    val snap = spark.read.parquet(dir).collect().map(_.getString(1)).toSet
    assert(snap == Set("A", "C", "E"))
  }

  test("--near-snapshot mode: second crawl's near-dup resolves to the prior batch's keeper") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nsnap").toString + "/snap"
    def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val base = (0 until 200).map(i => s"tok$i").mkString(" ")
    val near = (0 until 200).map(i => if (i % 40 == 39) s"alt$i" else s"tok$i").mkString(" ")
    val far = (0 until 200).map(i => s"other$i").mkString(" ")
    // bootstrap: no snapshot yet — batch is intra-batch deduped only
    val v1 = graft.Main.runIncrementalNear(spark, mk(Seq(("A", base), ("C", far))), dir)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(v1 == Map("A" -> true, "C" -> true))
    // second crawl: near-dup of A links WITHOUT re-reading batch 1
    val v2 = graft.Main.runIncrementalNear(spark,
        mk(Seq(("B", near), ("D", (0 until 200).map(i => s"novel$i").mkString(" ")))), dir)
      .collect().map(r => r.getString(0) -> ((Option(r.get(1)), r.getBoolean(3)))).toMap
    assert(v2 == Map("B" -> ((Some("A"), false)), "D" -> ((None, true))))
    // snapshot accumulated only the retained docs' signatures
    val sigIds = spark.read.parquet(s"$dir/sigs").select("id")
      .collect().map(_.getString(0)).toSet
    assert(sigIds == Set("A", "C", "D"), "near-dup B never enters the snapshot")
  }

  test("--near-snapshot mode: a sink that throws leaves no batch frame cached") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // whatever earlier suites left cached
    val dir = java.nio.file.Files.createTempDirectory("graft-nsnap-fail").toString + "/snap"
    val docs = Seq(("A", (0 until 60).map(i => s"tok$i").mkString(" "))).toDF("url", "text")
    val ex = intercept[IllegalStateException] {
      graft.Main.runIncrementalNear(spark, docs, dir,
        sink = _ => throw new IllegalStateException("sink failed"))
    }
    assert(ex.getMessage == "sink failed")
    assert(cacheManager.isEmpty, "the batch signatures are still cached")
  }

  test("--format splits assigns leakage-safe labels: a dup pair never straddles the boundary") {
    def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    // 40 exact-dup pairs + 40 singles; every pair must land together
    val docs = mk((0 until 40).flatMap { i =>
      val body = (0 until 30).map(j => s"pair$i tok$j").mkString(" ")
      Seq((f"https://a.example/$i%03d", body), (f"https://b.example/$i%03d", body))
    } ++ (0 until 40).map(i =>
      (f"https://c.example/$i%03d", (0 until 30).map(j => s"solo$i w$j").mkString(" "))))
    val result = graft.pipeline.DedupPipeline.run(docs)
    val out = graft.Main.formatOutput(docs, result, "splits", None,
        Some(Seq("train" -> 0.5, "test" -> 0.5)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.size == 120)
    (0 until 40).foreach { i =>
      assert(out(f"https://a.example/$i%03d") == out(f"https://b.example/$i%03d"),
        s"dup pair $i straddles the split")
    }
    val trainN = out.values.count(_ == "train")
    assert(trainN > 20 && trainN < 100, s"degenerate split: $trainN/120 train")
  }

  test("--format weights emits soft-dedup loss weights: 1e6 div cluster size, every member kept") {
    def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val body = (0 until 30).map(j => s"trio tok$j").mkString(" ")
    val docs = mk(Seq(
      ("https://a.example/1", body), ("https://a.example/2", body),
      ("https://a.example/3", body),
      ("https://b.example/solo", (0 until 30).map(j => s"solo w$j").mkString(" "))))
    val result = graft.pipeline.DedupPipeline.run(docs)
    val out = graft.Main.formatOutput(docs, result, "weights", None)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 4) // every member kept, not just survivors
    Seq("1", "2", "3").foreach { i =>
      assert(out(s"https://a.example/$i") == ((3L, 333333L)))
    }
    assert(out("https://b.example/solo") == ((1L, 1000000L)))
  }

  test("--robots pre-filter drops disallowed urls, keeps allowed and url-less docs") {
    val docs = Seq(
      (1L, "https://a.example/private/secret"), // * disallows /private
      (2L, "https://a.example/public/page"),
      (3L, "https://b.example/anything"),       // no robots: allowed
      (4L, null))                                // url-less: passes
      .toDF("doc_id", "url")
    val robots = Seq(("a.example",
      "User-agent: *\nDisallow: /private\n")).toDF("domain", "robots_txt")
    val out = graft.Main.robotsSurvivors(docs, robots, "graftbot")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 3L, 4L))
    // a graftbot whitelist group re-admits the private path
    val robots2 = Seq(("a.example",
      "User-agent: *\nDisallow: /private\nUser-agent: graftbot\nDisallow:\n"))
      .toDF("domain", "robots_txt")
    val out2 = graft.Main.robotsSurvivors(docs, robots2, "graftbot")
      .collect().map(_.getLong(0)).toSet
    assert(out2 == Set(1L, 2L, 3L, 4L))
  }

  test("loadRobots reads multi-line robots_txt from quoted CSV intact") {
    // a real robots.txt is always multi-line; default CSV parsing
    // would split the quoted field into corrupt one-line records and
    // silently pass every disallowed doc
    val dir = java.nio.file.Files.createTempDirectory("robots-csv")
    val f = dir.resolve("policies.csv")
    java.nio.file.Files.writeString(f,
      "domain,robots_txt\n" +
        "a.example,\"User-agent: *\nDisallow: /private\n\"\n")
    val loaded = graft.Main.loadRobots(spark, f.toString)
    assert(loaded.count() == 1)
    val docs = Seq((1L, "https://a.example/private/x"),
      (2L, "https://a.example/open")).toDF("doc_id", "url")
    val out = graft.Main.robotsSurvivors(docs, loaded, "graftbot")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L))
    // url-less docs pass (no policy can apply), exercising the
    // anti-join's null-passthrough on the single corpus scan
    val withNull = docs.unionByName(
      Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "url"))
    val out2 = graft.Main.robotsSurvivors(withNull, loaded, "graftbot")
      .collect().map(_.getLong(0)).toSet
    assert(out2 == Set(2L, 3L))
  }

  test("loadRobots rejects a policy table with duplicate domains") {
    // two snapshots for one domain would interleave their lines in the
    // grouping window and scramble rule-to-group attribution — fail
    // fast instead of producing nondeterministic verdicts
    val dir = java.nio.file.Files.createTempDirectory("robots-dup")
    val f = dir.resolve("policies.csv")
    java.nio.file.Files.writeString(f,
      "domain,robots_txt\n" +
        "a.example,\"User-agent: *\nDisallow: /x\n\"\n" +
        "a.example,\"User-agent: *\nDisallow: /y\n\"\n")
    val e = intercept[IllegalArgumentException] {
      graft.Main.loadRobots(spark, f.toString)
    }
    assert(e.getMessage.contains("a.example"))
  }

  test("--format quota and budget select survivors by quality micro-units") {
    def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    // quality_score is dominated by its length term below 100 tokens,
    // so token count orders quality; every doc's vocabulary is unique
    // (no dup/near-dup merges — all eight are their own survivors)
    def doc(name: String, toks: Int): (String, String) =
      (s"https://$name",
        (0 until toks).map(j => s"${name.split('/')(1)}w$j").mkString(" "))
    val docs = mk(Seq(
      doc("a.example/ninety", 90), doc("a.example/sixty", 60),
      doc("a.example/thirty", 30),
      doc("b.example/eighty", 80), doc("b.example/fifty", 50)))
    val result = graft.pipeline.DedupPipeline.run(docs)
    val quota = graft.Main.formatOutput(docs, result, "quota", None,
        domainCap = 2)
      .collect().map(r => (r.getString(1), r.getString(0), r.getLong(3))).toSet
    assert(quota == Set(
      ("a.example", "https://a.example/ninety", 1L),
      ("a.example", "https://a.example/sixty", 2L),
      ("b.example", "https://b.example/eighty", 1L),
      ("b.example", "https://b.example/fifty", 2L)))
    // greedy quality prefix: 90, 80, 60 fit in 230 tokens; 50 would not
    val budget = graft.Main.formatOutput(docs, result, "budget", None,
        tokenBudget = 230L)
      .collect().map(_.getString(0)).toSet
    assert(budget == Set("https://a.example/ninety", "https://b.example/eighty",
      "https://a.example/sixty"))
  }

  test("--format mirrors is audit-only and --shards writes the trainer layout") {
    def chunk(tag: String): String = (0 until 20).map(tag + _).mkString(" ")
    val docs = Seq(
      ("https://x.example/1", chunk("a")),
      ("https://y.example/1", chunk("a") + " " + chunk("b")),
      ("https://z.example/1", chunk("b")))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    // auditOnly contract: the by-name result is NEVER forced
    val mirrors = graft.Main.formatOutput(docs,
        sys.error("mirrors must not run the dedup DAG"), "mirrors", None)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(mirrors.toSeq == Seq(
      ("x.example", "y.example", 1L), ("y.example", "z.example", 1L)))
    // parse: valid, rejects junk and over-Int
    assert(graft.Main.parse(List("--input", "x", "--shards", "8")).shards == 8)
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x", "--shards", "0"))
    }
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x", "--shards", "99999999999"))
    }
    // sharded sink: shard=K dirs + _manifest; console mode refuses
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-shards").toString
    graft.Main.emit(dir + "/out", docs.select("url", "text"), shards = 2)
    val names = new java.io.File(dir + "/out").listFiles().map(_.getName)
    assert(names.exists(_.startsWith("shard=")) && names.contains("_manifest"))
    assert(spark.read.parquet(dir + "/out").count() == 3L)
    intercept[IllegalArgumentException] {
      graft.Main.emit("-", docs.select("url"), shards = 2)
    }
    // a url-less output shape is rejected, not mis-sharded
    intercept[IllegalArgumentException] {
      graft.Main.emit(dir + "/bad", docs.select(col("text")), shards = 2)
    }
  }

  test("--near-snapshot pins its banding: a mismatched --jaccard config fails fast") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nsnap-pin").toString + "/snap"
    def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val doc = (0 until 100).map(i => s"tok$i").mkString(" ")
    val planned = graft.near.LshPlanner.configFor(0.8)
    graft.Main.runIncrementalNear(spark, mk(Seq(("A", doc))), dir, cfg0 = planned)
    // same planned config: accepted (the normal continuous-ingest path)
    graft.Main.runIncrementalNear(spark,
      mk(Seq(("B", (0 until 100).map(i => s"oth$i").mkString(" ")))), dir, cfg0 = planned)
    // different banding: refused before any probe
    val ex = intercept[IllegalArgumentException] {
      graft.Main.runIncrementalNear(spark, mk(Seq(("C", doc))), dir,
        cfg0 = graft.near.MinHashLSH.Config())
    }
    assert(ex.getMessage.contains("not comparable"))
  }

  test("--format spans cuts a cross-doc shared run at any alignment (full Lee policy via CLI path)") {
    // two docs in DIFFERENT clusters (not near-dups) sharing one exact
    // 100-char run at different offsets: doc-level dedup keeps both,
    // spans format cuts the LATER occurrence only
    val run = (0 until 25).map(i => f"r$i%02d").mkString("x") // 99 chars
    val a = (0 until 150).map(i => s"alpha$i").mkString(" ") + " " + run
    val b = run + " " + (0 until 150).map(i => s"beta$i").mkString(" ")
    val docs = Seq(("https://a.example/1", a), ("https://b.example/2", b))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val result = graft.pipeline.DedupPipeline.run(docs)
    val out = graft.Main.formatOutput(docs, result, "spans", None)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out("https://a.example/1")._2 == 0, "first occurrence kept")
    assert(out("https://a.example/1")._1.contains(run))
    assert(out("https://b.example/2")._2 >= 99, "later occurrence cut")
    assert(!out("https://b.example/2")._1.contains(run))
    assert(out("https://b.example/2")._1.contains("beta42"), "unique text survives")
  }

  test("--format overlap emits the cross-domain shingle-overlap audit matrix") {
    // two domains sharing one 3-gram run, one disjoint domain; the
    // subdomain rolls up into its registrable domain
    val shared = "alpha beta gamma"
    val docs = Seq(
      ("https://news.siteA.com/1", s"$shared one two three four"),
      ("https://cdn.siteA.com/2", "siteA only words here padding tokens"),
      ("https://siteB.org/1", s"$shared five six seven eight"),
      ("https://siteC.net/1", "wholly unrelated content every token distinct"))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    // audit formats must never force the dedup pipeline (r5 review: a
    // corpus-scale dedup DAG ran, its result unread) — a throwing
    // by-name result proves it is untouched
    def boom: graft.pipeline.DedupPipeline.Result =
      throw new AssertionError("audit format forced the dedup pipeline")
    val out = graft.Main.formatOutput(docs, boom, "overlap", None)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
    assert(out.size == 3, s"C(3,2) domain pairs, got ${out.keys}")
    assert(out(("sitea.com", "siteb.org")) == 1L, "the shared 3-gram counts once")
    assert(out(("sitea.com", "sitec.net")) == 0L)
    assert(out(("siteb.org", "sitec.net")) == 0L)
  }

  test("--format lm scores every url under the corpus bigram LM") {
    val docs = Seq(
      ("https://a.example/1", "a b a b a b"),
      ("https://a.example/2", "a b"),
      ("https://a.example/3", "solo"))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    def boom: graft.pipeline.DedupPipeline.Result = // see overlap test
      throw new AssertionError("audit format forced the dedup pipeline")
    val out = graft.Main.formatOutput(docs, boom, "lm", None)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.size == 3)
    assert(out("https://a.example/1")._1 == 5L)
    assert(out("https://a.example/2")._1 == 1L)
    assert(out("https://a.example/3") == ((0L, 0L)))
    // the common bigram "a b" is less surprising than the rare "b a"
    val doc1 = out("https://a.example/1")
    assert(doc1._2 < 0L, "log-probs are negative")
  }

  test("--prefilter gopher drops rule-failing docs before the pipeline") {
    // pass doc: 60 normal words with two stopwords; fail docs: too
    // short (word count), symbol-heavy (# runs), no stopwords
    val passBody = "the report and " +
      (0 until 57).map(i => s"word$i").mkString(" ")
    val shortBody = "the and tiny doc here"
    val symbolBody = "the analysis and " +
      (0 until 57).map(i => s"tok$i #").mkString(" ")
    val noStopBody = (0 until 60).map(i => s"item$i").mkString(" ")
    val docs = Seq(
      ("https://keep.example/1", passBody),
      ("https://drop.example/short", shortBody),
      ("https://drop.example/symbols", symbolBody),
      ("https://drop.example/nostop", noStopBody))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val out = graft.Main.gopherSurvivors(docs)
    assert(out.columns.toSeq == docs.columns.toSeq, "schema passes through")
    assert(out.collect().map(_.getString(0)).toSeq == Seq("https://keep.example/1"))
  }

  test("--format c4 emits the C4-cleaned survivor corpus (dedup first, kept pages only)") {
    // A≡B exact dups (dedup keeps A); A survives C4 page rules; C is
    // page-dropped by '{'; D loses its short/unpunctuated lines and
    // falls under minLines
    val goodPage = (0 until 4).map(i =>
      s"this line number $i has plenty of words and ends properly.").mkString("\n")
    val curly = goodPage + "\nconst x = { a: 1 }"
    val thin = "short line\nno punctuation here at all\nok."
    val docs = Seq(
      ("https://a.example/1", goodPage), ("https://b.example/1", goodPage),
      ("https://c.example/1", curly), ("https://d.example/1", thin))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val result = graft.pipeline.DedupPipeline.run(docs)
    val out = graft.Main.formatOutput(docs, result, "c4", None)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.keySet == Set("https://a.example/1"),
      s"one survivor of the dup pair, page-dropped docs gone: ${out.keySet}")
    assert(out("https://a.example/1") == goodPage.replace("\n", "\\n"))
  }

  test("--format pack lays the survivor corpus out as packed training sequences") {
    // 6 unique docs of 1000 tokens each + 1 exact dup; survivors =
    // 6 docs = 6000 tokens → seq_ids 0..2 at the 2048 budget
    val mkBody = (tag: String) => (0 until 1000).map(i => s"$tag$i").mkString(" ")
    val rows = (0 until 6).map(i => (s"https://u.example/$i", mkBody(s"t${i}x"))) :+
      (("https://dup.example/0", mkBody("t0x")))
    val docs = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    val result = graft.pipeline.DedupPipeline.run(docs)
    val out = graft.Main.formatOutput(docs, result, "pack", None)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 6, "dedup before packing: the dup never packs")
    assert(out.forall(_._2 == 1000L))
    assert(out.map(_._3).toSet == Set(0L, 1L, 2L), "6000 tokens cut at 2048")
    assert(out.forall(r => r._4 >= 0L && r._4 < 2048L), "offsets inside the budget")
    // the layout is gapless: offsets reconstruct one contiguous stream
    val starts = out.map(r => r._3 * 2048L + r._4).sorted
    assert(starts.toSeq == (0 until 6).map(_ * 1000L).toSeq)
  }

  test("--format ccnet buckets every url at the sampled perplexity terciles") {
    val docs = (0 until 30).map { i =>
      (f"https://s.example/$i%02d",
        ("common pair " * (30 - i)) + (s"rare$i only$i " * i).trim)
    }.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    def boom: graft.pipeline.DedupPipeline.Result = // see overlap test
      throw new AssertionError("audit format forced the dedup pipeline")
    val out = graft.Main.formatOutput(docs, boom, "ccnet", None,
        ccnetSample = 1.0)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out.size == 30)
    val by = out.values.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSeq }
    assert(by.keySet == Set("tail", "middle", "head"))
    assert(by("tail").max <= by("middle").min)
    assert(by("middle").max <= by("head").min)
  }

  test("--clusters-snapshot maintains a standing assignment across incremental runs") {
    val base = java.nio.file.Files.createTempDirectory("graft-ccsnap").toString
    val (snapDir, ccDir) = (s"$base/snap", s"$base/cc")
    def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    def assign(): Map[String, String] =
      spark.read.parquet(s"$ccDir/assign").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    // crawl 1: B dups A, C novel -> clusters {A,B}, {C}
    val v1 = graft.Main.runIncremental(spark, mk(Seq(
      ("A", "alpha text"), ("B", "alpha text"), ("C", "beta text"))), snapDir)
    graft.Main.maintainClusters(spark, ccDir, v1, "dup_of")
    assert(assign() == Map("A" -> "A", "B" -> "A", "C" -> "C"))
    // crawl 2: D dups A via the snapshot (batch 1 never re-read);
    // E/F are a new intra-batch pair
    val v2 = graft.Main.runIncremental(spark, mk(Seq(
      ("D", "alpha text"), ("E", "gamma text"), ("F", "gamma text"))), snapDir)
    graft.Main.maintainClusters(spark, ccDir, v2, "dup_of")
    assert(assign() == Map("A" -> "A", "B" -> "A", "C" -> "C",
      "D" -> "A", "E" -> "E", "F" -> "E"))
    // crawl 3: a batch id below the standing root relabels the
    // whole component (the broadcast-relabel path, not an append)
    val v3 = graft.Main.runIncremental(spark, mk(Seq(
      ("0-first", "gamma text"))), snapDir)
    graft.Main.maintainClusters(spark, ccDir, v3, "dup_of")
    assert(assign() == Map("A" -> "A", "B" -> "A", "C" -> "C",
      "D" -> "A", "E" -> "0-first", "F" -> "0-first", "0-first" -> "0-first"))

    // r5 review: a crash BETWEEN the demote and promote renames leaves
    // assign_next (committed) and no assign — the next run must recover
    // the standing table, not silently bootstrap an empty prior.
    val fs = new org.apache.hadoop.fs.Path(ccDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$ccDir/assign"),
      new org.apache.hadoop.fs.Path(s"$ccDir/assign_next")) // simulate the window
    val v4 = graft.Main.runIncremental(spark, mk(Seq(
      ("G", "alpha text"))), snapDir)
    graft.Main.maintainClusters(spark, ccDir, v4, "dup_of")
    val recovered = assign()
    assert(recovered("G") == "A" && recovered("B") == "A" &&
      recovered("E") == "0-first",
      s"interrupted swap must recover prior components, got $recovered")
  }

  /** A crawl batch as the incremental CLI reads it. */
  private def crawlBatch(rows: Seq[(String, String)]) = rows.toDF("url", "text")
    .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    .withColumn("html", col("text").cast("binary"))
    .withColumn("lang", lit("en"))

  test("--clusters-snapshot keeps one row per re-crawled url") {
    def rows(ccDir: String): Seq[(String, String)] =
      spark.read.parquet(s"$ccDir/assign").collect()
        .map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    // C novel in crawl 1, then re-crawled as novel (new text) with D
    val base1 = java.nio.file.Files.createTempDirectory("graft-recrawl").toString
    graft.Main.maintainClusters(spark, s"$base1/cc", graft.Main.runIncremental(spark,
      crawlBatch(Seq(("A", "alpha text"), ("B", "alpha text"), ("C", "beta text"))),
      s"$base1/snap"), "dup_of")
    graft.Main.maintainClusters(spark, s"$base1/cc", graft.Main.runIncremental(spark,
      crawlBatch(Seq(("C", "delta text"), ("D", "epsilon text"))), s"$base1/snap"), "dup_of")
    assert(rows(s"$base1/cc") == Seq("A" -> "A", "B" -> "A", "C" -> "C", "D" -> "D"))
    // C linked to A in crawl 1, then re-crawled as novel: it keeps A
    val base2 = java.nio.file.Files.createTempDirectory("graft-recrawl").toString
    graft.Main.maintainClusters(spark, s"$base2/cc", graft.Main.runIncremental(spark,
      crawlBatch(Seq(("A", "alpha text"), ("B", "alpha text"), ("C", "alpha text"))),
      s"$base2/snap"), "dup_of")
    graft.Main.maintainClusters(spark, s"$base2/cc", graft.Main.runIncremental(spark,
      crawlBatch(Seq(("C", "zeta text"), ("D", "eta text"))), s"$base2/snap"), "dup_of")
    assert(rows(s"$base2/cc") == Seq("A" -> "A", "B" -> "A", "C" -> "A", "D" -> "D"))
  }

  test("--clusters-snapshot folds a batch in at most 6 jobs with no shuffle") {
    val base = java.nio.file.Files.createTempDirectory("graft-ccjobs").toString
    val (snapDir, ccDir) = (s"$base/snap", s"$base/cc")
    graft.Main.maintainClusters(spark, ccDir, graft.Main.runIncremental(spark,
      crawlBatch(Seq(("A", "alpha text"), ("B", "alpha text"), ("C", "beta text"))),
      snapDir), "dup_of")
    val v2 = graft.Main.runIncremental(spark, crawlBatch(Seq(("0-first", "beta text"),
      ("D", "alpha text"), ("E", "gamma text"), ("F", "gamma text"))), snapDir)
    val sc = spark.sparkContext
    val group = s"clusters-fold-${System.nanoTime()}"
    var jobs = 0
    var shuffleBytes = 0L
    val stages = scala.collection.mutable.Set.empty[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          synchronized { jobs += 1; stages ++= e.stageIds }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized {
          if (stages(e.stageId) && e.taskMetrics != null)
            shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "clusters_snapshot", interruptOnCancel = false)
      try graft.Main.maintainClusters(spark, ccDir, v2, "dup_of")
      finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(spark.read.parquet(s"$ccDir/assign").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("0-first" -> "0-first", "A" -> "A", "B" -> "A", "C" -> "0-first",
        "D" -> "A", "E" -> "E", "F" -> "E"))
    listener.synchronized {
      assert(jobs <= 6, s"$jobs jobs")
      assert(shuffleBytes == 0L, s"$shuffleBytes shuffle bytes written")
    }
  }

  test("--near-snapshot decides a small batch in at most 8 jobs with no shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nsnap-jobs").toString + "/snap"
    def page(tag: String, edit: Int) =
      (0 until 120).map(i => if (i % 40 == edit) s"alt$i" else s"$tag$i").mkString(" ")
    graft.Main.runIncrementalNear(spark, crawlBatch(Seq(("A", page("tok", -1)),
      ("C", page("other", -1)), ("E", page("third", -1)))), dir)
    val sc = spark.sparkContext
    val group = s"near-snapshot-${System.nanoTime()}"
    var jobs = 0
    var shuffleBytes = 0L
    val stages = scala.collection.mutable.Set.empty[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          synchronized { jobs += 1; stages ++= e.stageIds }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        synchronized {
          if (stages(e.stageId) && e.taskMetrics != null)
            shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
    }
    val out = java.nio.file.Files.createTempDirectory("graft-nsnap-out").toString + "/v"
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val verdicts = try {
      sc.setJobGroup(group, "near_snapshot", interruptOnCancel = false)
      try graft.Main.runIncrementalNear(spark, crawlBatch(Seq(("B", page("tok", 39)),
          ("D", page("novel", -1)), ("F", page("novel", 39)))), dir,
          v => graft.Main.emit(out, v))
      finally sc.clearJobGroup()
    } finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(verdicts.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap ==
      Map("B" -> Some("A"), "D" -> None, "F" -> Some("D")))
    assert(spark.read.parquet(s"$dir/sigs").select("id").collect().map(_.getString(0)).toSet ==
      Set("A", "C", "D", "E"), "the snapshot gained the batch's novel doc only")
    listener.synchronized {
      assert(jobs <= 8, s"$jobs jobs")
      assert(shuffleBytes == 0L, s"$shuffleBytes shuffle bytes written")
    }
  }

  test("a failing emit sink leaves the snapshot unpoisoned (append runs after sink)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap2").toString + "/snap"
    def mk(rows: Seq[(String, String)]) = rows.toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    intercept[RuntimeException](graft.Main.runIncremental(
      spark, mk(Seq(("A", "x text"))), dir, _ => throw new RuntimeException("emit failed")))
    // nothing was appended: the retried run still reports A as novel
    val v = graft.Main.runIncremental(spark, mk(Seq(("A", "x text"))), dir)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(v == Map("A" -> true))
  }

  test("--format hitters reports heavy boilerplate lines exactly, without forcing the dedup DAG") {
    val docs = (0 until 100).map(i =>
        (s"https://h.example/$i", s"FOOTER NAV\nuniq line $i"))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", col("text").cast("binary"))
      .withColumn("lang", lit("en"))
    // by-name result: forcing it would run the dedup DAG — hitters is
    // an input-corpus audit and must never touch it
    val out = graft.Main.formatOutput(docs,
        sys.error("dedup DAG must not run for --format hitters"), "hitters", None,
        hittersM = 9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 200 lines total, threshold 200/10 = 20: only FOOTER NAV (100) passes
    assert(out.map(t => (t._1, t._2)).toSeq == Seq(("FOOTER NAV", 100L)))
    assert(out.head._3 >= 100L) // count-min never underestimates
  }
}

class CliParseSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("--snapshot parses a directory argument") {
    val c = graft.Main.parse(List("--input", "x.parquet", "--snapshot", "/tmp/s"))
    assert(c.snapshot.contains("/tmp/s"))
    assert(graft.Main.parse(List("--input", "x.parquet")).snapshot.isEmpty)
  }

  test("--near-snapshot parses a directory argument, independent of --snapshot") {
    val c = graft.Main.parse(List("--input", "x.parquet", "--near-snapshot", "/tmp/n"))
    assert(c.nearSnapshot.contains("/tmp/n") && c.snapshot.isEmpty)
    assert(graft.Main.parse(List("--input", "x.parquet")).nearSnapshot.isEmpty)
  }

  test("--block-domains and --split parse (and --split validates fractions)") {
    val c = graft.Main.parse(List("--input", "x.parquet",
      "--block-domains", "spam.example,ads.co.uk",
      "--split", "train=0.9,holdout=0.1"))
    assert(c.blockDomains == Seq("spam.example", "ads.co.uk"))
    assert(c.split.contains(Seq("train" -> 0.9, "holdout" -> 0.1)))
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--split", "train=0.9,val=0.3"))
    }
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--split", "garbage"))
    }
    assert(graft.Main.parse(List("--input", "x.parquet")).blockDomains.isEmpty)
    val b = graft.Main.parse(List("--input", "x.parquet",
      "--badwords", "slow, big table", "--badwords", "vector"))
    assert(b.badWords == Seq("slow", "big table", "vector"))
    assert(graft.Main.parse(List("--input", "x.parquet")).badWords.isEmpty)
  }

  test("--jaccard plans the MinHash banding via LshPlanner (and validates its range)") {
    val c = graft.Main.parse(List("--input", "x.parquet", "--jaccard", "0.8"))
    assert(c.jaccard.contains(0.8))
    val cfg = graft.Main.minhashConfigOf(c)
    assert(cfg == graft.near.LshPlanner.configFor(0.8))
    assert(cfg.jaccardThreshold == 0.8 && 128 % cfg.bands == 0)
    // default invocation keeps the ship default banding
    assert(graft.Main.minhashConfigOf(graft.Main.parse(List("--input", "x.parquet")))
      == graft.near.MinHashLSH.Config())
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--jaccard", "1.5"))
    }
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--jaccard", "abc"))
    }
  }

  test("--robots and --agent parse as a pair") {
    val c = graft.Main.parse(List("--input", "x.parquet",
      "--robots", "/tmp/r.parquet", "--agent", "graftbot"))
    assert(c.robots.contains("/tmp/r.parquet") && c.agent.contains("graftbot"))
    val d = graft.Main.parse(List("--input", "x.parquet"))
    assert(d.robots.isEmpty && d.agent.isEmpty)
    // a forgotten value must name the flag, not report 'unknown option'
    val e1 = intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--robots", "--agent", "g"))
    }
    assert(e1.getMessage.contains("--robots"))
    val e2 = intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--agent"))
    }
    assert(e2.getMessage.contains("--agent"))
  }

  test("--domain-cap and --token-budget parse with overflow guards") {
    val c = graft.Main.parse(List("--input", "x.parquet",
      "--domain-cap", "50", "--token-budget", "2000000000000"))
    assert(c.domainCap == 50 && c.tokenBudget == 2000000000000L)
    val d = graft.Main.parse(List("--input", "x.parquet"))
    assert(d.domainCap == 1000 && d.tokenBudget == 1000000000L)
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--domain-cap", "0"))
    }
    intercept[IllegalArgumentException] {
      // over-Int digits fall through to the usage error, not a raw
      // NumberFormatException (the --substring guard discipline)
      graft.Main.parse(List("--input", "x.parquet", "--domain-cap", "99999999999"))
    }
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--token-budget", "abc"))
    }
  }

  test("--hitters-m parses with the positive-int guard") {
    val c = graft.Main.parse(List("--input", "x.parquet", "--hitters-m", "20"))
    assert(c.hittersM == 20)
    assert(graft.Main.parse(List("--input", "x.parquet")).hittersM == 64)
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--hitters-m", "0"))
    }
    intercept[IllegalArgumentException] {
      graft.Main.parse(List("--input", "x.parquet", "--hitters-m", "99999999999"))
    }
  }

  test("--clusters-snapshot parses a directory argument") {
    val c = graft.Main.parse(List("--input", "x.parquet",
      "--snapshot", "/tmp/s", "--clusters-snapshot", "/tmp/c"))
    assert(c.clustersSnapshot.contains("/tmp/c"))
    assert(graft.Main.parse(List("--input", "x.parquet")).clustersSnapshot.isEmpty)
  }

  test("repeatable --alg accumulates across interleaved options (CLI.pm parity)") {
    val c = graft.Main.parse(List(
      "--alg", "filesize", "--input", "x.parquet", "--alg", "sha", "--verbose"))
    assert(c.algs == Seq("filesize", "sha"))
    assert(c.inputs == Seq("x.parquet"))
    assert(c.verbose)
  }

  test("--alg replaces the default cascade, not appends to it") {
    assert(graft.Main.parse(List("--alg", "sha")).algs == Seq("sha"))
    assert(graft.Main.parse(Nil).algs == Seq("filesize", "initial_xxhash", "sha"))
  }

  test("--keep-policy parses min/quality/quality:model, rejects unknown, defaults min") {
    assert(graft.Main.parse(List("--keep-policy", "quality")).keepPolicy == "quality")
    assert(graft.Main.parse(
      List("--keep-policy", "quality:model")).keepPolicy == "quality:model")
    assert(graft.Main.parse(Nil).keepPolicy == "min")
    intercept[IllegalArgumentException](
      graft.Main.parse(List("--keep-policy", "best")))
  }

  test("--prefilter parses gopher, rejects unknown batteries") {
    assert(graft.Main.parse(
      List("--input", "x.parquet", "--prefilter", "gopher")).prefilter.contains("gopher"))
    assert(graft.Main.parse(List("--input", "x.parquet")).prefilter.isEmpty)
    intercept[IllegalArgumentException](
      graft.Main.parse(List("--input", "x.parquet", "--prefilter", "strict")))
  }

  test("--ccnet-sample parses and validates its (0,1] range") {
    assert(graft.Main.parse(
      List("--input", "x.parquet", "--ccnet-sample", "0.01")).ccnetSample == 0.01)
    assert(graft.Main.parse(List("--input", "x.parquet")).ccnetSample == 0.5)
    intercept[IllegalArgumentException](
      graft.Main.parse(List("--input", "x.parquet", "--ccnet-sample", "0")))
    intercept[IllegalArgumentException](
      graft.Main.parse(List("--input", "x.parquet", "--ccnet-sample", "1.5")))
    intercept[IllegalArgumentException](
      graft.Main.parse(List("--input", "x.parquet", "--ccnet-sample", "lots")))
  }

  test("--substring/--longrun opt-in stages parse with and without values") {
    val c = graft.Main.parse(List("--substring", "--longrun", "90", "--verbose"))
    assert(c.substring.contains(2) && c.longrun.contains(90) && c.verbose)
    val d = graft.Main.parse(List("--longrun", "--substring", "3"))
    assert(d.longrun.contains(60) && d.substring.contains(3))
    assert(graft.Main.parse(Nil).substring.isEmpty)
  }
}

class CheckpointSpec extends SparkSpec {

  test("stage runs once, resumes on same lineage, recomputes on change") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat").toString
    val cat = new Catalog(dir, spark)
    var computes = 0
    def body = {
      computes += 1
      spark.range(10).toDF("id")
    }
    val a = cat.stage("s1", "lineage-v1")(body)
    assert(a.count() == 10 && computes == 1)
    val b = cat.stage("s1", "lineage-v1")(body)
    assert(b.count() == 10 && computes == 1) // resumed, not recomputed
    val c = cat.stage("s1", "lineage-v2")(body)
    assert(c.count() == 10 && computes == 2) // lineage changed → rerun
    cat.recordMetrics("s1", Map("rows" -> 10L, "skipped" -> 0L))
    assert(cat.metrics().count() == 2)
    // re-read: `a` points at files the v2 overwrite replaced
    assert(cat.partitionCounts(cat.read("s1")).agg(sum(col("count"))).head().getLong(0) == 10L)
  }

  test("IVF centroids persist as a model artifact: resume skips retraining, cells stable (r3 VERDICT #7)") {
    import spark.implicits._
    def prf(seed: Long): Float =
      ((graft.near.Hashing.mix64(seed) >>> 11).toDouble / (1L << 53).toDouble * 2 - 1).toFloat
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val cat = new Catalog(dir, spark)
    val corpus = (0 until 2000).map(i =>
      (i.toLong, Array.tabulate(16)(d => prf(i * 131 + d)))).toDF("vec_id", "embedding")
    val c1 = graft.sim.Ivf.trainCheckpointed(corpus, cat, "ivf_centroids", "corpus-v1",
      k = 8, iters = 3)
    val cells1 = graft.sim.Ivf.assign(corpus, c1)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // resume with the SAME lineage but DIFFERENT data: the stored
    // artifact must come back (training skipped — different data would
    // otherwise yield different centroids), and cell ids stay stable
    val shifted = corpus.withColumn("embedding",
      transform(col("embedding"), x => x * lit(2.0f) + lit(1.0f)))
    val c2 = graft.sim.Ivf.trainCheckpointed(shifted, cat, "ivf_centroids", "corpus-v1",
      k = 8, iters = 3)
    assert(c1.length == c2.length &&
      c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
    val cells2 = graft.sim.Ivf.assign(corpus, c2)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells1 == cells2)
    // changed training config → new lineage → real retrain
    val c3 = graft.sim.Ivf.trainCheckpointed(shifted, cat, "ivf_centroids", "corpus-v2",
      k = 8, iters = 3)
    assert(!c1.zip(c3).forall { case (a, b) => a.sameElements(b) })
  }
}
