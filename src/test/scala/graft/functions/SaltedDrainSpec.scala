package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** The salted two-round drain of `CappedGroups.drainGroups`, the ONE
  * drain behind every pairing stage — MinHash bands (covered in
  * NearDupSpec), SimHash tables, substring windows, winnowing grams,
  * hyperplane buckets. The kernel is a property over random keyed rows;
  * each stage gets (a) a single-hot-key test in the 1M-row single-band
  * pattern — the whole corpus in one bucket, totals exact, no pair
  * blowup — and (b) a parity test: on a sub-cap corpus the salted
  * path's output is identical to the single-round path's.
  */
class SaltedDrainSpec extends SparkSpec {

  // random (key, member) rows: up to 12 keys of 0..3·cap rows each, so
  // every sample has keys at, below and above the cap; members repeat
  // within a key (a member drawn twice is two rows)
  private val cap = 6
  private val sample: Gen[Seq[(String, String)]] = for {
    k <- Gen.choose(3, 12)
    sizes <- Gen.listOfN(k, Gen.oneOf(Gen.choose(0, cap), Gen.choose(cap + 1, 3 * cap)))
    rows <- sizes.zipWithIndex.foldLeft(Gen.const(Seq.empty[(String, String)])) {
      case (acc, (n, key)) => for {
        done <- acc
        more <- Gen.listOfN(n, Gen.choose(0, 2 * n).map(m => (s"k$key", s"m$m")))
      } yield done ++ more
    }
  } yield rows

  test("saltedDrain kernel: hot-key totals exact, merged buffer bounded, sub-cap buckets complete") {
    import spark.implicits._
    // eight seeded samples in one frame (keys tagged by sample), so one
    // drain job per salt count covers them all
    val samples = (0 until 8).flatMap(i =>
      sample(Gen.Parameters.default, rng.Seed(9100L + i)).get.map { case (k, m) => (s"$i/$k", m) })
    val rows = samples.toDS().repartition(4)
    // key -> (total, members seen by emit); members carry their key
    def drained(salts: Int): Map[String, (Long, Seq[String])] =
      CappedGroups.drainGroups(rows, (r: (String, String)) => r._1, identity[(String, String)],
          cap, salts, (m: (String, String)) => m._2) {
        (n, ms) => Iterator.single((ms.head._1, n, ms.map(_._2).sorted.toSeq))
      }.collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val truth = samples.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).sorted }
    assert(truth.values.exists(_.length > cap) && truth.values.exists(_.length <= cap))
    val one = drained(1)
    assert(one.keySet == truth.keySet)
    for (salts <- Seq(2, 7)) {
      val salted = drained(salts)
      assert(salted.keySet == truth.keySet, s"salts=$salts")
      for ((k, (total, ms)) <- salted) {
        // totals exact at every key, hot or not
        assert(total == truth(k).length && total == one(k)._1, s"salts=$salts key=$k")
        // a sub-cap bucket is complete, as in one round
        if (total <= cap) assert(ms == truth(k) && ms == one(k)._2, s"salts=$salts key=$k")
        // the merged buffer stops growing past cap: O(cap), never O(rows)
        else assert(ms.length <= 2 * cap + 1, s"salts=$salts key=$k held ${ms.length}")
      }
    }
  }

  test("SimHash salted: single hot probe bucket per table, skip totals exact, no pairs") {
    import graft.near.SimHash
    val n = 200000L
    val cfg = SimHash.Config(blocks = 4, maxHamming = 1, maxBucket = 100, salts = 8)
    val fp = spark.range(n)
      .select(concat(lit("u"), col("id")).as("id"), lit(0x0123456789abcdefL).as("simhash"))
    val rows = SimHash.edgesAndSkips(fp, cfg).collect()
    assert(rows.forall(_.isNullAt(0)), "an over-cap bucket emitted pairs")
    assert(rows.map(_.getLong(3)).sum == cfg.tables.length * n,
      s"skip totals ${rows.map(_.getLong(3)).toSeq} != ${cfg.tables.length} x $n")
  }

  test("SimHash salted == single-round on a sub-cap corpus (planted 1-bit pairs)") {
    import graft.near.SimHash
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0 until 150).map(i => (s"b$i", rnd.nextLong()))
    val near = (0 until 20).map(i => (s"p$i", base(i)._2 ^ (1L << (i % 64))))
    val fp = (base ++ near).toDF("id", "simhash")
    def edgeSet(salts: Int) =
      SimHash.edgesAndSkips(fp, SimHash.Config(salts = salts)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val salted = edgeSet(8)
    assert(salted == edgeSet(1))
    assert((0 until 20).forall(i => salted.exists(e => e._1 == s"b$i" && e._2 == s"p$i"
      || e._1 == s"p$i" && e._2 == s"b$i")), "a planted 1-bit pair was lost")
  }

  test("substring windows salted: corpus-wide identical window drains to one exact skip row") {
    import graft.substring.SubstringDedup
    import spark.implicits._
    val sameText = (1 to 25).map(t => s"tok$t").mkString(" ")
    val docs = spark.range(2000).map(i => (s"u$i", sameText)).toDF("url", "text")
    val out = SubstringDedup.edgesAndSkips(docs, w = 20, stride = 10,
      maxDocsPerWindow = 50, salts = 8).collect()
    assert(out.length == 1 && out(0).isNullAt(0))
    assert(out(0).getLong(3) == 2000L, s"skip total ${out(0).getLong(3)}")
  }

  test("substring windows salted == single-round on a sub-cap corpus") {
    import graft.substring.SubstringDedup
    import spark.implicits._
    val run = (1 to 30).map(t => s"shared$t").mkString(" ")
    val docs = ((0 until 6).map(i => (s"d$i", s"prefix$i unique$i $run tail$i")) ++
      (0 until 4).map(i => (s"x$i", s"only $i here " * 10))).toDF("url", "text")
    def rows(salts: Int) =
      SubstringDedup.edgesAndSkips(docs, w = 10, stride = 5, salts = salts).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val salted = rows(8)
    assert(salted == rows(1) && salted.nonEmpty)
  }

  test("winnowing grams salted: identical corpus drains to exact skip totals, no pairs") {
    import graft.substring.SubstringDedup
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again in summer"
    val docs = spark.range(1000).map(i => (s"u$i", text)).toDF("url", "text")
    val out = SubstringDedup.repeatCandidatesAndSkips(docs, minLen = 30,
      maxDocsPerGram = 50, salts = 8).collect()
    assert(out.forall(_.isNullAt(0)), "an over-cap gram emitted pairs")
    assert(out.nonEmpty && out.forall(_.getLong(2) == 1000L))
  }

  test("winnowing grams salted == single-round on a sub-cap corpus") {
    import graft.substring.SubstringDedup
    import spark.implicits._
    val shared = "an exact shared run of at least forty characters sits right here"
    val docs = ((0 until 5).map(i => (s"d$i", s"head$i $shared tail$i")) ++
      (0 until 5).map(i => (s"x$i", s"completely unrelated text number $i " * 3)))
      .toDF("url", "text")
    def rows(salts: Int) =
      SubstringDedup.repeatCandidatesAndSkips(docs, minLen = 40, salts = salts)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val salted = rows(8)
    assert(salted == rows(1) && salted.exists(_._1 != null))
  }

  test("hyperplane buckets salted: one bucket per table holds the corpus, skip totals exact") {
    import graft.sim.Ann
    import spark.implicits._
    val n = 100000L
    val vec = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val corpus = spark.range(n)
      .map(i => (s"v$i", vec)).toDF("vec_id", "embedding")
    val out = Ann.embeddingDupEdgesAndSkips(corpus, 0.99, bits0 = 8, tables0 = 2,
      maxBucket = 100, salts = 8).collect()
    assert(out.forall(_.isNullAt(0)), "an over-cap bucket emitted pairs")
    assert(out.map(_.getLong(3)).sum == 2 * n)
  }

  test("hyperplane buckets salted == single-round on a sub-cap corpus") {
    import graft.sim.Ann
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 60)
      .map(i => (s"v$i", Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // threshold -1 keeps every candidate pair: the verified edges ARE
    // the bucket pairs
    def rows(salts: Int) =
      Ann.embeddingDupEdgesAndSkips(corpus, -1.0, bits0 = 4, tables0 = 3,
        maxBucket = 500, salts = salts)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val salted = rows(8)
    assert(salted == rows(1) && salted.nonEmpty)
  }
}
