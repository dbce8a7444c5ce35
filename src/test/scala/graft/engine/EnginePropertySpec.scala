package graft.engine

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, rng}
import graft.SparkSpec
import graft.functions.Digests
import graft.model.{DigestSpec, KV}

/** Properties the reference only implies (SURVEY §5), checked over
  * seeded ScalaCheck-generated corpora:
  *  (i) no false merges — final groups equal ground-truth content
  *      equality for ANY cascade prefix ending in the authoritative
  *      digest (Engine.pm:490-495);
  *  (ii) intermediate-digest choice/order does not change final groups;
  *  (iii) digest counts are monotonically non-increasing per level;
  *  (iv) last-level collision count is 0 on exact grouping;
  *  (v) the driver twin `assignmentsLocal` over `keyColumns` rows
  *      equals `run(...).assignments`.
  */
class EnginePropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[KV]] = for {
    n <- Gen.choose(2, 40)
    rows <- Gen.listOfN(n, for {
      l <- Gen.oneOf("A", "B", "C", "D")
      v <- Gen.choose(0, 12)
    } yield KV(l, v))
  } yield rows

  private def samples(k: Int): Seq[List[KV]] =
    (0 until k).flatMap(i =>
      rowsGen(Gen.Parameters.default, rng.Seed(42L + i)))

  private def groupsOf(rows: List[KV], cascade: Seq[DigestSpec]): Set[Set[String]] = {
    val df = rows.zipWithIndex
      .map { case (kv, i) => (kv.letter, kv.n, s"${kv.letter}${kv.n}#$i") }
      .toDF("letter", "n", "id")
    DedupEngine.run(df, "id", cascade).blocks
      .select("members").collect().map(_.getSeq[String](0).toSet).toSet
  }

  private def authoritative =
    DigestSpec("auth", "exact", concat(col("letter"), lit("|"), col("n")))
  private def cheap = Seq(
    DigestSpec("letter", "letter", col("letter")),
    DigestSpec("mod2", "mod2", col("n") % 2),
    DigestSpec("mod3", "mod3", col("n") % 3))

  test("(i) no false merges: groups = ground-truth equality for any prefix + authoritative tail") {
    for {
      rows <- samples(5)
      prefix <- Seq(Seq(), Seq(0), Seq(1, 2), Seq(0, 1, 2))
    } {
      val cascade = prefix.map(cheap) :+ authoritative
      val got = groupsOf(rows, cascade)
      val want = rows.zipWithIndex
        .groupBy { case (kv, _) => (kv.letter, kv.n) }
        .values.map(_.map { case (kv, i) => s"${kv.letter}${kv.n}#$i" }.toSet).toSet
      assert(got == want, s"cascade prefix $prefix on $rows")
    }
  }

  test("(ii) cascade-order invariance of final groups") {
    for (rows <- samples(5)) {
      val a = Seq(cheap(1), cheap(0), authoritative)
      val b = Seq(cheap(0), cheap(1), authoritative)
      assert(groupsOf(rows, a) == groupsOf(rows, b))
    }
  }

  test("(iii) digest counts monotonic non-increasing; (iv) last-level collisions 0") {
    for (rows <- samples(5)) {
      val df = rows.zipWithIndex
        .map { case (kv, i) => (kv.letter, kv.n, s"${kv.letter}${kv.n}#$i") }
        .toDF("letter", "n", "id")
      val r = DedupEngine.run(df, "id", Seq(cheap(0), cheap(2), authoritative))
      val dc = r.digestCounts
      assert(dc.zip(dc.tail).forall { case (x, y) => x >= y }, s"non-monotonic $dc")
      assert(r.collisionCounts.last == 0L)
    }
  }

  /** Random byte pages with planted collisions at each level of the
    * default cascade: exact copies, the same size with other bytes
    * (split by initial_xxhash), the same first cluster and size with
    * another last byte (split only by sha), zero-byte pages, a null
    * page, a null id and a repeated id.
    */
  private def collidingPages(seed: Long): Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(seed)
    def bytes(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val base = (0 until 8).map(_ => bytes(1 + rnd.nextInt(2 * Digests.ClusterSize)))
    val planted = base.flatMap { b =>
      Seq(b.clone(), bytes(b.length)) ++ Option.when(b.length > Digests.ClusterSize) {
        val t = b.clone(); t(t.length - 1) = (t.last ^ 1).toByte; t }
    }
    val pages = rnd.shuffle(base ++ planted ++ Seq(Array.emptyByteArray, Array.emptyByteArray, null))
    val ids = pages.indices.map(i => f"p${rnd.nextInt(1000)}%03d-$i").toArray
    ids(1) = ids(0)
    ids(2) = null
    ids.toSeq.zip(pages)
  }

  test("(v) the driver twin equals the distributed assignments on colliding byte pages") {
    def utf8(s: String) = if (s == null) null else UTF8String.fromString(s)
    def str(u: UTF8String) = if (u == null) null else u.toString
    def multiset[T](xs: Seq[T]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    for {
      seed <- 1L to 5L
      algs <- Seq(Digests.DefaultAlgs, Seq("sha"), Digests.DefaultAlgs :+ "bytes", Nil)
    } {
      val df = collidingPages(seed).toDF("id", "html")
      val cascade = Digests.cascade(col("html"), algs)
      val keyed = df.select(col("id") +: DedupEngine.keyColumns(df, cascade): _*).collect()
        .map(r => (utf8(r.getString(0)), cascade.indices.map(i => utf8(r.getString(i + 1)))))
      val local = DedupEngine.assignmentsLocal(keyed.toSeq).map { case (a, b) => (str(a), str(b)) }
      val distributed = DedupEngine.run(df, "id", cascade).assignments.collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(multiset(local) == multiset(distributed), s"seed $seed, cascade $algs")
      // the planted copies share blocks; the size and prefix
      // collisions do not
      val blocks = local.filter(_._2 != null).map(_._2).distinct.size
      assert(blocks < local.size && (algs.isEmpty || blocks > 8), s"seed $seed, cascade $algs")
    }
  }
}
