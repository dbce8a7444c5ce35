package graft.cluster

import graft.SparkSpec
import org.scalacheck.{Gen, rng}

import java.nio.charset.StandardCharsets.UTF_8

/** `ConnectedComponents.run` equals a plain in-memory union-find on
  * seeded random graphs — hubs, long chains and sparse random graphs,
  * with duplicate and reversed edges, self-loops, null endpoints, and
  * ids whose UTF-16 and UTF-8 orders differ (U+FFFD vs U+10000) — at
  * three gate settings: 0 (purely distributed), the star size (the
  * finisher takes over after an iteration) and the default (the
  * finisher runs at entry).
  */
class CCPropertySpec extends SparkSpec {
  import spark.implicits._

  private type Edge = (Option[String], Option[String])

  private val pool: Vector[String] =
    Vector("", "a", "\u00E9", "z") ++ (0 until 56).map(i => f"n$i%02d")

  // U+FFFD sorts before U+10000 in UTF-8 bytes, after it in UTF-16:
  // this component's label is "\uFFFD", String.compareTo would say
  // "\uD800\uDC00"
  private val utf: Seq[Edge] = Seq(
    (Some("\uD800\uDC00"), Some("\uFFFDa")), (Some("\uFFFDa"), Some("\uFFFD")),
    (Some("\uD800\uDC00a"), Some("\uD800\uDC00")))

  private def pairs(ids: Seq[String]): Gen[Edge] =
    for (a <- Gen.oneOf(ids); b <- Gen.oneOf(ids)) yield (Some(a), Some(b))

  // every shape carries a cycle, so its canonical edge set is larger
  // than the converged star forest and a gate at the star size is
  // only reached after an iteration
  private val hub: Gen[Seq[Edge]] = for {
    k <- Gen.choose(8, 30)
    ids <- Gen.pick(k + 1, pool)
    chords <- Gen.listOfN(3, pairs(ids.tail.toSeq))
  } yield ids.tail.toSeq.map(l => (Option(l), Option(ids.head))) ++
    Seq((Option(ids(1)), Option(ids(2)))) ++ chords

  private val chain: Gen[Seq[Edge]] = for {
    k <- Gen.choose(20, 48)
    picked <- Gen.pick(k, pool)
    seed <- Gen.long
  } yield {
    val ids = new scala.util.Random(seed).shuffle(picked.toSeq)
    ids.sliding(2).map(p => (Option(p(0)), Option(p(1)))).toSeq :+
      ((Option(ids.last), Option(ids(k / 2))))
  }

  private val sparse: Gen[Seq[Edge]] = for {
    k <- Gen.choose(6, 40)
    ids <- Gen.pick(k, pool)
    m <- Gen.choose(k / 2, k + 4)
    es <- Gen.listOfN(m, pairs(ids.toSeq))
  } yield es :+ ((Option(ids(0)), Option(ids(1)))) :+ ((Option(ids(1)), Option(ids(2)))) :+
    ((Option(ids(2)), Option(ids(0))))

  private def withNoise(shape: Gen[Seq[Edge]]): Gen[Seq[Edge]] = for {
    g <- shape
    dups <- Gen.someOf(g)
    loops <- Gen.someOf(pool.take(6))
    nulls <- Gen.someOf(pool.take(4))
  } yield g ++ utf ++ dups.map(_.swap) ++ dups ++ loops.map(x => (Option(x), Option(x))) ++
    nulls.flatMap(x => Seq((Option(x), None), (None, Option(x)))) :+ ((None, None))

  // two seeded graphs per shape (the distributed rounds at gate 0
  // dominate the run time)
  private def samples: Seq[Seq[Edge]] =
    for (shape <- Seq(hub, chain, sparse); i <- 0 until 2;
         g <- withNoise(shape)(Gen.Parameters.default, rng.Seed(4711L + i)))
    yield g

  private val byteOrder: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Reference labels: union-find over the non-null, non-loop edges,
    * each component labelled with its min member in UTF-8 byte order.
    */
  private def reference(edges: Seq[Edge]): Map[String, String] = {
    val es = edges.collect { case (Some(a), Some(b)) if a != b => (a, b) }
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) => parent(find(a)) = find(b) }
    val ids = parent.keys.toSeq
    ids.groupBy(find).values.flatMap { c => val m = c.min(byteOrder); c.map(_ -> m) }.toMap
  }

  test("CC equals reference union-find on random graphs at gates 0, star size and default") {
    for ((edges, i) <- samples.zipWithIndex) {
      val expect = reference(edges)
      val canonical = edges.collect { case (Some(a), Some(b)) if a != b =>
        if (byteOrder.lt(a, b)) (b, a) else (a, b) }.distinct.size
      val starSize = expect.size - expect.values.toSet.size
      assert(canonical > starSize, s"graph $i has no cycle")
      val df = edges.toDF("src", "dst").repartition(3)
      for (gate <- Seq(0, starSize, ConnectedComponents.LocalBelow)) {
        val got = ConnectedComponents.run(df, localBelow = gate).collect()
          .map(r => r.getString(0) -> r.getString(1))
        assert(got.length == expect.size, s"graph $i gate $gate: duplicate or missing ids")
        assert(got.toMap == expect, s"graph $i gate $gate")
      }
    }
  }
}
