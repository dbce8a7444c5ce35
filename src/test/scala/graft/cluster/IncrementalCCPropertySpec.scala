package graft.cluster

import graft.SparkSpec
import org.scalacheck.{Gen, rng}

/** `IncrementalCC.fold` equals from-scratch connected components on
  * seeded random crawls: a prior graph whose min-label assignment
  * (isolated ids included) is stored as parquet and read back with
  * `IncrementalCC.assignSchema`, as `Main.maintainClusters` reads it,
  * and a batch whose delta edges form new-id hubs and chains, bridge
  * prior components, attach new ids to prior roots and non-root
  * members, and point at a novel batch doc; the batch ids add isolated
  * new ids and re-crawled prior ids. The folded assignment must hold
  * one row per prior id, delta endpoint and batch id, equal to
  * `ConnectedComponents.run` over the prior and delta edges with every
  * other id labelled by itself — also onto an empty prior.
  */
class IncrementalCCPropertySpec extends SparkSpec {
  import spark.implicits._

  private type Edge = (String, String)

  private val priorIds: IndexedSeq[String] = (0 until 40).map(i => f"a$i%02d")
  private val newIds: IndexedSeq[String] = (0 until 30).map(i => f"n$i%02d")
  // batch docs no edge leaves: isolated unless a later doc dups them
  private val novelIds: IndexedSeq[String] = (0 until 10).map(i => f"m$i%02d")

  private def edge(from: Seq[String], to: Seq[String]): Gen[Edge] =
    for (a <- Gen.oneOf(from); b <- Gen.oneOf(to)) yield (a, b)

  private case class Crawl(prior: Seq[Edge], delta: Seq[Edge], batch: Seq[String])

  private val crawl: Gen[Crawl] = for {
    prior <- Gen.choose(15, 35).flatMap(Gen.listOfN(_, edge(priorIds, priorIds)))
    hub <- Gen.oneOf(newIds)
    spokes <- Gen.pick(8, priorIds ++ newIds)
    chainLen <- Gen.choose(4, 10)
    chain <- Gen.pick(chainLen, newIds)
    anchor <- Gen.oneOf(priorIds)
    bridges <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, edge(priorIds, priorIds)))
    attach <- Gen.choose(2, 6).flatMap(Gen.listOfN(_, edge(newIds, priorIds)))
    loose <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, edge(newIds, newIds)))
    onto <- Gen.oneOf(newIds)
    novel <- Gen.pick(4, novelIds)
    dupOfNovel <- Gen.oneOf(newIds)
    recrawled <- Gen.pick(3, priorIds)
  } yield {
    val c = chain.toSeq
    // an edge onto a member that is not its prior component's root
    val nonRoot = labels(prior, priorIds).collect { case (u, r) if u != r => u }.toSeq.sorted
    val delta = spokes.toSeq.filter(_ != hub).map(s => (hub, s)) ++ c.zip(c.tail) ++
      Seq((c.last, anchor)) ++ bridges ++ attach ++ loose.filter(e => e._1 != e._2) ++
      nonRoot.headOption.map(onto -> _) ++ Seq((dupOfNovel, novel.head))
    val batch = delta.flatMap(e => Seq(e._1, e._2)).filterNot(priorIds.contains) ++
      novel ++ recrawled
    Crawl(prior, delta, batch.distinct)
  }

  private def samples: Seq[Crawl] =
    (0 until 4).flatMap(i => crawl(Gen.Parameters.default, rng.Seed(5300L + i)))

  /** Min-member labels by union-find (ids are ASCII, so String order is
    * Spark's byte order).
    */
  private def labels(edges: Seq[Edge], ids: Seq[String]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ids.foreach(find)
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    parent.keys.toSeq.groupBy(find).values
      .flatMap { c => val m = c.min; c.map(_ -> m) }.toMap
  }

  /** Fold `c` onto the stored assignment of `prior` over `pIds`; check
    * it against from-scratch CC and return the expected labels.
    */
  private def check(c: Crawl, pIds: Seq[String], i: Int): Map[String, String] = {
    val dir = java.nio.file.Files.createTempDirectory("icc").resolve("assign").toString
    labels(c.prior, pIds).toSeq.toDF("id", "component").write.parquet(dir)
    val prior = spark.read.schema(IncrementalCC.assignSchema).parquet(dir)
    val folded = IncrementalCC.fold(prior, c.delta.toDF("src", "dst"), c.batch.toDF("id"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    val cc = ConnectedComponents.run((c.prior ++ c.delta).toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val ids = pIds ++ c.delta.flatMap(e => Seq(e._1, e._2)) ++ c.batch
    val expect = ids.map(u => u -> cc.getOrElse(u, u)).toMap
    assert(folded.length == expect.size, s"crawl $i: duplicate or missing ids")
    assert(folded.toMap == expect, s"crawl $i")
    expect
  }

  test("fold equals from-scratch CC on random crawls") {
    for ((c, i) <- samples.zipWithIndex) {
      val expect = check(c, priorIds, i)
      assert(priorIds.map(expect).toSet.size < labels(c.prior, priorIds).values.toSet.size,
        s"crawl $i: the delta bridges prior components")
    }
  }

  test("fold onto an empty prior equals from-scratch CC") {
    // the prior's ids are new ids now: every edge endpoint is a batch id
    for ((c, i) <- samples.zipWithIndex)
      check(Crawl(Nil, c.delta, (c.batch ++ c.delta.flatMap(e => Seq(e._1, e._2))).distinct), Nil, i)
  }
}
