package graft.cluster

import graft.SparkSpec
import org.scalacheck.{Gen, rng}

/** `IncrementalCC.merge` + `patch` equals from-scratch connected
  * components on seeded random crawls: a prior graph whose min-label
  * assignment (isolated ids included) is stored as parquet and read
  * back with `IncrementalCC.assignSchema`, as `Main.maintainClusters`
  * reads it, and delta edges that form new-id hubs and chains, bridge
  * prior components, and attach new ids to prior ones. The patched
  * assignment must equal `ConnectedComponents.run` over the prior and
  * delta edges, with every other prior id or delta endpoint labelled by
  * itself.
  */
class IncrementalCCPropertySpec extends SparkSpec {
  import spark.implicits._

  private type Edge = (String, String)

  private val priorIds: IndexedSeq[String] = (0 until 40).map(i => f"a$i%02d")
  private val newIds: IndexedSeq[String] = (0 until 30).map(i => f"n$i%02d")

  private def edge(from: Seq[String], to: Seq[String]): Gen[Edge] =
    for (a <- Gen.oneOf(from); b <- Gen.oneOf(to)) yield (a, b)

  private case class Crawl(prior: Seq[Edge], delta: Seq[Edge])

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
  } yield {
    val c = chain.toSeq
    Crawl(prior,
      spokes.toSeq.filter(_ != hub).map(s => (hub, s)) ++ c.zip(c.tail) ++
        Seq((c.last, anchor)) ++ bridges ++ attach ++ loose.filter(e => e._1 != e._2))
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

  test("merge + patch equals from-scratch CC over prior and delta edges") {
    for ((c, i) <- samples.zipWithIndex) {
      val dir = java.nio.file.Files.createTempDirectory("icc").resolve("assign").toString
      labels(c.prior, priorIds).toSeq.toDF("id", "component").write.parquet(dir)
      val prior = spark.read.schema(IncrementalCC.assignSchema).parquet(dir)
      val delta = c.delta.toDF("src", "dst")
      val patched = IncrementalCC.patch(prior, IncrementalCC.merge(prior, delta)).collect()
        .map(r => r.getString(0) -> r.getString(1))
      val cc = ConnectedComponents.run((c.prior ++ c.delta).toDF("src", "dst")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val ids = priorIds ++ c.delta.flatMap(e => Seq(e._1, e._2))
      val expect = ids.map(u => u -> cc.getOrElse(u, u)).toMap
      assert(patched.length == expect.size, s"crawl $i: duplicate or missing ids")
      assert(patched.toMap == expect, s"crawl $i")
      assert(priorIds.map(expect).toSet.size < labels(c.prior, priorIds).values.toSet.size,
        s"crawl $i: the delta bridges prior components")
    }
  }
}
