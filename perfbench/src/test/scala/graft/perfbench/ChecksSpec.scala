package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  /** Pair-by-pair reference for Checks.quality. */
  private def bruteForce(clusters: Map[String, String], truth: Seq[Truth]): Checks.Quality = {
    val t = truth.filter(x => clusters.contains(x.url))
    val pos = t.filter(_.positive)
    val pairs = for (a <- pos; b <- pos if a.url < b.url && a.group == b.group) yield (a, b)
    val neg = t.filter(!_.positive)
    Checks.Quality(pairs.size.toLong,
      pairs.count { case (a, b) => clusters(a.url) == clusters(b.url) }.toLong,
      neg.size.toLong,
      neg.count(n => clusters.count(_._2 == clusters(n.url)) > 1).toLong)
  }

  private val truth = Seq(
    Truth("a", "g1", positive = true), Truth("b", "g1", positive = true),
    Truth("c", "g1", positive = true), Truth("d", "g2", positive = true),
    Truth("e", "g2", positive = true), Truth("f", "f", positive = false),
    Truth("g", "g", positive = false), Truth("h", "h", positive = false))

  private val clusterings = Seq(
    // perfect
    Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d", "f" -> "f", "g" -> "g",
      "h" -> "h"),
    // everything apart
    Map("a" -> "a", "b" -> "b", "c" -> "c", "d" -> "d", "e" -> "e", "f" -> "f", "g" -> "g",
      "h" -> "h"),
    // everything together
    Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a", "f" -> "a", "g" -> "a",
      "h" -> "a"),
    // a group split, a negative merged into a positive cluster, one url missing
    Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "d", "e" -> "d", "f" -> "d", "g" -> "g"))

  test("contingency-count recall and false merges agree with pair counting") {
    clusterings.foreach { c =>
      assert(Checks.quality(c, truth) == bruteForce(c, truth))
    }
    assert(Checks.quality(clusterings(0), truth).recall == 1.0)
    assert(Checks.quality(clusterings(1), truth).recall == 0.0)
    assert(Checks.quality(clusterings(2), truth).falseMergeRate == 1.0)
    val split = Checks.quality(clusterings(3), truth)
    assert(split.positivePairs == 4 && split.foundPairs == 2)
    assert(split.negatives == 2 && split.mergedNegatives == 1)
  }

  test("cluster checks flag repeats, missing and extra urls, and non-minimum labels") {
    val ok = Seq("a" -> "a", "b" -> "a", "c" -> "c")
    assert(Checks.clusterProblems(ok, Set("a", "b", "c")).isEmpty)
    assert(Checks.clusterProblems(ok :+ ("b" -> "a"), Set("a", "b", "c")).size == 1)
    assert(Checks.clusterProblems(ok, Set("a", "b", "c", "d")).size == 1)
    assert(Checks.clusterProblems(ok, Set("a", "b")).size == 1)
    assert(Checks.clusterProblems(Seq("a" -> "b", "b" -> "b"), Set("a", "b")).size == 1)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Checks.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Checks.tail((1 to 20).map(_.toDouble)).contains((50.0, 10.0)))
    assert(Checks.tail((1 to 100).map(_.toDouble)).contains((90.0, 90.0)))
  }
}
