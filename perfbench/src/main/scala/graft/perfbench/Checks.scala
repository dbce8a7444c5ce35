package graft.perfbench

/** Output checks and quality figures over one collected clustering
  * (url -> cluster_id). Recall and false merges come from (truth group
  * x cluster) contingency counts, so no pair is ever enumerated.
  */
object Checks {

  final case class Quality(positivePairs: Long, foundPairs: Long,
      negatives: Long, mergedNegatives: Long) {
    def recall: Double = if (positivePairs == 0) 1.0 else foundPairs.toDouble / positivePairs
    def falseMergeRate: Double =
      if (negatives == 0) 0.0 else mergedNegatives.toDouble / negatives
  }

  private def pairs(n: Long): Long = n * (n - 1) / 2

  /** Planted positive pairs are same-group pairs of positive urls; a
    * pair is found when both land in one cluster. A negative is merged
    * when its cluster has more than one member.
    */
  def quality(clusters: collection.Map[String, String], truth: Iterable[Truth]): Quality = {
    val size = clusters.values.groupMapReduce(identity)(_ => 1L)(_ + _)
    val present = truth.filter(t => clusters.contains(t.url))
    val pos = present.filter(_.positive)
    val byGroup = pos.groupMapReduce(_.group)(_ => 1L)(_ + _)
    val byCell = pos.groupMapReduce(t => (t.group, clusters(t.url)))(_ => 1L)(_ + _)
    val neg = present.filter(!_.positive)
    Quality(byGroup.values.map(pairs).sum, byCell.values.map(pairs).sum,
      neg.size.toLong, neg.count(t => size(clusters(t.url)) > 1).toLong)
  }

  /** Problems with a clustering of `expected` urls, given as
    * (url, cluster_id) rows: every url exactly once, nothing extra, and
    * each cluster_id the minimum member of its cluster.
    */
  def clusterProblems(rows: Seq[(String, String)], expected: collection.Set[String]): Seq[String] = {
    val seen = rows.groupMapReduce(_._1)(_ => 1)(_ + _)
    val dup = seen.count(_._2 > 1)
    val missing = expected.count(u => !seen.contains(u))
    val extra = seen.keys.count(u => !expected.contains(u))
    val badId = rows.groupMap(_._2)(_._1).count { case (cid, members) => members.min != cid }
    Seq(
      if (dup > 0) Some(s"$dup urls appear more than once") else None,
      if (missing > 0) Some(s"$missing input urls are missing") else None,
      if (extra > 0) Some(s"$extra urls are not inputs") else None,
      if (badId > 0) Some(s"$badId clusters are not labelled by their minimum member") else None
    ).flatten
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile of `xs` with at least `beyond` samples
    * above it, as (percentile, value); None when there are too few
    * samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val k = s.size - beyond // 1-based rank with `beyond` samples above it
      Some((100.0 * k / s.size, s(k - 1)))
    }
}
