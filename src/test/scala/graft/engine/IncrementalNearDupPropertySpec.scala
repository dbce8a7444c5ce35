package graft.engine

import graft.SparkSpec
import graft.near.{Hashing, MinHashLSH}
import org.scalacheck.{Gen, rng}

/** `IncrementalNearDup.dedupAgainst` equals a driver-side reference on
  * seeded random crawls: a prior crawl (the snapshot) and a batch with
  * exact re-crawls and tail-edit near-dups of prior pages, in-batch
  * near-dup pairs, far edits that share some bands but fail the
  * Jaccard threshold, a url present in both the snapshot and the batch,
  * an empty doc, and groups of identical docs at and above `maxBucket`
  * in each tier (a batch copy of a prior group's page puts one batch
  * member into buckets of `maxBucket` or more prior members). The
  * reference bands with `MinHashLSH.bandHashesLocal`, applies the
  * per-tier caps, verifies with `Hashing.jaccard`, and picks the prior
  * keeper first, else the smallest earlier batch doc.
  * Verdicts and the skip total must match.
  */
class IncrementalNearDupPropertySpec extends SparkSpec {
  import spark.implicits._

  private val cfg = MinHashLSH.Config(maxBucket = 4)

  private case class Crawl(prior: Seq[(String, String)], batch: Seq[(String, String)])

  private def words(n: Int): Gen[Seq[String]] =
    Gen.listOfN(n, Gen.choose(0, 5000).map(i => s"w$i"))

  private val page: Gen[Seq[String]] = Gen.choose(25, 45).flatMap(words)

  /** The last `k` tokens replaced by fresh ones. */
  private def tailEdit(p: Seq[String], k: Int): Gen[Seq[String]] =
    words(k).map(t => p.dropRight(k) ++ t)

  private val crawl: Gen[Crawl] = for {
    priorPages <- Gen.listOfN(12, page)
    hotPrior <- page
    nHotPrior <- Gen.choose(cfg.maxBucket + 1, cfg.maxBucket + 2)
    atCapPrior <- page
    recrawl <- Gen.pick(3, priorPages.indices)
    nearPrior <- Gen.pick(3, priorPages.indices)
    edits <- Gen.sequence[Seq[Seq[String]], Seq[String]](
      nearPrior.toSeq.map(i => tailEdit(priorPages(i), 2)))
    farPrior <- Gen.oneOf(priorPages.indices)
    far <- tailEdit(priorPages(farPrior), priorPages(farPrior).length * 2 / 5)
    fresh <- Gen.listOfN(4, page)
    freshEdits <- Gen.sequence[Seq[Seq[String]], Seq[String]](
      fresh.take(2).map(p => tailEdit(p, 1)))
    hotBatch <- page
    nHotBatch <- Gen.choose(cfg.maxBucket + 1, cfg.maxBucket + 2)
    atCapBatch <- page
    shared <- Gen.oneOf(priorPages.indices)
    sharedText <- tailEdit(priorPages(shared), 1)
  } yield {
    val prior = priorPages.zipWithIndex.map { case (p, i) => (f"p$i%02d", p) } ++
      (0 until nHotPrior).map(i => (f"ph$i%02d", hotPrior)) ++
      (0 until cfg.maxBucket).map(i => (f"pc$i%02d", atCapPrior))
    val batchPages = recrawl.toSeq.map(priorPages) ++ edits ++ Seq(far) ++ fresh ++
      freshEdits ++ Seq.fill(nHotBatch)(hotBatch) ++ Seq.fill(cfg.maxBucket)(atCapBatch) ++
      Seq(hotPrior, atCapPrior)
    val batch = batchPages.zipWithIndex.map { case (p, i) => (f"b$i%02d", p) } ++
      Seq((f"p$shared%02d", sharedText), ("b_empty", Seq.empty[String]))
    Crawl(prior.map { case (u, p) => (u, p.mkString(" ")) },
      batch.map { case (u, p) => (u, p.mkString(" ")) })
  }

  private def samples: Seq[Crawl] =
    (0 until 3).flatMap(i => crawl(Gen.Parameters.default, rng.Seed(9100L + i)))

  /** Reference verdicts url -> (near_dup_of, jaccard) and skip total. */
  private def reference(c: Crawl): (Map[String, (Option[String], Option[Double])], Long) = {
    val cap = cfg.maxBucket
    def shingles(docs: Seq[(String, String)]): Map[String, Array[Long]] =
      docs.map { case (u, t) =>
        u -> Hashing.shingleHashes(Hashing.tokenize(t), cfg.shingleK) }.toMap
    def buckets(sh: Map[String, Array[Long]]): Map[(Int, Long), Seq[String]] =
      sh.toSeq.flatMap { case (u, s) =>
        Option(Hashing.minhash(s, cfg.numPerms, cfg.seed)).toSeq.flatMap { sig =>
          MinHashLSH.bandHashesLocal(sig, cfg.bands, cfg.rowsPerBand)
            .zipWithIndex.map { case (h, b) => ((b, h), u) }
        }
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val priorSh = shingles(c.prior)
    val batchSh = shingles(c.batch)
    val priorB = buckets(priorSh)
    var skipped = 0L
    val cands = scala.collection.mutable.Set.empty[(String, Int, String)]
    for ((key, bs) <- buckets(batchSh)) {
      val ps = priorB.getOrElse(key, Nil)
      if (ps.size > cap) skipped += ps.size.toLong * bs.size
      else for (b <- bs; p <- ps) cands += ((b, 0, p))
      if (bs.size > cap) skipped += bs.size
      else for (b <- bs; e <- bs if e < b) cands += ((b, 1, e))
    }
    val best = cands.toSeq.flatMap { case (b, tier, p) =>
      val j = Hashing.jaccard(batchSh(b), if (tier == 0) priorSh(p) else batchSh(p))
      if (j >= cfg.jaccardThreshold) Some((b, (tier, p, j))) else None
    }.groupBy(_._1).map { case (b, v) => b -> v.map(_._2).minBy(x => (x._1, x._2)) }
    val verdicts = c.batch.map { case (u, _) =>
      u -> best.get(u).fold((Option.empty[String], Option.empty[Double])) {
        case (_, p, j) => (Some(p), Some(j)) }
    }.toMap
    (verdicts, skipped)
  }

  test("dedupAgainst equals the driver-side reference") {
    for ((c, i) <- samples.zipWithIndex) {
      val (expect, expectSkipped) = reference(c)
      assert(expect.values.exists(_._1.exists(_.startsWith("p"))) &&
        expect.values.exists(_._1.exists(_.startsWith("b"))) && expectSkipped > 0,
        s"crawl $i exercises both tiers and the caps")
      val snap = IncrementalNearDup.bootstrap(c.prior.toDF("url", "text"), cfg)
      val batch = c.batch.toDF("url", "text").repartition(3)
      val acc = spark.sparkContext.longAccumulator(s"t_prop_skips_$i")
      val got = IncrementalNearDup.dedupAgainst(batch, snap, cfg, skippedAcc = Some(acc))
        .collect()
      val gotMap = got.map(r => r.getString(0) ->
        ((Option(r.getString(1)), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
      assert(got.length == c.batch.size, s"crawl $i: one verdict per batch doc")
      assert(got.forall(r => r.getBoolean(3) == r.isNullAt(1)))
      assert(gotMap == expect, s"crawl $i")
      assert(acc.value == expectSkipped, s"crawl $i skips")
    }
  }
}
