package graft.perfbench

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Doc
import graft.near.{Hashing, MinHashLSH}

class GenSpec extends AnyFunSuite {

  private def digest(docs: Seq[Doc], truth: Seq[Truth]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      md.update(d.url.getBytes("UTF-8")); md.update(d.html); md.update(d.text.getBytes("UTF-8"))
      md.update(d.lang.getBytes("UTF-8")); md.update(BigInt(d.warc_ts.getTime).toByteArray)
    }
    truth.foreach(t => md.update(t.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private val prior = (0 until 50).map { i =>
    Gen.PriorPage(Gen.page(s"https://prior.example/$i",
      (0 until 150).map(p => s"t${i}x$p"), 0L), s"p$i")
  }

  test("mirror chains: the same seed gives the same bytes, another seed other bytes") {
    val a = Gen.mirrorChains(7L, 1)
    assert(digest(a._1, a._2) == digest(Gen.mirrorChains(7L, 1)._1, Gen.mirrorChains(7L, 1)._2))
    val b = Gen.mirrorChains(8L, 1)
    assert(digest(a._1, a._2) != digest(b._1, b._2))
    assert(a._1.map(_.url).distinct.size == a._1.size)
  }

  test("crawl batches: the same seed gives the same bytes, another seed other bytes") {
    val a = Gen.crawlBatch(7L, 3, 200, prior)
    val a2 = Gen.crawlBatch(7L, 3, 200, prior)
    val b = Gen.crawlBatch(8L, 3, 200, prior)
    assert(digest(a._1, a._2) == digest(a2._1, a2._2))
    assert(digest(a._1, a._2) != digest(b._1, b._2))
    assert(digest(a._1, a._2) != digest(Gen.crawlBatch(7L, 4, 200, prior)._1, Nil))
  }

  test("every mirror-chain step stays at Jaccard >= the pipeline threshold of its neighbour") {
    val cfg = MinHashLSH.Config()
    def shingles(toks: Seq[String]): Array[Long] =
      Hashing.shingleHashes(Hashing.tokenize(toks.mkString(" ")), cfg.shingleK)
    for (seed <- Seq(1L, 2L, 3L); (len, c) <- Gen.ChainLengths.zipWithIndex) {
      val steps = Gen.chainSteps(seed, c, len).map(shingles)
      steps.sliding(2).foreach { case Seq(x, y) =>
        assert(Hashing.jaccard(x, y) >= cfg.jaccardThreshold)
      }
      // the far ends are not near-dups: only connected components can join them
      assert(Hashing.jaccard(steps.head, steps.last) < cfg.jaccardThreshold)
    }
  }

  test("crawl-batch copies of prior pages and in-batch pairs stay above the threshold") {
    val cfg = MinHashLSH.Config()
    def shingles(d: Doc): Array[Long] =
      Hashing.shingleHashes(Hashing.tokenize(d.text), cfg.shingleK)
    val (docs, truth) = Gen.crawlBatch(1L, 0, 40, prior)
    val byUrl = prior.map(p => p.doc.url -> p.doc).toMap
    val group = truth.map(t => t.url -> t.group).toMap
    val priorOf = prior.map(p => p.group -> p.doc).toMap
    docs.zipWithIndex.foreach { case (d, i) =>
      if (i % 20 < 10) {
        val src = priorOf(group(d.url))
        assert(Hashing.jaccard(shingles(d), shingles(src)) >= cfg.jaccardThreshold)
      } else if (i % 20 < 14 && i % 2 == 1) {
        assert(Hashing.jaccard(shingles(d), shingles(docs(i - 1))) >= cfg.jaccardThreshold)
      }
    }
    assert(truth.count(t => byUrl.contains(t.url)) > 0)
  }
}
