package graft.perfbench

import java.nio.charset.StandardCharsets
import graft.model.Doc
import graft.near.Hashing.mix64

/** Planted truth for one url: docs sharing `group` with `positive` set
  * are duplicates of each other; a negative must stay in a singleton
  * cluster. Urls with no truth row (quarantined or empty pages on the
  * near-dup-only incremental path) are left out of recall and
  * false-merge.
  */
final case class Truth(url: String, group: String, positive: Boolean)

/** Seeded input generators owned by the benchmark. Every value is a
  * pure function of (seed, indices), so the same seed gives the same
  * bytes and any row can be regenerated on its own.
  */
object Gen {

  private def rng(seed: Long, a: Long, b: Long): Long = mix64(mix64(seed ^ mix64(a)) ^ b)
  private def pick(seed: Long, a: Long, b: Long, n: Int): Int =
    ((rng(seed, a, b) >>> 1) % n).toInt

  private val Epoch = 1767225600000L // 2026-01-01T00:00Z

  /** The page shape of the standard corpus: title, paragraphs of 50
    * tokens, and `text` equal to what extraction would recover.
    */
  def page(url: String, tokens: IndexedSeq[String], ts: Long, lang: String = "en"): Doc = {
    def esc(x: String): String = x.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val title = tokens.take(3).mkString(" ")
    val paras = tokens.drop(3).grouped(50).map(_.mkString(" ")).toVector
    val html = new StringBuilder(tokens.length * 8 + 128)
    html ++= "<!DOCTYPE html><html><head><title>" ++= esc(title) ++= "</title></head><body>"
    paras.foreach(p => html ++= "<p>" ++= esc(p) ++= "</p>")
    html ++= "</body></html>"
    Doc(url, new java.sql.Timestamp(ts), html.result().getBytes(StandardCharsets.UTF_8),
      (title +: paras).mkString(" "), lang)
  }

  private def word(seed: Long, a: Long, b: Long): String =
    "w" + java.lang.Long.toHexString(rng(seed, a, b) >>> 36)

  // --- mirror_chains ---------------------------------------------------

  /** Chain lengths (steps) of one round; the shape is fixed and only
    * token content and edit positions depend on the seed, so every
    * seed gives the same connected-components depth.
    */
  val ChainLengths: Seq[Int] = Seq(160, 80, 40, 20)
  val ChainTokens = 80
  val Mirrors = 3

  /** Token sequences of one chain: step 0 is a random page and each
    * later step replaces one token of the previous step, so neighbours
    * share all but at most `shingleK` shingles while the far ends
    * share almost none.
    */
  def chainSteps(seed: Long, chain: Int, steps: Int): IndexedSeq[IndexedSeq[String]] = {
    var cur = Vector.tabulate(ChainTokens)(p => word(seed, chain, p))
    Vector.tabulate(steps) { s =>
      if (s > 0) cur = cur.updated(pick(seed, chain, 100000L + s, ChainTokens),
        s"e${chain}x$s")
      cur
    }
  }

  /** `rounds` × [[ChainLengths]] chains, every step copied byte-exact
    * under [[Mirrors]] hosts. One chain and its mirrors form one truth
    * group.
    */
  def mirrorChains(seed: Long, rounds: Int): (Seq[Doc], Seq[Truth]) = {
    val lengths = Seq.fill(rounds)(ChainLengths).flatten
    val rows = lengths.zipWithIndex.flatMap { case (len, c) =>
      chainSteps(seed, c, len).zipWithIndex.flatMap { case (toks, s) =>
        (0 until Mirrors).map { m =>
          val url = s"https://mirror$m.example/chain$c/step$s"
          (page(url, toks, Epoch + (c * 1000L + s) * 37000L),
            Truth(url, s"chain$c", positive = true))
        }
      }
    }
    (rows.map(_._1), rows.map(_._2))
  }

  // --- incremental_crawl -----------------------------------------------

  /** One prior page a batch may copy, with its truth group. */
  final case class PriorPage(doc: Doc, group: String)

  /** Truth of the prior crawl in the standard mix, for the near-dup
    * incremental path: exact, alias and near-dup tiers are positives,
    * uniques and the ~0.5 tier negatives; empty and undecodable pages
    * are left out (that path has no exact or empty rule).
    */
  def priorTruth(url: String, group: Long, kind: String): Option[Truth] = kind match {
    case "exact_dup" | "alias" | "near_dup_95" | "near_dup_80" =>
      Some(Truth(url, s"p$group", positive = true))
    case "unique" | "near_dup_50" => Some(Truth(url, s"p$group", positive = false))
    case _ => None
  }

  /** Crawl batch `k`: per 20 rows, 5 exact re-crawls of prior pages
    * under new urls, 5 near-dup edits of prior pages (one token in 40
    * replaced), 2 in-batch near-dup pairs (4 rows) and 6 novel pages.
    * `prior` are the copyable prior pages (uniques); a copied page and
    * its copies form one positive group.
    */
  def crawlBatch(seed: Long, k: Int, size: Int, prior: IndexedSeq[PriorPage])
      : (Seq[Doc], Seq[Truth]) = {
    require(prior.nonEmpty, "no prior pages to re-crawl")
    val host = s"https://crawl${k + 1}.example/b$k"
    val rows = (0 until size).map { i =>
      val key = k.toLong * 1000000L + i
      val ts = Epoch + 86400000L * (k + 1) + i * 1000L
      val url = s"$host/$i"
      def fresh(j: Int): IndexedSeq[String] = {
        val len = 120 + pick(seed, key - j, 2L, 241)
        Vector.tabulate(len)(p => word(seed, key - j, 10L + p))
      }
      (i % 20) match {
        case j if j < 5 =>
          val p = prior(pick(seed, key, 1L, prior.size))
          (p.doc.copy(url = url, warc_ts = new java.sql.Timestamp(ts)),
            Truth(url, p.group, positive = true), Some(p))
        case j if j < 10 =>
          val p = prior(pick(seed, key, 1L, prior.size))
          val toks = p.doc.text.split(' ').toIndexedSeq.zipWithIndex.map { case (t, q) =>
            if (q % 40 == 39) s"n${k}x${i}x$q" else t }
          (page(url, toks, ts), Truth(url, p.group, positive = true), Some(p))
        case j if j < 14 =>
          // rows 10/11 and 12/13: a new page and an edited copy of it
          val lead = j % 2
          val toks = fresh(lead).zipWithIndex.map { case (t, q) =>
            if (lead == 1 && q % 40 == 39) s"m${k}x${i}x$q" else t }
          (page(url, toks, ts), Truth(url, s"b${k}x${i - lead}", positive = true), None)
        case _ =>
          (page(url, fresh(0), ts), Truth(url, url, positive = false), None)
      }
    }
    // a copied prior page joins its copies' positive group
    val copied = rows.flatMap(_._3).map(p => Truth(p.doc.url, p.group, positive = true)).distinct
    (rows.map(_._1), rows.map(_._2) ++ copied)
  }
}
