package graft

import org.scalacheck.{Gen, rng}

/** Seeded random documents for the kernel ≡ expression specs: 0–400
  * tokens drawn from a small vocabulary (so tokens, shingles and lines
  * repeat), separated mostly by one space but also by tabs, runs of
  * spaces and `\n` / `\n\n` / `\n\n\n` breaks, with astral code points
  * (U+1F389, U+1D518) and an accented BMP token in the vocabulary.
  */
object RandomText {

  private val vocab: Vector[String] = Vector(
    "a", "b", "the", "tok", "x1", "w", "été", "🎉", "𝔘x")

  private val seps: Vector[String] =
    Vector("  ", "   ", "\t", " \t ", "\n", "\n\n", "\n\n\n", " \n")

  private val gap: Gen[String] = Gen.frequency(6 -> Gen.const(" "), 1 -> Gen.oneOf(seps))

  val doc: Gen[String] = for {
    n <- Gen.choose(0, 400)
    lead <- Gen.oneOf("", " ", "\t", "\n")
    toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    gaps <- Gen.listOfN(n, gap)
  } yield lead + toks.zip(gaps).map { case (t, g) => t + g }.mkString

  /** `count` documents, document i drawn with seed `seed + i`. */
  def docs(count: Int, seed: Long = 4711L): Seq[String] =
    (0 until count).map(i => doc.pureApply(Gen.Parameters.default, rng.Seed(seed + i)))
}
