package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the compiled repetition kernels (TextStats.repetitionKernel /
  * dupUnitsKernel — the r6 optimization of q_repetition /
  * q_gopher_rep) against the ORIGINAL Column-expression chains they
  * replaced: same tokenize/split, same distinct and top-multiplicity
  * counts, same code-point char mass, same HALF_UP 6-decimal
  * rounding, bit for bit, on a corpus that exercises every branch
  * (blank/whitespace-only docs, single token, tab-led text whose
  * space-only trim leaves a leading empty token, heavy repetition,
  * ties, astral code points, lone separators) plus seeded random
  * documents ([[graft.RandomText]]).
  */
class RepKernelSpec extends SparkSpec {
  import spark.implicits._

  // seeded random text: repeated tokens, tabs and space runs, astral
  // code points, line and paragraph breaks
  private val random: Seq[(Long, String)] =
    graft.RandomText.docs(32).zipWithIndex.map { case (t, i) => (100L + i, t) }

  private val texts = Seq(
    (1L, "a b a b a b a b"), // heavy bigram repetition
    (2L, "one two three four five"), // all distinct
    (3L, "x"), // single token -> zero bigrams
    (4L, ""), // blank
    (5L, "   "), // spaces only -> trim to empty
    (6L, "\tlead tab text here"), // trim keeps \t -> leading "" token
    (7L, "w w  w\tw\nw"), // mixed whitespace runs
    (8L, (1 to 200).map(i => s"t${i % 7}").mkString(" ")), // long, dup-heavy
    (9L, "tie a tie b tie a tie b"), // top-count tie
    (10L, "🎉 fest 🎉 fest 🎉 fest")) // astral
    .concat(random).toDF("doc_id", "text")

  private val structured = Seq(
    (1L, "aa\nbb\naa\ncc"), // dup line
    (2L, "p1\n\np2\n\np1"), // dup paragraph
    (3L, "only"), // no separators
    (4L, ""), // empty -> zero units
    (5L, "\n\n\n"), // separators only -> empty units dropped
    (6L, "a\n\nb\n\n\nc"), // odd run leaves a lone \n unit at para grain
    (7L, "🎉\n🎉\nxy"), // astral char mass
    (8L, "same\nsame\nsame\nsame"),
    (9L, "x\ny\n\nx\ny")) // cross-grain structure
    .concat(random).toDF("doc_id", "text")

  test("repetition kernel == expression chain") {
    val feats = TextStats.repetitionFeatures(col("bgs"))
    val viaExpr = texts
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextStats.bigrams(col("toks")).as("bgs"))
      .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val viaKernel = texts
      .select(col("doc_id"), TextStats.repetitionKernel(col("text")).as("r"))
      .select(col("doc_id"), col("r._1"), col("r._2"), col("r._3"))
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(viaKernel.keySet == viaExpr.keySet)
    viaKernel.foreach { case (id, v) => assert(v == viaExpr(id), s"doc $id") }
  }

  test("dup-units kernel == expression chain at both grains") {
    for (sep <- Seq("\n", "\n\n")) {
      val feats = TextStats.dupUnitFeatures(col("us"), "u")
      val viaExpr = structured
        .select(col("doc_id"), TextStats.unitArray(col("text"), sep).as("us"))
        .select(col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
        .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val viaKernel = structured
        .select(col("doc_id"), TextStats.dupUnitsKernel(sep)(col("text")).as("r"))
        .select(col("doc_id"), col("r._1"), col("r._2"), col("r._3"))
        .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(viaKernel.keySet == viaExpr.keySet)
      viaKernel.foreach { case (id, v) =>
        assert(v == viaExpr(id), s"sep ${sep.length} doc $id")
      }
    }
  }
}
