package graft.near

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins the compiled verification kernels (VerifMinHash — the r6
  * optimization of q_minhash_sigs / q_bbit_sketch / q_minhash_oph)
  * against the ORIGINAL Column-expression chains they replaced: same
  * shingling, same md5-prefix hash, same affine-permutation minima,
  * bit for bit, on a corpus that exercises every branch (short docs,
  * whole-doc shingles, duplicate shingles, the >= 6-token bbit path,
  * empty-ish docs with odd whitespace) plus seeded random documents
  * ([[graft.RandomText]]).
  */
class VerifKernelSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = Seq(
    // >= 6 tokens, repeated shingles (dedup-irrelevance of the min fold)
    (1L, "a b c d e f g h a b c d e f g h a b c d e f"),
    (2L, "one two three four five six"),
    (3L, "exactly five tokens here now"), // < 6: whole window path (sigs), fallback (bbit)
    (4L, "under five toks"), // whole-doc shingle
    (5L, "x"), // single token
    (6L, "  leading\tand   trailing  mixedwhitespace tokens here okay fine "),
    (7L, (1 to 300).map(i => s"tok${i % 37}").mkString(" ")), // long, heavy dup shingles
    (8L, "six exact tokens touch boundary case")) ++
    // seeded random text: repeated tokens, tabs and space runs, astral
    // code points, line and paragraph breaks
    graft.RandomText.docs(24).zipWithIndex.map { case (t, i) => (100L + i, t) }
  private val docs = fixtures.toDF("doc_id", "text")

  private val toksDf = docs
    .filter(col("text").isNotNull && trim(col("text")) =!= "")
    .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))

  // the ORIGINAL expression chain, straight from SparkEntry
  private def exprSigs(hs: Column): Column = graft.SparkEntry.verifSigs(hs)

  private val a = graft.SparkEntry.verifPerms.map(_._1).toArray
  private val b = graft.SparkEntry.verifPerms.map(_._2).toArray

  test("sigs kernel == expression chain (128 perms)") {
    val viaExpr = toksDf
      .select(col("doc_id"), graft.SparkEntry.verifShingleStrs(col("toks")).as("ss"))
      .select(col("doc_id"), graft.SparkEntry.verifHashes(col("ss")).as("hs"))
      .select(col("doc_id"), when(size(col("hs")) >= 0, exprSigs(col("hs"))).as("g"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaKernel = toksDf.as[(Long, Seq[String])].collect()
      .map { case (id, toks) =>
        id -> VerifMinHash.sigs(toks.toIndexedSeq, a, b).toSeq
      }.toMap
    assert(viaKernel.keySet == viaExpr.keySet)
    viaKernel.foreach { case (id, sig) => assert(sig == viaExpr(id), s"doc $id") }
  }

  test("bbit kernel == two independent expression chains") {
    def matches(cond: (Column, Column) => Column) = aggregate(
      zip_with(col("g1"), col("g2"),
        (x, y) => when(cond(x, y), 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    val viaExpr = toksDf
      .filter(size(col("toks")) >= 6)
      .select(col("doc_id"), col("toks"),
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("toks2"))
      .select(col("doc_id"),
        graft.SparkEntry.verifShingleStrs(col("toks")).as("ss1"),
        graft.SparkEntry.verifShingleStrs(col("toks2")).as("ss2"))
      .select(col("doc_id"),
        graft.SparkEntry.verifHashes(col("ss1")).as("h1"),
        graft.SparkEntry.verifHashes(col("ss2")).as("h2"))
      .select(col("doc_id"),
        when(size(col("h1")) >= 0, exprSigs(col("h1"))).as("g1"),
        when(size(col("h2")) >= 0, exprSigs(col("h2"))).as("g2"))
      .select(col("doc_id"),
        matches(_ === _).as("m_full"),
        matches((x, y) => (x % 4) === (y % 4)).as("m_bbit"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val viaKernel = toksDf.filter(size(col("toks")) >= 6)
      .as[(Long, Seq[String])].collect()
      .map { case (id, toks) =>
        id -> VerifMinHash.bbitMatches(toks.toIndexedSeq, a, b)
      }.toMap
    assert(viaKernel.keySet == viaExpr.keySet && viaKernel.nonEmpty)
    viaKernel.foreach { case (id, m) => assert(m == viaExpr(id), s"doc $id") }
    // the < 6-token general path (not reachable through the query's
    // filter, but part of the kernel's contract): two independent sigs
    val short = IndexedSeq("exactly", "five", "tokens", "here", "now")
    val s1 = VerifMinHash.sigs(short, a, b)
    val s2 = VerifMinHash.sigs(short.dropRight(1), a, b)
    val mFull = s1.zip(s2).count { case (x, y) => x == y }.toLong
    val mBbit = s1.zip(s2).count { case (x, y) => (x & 3) == (y & 3) }.toLong
    assert(VerifMinHash.bbitMatches(short, a, b) == (mFull, mBbit))
  }

  test("oph kernel == expression chain (one perm, 32 bins, densified)") {
    val (ophA, ophB) = (graft.SparkEntry.ophA, graft.SparkEntry.ophB)
    val viaExpr = toksDf
      .select(col("doc_id"), graft.SparkEntry.verifShingleStrs(col("toks")).as("ss"))
      .select(col("doc_id"),
        when(size(col("ss")) >= 0, graft.SparkEntry.verifHashes(col("ss"))).as("hs"))
      .select(col("doc_id"),
        when(size(col("hs")) >= 0, transform(col("hs"),
          h => (lit(ophA) * h + lit(ophB)) % lit(2147483647L))).as("vs"))
      .select(col("doc_id"),
        when(size(col("vs")) >= 0, transform(sequence(lit(0), lit(31)),
          j => array_min(filter(col("vs"), v => v % 32 === j.cast("long"))))).as("mins"))
      .select(col("doc_id"),
        when(size(col("mins")) >= 0,
          transform(sequence(lit(0), lit(31)),
            j => array_min(filter(
              transform(sequence(lit(0), lit(31)), d =>
                element_at(col("mins"), pmod(j + d, lit(32)) + 1) +
                  d.cast("long") * lit(2147483648L)),
              x => x.isNotNull)))).as("g"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaKernel = toksDf.as[(Long, Seq[String])].collect()
      .map { case (id, toks) =>
        id -> VerifMinHash.ophDensified(toks.toIndexedSeq, ophA, ophB, 32).toSeq
      }.toMap
    assert(viaKernel.keySet == viaExpr.keySet)
    viaKernel.foreach { case (id, sig) => assert(sig == viaExpr(id), s"doc $id") }
  }
}
