package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.DigestSpec

/** The 13 blocking-key (digest) functions of the reference
  * (`/root/reference/lib/Data/Dedup/Files/DigestFactory.pm:32-229`,
  * SURVEY.md §2.3), re-expressed as pure Catalyst Column expressions
  * over a BINARY content column. Every digest is built-in-only
  * (substring / octet_length / sha1 / sha2 / xxhash64 / md5 /
  * greatest / least) — codegen'd, no UDFs, so Catalyst can prune the
  * content column for rows a cheaper digest already resolved.
  *
  * Semantics parity notes:
  *  - `cluster = min(size, blksize)` with blksize default 4096
  *    (DigestFactory.pm:63-64); kept as a constant parameter so
  *    sampled-digest offsets are reproducible (SURVEY.md §1.3).
  *  - Perl `int()` truncates toward zero; offsets here are computed in
  *    double and cast to long (same truncation) before use.
  *  - reference xxHash is 32-bit seed-0 (DigestFactory.pm:139); we use
  *    Spark's built-in xxhash64 (seed 42). Different function, same
  *    role — final groups are unaffected because intermediate digests
  *    can only split, never merge (Engine.pm:490-495, SURVEY §1.2.2).
  *  - reference SHA-1 returns raw binary digest (DigestFactory.pm:175);
  *    Spark's sha1() returns lowercase hex. Same role.
  *  - empty content: sample digests return '' and hash digests hash ''
  *    (DigestFactory.pm:62,159,204) — reproduced via `when` guards, so
  *    all empty docs still group together (Files.t:253-258).
  */
object Digests {

  val ClusterSize: Int = 4096

  /** Truncate-toward-zero of a double column, as long. */
  private def trunc0(c: Column): Column = c.cast("long")

  private def bsub(content: Column, off: Column, len: Column): Column =
    substring(content, (off + lit(1)).cast("int"), len.cast("int"))

  private def size(content: Column): Column = octet_length(content).cast("long")

  private def cluster(content: Column, blk: Int): Column =
    least(size(content), lit(blk.toLong))

  /** sample: 128 raw bytes centered in the first cluster
    * (DigestFactory.pm:58-69): offset = max(0, cluster/2 - 128).
    */
  private def sampleExpr(content: Column): Column = {
    val cl = cluster(content, ClusterSize)
    val off = greatest(lit(0L), trunc0(cl.cast("double") / 2 - 128))
    when(cl <= 0, lit(Array.emptyByteArray)).otherwise(bsub(content, off, lit(128)))
  }

  /** end_sample: 128 bytes from the middle of the last cluster, cluster
    * borrowed back if the tail is shorter than 128 B
    * (DigestFactory.pm:71-88).
    */
  private def endSampleExpr(content: Column): Column = {
    val sz = size(content)
    val cl = cluster(content, ClusterSize)
    val lco0 = trunc0((sz - 1).cast("double") / cl.cast("double")) * cl
    val lcs0 = sz - lco0
    val lco = when(lcs0 < 128, lco0 - cl).otherwise(lco0)
    val lcs = when(lcs0 < 128, cl).otherwise(lcs0)
    val off = greatest(lit(0L), lco + trunc0(lcs.cast("double") / 2) - 128)
    when(cl <= 0, lit(Array.emptyByteArray)).otherwise(bsub(content, off, lit(128)))
  }

  /** mid_sample: 128 bytes from the middle of the middle cluster
    * (DigestFactory.pm:90-102): mco = int((size/2 - 1)/cluster)*cluster.
    */
  private def midSampleExpr(content: Column): Column = {
    val sz = size(content)
    val cl = cluster(content, ClusterSize)
    val mco = trunc0((sz.cast("double") / 2 - 1) / cl.cast("double")) * cl
    val off = greatest(lit(0L), mco + trunc0(cl.cast("double") / 2) - 128)
    when(cl <= 0, lit(Array.emptyByteArray)).otherwise(bsub(content, off, lit(128)))
  }

  /** first min(size,1024) bytes (DigestFactory.pm:105-116). */
  private def headExpr(content: Column): Column = {
    val n = least(size(content), lit(1024L))
    when(n <= 0, lit(Array.emptyByteArray)).otherwise(bsub(content, lit(0L), n))
  }

  /** last min(size,1024) bytes (DigestFactory.pm:118-129). */
  private def tailExpr(content: Column): Column = {
    val sz = size(content)
    val n = least(sz, lit(1024L))
    when(n <= 0, lit(Array.emptyByteArray)).otherwise(bsub(content, sz - n, n))
  }

  /** final-cluster slice with the borrow-back rule of final_xxhash /
    * final_sha (DigestFactory.pm:154-172, 199-217): if the tail is
    * shorter than cluster/2, borrow the previous cluster; reads
    * `cluster` bytes from the final offset (short reads at EOF fold
    * into substring semantics identically).
    */
  private def finalClusterExpr(content: Column): Column = {
    val sz = size(content)
    val cl = cluster(content, ClusterSize)
    val lco0 = trunc0((sz - 1).cast("double") / cl.cast("double")) * cl
    val lcs0 = sz - lco0
    val lco = when(lcs0 < trunc0(cl.cast("double") / 2), lco0 - cl).otherwise(lco0)
    when(cl <= 0, lit(Array.emptyByteArray)).otherwise(bsub(content, greatest(lit(0L), lco), cl))
  }

  private def firstBytes(content: Column, blk: Int): Column = {
    val n = least(size(content), lit(blk.toLong))
    when(n <= 0, lit(Array.emptyByteArray)).otherwise(bsub(content, lit(0L), n))
  }

  /** The raw byte-slice expressions underlying the digests — exposed
    * so alternate hash functions (e.g. md5 for the DuckDB oracle) can
    * be applied to identical slices.
    */
  def slices(content: Column): Map[String, Column] = Map(
    "sample" -> sampleExpr(content),
    "end_sample" -> endSampleExpr(content),
    "mid_sample" -> midSampleExpr(content),
    "file_head" -> headExpr(content),
    "file_tail" -> tailExpr(content),
    "first_half_cluster" -> firstBytes(content, ClusterSize / 2),
    "first_cluster" -> firstBytes(content, ClusterSize),
    "final_cluster" -> finalClusterExpr(content))

  /** All 13 digests keyed by reference id (enumerated in
    * `/root/reference/bin/dedup_files:56-109`). `content` must be a
    * BINARY column.
    */
  def all(content: Column): Map[String, DigestSpec] = Map(
    "filesize" -> DigestSpec("filesize", "filesize", size(content)),
    "sample" -> DigestSpec("sample", "first-cluster sample", sampleExpr(content)),
    "end_sample" -> DigestSpec("end_sample", "last-cluster sample", endSampleExpr(content)),
    "mid_sample" -> DigestSpec("mid_sample", "mid-file sample", midSampleExpr(content)),
    "file_head" -> DigestSpec("file_head", "first bytes of file", headExpr(content)),
    "file_tail" -> DigestSpec("file_tail", "last bytes of file", tailExpr(content)),
    "fast_initial_xxhash" -> DigestSpec(
      "fast_initial_xxhash", "first-half-cluster xxHash",
      xxhash64(firstBytes(content, ClusterSize / 2))),
    "initial_xxhash" -> DigestSpec(
      "initial_xxhash", "first-cluster xxHash",
      xxhash64(firstBytes(content, ClusterSize))),
    "final_xxhash" -> DigestSpec(
      "final_xxhash", "last-cluster xxHash", xxhash64(finalClusterExpr(content))),
    "fast_initial_sha" -> DigestSpec(
      "fast_initial_sha", "first-half-cluster SHA-1",
      sha1(firstBytes(content, ClusterSize / 2))),
    "initial_sha" -> DigestSpec(
      "initial_sha", "first-cluster SHA-1", sha1(firstBytes(content, ClusterSize))),
    "final_sha" -> DigestSpec(
      "final_sha", "last-cluster SHA-1", sha1(finalClusterExpr(content))),
    "sha" -> DigestSpec("sha", "SHA-1", sha1(content)),
    // [EXT] optional final byte-compare stage (Theory.pod:113-118
    // describes it; the reference never implemented it): group on the
    // raw content bytes themselves, closing the documented
    // "hash collision is undetectable" caveat. Off by default — enable
    // with `--alg ... --alg bytes` or Main's --byte-verify.
    "bytes" -> DigestSpec("bytes", "full content bytes", content)
  )

  /** The default cascade's ids: filesize → initial_xxhash → sha
    * (DigestFactory.pm:33-39 — the code's 3 levels win over the
    * manpage's documented 4, SURVEY.md §2.3).
    */
  val DefaultAlgs: Seq[String] = Seq("filesize", "initial_xxhash", "sha")

  /** Cascade selection by id list — parity with `--alg`
    * (CLI.pm:89-97). Unknown ids fail fast like Engine BUILD
    * validation (Engine.pm:168-214).
    */
  def cascade(content: Column, algs: Seq[String]): Seq[DigestSpec] = {
    val a = all(content)
    algs.map(id =>
      a.getOrElse(id, throw new IllegalArgumentException(
        s"unknown digest id '$id'; known: ${a.keys.toSeq.sorted.mkString(", ")}")))
  }
}
