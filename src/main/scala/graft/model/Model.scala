package graft.model

import org.apache.spark.sql.Column

/** Core data model (SURVEY.md §1).
  *
  * `Doc` is the corpus row per BASELINE.json `input_hint`:
  * (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
  * One row = one dedup "object" (reference: any opaque scalar,
  * Engine.pm:133-136; a file path in the file frontend, Files.pm:235).
  */
final case class Doc(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** Ground-truth side table for the synthetic corpus (FIXTURES.md §1):
  * planted duplicate structure so recall/precision are computable.
  * truth_kind ∈ unique | exact_dup | alias | empty | undecodable |
  * near_dup_95 | near_dup_80 | near_dup_50.
  */
final case class DocTruth(url: String, truth_group: Long, truth_kind: String)

/** A blocking function = pure digest of the object
  * (reference BlockingFunction.pm:24-37: impl + id + name metadata).
  * Here the impl is a Catalyst Column expression over the corpus row —
  * optimizable, codegen'd, no UDF needed for any of the 13 reference
  * digests (SURVEY.md §2.3).
  */
final case class DigestSpec(id: String, name: String, expr: Column)

/** Engine kernel fixture row (FIXTURES.md §2). */
final case class KV(letter: String, n: Int)
