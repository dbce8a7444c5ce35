package graft.functions

import org.apache.spark.sql.{Dataset, Encoder}

/** The capped bucket drain behind every pairing stage (SCALE.md
  * invariant 3, "capped AND surfaced"): MinHash bands, SimHash probe
  * tables, substring windows, winnowing grams, hyperplane buckets and
  * embedding cells all go through [[drainGroups]].
  *
  * Why a streamed drain and not an aggregate: any
  * TypedImperativeAggregate runs under `ObjectHashAggregateExec`, which
  * falls back to SORT-based aggregation after 128 distinct keys per
  * partition and then Encoder-serializes every partial buffer between
  * runs (measured 41% of the 20k-doc pipeline's wall time). Shuffling
  * the keyed rows once and STREAMING each bucket through
  * `groupByKey(...).flatMapGroups` into a buffer of at most cap+1
  * members pays the same shuffle+sort without the per-row buffer
  * ser/de.
  *
  * Skew: flatMapGroups has no map-side combine, so one over-cap
  * bucket's rows all land in one task — O(rows) streaming with O(cap)
  * memory, surfaced by its skip row, never an OOM. `salts > 1` splits
  * such a key over two rounds (the two-level repartition of a hot key
  * in Hyper Dimension Shuffle, VLDB'19).
  */
object CappedGroups {

  /** Drain `it` counting every element but keeping at most cap+1. */
  def drain[T](it: Iterator[T], cap: Int): (Long, collection.IndexedSeq[T]) = {
    val buf = new scala.collection.mutable.ArrayBuffer[T](math.min(cap + 1, 16))
    var n = 0L
    while (it.hasNext) {
      val v = it.next()
      if (n <= cap) buf += v
      n += 1
    }
    (n, buf)
  }

  /** Drain every `key` bucket of `rows` and hand (row count, ≤ cap+1
    * `value`s) to `emit`. Rows stay flat (the key is a function, not a
    * column), so the shuffle carries no nested key struct.
    *
    * `salts == 1`: one round, `groupByKey(key).flatMapGroups` + [[drain]].
    *
    * `salts > 1`: round 1 groups by (key, salt of `member(value)` mod
    * salts), so a hot key's rows spread over `salts` tasks, each
    * draining to a bounded partial (count, ≤ cap+1 values); round 2
    * merges a key's partials. When the total is ≤ cap every row
    * survived its partial, so `emit` sees the complete bucket, as in
    * one round; above the cap it sees the exact total. Salting on the
    * member keeps all rows of one member in one sub-bucket.
    */
  def drainGroups[R, K, V, O](rows: Dataset[R], key: R => K, value: R => V, cap: Int,
      salts: Int, member: V => String)(emit: (Long, collection.IndexedSeq[V]) => Iterator[O])(
      implicit ek: Encoder[K], eks: Encoder[(K, Int)],
      ep: Encoder[(K, Long, Seq[V])], eo: Encoder[O]): Dataset[O] = {
    require(salts >= 1, "salts must be >= 1")
    if (salts == 1)
      rows.groupByKey(key).flatMapGroups { (_, it) =>
        val (n, vs) = drain(it.map(value), cap)
        emit(n, vs)
      }
    else
      saltedPartials(rows, key, value, cap, salts, member).groupByKey(_._1)
        .flatMapGroups { (_, parts) =>
          var total = 0L
          val buf = new scala.collection.mutable.ArrayBuffer[V](16)
          while (parts.hasNext) {
            val (_, n, sample) = parts.next()
            total += n
            if (buf.length <= cap) buf ++= sample
          }
          emit(total, buf)
        }
  }

  /** Round 1 of a salted [[drainGroups]]: one bounded partial
    * (key, count, ≤ cap+1 values) per (key, salt) sub-bucket. Open to
    * tests so they can assert no round-1 group holds a whole hot bucket.
    */
  private[graft] def saltedPartials[R, K, V](rows: Dataset[R], key: R => K, value: R => V,
      cap: Int, salts: Int, member: V => String)(implicit eks: Encoder[(K, Int)],
      ep: Encoder[(K, Long, Seq[V])]): Dataset[(K, Long, Seq[V])] =
    rows
      .groupByKey(r => (key(r), math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(member(value(r))), salts)))
      .mapGroups { (k, it) =>
        val (n, sample) = drain(it.map(value), cap)
        (k._1, n, sample.toSeq)
      }

  /** The id-pair emit: a bucket of 2..cap rows yields the unordered
    * pairs of its distinct ids, (smaller, larger, skipped = 0); an
    * over-cap bucket yields ONE (null, null, n) skip row instead.
    */
  def pairsOrSkip(cap: Int)(n: Long,
      ids: collection.IndexedSeq[String]): Iterator[(String, String, Long)] =
    if (n > cap) Iterator.single((null: String, null: String, n))
    else if (ids.length < 2) Iterator.empty
    else {
      val s = ids.distinct.sorted
      for {
        i <- s.indices.iterator
        j <- ((i + 1) until s.length).iterator
      } yield (s(i), s(j), 0L)
    }
}
