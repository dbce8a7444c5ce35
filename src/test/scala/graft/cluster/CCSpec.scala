package graft.cluster

import graft.SparkSpec

class CCSpec extends SparkSpec {
  import spark.implicits._

  test("keep-best representatives: arg-max quality, min-id tie-break, map-side aggregate") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("g1", 10L, 0.5), ("g1", 7L, 0.9), ("g1", 3L, 0.9), // tie at 0.9 -> min id 3
      ("g2", 1L, 0.2),
      ("g3", 5L, 0.0), ("g3", 6L, 0.0)) // all-zero scores -> min id, +0.0 out
      .toDF("grp", "doc_id", "q")
    val reps = KeepBest.representatives(df, Seq("grp"), col("q"), "doc_id")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(reps == Map("g1" -> ((3L, 0.9)), "g2" -> ((1L, 0.2)), "g3" -> ((5L, 0.0))))
    assert(!reps.values.exists(v => v._2.equals(-0.0))) // no negative-zero leak
    val kept = KeepBest.markKept(df, Seq("grp"), col("q"), "doc_id")
      .filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 1L, 5L))
  }

  test("keep-best works for string ids (url clusters) with zero-score groups") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("c1", "u-b", 0.4), ("c1", "u-a", 0.4), ("c1", "u-z", 0.1), // tie -> min url
      ("c2", "u-x", 0.0)) // zero score must emit +0.0, not -0.0
      .toDF("cid", "url", "q")
    val reps = KeepBest.representatives(df, Seq("cid"), col("q"), "url")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(reps == Map("c1" -> (("u-a", 0.4)), "c2" -> (("u-x", 0.0))))
    assert(java.lang.Double.doubleToRawLongBits(reps("c2")._2) == 0L) // bitwise +0.0
  }

  test("markKept keeps null-group rows (null-safe join back)") {
    import org.apache.spark.sql.functions._
    val df = Seq((Option("g"), 1L, 0.5), (Option.empty[String], 2L, 0.7),
      (Option.empty[String], 3L, 0.9)).toDF("grp", "doc_id", "q")
    val kept = KeepBest.markKept(df, Seq("grp"), col("q"), "doc_id")
    assert(kept.count() == 3) // null-group rows must not vanish
    assert(kept.filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  // each small case runs on the driver-side finisher (default gate)
  // and on the purely distributed star rounds (gate 0); the default-
  // gate names are the historical ones
  for ((suffix, gate) <- Seq("" -> ConnectedComponents.LocalBelow,
      " [distributed, localBelow = 0]" -> 0)) {
    test("chain collapses to one component rooted at the min" + suffix) {
      val e = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")).toDF("src", "dst")
      val cc = ConnectedComponents.run(e, localBelow = gate).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a"))
    }

    test("multiple components stay separate" + suffix) {
      val e = Seq(("b", "a"), ("d", "c"), ("e", "d"), ("g", "f")).toDF("src", "dst")
      val cc = ConnectedComponents.run(e, localBelow = gate).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc("a") == "a" && cc("b") == "a")
      assert(cc("c") == "c" && cc("d") == "c" && cc("e") == "c")
      assert(cc("f") == "f" && cc("g") == "f")
    }

    test("cycle + duplicate + self-loop edges converge" + suffix) {
      val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "b"), ("a", "a")).toDF("src", "dst")
      val cc = ConnectedComponents.run(e, localBelow = gate).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc.values.toSet == Set("a") && cc.keySet == Set("a", "b", "c"))
    }

    test("star graph is already converged" + suffix) {
      val e = Seq(("z1", "a"), ("z2", "a"), ("z3", "a")).toDF("src", "dst")
      val cc = ConnectedComponents.run(e, localBelow = gate).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc.values.toSet == Set("a") && cc.size == 4)
    }

    test("component label is the min under Spark's UTF-8 byte order" + suffix) {
      // U+FFFD (EF BF BD) sorts before U+10000 (F0 90 80 80) in UTF-8
      // bytes, but after it in UTF-16 units (FFFD vs D800 DC00)
      val hi = "\uD800\uDC00"
      val e = Seq(("\uFFFD", hi), (hi, "\uFFFDx")).toDF("src", "dst")
      val cc = ConnectedComponents.run(e, localBelow = gate).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc == Map("\uFFFD" -> "\uFFFD", hi -> "\uFFFD", "\uFFFDx" -> "\uFFFD"))
    }

    test("null endpoints are dropped, every other endpoint is labelled" + suffix) {
      val e = Seq((Option("b"), Option("a")), (None, Option("c")), (Option("d"), None),
        (Option("e"), Option("e"))).toDF("src", "dst")
      val cc = ConnectedComponents.run(e, localBelow = gate).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc == Map("a" -> "a", "b" -> "a"))
    }
  }

  test("a skewed edge frame within the gate is still finished on the driver") {
    // 10 edges at gate 10 over two input partitions of 8 and 2 rows:
    // the 8-row partition is over its share (10 / 2) and holds its rows
    // back, so the finisher collects the checkpointed frame once more
    val chain = Seq("b", "c", "d", "e", "f", "g", "h", "i").zip(Seq("a", "b", "c", "d", "e", "f", "g", "h"))
    val e = spark.sparkContext.parallelize(Seq(chain, Seq(("x", "y"), ("y", "z"))), 2)
      .flatMap(identity).toDF("src", "dst")
    assert(e.rdd.glom().map(_.length).collect().toSeq == Seq(8, 2))
    val cc = ConnectedComponents.run(e, localBelow = 10).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == ("abcdefghi".map(c => c.toString -> "a") ++ "xyz".map(c => c.toString -> "x")).toMap)
  }

  test("non-convergence within maxIter throws instead of returning partial labels") {
    val e = (1 until 64).map(i => (f"c$i%02d", f"c${i - 1}%02d")).toDF("src", "dst")
    val err = intercept[IllegalStateException] {
      ConnectedComponents.run(e, maxIter = 1, localBelow = 0)
    }
    assert(err.getMessage.contains("1 iterations") && err.getMessage.contains("of 63"))
  }

  // 100k edges is above the default gate: the distributed rounds run
  test("100k-member hub star converges without window skew (de-skewed min aggregate)") {
    import org.apache.spark.sql.functions._
    // one giant hub: every edge shares src "hub" — the shape that
    // stalled a single task under Window.partitionBy(src)
    val e = spark.range(100000)
      .select(concat(lit("n"), format_string("%06d", col("id"))).as("src"), lit("hub").as("dst"))
    val cc = ConnectedComponents.run(e)
    assert(cc.count() == 100001L)
    assert(cc.select("component").distinct().count() == 1L)
    assert(cc.select(min(col("component"))).head().getString(0) == "hub")
  }

  // --- IncrementalCC: patch a standing assignment with a delta ---

  private def assignOf(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("incremental merge: batch doc bridges two prior components") {
    // prior clusters {a1,a2} (root a1) and {b1,b2} (root b1); batch doc
    // x touches one member of each -> everything collapses to a1
    val prior = Seq(("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1"),
      ("c1", "c1")).toDF("id", "component") // c1: untouched bystander
    val delta = Seq(("x", "a2"), ("x", "b1")).toDF("src", "dst")
    val m = IncrementalCC.merge(prior, delta)
    val relabel = m.relabel.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(relabel == Map("b1" -> "a1")) // only the losing root relabels
    assert(assignOf(m.newAssign) == Map("x" -> "a1"))
    val patched = assignOf(IncrementalCC.patch(prior, m))
    assert(patched == Map("a1" -> "a1", "a2" -> "a1", "b1" -> "a1",
      "b2" -> "a1", "c1" -> "c1", "x" -> "a1"))
  }

  test("incremental merge: batch id becomes the new global minimum") {
    val prior = Seq(("m1", "m1"), ("m2", "m1")).toDF("id", "component")
    val delta = Seq(("a0", "m2")).toDF("src", "dst") // a0 < m1
    val m = IncrementalCC.merge(prior, delta)
    assert(m.relabel.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("m1" -> "a0"))
    assert(assignOf(m.newAssign) == Map("a0" -> "a0"))
    assert(assignOf(IncrementalCC.patch(prior, m)) ==
      Map("m1" -> "a0", "m2" -> "a0", "a0" -> "a0"))
  }

  test("incremental merge: prior-to-prior bridge has empty newAssign") {
    val prior = Seq(("a", "a"), ("b", "a"), ("c", "c"), ("d", "c"))
      .toDF("id", "component")
    val delta = Seq(("b", "d")).toDF("src", "dst")
    val m = IncrementalCC.merge(prior, delta)
    assert(m.newAssign.count() == 0L)
    assert(assignOf(IncrementalCC.patch(prior, m)) ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"))
  }

  test("incremental merge equals from-scratch CC on a seeded random graph") {
    // 120 nodes, seeded edges; prior = edges among even nodes, delta =
    // every edge touching an odd node (the q_incremental_cc split)
    val rnd = new scala.util.Random(7)
    def name(i: Int) = f"n$i%03d"
    val all = (0 until 120).map(name)
    val edges = Seq.fill(140)((rnd.nextInt(120), rnd.nextInt(120)))
      .filter { case (a, b) => a != b }.map { case (a, b) => (name(a), name(b)) }
    def even(s: String) = s.drop(1).toInt % 2 == 0
    val (priorE, deltaE) = edges.partition { case (a, b) => even(a) && even(b) }
    val priorIds = all.filter(even)
    val priorCc = assignOf(ConnectedComponents.run(priorE.toDF("src", "dst")))
    val priorAssign = priorIds.map(i => i -> priorCc.getOrElse(i, i))
      .toDF("id", "component")
    val m = IncrementalCC.merge(priorAssign, deltaE.toDF("src", "dst"))
    val patched = assignOf(IncrementalCC.patch(priorAssign, m))
    val full = assignOf(ConnectedComponents.run(edges.toDF("src", "dst")))
    // patched covers prior ids + delta endpoints; every one must agree
    // with the from-scratch labels (isolated ids default to themselves)
    patched.foreach { case (id, comp) =>
      assert(comp == full.getOrElse(id, id), s"id=$id") }
    val deltaEndpoints = deltaE.flatMap(e => Seq(e._1, e._2)).toSet
    assert((priorIds.toSet ++ deltaEndpoints) == patched.keySet)
  }
}
