package graft

import graft.algo.PathFinder

/** Endpoint path semantics on:
  *   a -> b -> d
  *   a -> c -> d        (two shortest 2-hop routes a~>d)
  *   a -> e -> f -> d   (longer 3-hop route)
  */
class PathFinderSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    ("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"),
    ("a", "e"), ("e", "f"), ("f", "d")
  ).toDF("src", "dst")

  /** `edges` plus d -> a, a cycle back to the first src. */
  private def cyclic = edges.union(Seq(("d", "a")).toDF("src", "dst"))

  test("shortestPaths: returns ALL tied shortest paths, not longer ones") {
    val r = PathFinder.shortestPaths(Seq("a").toDF("vid"), Seq("d").toDF("vid"),
        edges, 5)
      .select("path", "hops").as[(String, Int)].collect().toSet
    assert(r == Set(("a->b->d", 2), ("a->c->d", 2)))
  }

  test("shortestPaths: singlePath picks one deterministic representative") {
    val r = PathFinder.shortestPaths(Seq("a").toDF("vid"), Seq("d").toDF("vid"),
        edges, 5, singlePath = true)
      .select("path").as[String].collect()
    assert(r.sameElements(Array("a->b->d"))) // lexicographically first
  }

  test("shortestPaths: unreachable target yields no row") {
    val r = PathFinder.shortestPaths(Seq("d").toDF("vid"), Seq("a").toDF("vid"),
      edges, 5)
    assert(r.count() == 0)
  }

  test("shortestPaths deep cap (bidirectional): same rows as the forward loop") {
    // maxSteps >= BidiMinSteps routes through the adaptive
    // meet-in-the-middle search — results must be row-identical to the
    // shallow-cap forward loop, including tie multiplicity
    assert(PathFinder.BidiMinSteps <= 6)
    val fwd = PathFinder.shortestPaths(Seq("a").toDF("vid"),
        Seq("d", "f").toDF("vid"), edges, 5)
      .select("src", "dst", "path", "hops")
      .as[(String, String, String, Int)].collect().sorted.toSeq
    val bidi = PathFinder.shortestPaths(Seq("a").toDF("vid"),
        Seq("d", "f").toDF("vid"), edges, 8)
      .select("src", "dst", "path", "hops")
      .as[(String, String, String, Int)].collect().sorted.toSeq
    assert(bidi == fwd, s"bidi $bidi != forward $fwd")
    assert(bidi.toSet == Set(("a", "d", "a->b->d", 2),
      ("a", "d", "a->c->d", 2), ("a", "f", "a->e->f", 2)))
  }

  test("shortestPaths deep cap: parallel edges keep the path multiplicity") {
    // two stored (x, y) edge rows (different types in real data): the
    // vid-rendered path x->y->z legitimately appears TWICE — the
    // canonical-split reconstruction must not dedup it
    val par = Seq(("x", "y"), ("x", "y"), ("y", "z"))
      .toDF("src", "dst")
    val r = PathFinder.shortestPaths(Seq("x").toDF("vid"),
        Seq("z").toDF("vid"), par, 7)
      .select("path").as[String].collect().toSeq
    assert(r.size == 2 && r.toSet == Set("x->y->z"), s"got $r")
  }

  test("shortestPaths deep cap: long chain resolves past the half-depth split") {
    // 7-hop chain under an 8-step cap: the two balls must cooperate
    // across an uneven split (early exit fires when the pair meets)
    val chain = (0 until 7).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val r = PathFinder.shortestPaths(Seq("n0").toDF("vid"),
        Seq("n7").toDF("vid"), chain, 8)
      .select("path", "hops").as[(String, Int)].collect().toSet
    assert(r == Set(((0 to 7).map("n" + _).mkString("->"), 7)), s"got $r")
  }

  test("typedPathsRaw deep cap (bidirectional): same paths as the forward loop") {
    val te = edges.withColumn("etype",
      org.apache.spark.sql.functions.lit("t"))
      .withColumn("rank", org.apache.spark.sql.functions.lit(0L))
    def render(maxSteps: Int) =
      PathFinder.typedPaths(Seq("a").toDF("vid"), Seq("d").toDF("vid"),
          te, maxSteps, "shortest")
        .select("p").as[String].collect().sorted.toSeq
    // 5 = forward loop, 8 = bidirectional (disjoint endpoints) — the
    // rendered typed paths must be identical
    assert(render(8) == render(5), s"${render(8)} != ${render(5)}")
    assert(render(8).size == 2) // both 2-hop ties
  }

  test("bidi resolved-pair pruning: early origin keeps its tied paths") {
    // s1 resolves at distance 2 (two tied routes) and is PRUNED from
    // the forward frontier while s2's 7-hop chain keeps the search
    // alive — the assembly's per-origin cap (fcap_{s1} < fS.top) must
    // still reproduce s1's full tie multiplicity
    val g = (Seq(("s1", "m1"), ("m1", "t"), ("s1", "m2"), ("m2", "t")) ++
      (0 until 6).map(i => (s"c$i", s"c${i + 1}")) :+
      ("s2", "c0") :+ ("c6", "t")).toDF("src", "dst")
    val r = PathFinder.shortestPaths(
        Seq("s1", "s2").toDF("vid"), Seq("t").toDF("vid"), g, 9)
      .select("src", "dst", "path", "hops")
      .as[(String, String, String, Int)].collect().toSet
    assert(r == Set(
      ("s1", "t", "s1->m1->t", 2), ("s1", "t", "s1->m2->t", 2),
      ("s2", "t", "s2->c0->c1->c2->c3->c4->c5->c6->t", 8)), s"got $r")
  }

  test("bidi resolved-pair pruning: early target pruned from the backward ball") {
    // symmetric case: t1 resolves early and leaves the BACKWARD
    // frontier; t2's deep chain keeps expanding. Forward suffix
    // existence at the canonical split must hold for the pruned t1.
    val g = (Seq(("s", "m"), ("m", "t1")) ++
      (0 until 5).map(i => (s"d$i", s"d${i + 1}")) :+
      ("m", "d0") :+ ("d5", "t2")).toDF("src", "dst")
    val r = PathFinder.shortestPaths(
        Seq("s").toDF("vid"), Seq("t1", "t2").toDF("vid"), g, 9)
      .select("dst", "path", "hops")
      .as[(String, String, Int)].collect().toSet
    assert(r == Set(("t1", "s->m->t1", 2),
      ("t2", "s->m->d0->d1->d2->d3->d4->d5->t2", 8)), s"got $r")
  }

  test("typed bidi pruning: staggered pairs render like the deep forward loop") {
    import org.apache.spark.sql.functions.lit
    val g = (Seq(("s1", "m1"), ("m1", "t"), ("s1", "m2"), ("m2", "t")) ++
      (0 until 6).map(i => (s"c$i", s"c${i + 1}")) :+
      ("s2", "c0") :+ ("c6", "t")).toDF("src", "dst")
      .withColumn("etype", lit("t")).withColumn("rank", lit(0L))
    val r = PathFinder.typedPaths(Seq("s1", "s2").toDF("vid"),
        Seq("t").toDF("vid"), g, 9, "shortest")
      .select("p").as[String].collect().sorted.toSeq
    assert(r == Seq(
      "<(\"s1\")-[:t]->(\"m1\")-[:t]->(\"t\")>",
      "<(\"s1\")-[:t]->(\"m2\")-[:t]->(\"t\")>",
      "<(\"s2\")-[:t]->(\"c0\")-[:t]->(\"c1\")-[:t]->(\"c2\")-[:t]->(\"c3\")" +
        "-[:t]->(\"c4\")-[:t]->(\"c5\")-[:t]->(\"c6\")-[:t]->(\"t\")>"), s"got $r")
  }

  test("shortestPaths overlapping endpoints: no src == dst row, bidi equals forward") {
    // a is both a src and a dst, and d -> a closes a cycle back to it:
    // the untyped payload never emits the self pair, on either route
    def rows(maxSteps: Int) = PathFinder.shortestPaths(
        Seq("a", "d").toDF("vid"), Seq("a", "d").toDF("vid"), cyclic,
        maxSteps)
      .select("src", "dst", "path", "hops")
      .as[(String, String, String, Int)].collect().sorted.toSeq
    val (fwd, bidi) = (rows(5), rows(8))
    assert(bidi == fwd, s"bidi $bidi != forward $fwd")
    assert(fwd.toSet == Set(("a", "d", "a->b->d", 2),
      ("a", "d", "a->c->d", 2), ("d", "a", "d->a", 1)), s"got $fwd")
  }

  test("typedPaths overlapping endpoints at a deep cap: self-pair cycles found") {
    import org.apache.spark.sql.functions.lit
    val te = cyclic.withColumn("etype", lit("t")).withColumn("rank", lit(0L))
    def render(maxSteps: Int) = PathFinder.typedPaths(
        Seq("a", "d").toDF("vid"), Seq("a", "d").toDF("vid"), te, maxSteps,
        "shortest")
      .select("p").as[String].collect().sorted.toSeq
    def p(vs: String*) = vs.map(v => s"""("$v")""").mkString("<", "-[:t]->", ">")
    val deep = render(8)
    assert(deep.size == 7 && deep.toSet == Set(
      p("a", "b", "d"), p("a", "c", "d"), p("a", "b", "d", "a"),
      p("a", "c", "d", "a"), p("d", "a"), p("d", "a", "b", "d"),
      p("d", "a", "c", "d")), s"got $deep")
    assert(deep == render(5))
  }

  test("bigint vids: rendered paths and typed empty results") {
    val big = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 5L)).toDF("src", "dst")
    for (maxSteps <- Seq(5, 8)) {
      val r = PathFinder.shortestPaths(Seq(1L).toDF("vid"),
          Seq(4L).toDF("vid"), big, maxSteps)
        .select("path", "hops").as[(String, Int)].collect().toSeq
      assert(r == Seq(("1->2->4", 2)), s"cap $maxSteps: got $r")
    }
    val all = PathFinder.allPaths(Seq(1L).toDF("vid"),
        Seq(4L, 5L).toDF("vid"), big, 4)
      .select("path").as[String].collect().toSet
    assert(all == Set("1->2->4", "1->3->5"))
    val none = Seq(
      PathFinder.shortestPaths(Seq(4L).toDF("vid"), Seq(1L).toDF("vid"), big, 4),
      PathFinder.shortestPaths(Seq.empty[Long].toDF("vid"),
        Seq(4L).toDF("vid"), big, 4),
      PathFinder.allPaths(Seq.empty[Long].toDF("vid"), Seq(4L).toDF("vid"),
        big, 4))
    none.foreach { df =>
      assert(df.count() == 0)
      assert(df.schema("src").dataType == org.apache.spark.sql.types.LongType &&
        df.schema("dst").dataType == org.apache.spark.sql.types.LongType,
        s"untyped empty result: ${df.schema}")
    }
  }

  test("allPaths: every simple path up to the cap") {
    val r = PathFinder.allPaths(Seq("a").toDF("vid"), Seq("d").toDF("vid"),
        edges, 4)
      .select("path").as[String].collect().toSet
    assert(r == Set("a->b->d", "a->c->d", "a->e->f->d"))
  }

  test("allPaths: maxSteps cuts long routes") {
    val r = PathFinder.allPaths(Seq("a").toDF("vid"), Seq("d").toDF("vid"),
        edges, 2)
      .select("path").as[String].collect().toSet
    assert(r == Set("a->b->d", "a->c->d"))
  }
}
