package graft

import org.apache.spark.sql.functions._
import graft.traverse.Traverse
import graft.traverse.Traverse.{Both, In, Out}

/** Semantics of the traversal library on a small handmade graph:
  *
  *   a -> b -> c -> d        (chain)
  *   a -> c                  (shortcut)
  *   d -> a                  (back edge, makes a cycle)
  */
class TraverseSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    ("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a")
  ).toDF("src", "dst")

  private def seeds(vs: String*) = vs.toDF("vid")

  test("go: exact 1 step out") {
    val r = Traverse.go(seeds("a"), edges, 1, 1)
      .select("vid").as[String].collect().sorted
    assert(r.sameElements(Array("b", "c")))
  }

  test("go: step range m..n stamps steps and dedups per step") {
    val r = Traverse.go(seeds("a"), edges, 1, 2)
      .as[(String, String, Int)].collect().toSet
    // step1: b, c; step2: c (via b), d (via c)
    assert(r == Set(("a", "b", 1), ("a", "c", 1), ("a", "c", 2), ("a", "d", 2)))
  }

  test("go: In direction reverses edges") {
    val r = Traverse.go(seeds("c"), edges, 1, 1, dir = In)
      .select("vid").as[String].collect().sorted
    assert(r.sameElements(Array("a", "b")))
  }

  test("go: Both direction unions both orientations") {
    val r = Traverse.go(seeds("b"), edges, 1, 1, dir = Both)
      .select("vid").as[String].collect().sorted
    assert(r.sameElements(Array("a", "c")))
  }

  test("go: empty frontier exits early with empty result") {
    val r = Traverse.go(seeds("zzz"), edges, 1, 5)
    assert(r.count() == 0)
  }

  test("go: edge-multiplicity mode keeps duplicate rows") {
    val dup = edges.unionByName(Seq(("a", "b")).toDF("src", "dst"))
    val ded = Traverse.go(seeds("a"), dup, 1, 1).count()
    val bag = Traverse.goYield(seeds("a"), dup, 1, 1).count()
    assert(ded == 2 && bag == 3)
  }

  test("paths: cycle check stops the a->...->a loop") {
    val r = Traverse.paths(seeds("a"), edges, 1, 6)
      .select(array_join(col("path"), "-").as("p")).as[String].collect().toSet
    // no path may revisit a vertex; longest is a-b-c-d
    assert(r.forall(p => p.split("-").distinct.length == p.split("-").length))
    assert(r.contains("a-b-c-d"))
    assert(!r.exists(_.endsWith("-a"))) // cycle back to a is cut
  }

  test("appendVertices: prefixes prop columns, colliding names survive") {
    val verts = Seq(("b", "Bee", 1), ("c", "Sea", 2)).toDF("vid", "name", "step")
    val trav = Traverse.go(seeds("a"), edges, 1, 1)
    val r = Traverse.appendVertices(trav, verts, prefix = "v_")
    assert(r.columns.contains("v_name") && r.columns.contains("v_step"))
    assert(r.columns.count(_ == "step") == 1) // traversal's own step intact
    val byVid = r.select("vid", "v_name").as[(String, String)].collect().toMap
    assert(byVid("b") == "Bee" && byVid("c") == "Sea")
  }

  test("shortestDistances: min hop counts with visited pruning") {
    val r = Traverse.shortestDistances(seeds("a"), edges, 5)
      .as[(String, String, Int)].collect()
      .map { case (_, v, d) => v -> d }.toMap
    assert(r == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
  }

  private def typed(e: org.apache.spark.sql.DataFrame) =
    e.withColumn("etype", lit("e")).withColumn("rank", lit(0L))

  test("subgraph: returns vertices with depth AND induced edges") {
    val verts = Traverse.subgraph(seeds("a"), edges, 1, Out)
    val vs = verts.as[(String, Int)].collect().toMap
    assert(vs == Map("a" -> 0, "b" -> 1, "c" -> 1))
    val es = Traverse.inducedEdges(verts, Traverse.orientCols(typed(edges), Out))
      .select("ss", "sd").as[(String, String)].collect().toSet
    // only edges with BOTH endpoints reached: a->b, a->c, b->c
    assert(es == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  /** Checkpoints and caches created while `body` runs on this thread that
    * are still live after it. Suites share the session and run
    * concurrently, so only RDDs whose creation site is this call's tag
    * are counted. */
  private def liveAfter(body: => Unit): Int = {
    val sc = spark.sparkContext
    val site = s"live-check-${java.util.UUID.randomUUID}"
    sc.setCallSite(site)
    try body finally sc.clearCallSite()
    sc.getPersistentRDDs.values.count(_.toString.endsWith(s" at $site"))
  }

  test("level checkpoints: only the levels a result reads stay live") {
    // goYield's step-3 rows are the lazy hop out of level 2: one level
    assert(liveAfter(Traverse.goYield(seeds("a"), edges, 3, 3).collect()) == 1)
    // subgraph's vertices are the visited checkpoint; its edges are lazy
    assert(liveAfter {
      val v = Traverse.subgraph(seeds("a"), edges, 2, Out)
      v.collect()
      Traverse.inducedEdges(v, Traverse.orientCols(typed(edges), Out)).collect()
    } == 1)
  }

  test("differential: go, goYield, shortestDistances and subgraph agree") {
    // a cycle a->b->c->a, a self-loop c->c, parallel a->b edges with
    // different ranks, and z: an isolated vertex
    val g = Seq(("a", "b", 0L), ("a", "b", 1L), ("b", "c", 0L),
      ("c", "a", 0L), ("c", "c", 0L), ("c", "d", 0L))
      .toDF("src", "dst", "rank").withColumn("etype", lit("e"))
    val from = seeds("a", "d", "z")
    for (dir <- Seq(Out, In, Both); (m, n) <- Seq((1, 1), (1, 3), (2, 3))) {
      val ctx = s"$dir $m..$n"
      val go = Traverse.go(from, g, m, n, dir)
        .as[(String, String, Int)].collect().toSet
      val yielded = Traverse.goYield(from, g, m, n, dir)
        .select("origin", "dst", "step").as[(String, String, Int)]
        .collect().toSet
      assert(go == yielded, ctx)
      if (m == 1) {
        val dist = Traverse.shortestDistances(from, g, n, dir)
          .as[(String, String, Int)].collect()
          .map { case (o, v, d) => (o, v) -> d }.toMap
        val minStep = go.groupBy { case (o, v, _) => (o, v) }
          .map { case (k, rows) => k -> rows.map(_._3).min } ++
          Seq("a", "d", "z").map(s => (s, s) -> 0)
        assert(dist == minStep, ctx)
        val depth = Traverse.subgraph(from, g, n, dir)
          .as[(String, Int)].collect().toMap
        val minOverOrigins = dist.groupBy(_._1._2)
          .map { case (v, ds) => v -> ds.values.min }
        assert(depth == minOverOrigins, ctx)
      }
    }
  }
}
