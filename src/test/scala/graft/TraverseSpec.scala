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
    // (bound 0: the distributed loop, whose levels are checkpoints)
    assert(liveAfter(Traverse.goYield(seeds("a"), edges, 3, 3, Out, Nil, 0)
      .collect()) == 1)
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

  /** A frame's rows as a multiset. */
  private def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (r, rs) => r -> rs.size }

  test("driver walk: go and goYield give the distributed loop's rows") {
    import graft.algo.Adjacency
    // the differential graph plus a NULL dst out of d
    val g = Seq[(String, String, Long)](("a", "b", 0L), ("a", "b", 1L),
      ("b", "c", 0L), ("c", "a", 0L), ("c", "c", 0L), ("c", "d", 0L),
      ("d", null, 0L))
      .toDF("src", "dst", "rank").withColumn("etype", lit("e"))
    // a repeated seed repeats its step-1 edges in goYield
    val from = seeds("a", "d", "z", "a")
    // int vids, and an edge column ahead of (src, dst)
    val ints = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (3L, 1L))
      .toDF("src", "dst")
      .select((col("src") * 10).as("w"), col("src"), col("dst"))
    val intFrom = Seq(1L, 1L, 9L).toDF("vid")
    for ((gr, fr) <- Seq((g, from), (ints, intFrom)); dir <- Seq(Out, In, Both);
         (m, n) <- Seq((1, 1), (1, 3), (2, 3))) {
      val ctx = s"${fr.schema("vid").dataType} $dir $m..$n"
      val (go, goJobs) = jobNamesOf(bag(Traverse.go(fr, gr, m, n, dir,
        Adjacency.DriverRows)))
      assert(go == bag(Traverse.go(fr, gr, m, n, dir, 0)), ctx)
      val (yielded, yJobs) = jobNamesOf(bag(Traverse.goYield(fr, gr, m, n,
        dir, Nil, Adjacency.DriverRows)))
      assert(yielded == bag(Traverse.goYield(fr, gr, m, n, dir, Nil, 0)), ctx)
      assert(yielded.nonEmpty, ctx)
      // one neighbor read per level at most, nothing else
      Seq(goJobs, yJobs).foreach { jobs =>
        assert(jobs.size <= n && jobs.forall(_.contains("Adjacency.scala")),
          s"$ctx: $jobs")
      }
    }
  }

  test("driver walk: a level that crosses the bound restarts on the distributed loop") {
    import graft.algo.Adjacency
    // a binary tree: level k holds 2^k vertices
    val tree = ((1 until 32).map(i => (s"t$i", s"t${2 * i}")) ++
      (1 until 32).map(i => (s"t$i", s"t${2 * i + 1}"))).toDF("src", "dst")
    val go0 = bag(Traverse.go(seeds("t1"), tree, 1, 5, Out, 0))
    val yield0 = bag(Traverse.goYield(seeds("t1"), tree, 1, 5, Out, Nil, 0))
    assert(go0.size == 62 && yield0.size == 62)
    Seq(Adjacency.DriverRows, 8).foreach { bound =>
      val (go, goJobs) = jobNamesOf(bag(Traverse.go(seeds("t1"), tree, 1, 5,
        Out, bound)))
      val (yielded, yJobs) = jobNamesOf(bag(Traverse.goYield(seeds("t1"),
        tree, 1, 5, Out, Nil, bound)))
      assert(go == go0 && yielded == yield0, s"bound $bound")
      // under bound 8 the level of 16 stops the driver walk: the
      // distributed loop's checkpoints run after the neighbor reads
      Seq(goJobs, yJobs).foreach { jobs =>
        assert(jobs.forall(_.contains("Adjacency.scala")) ==
          (bound == Adjacency.DriverRows), s"bound $bound: $jobs")
      }
    }
  }

  test("driver walk: seeds the driver does not hold take the distributed loop at once") {
    import graft.algo.Adjacency
    // seeds behind a shuffle: a walk would compute them once to collect
    // them and again for the loop once they pass the bound
    val planned = seeds("a", "c", "a").repartition(2)
    assert(!Adjacency.held(planned) && Adjacency.held(seeds("a")))
    val (go, goJobs) = jobNamesOf(bag(Traverse.go(planned, edges, 1, 2, Out,
      Adjacency.DriverRows)))
    val (yielded, yJobs) = jobNamesOf(bag(Traverse.goYield(planned, edges, 1, 2,
      Out, Nil, Adjacency.DriverRows)))
    assert(go == bag(Traverse.go(planned, edges, 1, 2, Out, 0)))
    assert(yielded == bag(Traverse.goYield(planned, edges, 1, 2, Out, Nil, 0)))
    assert(go.nonEmpty && yielded.nonEmpty)
    Seq(goJobs, yJobs).foreach { jobs =>
      assert(jobs.nonEmpty && !jobs.exists(_.contains("Adjacency.scala")), jobs)
    }
  }

  test("driver walk: a one-step GO takes the smaller bound") {
    import graft.algo.Adjacency
    // one seed with more out-edges than OneStepRows, fewer than DriverRows
    val fan = Traverse.OneStepRows + 100
    assert(fan < Adjacency.DriverRows)
    val star = (1 to fan).map(i => ("s", s"x$i")).toDF("src", "dst")
    def readsOnly(jobs: Seq[String]) = jobs.forall(_.contains("Adjacency.scala"))
    val (one, oneJobs) = jobNamesOf(Traverse.go(seeds("s"), star, 1, 1)
      .collect().length)
    val (two, twoJobs) = jobNamesOf(Traverse.go(seeds("s"), star, 1, 2)
      .collect().length)
    assert(one == fan && two == fan)
    assert(oneJobs.nonEmpty && !readsOnly(oneJobs), oneJobs)
    assert(readsOnly(twoJobs), twoJobs)
  }
}
