package graft

import graft.algo.{Adjacency, PathFinder}
import graft.traverse.Traverse

/** Endpoint path semantics on:
  *   a -> b -> d
  *   a -> c -> d        (two shortest 2-hop routes a~>d)
  *   a -> e -> f -> d   (longer 3-hop route)
  */
class PathFinderSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

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

  // ---- the driver-held forward walk against the distributed loop ----

  /** The untyped walk's rows (src, dst, path, hops), sorted with their
    * multiplicity, under a driver-loop bound (0: the distributed loop
    * only), and the jobs it started. */
  private def walked(srcs: Seq[String], dsts: Seq[String],
                     e: org.apache.spark.sql.DataFrame, maxSteps: Int,
                     mode: String, dir: Traverse.Direction, bound: Int)
      : (Seq[(String, String, String, Int)], Seq[String]) =
    jobNamesOf(PathFinder.vidPaths(PathFinder.walk(srcs.toDF("vid"),
        dsts.toDF("vid"), e, maxSteps, mode, dir, typed = false,
        driverRows = bound))
      .select("src", "dst", "path", "hops")
      .as[(String, String, String, Int)].collect().sorted.toSeq)

  /** Parallel a -> b edges, a self-loop on b, the cycle a -> b -> c -> a,
    * a tail c -> d and an isolated z. */
  private def knotted = Seq(("a", "b"), ("a", "b"), ("b", "b"), ("b", "c"),
    ("c", "a"), ("c", "d"), ("d", "e"), ("a", "e")).toDF("src", "dst")

  test("driver walk: same rows as the distributed loop, every mode, direction and cap") {
    val cases = for {
      mode <- Seq("shortest", "noloop")
      dir <- Seq(Traverse.Out, Traverse.In, Traverse.Both)
      cap <- Seq(1, 3, 5)
      (srcs, dsts) <- Seq(
        (Seq("a"), Seq("d", "e")),
        // src == dst, an unreachable target and a target that is a src
        (Seq("a", "d"), Seq("a", "d", "z")),
        // a repeated seed repeats its paths on both loops
        (Seq("b", "b"), Seq("a", "e")))
    } yield (mode, dir, cap, srcs, dsts)
    cases.foreach { case (mode, dir, cap, srcs, dsts) =>
      val (local, jobs) = walked(srcs, dsts, knotted, cap, mode, dir,
        Adjacency.DriverRows)
      val (dist, _) = walked(srcs, dsts, knotted, cap, mode, dir, 0)
      val clue = s"$mode $dir cap $cap $srcs -> $dsts"
      assert(local == dist, s"$clue: driver $local != distributed $dist")
      // one neighbor read per level at most, nothing else
      assert(jobs.size <= cap && jobs.forall(_.contains("Adjacency.scala")),
        s"$clue: $jobs")
    }
    // the parallel edges double the paths through a -> b
    val (twice, _) = walked(Seq("a"), Seq("c"), knotted, 3, "shortest",
      Traverse.Out, Adjacency.DriverRows)
    assert(twice == Seq.fill(2)(("a", "c", "a->b->c", 2)), s"$twice")
  }

  test("driver walk: a frontier that crosses the bound restarts on the distributed loop") {
    // a binary tree: level k holds 2^k paths
    val tree = (1 until 32).map(i => (s"t$i", s"t${2 * i}")) ++
      (1 until 32).map(i => (s"t$i", s"t${2 * i + 1}"))
    val e = tree.toDF("src", "dst")
    val leaves = (32 until 64).map(i => s"t$i")
    val (dist, _) = walked(Seq("t1"), leaves, e, 5, "noloop", Traverse.Out, 0)
    assert(dist.size == 32, s"${dist.size}")
    Seq(Adjacency.DriverRows, 8).foreach { bound =>
      val (rows, jobs) = walked(Seq("t1"), leaves, e, 5, "noloop",
        Traverse.Out, bound)
      assert(rows == dist, s"bound $bound")
      // under bound 8 the level of 16 paths stops the driver loop: the
      // distributed loop's checkpoints run after the neighbor reads
      val onDriver = jobs.forall(_.contains("Adjacency.scala"))
      assert(onDriver == (bound == Adjacency.DriverRows), s"bound $bound: $jobs")
    }
  }

  test("collectUpTo: the bound holds over the total, not each partition") {
    // 20 partitions of 5 rows: no partition passes a bound of 10
    val df = spark.range(0, 100, 1, 20).toDF("id")
    val (over, jobs) = jobNamesOf(Adjacency.collectUpTo(df, 10))
    assert(over.isEmpty && jobs.size == 1, s"$jobs")
    assert(Adjacency.collectUpTo(df, 100).map(_.map(_.getLong(0)).toSeq) ==
      Some(0L until 100L))
    assert(Adjacency.collectUpTo(df.filter("id < 10"), 10)
      .map(_.map(_.getLong(0)).toSeq) == Some(0L until 10L))
    // the job stops once the count passes the bound: with 300 ms tasks on
    // 4 cores, the first wave's 20 rows cancel it before the other waves
    val done = spark.sparkContext.longAccumulator("collectUpTo tasks")
    val slow = spark.range(0, 100, 1, 20).as[Long].mapPartitions { it =>
      Thread.sleep(300); done.add(1); it
    }.toDF("id")
    assert(Adjacency.collectUpTo(slow, 10).isEmpty)
    assert(done.value < 20, s"${done.value} of 20 tasks ran to the end")
  }

  test("driver walk: a neighbor read over many partitions that passes the bound restarts on the distributed loop") {
    // a star of 40 out-edges spread over 20 partitions of 2 rows each
    val e = (0 until 40).map(i => ("s", s"v$i")).toDF("src", "dst")
      .repartition(20)
    val targets = Seq("v1", "v7", "v39")
    val (dist, _) = walked(Seq("s"), targets, e, 2, "shortest",
      Traverse.Out, 0)
    assert(dist.size == 3, s"${dist.size}")
    val (rows, jobs) = walked(Seq("s"), targets, e, 2, "shortest",
      Traverse.Out, 10)
    assert(rows == dist)
    // the read stops the driver loop; the distributed loop's jobs follow
    assert(jobs.head.contains("Adjacency.scala") &&
      !jobs.forall(_.contains("Adjacency.scala")), s"$jobs")
  }

  test("driver walk: FIND SHORTEST PATH over the store starts one job per level") {
    val dir = "/root/testdata/sf0.001"
    assumeFiles(dir)
    val s2 = spark.newSession()
    graft.sources.GraphStore.enableManaged(s2)
    val g = graft.graph.GraphModel(s2, dir)
    val q = """FIND SHORTEST PATH FROM "c:1", "c:2" TO "r:0", "r:1" UPTO 4 STEPS"""
    val warm = graft.nql.Gql.run(g, q).collect() // builds the store
    val (rows, jobs) = jobNamesOf(graft.nql.Gql.run(g, q).collect())
    assert(rows.map(_.toSeq).sortBy(_.mkString).toSeq ==
      warm.map(_.toSeq).sortBy(_.mkString).toSeq)
    // literal endpoints are read without a job: only the neighbor reads
    assert(jobs.nonEmpty && jobs.size <= 4 &&
      jobs.forall(_.contains("Adjacency.scala")), s"$jobs")
    // and the distributed loop finds the same paths
    val e = g.allEdges
    def ends(vs: String*) = s2.createDataFrame(
      vs.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vid",
          org.apache.spark.sql.types.StringType))))
    def paths(bound: Int) = PathFinder.vidPaths(PathFinder.walk(
        ends("c:1", "c:2"), ends("r:0", "r:1"), e, 4, "shortest",
        Traverse.Out, typed = false, driverRows = bound))
      .collect().map(_.toSeq).sortBy(_.mkString).toSeq
    assert(paths(Adjacency.DriverRows) == paths(0))
    assert(paths(0).nonEmpty)
  }
}
