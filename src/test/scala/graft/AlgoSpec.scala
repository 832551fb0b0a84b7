package graft

import graft.algo.GraphAlgos
import org.apache.spark.sql.functions._

/** Convergence-mode analytics: fixed-round mode exists for oracle
  * replay; untilConverged/tol must be correct on graphs whose diameter
  * exceeds any fixed round count. */
class AlgoSpec extends SparkSpec {

  test("WCC untilConverged is correct on a diameter-8 chain (fixed-6 is not)") {
    import spark.implicits._
    // chain v1-v2-...-v9 (diameter 8) plus an isolated pair
    val verts = ((1 to 9).map(i => s"v$i") ++ Seq("x1", "x2")).toDF("vid")
    val edges = ((1 to 8).map(i => (s"v$i", s"v${i + 1}")) ++ Seq("x1" -> "x2"))
      .toDF("src", "dst")

    // 6 fixed rounds: label cannot cross 8 hops — far end still wrong
    val fixed = GraphAlgos.connectedComponents(verts, edges, 6)
      .filter($"vid" === "v9").select("label").as[String].head()
    assert(fixed != "v1", "6 rounds unexpectedly reached the chain end")

    // convergence mode with a generous cap: every chain vertex -> v1
    val conv = GraphAlgos.connectedComponents(verts, edges, 50,
      untilConverged = true)
    val labels = conv.as[(String, String)].collect().toMap
    (1 to 9).foreach(i => assert(labels(s"v$i") == "v1", s"v$i: ${labels(s"v$i")}"))
    assert(labels("x1") == "x1" && labels("x2") == "x1")
  }

  test("PageRank tol-mode stops early and matches long fixed run") {
    import spark.implicits._
    val verts = (1 to 6).map(i => s"v$i").toDF("vid")
    val edges = Seq("v1" -> "v2", "v2" -> "v3", "v3" -> "v1",
      "v4" -> "v1", "v5" -> "v1", "v6" -> "v3").toDF("src", "dst")
    val long = GraphAlgos.pageRank(verts, edges, 60)
      .as[(String, Double)].collect().toMap
    val conv = GraphAlgos.pageRank(verts, edges, 200, tol = 1e-7)
      .as[(String, Double)].collect().toMap
    long.foreach { case (v, p) =>
      assert(math.abs(conv(v) - p) < 1e-4, s"$v: ${conv(v)} vs $p")
    }
  }

  test("triangleCounts finds each triangle once per corner, handles dups/direction") {
    import spark.implicits._
    // K4 on a..d (4 triangles, 3 per vertex) + a pendant edge, with
    // duplicate and reversed input rows that must canonicalize away
    val k4 = for {
      Seq(x, y) <- Seq("a", "b", "c", "d").combinations(2).toSeq
    } yield (x, y)
    val edges = (k4 ++ k4.map(_.swap) ++ Seq("d" -> "e", "e" -> "d"))
      .toDF("src", "dst")
    val out = GraphAlgos.triangleCounts(edges).as[(String, Long)].collect().toMap
    Seq("a", "b", "c", "d").foreach(v => assert(out(v) == 3L, s"$v: ${out.get(v)}"))
    assert(!out.contains("e"), "pendant vertex should have no triangles")
  }

  test("sssp takes the cheaper two-hop path over the expensive direct edge") {
    import spark.implicits._
    val edges = Seq(("s", "t", 10.0), ("s", "m", 1.0), ("m", "t", 2.0),
      ("t", "u", 1.0)).toDF("src", "dst", "weight")
    val out = GraphAlgos.sssp(edges, "s", iters = 4)
      .as[(String, Double)].collect().toMap
    assert(out("s") == 0.0 && out("m") == 1.0)
    assert(out("t") == 3.0, s"t: ${out("t")} (direct edge should lose)")
    assert(out("u") == 4.0)
    assert(!out.contains("zzz"))
  }

  test("sssp on the driver: same rows as the distributed rounds, every posture and weight") {
    import spark.implicits._
    import graft.algo.{Adjacency, FrameAdjacency, StoredAdjacency}
    // NaN, NULL, negative and -0.0 weights; a self-loop, parallel edges
    // and a cycle; z unreachable
    val nan = Double.NaN
    val fixed: Seq[(String, String, Option[Double])] = Seq(
      ("v0", "v1", Some(2.0)), ("v0", "v1", Some(-1.0)), ("v1", "v2", Some(nan)),
      ("v1", "v2", None), ("v2", "v3", Some(-0.0)), ("v3", "v0", Some(-3.0)),
      ("v3", "v3", Some(0.5)), ("v0", "v4", None), ("v4", "v5", Some(1.0)),
      ("v2", "v6", Some(nan)), ("v6", "v5", Some(-0.0)), ("z", "v0", Some(1.0)))
    // the generated shapes, one weight in three replaced by NaN or NULL
    val generated = AlgoSpec.sample.map(_.edges.zipWithIndex.map {
      case ((a, b, _, w), i) =>
        (a, b, if (i % 3 == 1) None else if (i % 3 == 2) Some(nan) else Some(-w))
    })
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0),
        Option(r.get(1)).map(d => java.lang.Double.doubleToLongBits(
          d.asInstanceOf[Double])))).sorted.toSeq
    (fixed +: generated).foreach { es =>
      val frame = es.toDF("src", "dst", "w")
      Seq[(String, () => Adjacency)](
        "frame" -> (() => new FrameAdjacency(frame, keep = Seq("w"))),
        "stored" -> (() => new StoredAdjacency(Seq(frame), Seq("w"), cacheSides = false)),
        "stored+cache" -> (() => new StoredAdjacency(Seq(frame), Seq("w")))
      ).foreach { case (posture, mk) =>
        Seq(0, 1, 3, 6).foreach { iters =>
          def run(bound: Int) = {
            val adj = mk()
            try jobNamesOf(rows(GraphAlgos.sssp(spark, adj, "v0", iters,
              col("w"), bound)))
            finally adj.release()
          }
          val (dist, _) = run(0)
          val (local, jobs) = run(Adjacency.DriverRows)
          val clue = s"$posture, $iters rounds, ${es.mkString(" ")}"
          assert(local == dist, s"$clue: driver $local != distributed $dist")
          assert(jobs.size <= iters && jobs.forall(_.contains("Adjacency.scala")),
            s"$clue: $jobs")
          // a reached set that crosses the bound mid-loop restarts on
          // the distributed rounds
          assert(run(2)._1 == dist, s"$clue: bound 2")
        }
      }
    }
  }

  test("sssp over the store: one neighbor read per round") {
    val dir = "/root/testdata/sf0.001"
    assumeFiles(dir)
    val s2 = spark.newSession()
    graft.sources.GraphStore.enableManaged(s2)
    val g = graft.graph.GraphModel(s2, dir)
    val w = (col("rank") + 1).cast("double")
    def run(bound: Int) = {
      val adj = g.adjacencyOut(keep = Seq("rank"))
      try jobNamesOf(GraphAlgos.sssp(s2, adj, "c:1", 4, w, bound)
        .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq)
      finally adj.release()
    }
    val (dist, _) = run(0) // also builds the store
    val (local, jobs) = run(graft.algo.Adjacency.DriverRows)
    assert(local == dist && dist.size > 1)
    assert(jobs.nonEmpty && jobs.size <= 4 &&
      jobs.forall(_.contains("Adjacency.scala")), s"$jobs")
  }

  test("kCore peels the chain and keeps the clique") {
    import spark.implicits._
    // K4 (every vertex degree 3) + a chain e-f-g that must peel away
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d")
    val edges = (k4 ++ Seq("d" -> "e", "e" -> "f", "f" -> "g")).toDF("src", "dst")
    val core3 = GraphAlgos.kCore(edges, k = 3, iters = 6)
      .as[String].collect().toSet
    assert(core3 == Set("a", "b", "c", "d"), s"3-core: $core3")
    val core4 = GraphAlgos.kCore(edges, k = 4, iters = 6)
    assert(core4.isEmpty, "4-core of K4+chain should be empty")
  }

  test("kCore result is invariant to the round budget (converge-exit)") {
    import spark.implicits._
    // the r13 converge-exit stops peeling at the fixpoint — a huge
    // round budget must give exactly the tuned budget's answer (and
    // cheaply: rounds after convergence are skipped, not run)
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d")
    val edges = (k4 ++ Seq("d" -> "e", "e" -> "f", "f" -> "g")).toDF("src", "dst")
    val tuned = GraphAlgos.kCore(edges, k = 3, iters = 6)
      .as[String].collect().toSet
    val huge = GraphAlgos.kCore(edges, k = 3, iters = 60)
      .as[String].collect().toSet
    assert(tuned == huge, s"tuned=$tuned huge=$huge")
  }

  test("sccPinned on an empty vertex set returns an empty assignment") {
    import spark.implicits._
    // r13 empty-remainder phase skip: the phase loop may now run zero
    // times — the degenerate input must still yield a well-formed frame
    val verts = Seq.empty[String].toDF("vid")
    val edges = Seq.empty[(String, String)].toDF("src", "dst")
    val out = GraphAlgos.sccPinned(verts, edges, phases = 2, rounds = 6)
    assert(out.columns.toSeq == Seq("vid", "scc_id"))
    assert(out.count() == 0)
  }

  test("LPA converges a triangle to its min label, isolated keeps its own") {
    import spark.implicits._
    val verts = Seq("a", "b", "c", "x").toDF("vid")
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a").toDF("src", "dst")
    val out = GraphAlgos.labelPropagation(verts, edges, iters = 3)
      .as[(String, String)].collect().toMap
    Seq("a", "b", "c").foreach(v => assert(out(v) == "a", s"$v: ${out(v)}"))
    assert(out("x") == "x")
  }

  test("jaccardSimilarity: shared-neighbor ratio, hub neighbors capped") {
    import spark.implicits._
    val edges = Seq("o1" -> "p1", "o1" -> "p2", "o1" -> "p3",
      "o2" -> "p2", "o2" -> "p3", "o2" -> "p4",
      "o3" -> "p9").toDF("src", "dst")
    val out = GraphAlgos.jaccardSimilarity(edges, maxNbrDeg = 40)
      .as[(String, String, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(out(("o1", "o2")) == 0.5, s"got $out") // 2 shared / 4 union
    assert(out.size == 1, "only the sharing pair should appear")
    // with the hub cap at 1, the shared parts (degree 2) are dropped
    val capped = GraphAlgos.jaccardSimilarity(edges, maxNbrDeg = 1)
    assert(capped.count() == 0)
  }

  test("louvain groups two bridged triangles into their own communities") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a",
      "d" -> "e", "e" -> "f", "f" -> "d",
      "c" -> "d").toDF("src", "dst")
    val out = GraphAlgos.louvain(edges, iters = 10)
      .as[(String, String)].collect().toMap
    assert(out.size == 6)
    assert(Set(out("a"), out("b"), out("c")).size == 1,
      s"left triangle split: $out")
    assert(Set(out("d"), out("e"), out("f")).size == 1,
      s"right triangle split: $out")
    assert(out("a") != out("d"), s"bridge merged the triangles: $out")
  }

  test("multi-level louvain: coarsening beats phase-1 on a ring of cliques") {
    import spark.implicits._
    // the resolution-limit construction (Fortunato & Barthélemy): a
    // ring of 16 triangles joined by single bridge edges. Phase 1
    // finds the triangles but can never merge adjacent ones — no
    // SINGLE vertex gains by moving across a bridge — while the
    // optimum merges neighboring cliques. Level 2 moves whole
    // contracted cliques, so the 2-level run must score strictly
    // higher modularity.
    val cliques = 16
    def v(c: Int, i: Int) = f"v$c%02d_$i"
    val tri = (0 until cliques).flatMap(c => Seq(
      (v(c, 0), v(c, 1)), (v(c, 1), v(c, 2)), (v(c, 0), v(c, 2))))
    val bridges = (0 until cliques).map(c =>
      (v(c, 0), v((c + 1) % cliques, 1)))
    val edges = (tri ++ bridges).toDF("src", "dst")
    val iters = 10
    val p1 = GraphAlgos.louvain(edges, iters)
    val ml = GraphAlgos.louvainMultiLevel(edges, levels = 2, iters = iters)
    val q1 = GraphAlgos.modularity(edges, p1)
    val qml = GraphAlgos.modularity(edges, ml)
    assert(qml > q1 + 1e-9,
      s"coarsening did not improve modularity: phase-1 $q1 vs 2-level $qml")
    // levels = 1 is exactly the single-phase algorithm
    val l1 = GraphAlgos.louvainMultiLevel(edges, levels = 1, iters = iters)
      .as[(String, String)].collect().toSet
    val base = p1.as[(String, String)].collect().toSet
    assert(l1 == base, "louvainMultiLevel(levels=1) diverges from louvain")
  }

  test("louvain level 3 + auto convergence: deeper never hurts, auto stops") {
    import spark.implicits._
    // same resolution-limit ring (16 triangles, single bridges): the
    // ascent only ever moves on strictly positive gain, so each added
    // level is monotone — Q(l3) ≥ Q(l2) ≥ Q(l1) — and the third level
    // unfolds through the full A→B→C chain (structural correctness:
    // every original vertex keeps exactly one community)
    val cliques = 16
    def v(c: Int, i: Int) = f"v$c%02d_$i"
    val tri = (0 until cliques).flatMap(c => Seq(
      (v(c, 0), v(c, 1)), (v(c, 1), v(c, 2)), (v(c, 0), v(c, 2))))
    val bridges = (0 until cliques).map(c =>
      (v(c, 0), v((c + 1) % cliques, 1)))
    val edges = (tri ++ bridges).toDF("src", "dst")
    val iters = 10
    val l2 = GraphAlgos.louvainMultiLevel(edges, levels = 2, iters = iters)
    val l3 = GraphAlgos.louvainMultiLevel(edges, levels = 3, iters = iters)
    assert(l3.select("vid").distinct().count() == 48 && l3.count() == 48,
      "level-3 unfold lost or duplicated vertices")
    val q2 = GraphAlgos.modularity(edges, l2)
    val q3 = GraphAlgos.modularity(edges, l3)
    assert(q3 >= q2 - 1e-12,
      s"a deeper hierarchy regressed modularity: l2 $q2 vs l3 $q3")
    // the production convergence form (Blondel: repeat until no vertex
    // moves) must reach at least the 2-level quality and terminate
    // well before its level cap
    val auto = GraphAlgos.louvainMultiLevelAuto(edges, iters = iters)
    assert(auto.count() == 48)
    val qa = GraphAlgos.modularity(edges, auto)
    assert(qa >= q2 - 1e-12,
      s"auto-depth run under-scored the pinned 2-level run: $qa vs $q2")
  }

  test("scc: exact on cycles+bridge, pinned variant matches exact") {
    import spark.implicits._
    // two 2-cycles bridged a↔b → c↔d, plus e→a (e acyclic)
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"),
      ("c", "d"), ("d", "c"), ("e", "a")).toDF("src", "dst")
    val verts = Seq("a", "b", "c", "d", "e").toDF("vid")
    val exact = GraphAlgos.sccUntilConverged(verts, edges)
      .as[(String, String)].collect().toMap
    assert(exact == Map("a" -> "a", "b" -> "a", "c" -> "c",
      "d" -> "c", "e" -> "e"), s"exact scc: $exact")
    val pinned = GraphAlgos.sccPinned(verts, edges, phases = 2, rounds = 4)
      .as[(String, String)].collect().toMap
    assert(pinned == exact, s"pinned != exact: $pinned")
  }

  test("hanp: degree-weighted votes, min-label ties, 1/16 attenuation") {
    import spark.implicits._
    // path a-b-c: deg a=1, b=2, c=1
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
      .withColumn("etype", lit("e")).withColumn("rank", lit(0L))
    val verts = Seq("a", "b", "c").toDF("vid")
    val r = GraphAlgos.hanp(verts, edges, iters = 1)
      .as[(String, String, Double)].collect()
      .map { case (v, l, s) => v -> ((l, s)) }.toMap
    // a sees only b (F = 1·deg(b) = 2) → adopts b; b ties a vs c
    // (F = 1 each) → min label a; c sees only b → adopts b; every
    // adopter attenuates the carried score by 1/16
    assert(r("a") == (("b", 0.9375)), s"a: ${r("a")}")
    assert(r("b") == (("a", 0.9375)), s"b: ${r("b")}")
    assert(r("c") == (("b", 0.9375)), s"c: ${r("c")}")
  }

  test("node2vecWalks: neighbor steps, deterministic reruns, return bias") {
    import spark.implicits._
    // undirected triangle-with-tail: a-b, b-c, c-a, c-d
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }
      .toDF("src", "dst")
    val starts = Seq("a", "b", "c", "d").toDF("vid")
    val w1 = GraphAlgos.node2vecWalks(und, starts, len = 3)
      .as[(String, Int, String)].collect().sorted
    // deterministic rerun
    val w2 = GraphAlgos.node2vecWalks(und, starts, len = 3)
      .as[(String, Int, String)].collect().sorted
    assert(w1.sameElements(w2))
    // every step is along an edge
    val adj = Seq("ab", "ba", "bc", "cb", "ca", "ac", "cd", "dc").toSet
    val byWalkerStep = w1.map { case (w, s, v) => (w, s) -> v }.toMap
    w1.filter(_._2 > 0).foreach { case (w, s, v) =>
      val prev = byWalkerStep((w, s - 1))
      assert(adj.contains(prev + v), s"walk $w step $s: $prev→$v not an edge")
    }
    // extreme return bias: backW=1024 forces step 2 back to the start
    // (threshold would need r > 1024/tw ≈ 0.999 to escape — the fixed
    // md5 picks never land there on these 4 walkers)
    val back = GraphAlgos.node2vecWalks(und, starts, len = 2,
        backW = 1024.0, outW = 0.25)
      .as[(String, Int, String)].collect()
      .map { case (w, s, v) => (w, s) -> v }.toMap
    starts.as[String].collect().foreach { v =>
      assert(back((v, 2)) == v, s"backW=1024 walk from $v did not return")
    }
  }

  test("node2vecWalks: non-dyadic weights take exactly one step per walker") {
    import spark.implicits._
    // undirected ring of 12 with chords: every vertex has neighbors, so
    // every walker must own exactly one row per step
    val ring = (0 until 12).flatMap { i =>
      Seq((i, (i + 1) % 12)) ++ (if (i % 3 == 0) Seq((i, (i + 5) % 12)) else Nil)
    }.map { case (x, y) => (s"v$x", s"v$y") }
    val und = ring.flatMap { case (x, y) => Seq((x, y), (y, x)) }
      .toDF("src", "dst")
    val starts = (0 until 12).map(i => s"v$i").toDF("vid")
    val walks = GraphAlgos.node2vecWalks(und, starts, len = 6,
      backW = 1.0 / 3, outW = 1.0 / 7)
    val perStep = walks.groupBy("walker", "step").count()
      .as[(String, Int, Long)].collect()
    assert(perStep.length == 12 * 7, s"missing steps: ${perStep.length}")
    assert(perStep.forall(_._3 == 1L),
      s"forked walkers: ${perStep.filter(_._3 != 1L).mkString(", ")}")
  }

  test("node2vec pick: exact when the threshold sits on an inexact running sum") {
    import spark.implicits._
    // running sums 0.1, 0.1+0.2 = 0.30000000000000004, 0.6000000000000001;
    // with t equal to the second, the third candidate is the pick —
    // but cw - w = 0.3000000000000001 > t there, so a cw - w <= t
    // boundary test picks nothing
    val wts = Seq(("w", "a", 0.1), ("w", "b", 0.2), ("w", "c", 0.3))
      .toDF("walker", "cand", "w")
    val picked = GraphAlgos.pickFirstOver(wts, _ => lit(0.1 + 0.2))
    assert(picked.select("cand").as[String].collect().toSeq == Seq("c"))
    // cw, the running sum before the row, and the total share ONE Window
    val windows = picked.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1, s"${windows.size} Window nodes")
  }

  test("node2vecWalks: each step's materialized plan holds exactly one Window") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false") // unwrapped plan tree
    import s2.implicits._
    // a step frame is (walker, cur, prev) planned over a join; the
    // seed frame has the same columns but no join
    val steps = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint" &&
            qe.analyzed.output.map(_.name) == Seq("walker", "cur", "prev") &&
            qe.executedPlan.exists(_.isInstanceOf[BaseJoinExec]))
          steps.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }.toDF("src", "dst")
    GraphAlgos.node2vecWalks(und, Seq("a", "d").toDF("vid"), len = 3)
      .collect()
    // listener events arrive on the listener bus thread
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (steps.size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
    s2.listenerManager.unregister(listener)
    assert(steps.size == 3, s"expected 3 step plans, got ${steps.size}")
    steps.forEach { p =>
      val windows = p.collect { case w: WindowExec => w }
      assert(windows.size == 1, s"${windows.size} Window nodes in a step:\n$p")
    }
  }

  test("differential: converted loops against in-test references and across adjacencies") {
    // hundreds of tiny jobs: compiling each plan costs more than
    // interpreting it
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    import s2.implicits._
    import AlgoSpec._
    import graft.algo.{Adjacency, FrameAdjacency, StoredAdjacency}
    import org.apache.spark.sql.{DataFrame, Row}
    val t0 = System.nanoTime()
    def rows[V](df: DataFrame)(f: Row => (String, V)): Seq[(String, V)] =
      df.collect().map(f).toSeq.sortBy(_._1)
    def str2(r: Row) = (r.getString(0), r.getString(1))
    // one oriented frame, three adjacency postures: their results
    def across[T](frame: DataFrame)(run: Adjacency => T): Seq[(String, T)] =
      Seq[(String, () => Adjacency)](
        "frame" -> (() => new FrameAdjacency(frame)),
        "stored" -> (() => new StoredAdjacency(Seq(frame), cacheSides = false)),
        "stored+cache" -> (() => new StoredAdjacency(Seq(frame)))
      ).map { case (name, mk) =>
        val adj = mk()
        try name -> run(adj) finally adj.release()
      }
    def checks(g: G): Seq[() => Unit] = {
      val n = g.verts.size max 1
      val verts = g.verts.toDF("vid")
      val edges = g.edges.toDF("src", "dst", "rank", "weight")
      val clue = s"${g.shape}: verts ${g.verts.mkString(",")} edges ${
        g.edges.map(e => s"${e._1}->${e._2}@${e._3}:${e._4}").mkString(" ")}"
      Seq(
        () => {
          val wcc = wccRef(g)
          assert(rows(GraphAlgos.connectedComponents(verts, edges, n))(str2) ==
            wcc, s"fixed-round WCC, $clue")
          assert(rows(GraphAlgos.connectedComponents(verts, edges, n + 1,
            untilConverged = true))(str2) == wcc, s"converged WCC, $clue")
        },
        () => Seq(1, n).foreach { rounds =>
          assert(rows(GraphAlgos.sssp(edges, "v0", rounds))(r =>
            (r.getString(0), r.getDouble(1))) == ssspRef(g, "v0", rounds),
            s"SSSP $rounds rounds, $clue")
        },
        () => {
          val scc = rows(GraphAlgos.sccUntilConverged(verts, edges))(str2)
          assert(scc == tarjanRef(g), s"exact SCC, $clue")
          assert(rows(GraphAlgos.sccPinned(verts, edges, phases = n,
            rounds = n))(str2) == scc, s"pinned SCC, $clue")
        },
        () => assert(GraphAlgos.kCore(edges, 2, iters = n + 1).as[String]
          .collect().toSet == kCoreRef(g, 2), s"2-core, $clue"),
        () => {
          val lpa = across(undirectedSimple(g).toDF("src", "dst"))(adj =>
            rows(GraphAlgos.labelPropagation(verts, adj, iters = 2))(str2))
          assert(lpa.map(_._2).distinct.size == 1, s"LPA postures $lpa, $clue")
        },
        () => {
          val hanp = across(undirectedSimple(g).toDF("src", "dst"))(adj =>
            rows(GraphAlgos.hanp(verts, adj, iters = 2, delta = 0.0625))(r =>
              (r.getString(0), (r.getString(1), r.getDouble(2)))))
          assert(hanp.map(_._2).distinct.size == 1, s"HANP postures $hanp, $clue")
        },
        () => {
          // contribution sums may associate differently per layout:
          // equal to the last few ulps
          val pr = across(edges.select("src", "dst"))(adj =>
            rows(GraphAlgos.pageRank(verts, adj, iters = 2, damping = 0.85,
              tol = 0.0))(r => (r.getString(0), r.getDouble(1))))
          pr.tail.foreach { case (name, ranks) =>
            assert(ranks.map(_._1) == pr.head._2.map(_._1) &&
              ranks.zip(pr.head._2).forall { case ((_, a), (_, b)) =>
                math.abs(a - b) <= 1e-12 },
              s"PageRank $name $ranks vs frame ${pr.head._2}, $clue")
          }
        })
    }
    // the checks are independent chains of tiny jobs: run them
    // concurrently on the shared session
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    sample.flatMap(checks).map(c => Future(c()))
      .foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    info(f"${sample.size} graphs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("betweenness: diamond splits dependency, chain accumulates it") {
    import spark.implicits._
    def bc(edges: Seq[(String, String)], seeds: Seq[String], steps: Int) =
      GraphAlgos.betweenness(
        seeds.toDF("vid"),
        edges.toDF("src", "dst").withColumn("etype", lit("e"))
          .withColumn("rank", lit(0L)),
        steps).as[(String, Double)].collect().toMap
    // diamond a→{b,c}→d from a: σ(d)=2, δ(b)=δ(c)=1/2·(1+0); the
    // deepest level (d) appears with δ=0 — endpoints carry nothing
    val dia = bc(Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")),
      Seq("a"), 3)
    assert(dia == Map("b" -> 0.5, "c" -> 0.5, "d" -> 0.0), s"diamond: $dia")
    // chain a→b→c→d from a: δ(c)=1, δ(b)=1+δ(c)=2 (Brandes: pairs
    // (a,c),(a,d) pass b; (a,d) passes c)
    val ch = bc(Seq(("a", "b"), ("b", "c"), ("c", "d")), Seq("a"), 3)
    assert(ch == Map("b" -> 2.0, "c" -> 1.0, "d" -> 0.0), s"chain: $ch")
    // two seeds accumulate: same chain from a AND b — c gains (b,d)
    val ch2 = bc(Seq(("a", "b"), ("b", "c"), ("c", "d")), Seq("a", "b"), 3)
    assert(ch2("c") == 2.0 && ch2("b") == 2.0, s"two-seed chain: $ch2")
  }

  test("closeness: chain distances, isolated seed scores 0") {
    import spark.implicits._
    // a→b→c chain plus isolated seed z
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
      .withColumn("etype", lit("e")).withColumn("rank", lit(0L))
    val seeds = Seq("a", "b", "z").toDF("vid")
    val r = GraphAlgos.closeness(seeds, edges, maxSteps = 3)
      .as[(String, Long, Double)].collect()
      .map { case (v, n, c) => v -> ((n, c)) }.toMap
    assert(r("a") == ((2L, 2.0 / 3.0))) // dists 1 + 2
    assert(r("b") == ((1L, 1.0)))       // dist 1
    assert(r("z") == ((0L, 0.0)))       // nothing reachable
  }

  test("randomWalks: neighbor steps only, dead ends halt, reruns identical") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "d").toDF("src", "dst")
    val starts = Seq("a", "z").toDF("vid") // z has no out-edges
    def run() = GraphAlgos.randomWalks(edges, starts, len = 3)
      .as[(String, Int, String)].collect().toSet
    val w = run()
    assert(w == run(), "walks must be deterministic across runs")
    // z emits only its start row
    assert(w.filter(_._1 == "z") == Set(("z", 0, "z")))
    // a's step-1 position is one of its neighbors; steps follow edges
    val nbrs = Map("a" -> Set("b", "c"), "b" -> Set("d"))
    val aWalk = w.filter(_._1 == "a").toSeq.sortBy(_._2).map(_._3)
    assert(aWalk.head == "a")
    aWalk.sliding(2).foreach { case Seq(u, v) =>
      assert(nbrs.getOrElse(u, Set.empty).contains(v), s"$u -> $v not an edge")
    case _ => () }
  }

  test("saltedSum spreads a hot key with constant values and stays exact") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("hot", 1.0, i)) :+ (("cold", 2.0, 0))
    val frame = df.toDF("k", "v", "row")
    val out = graft.operators.Skew.saltedSum(frame, "k", "v", salt = 8)
      .as[(String, Double)].collect().toMap
    assert(out("hot") == 1000.0 && out("cold") == 2.0)
    // the pre-split actually splits: partial agg over (k, salt) must
    // see >1 bucket for the hot key even though v is constant
    val buckets = frame.withColumn("__salt",
        pmod(hash(frame.columns.map(col): _*), lit(8)))
      .filter($"k" === "hot").select("__salt").distinct().count()
    assert(buckets > 1, s"hot key not scattered: $buckets bucket(s)")
  }
}

/** Small generated graphs for the differential test and the in-test
  * references it checks the engine against. */
object AlgoSpec {
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  /** Vertex ids v0..v(n-1) (single digits, so string order is index
    * order) and directed edge rows (src, dst, rank, weight). */
  final case class G(shape: String, verts: Seq[String],
                     edges: Seq[(String, String, Long, Double)])

  private def v(i: Int) = s"v$i"
  private val weight = Gen.choose(1, 5).map(_.toDouble)
  private def edge(n: Int): Gen[(String, String, Long, Double)] = for {
    a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1); w <- weight
  } yield (v(a), v(b), 0L, w)
  private def extra(n: Int, max: Int) =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, edge(n)))

  /** A ring v0 → … → v(n-1) → v0 plus a few chords. */
  val cycle: Gen[G] = for {
    n <- Gen.choose(2, 5); ws <- Gen.listOfN(n, weight); ch <- extra(n, 2)
  } yield G("cycle", (0 until n).map(v),
    (0 until n).map(i => (v(i), v((i + 1) % n), 0L, ws(i))) ++ ch)

  /** Hub v0 with spokes of random direction, one spoke maybe doubled
    * back. */
  val star: Gen[G] = for {
    n <- Gen.choose(3, 5); out <- Gen.listOfN(n - 1, Gen.oneOf(true, false))
    ws <- Gen.listOfN(n - 1, weight); back <- Gen.oneOf(true, false)
  } yield G("star", (0 until n).map(v),
    (1 until n).map { i =>
      if (out(i - 1)) (v(0), v(i), 0L, ws(i - 1))
      else (v(i), v(0), 0L, ws(i - 1))
    } ++ (if (back) Seq((v(1), v(0), 0L, 1.0), (v(0), v(1), 0L, 2.0))
          else Nil))

  /** Random edges plus at least one self-loop. */
  val selfLoops: Gen[G] = for {
    n <- Gen.choose(1, 5); es <- extra(n, n + 2)
    loops <- Gen.nonEmptyListOf(Gen.choose(0, n - 1)); w <- weight
  } yield G("self-loops", (0 until n).map(v),
    es ++ loops.distinct.map(i => (v(i), v(i), 0L, w)))

  /** Every edge twice, at ranks 0 and 1 with different weights. */
  val parallel: Gen[G] = for {
    n <- Gen.choose(2, 5); es <- Gen.nonEmptyListOf(edge(n)).map(_.take(6))
  } yield G("ranked parallel edges", (0 until n).map(v),
    es.flatMap { case (a, b, _, w) => Seq((a, b, 0L, w), (a, b, 1L, w + 2)) })

  /** Edges among the first half of the vertices only. */
  val isolated: Gen[G] = for {
    n <- Gen.choose(3, 6); es <- extra((n + 1) / 2, n)
  } yield G("isolated vertices", (0 until n).map(v), es)

  /** No edges, possibly no vertices either. */
  val empty: Gen[G] =
    Gen.choose(0, 2).map(n => G("empty", (0 until n).map(v), Nil))

  /** One fixed-seed sample per shape. */
  lazy val sample: Seq[G] =
    Seq(cycle, star, selfLoops, parallel, isolated, empty).zipWithIndex
      .map { case (g, i) =>
        g.pureApply(Gen.Parameters.default, Seed(20261018L + i))
      }

  /** Union-find: each vertex's label is its component's min vid. */
  def wccRef(g: G): Seq[(String, String)] = {
    val parent = scala.collection.mutable.Map(g.verts.map(x => x -> x): _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    g.edges.foreach { case (a, b, _, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    g.verts.map(x => x -> find(x)).sortBy(_._1)
  }

  /** Bellman-Ford, `rounds` synchronous relaxations from `src`. */
  def ssspRef(g: G, src: String, rounds: Int): Seq[(String, Double)] = {
    var d = Map(src -> 0.0)
    (1 to rounds).foreach { _ =>
      val ext = g.edges.flatMap { case (a, b, _, w) => d.get(a).map(da => b -> (da + w)) }
      d = (d.toSeq ++ ext).groupMapReduce(_._1)(_._2)(math.min)
    }
    d.toSeq.sortBy(_._1)
  }

  /** Tarjan: each vertex's label is its SCC's min vid. */
  def tarjanRef(g: G): Seq[(String, String)] = {
    val succ = g.edges.groupMap(_._1)(_._2)
    val index = scala.collection.mutable.Map[String, Int]()
    val low = scala.collection.mutable.Map[String, Int]()
    val onStack = scala.collection.mutable.Set[String]()
    var stack = List.empty[String]
    val out = scala.collection.mutable.Map[String, String]()
    def visit(x: String): Unit = {
      index(x) = index.size; low(x) = index(x)
      stack ::= x; onStack += x
      succ.getOrElse(x, Nil).foreach { y =>
        if (!index.contains(y)) { visit(y); low(x) = low(x) min low(y) }
        else if (onStack(y)) low(x) = low(x) min index(y)
      }
      if (low(x) == index(x)) {
        val (comp, rest) = stack.span(_ != x)
        val members = x :: comp
        stack = rest.tail
        onStack --= members
        members.foreach(out(_) = members.min)
      }
    }
    g.verts.foreach(x => if (!index.contains(x)) visit(x))
    g.verts.map(x => x -> out(x)).sortBy(_._1)
  }

  /** Both orientations of the simple undirected view (no self-loops,
    * no duplicate pairs). */
  def undirectedSimple(g: G): Seq[(String, String)] =
    g.edges.collect { case (a, b, _, _) if a != b => (if (a < b) a else b, if (a < b) b else a) }
      .distinct.flatMap(p => Seq(p, p.swap))

  /** Peel vertices of degree < k to the fixpoint; the endpoints of the
    * surviving edges. */
  def kCoreRef(g: G, k: Int): Set[String] = {
    var und = undirectedSimple(g).filter { case (a, b) => a < b }
    var done = false
    while (!done) {
      val deg = und.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .map { case (x, xs) => x -> xs.size }
      val kept = und.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      done = kept.size == und.size
      und = kept
    }
    und.flatMap(p => Seq(p._1, p._2)).toSet
  }
}
