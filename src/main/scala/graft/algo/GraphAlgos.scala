package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Ckpt
import graft.Ckpt.MatOps

/** Whole-graph analytics (the capability set of the reference
  * ecosystem's Spark-based nebula-algorithm package — degrees,
  * connected components, PageRank) as iterative DataFrame programs.
  *
  * Determinism: WCC and PageRank run a FIXED number of synchronous
  * iterations of an exactly-specified update rule, so an external
  * oracle can replay them step for step.
  *
  * One loop: WCC, PageRank, k-core, LPA, HANP, SSSP, the Louvain move
  * rounds and SCC's colour and reach rounds all run on [[iterate]], the
  * vertex-state driver (GraphX's Pregel plays this part): each round
  * materializes the caller's step, observes an optional exit metric on
  * that same job and frees the superseded state. The walk-style loops
  * (random walks, node2vec, betweenness, the Louvain level loop) keep
  * their own, since they accumulate output or per-level frames.
  *
  * Scale: each iteration is one shuffle on dst (message aggregation)
  * + one join on vid (state update), with the state frame
  * checkpointed per round — same posture as the traversal loops.
  * PageRank contributions use map-side combine via groupBy.sum.
  */
object GraphAlgos {

  /** An exit probe of [[iterate]]: `metric`, a Long aggregate observed
    * on each round's materializing job (`Ckpt.counted`, no extra
    * action), and `fired`, the test on its value. */
  private final case class Exit(metric: Column, fired: Long => Boolean)

  /** The vertex-state driver: round r materializes `step(state, r)`,
    * observing `exit`'s metric (if any) on that same job, drops the
    * probe's `__old` column, frees the superseded state, and stops after
    * `rounds` rounds or once `exit` fires. Returns the final state and
    * whether `exit` fired. */
  private def iterate(init: DataFrame, rounds: Int,
                      exit: Option[Exit] = None)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    var state = init
    var fired = false
    var round = 0
    while (round < rounds && !fired) {
      val next = step(state, round)
      val upd = exit.fold(next.mat()) { x =>
        val (ck, v) = Ckpt.counted(next, x.metric)
        fired = x.fired(v)
        ck
      }
      Ckpt.free(state)
      state = if (upd.columns.contains("__old")) upd.drop("__old") else upd
      round += 1
    }
    (state, fired)
  }

  /** Exit probe for label loops: no `c` value differs from its `__old`
    * copy (a null comparison counts as unchanged, as a filter drops it). */
  private def unchanged(c: String): Exit =
    Exit(count_if(col(c) =!= col("__old")), _ == 0)

  /** Exit probe for monotone loops: the round kept the previous round's
    * row count (`initRows` is the initial state's). */
  private def sameRowCount(initRows: Long): Exit = {
    var cnt = initRows
    Exit(count(lit(1)), c => { val same = c == cnt; cnt = c; same })
  }

  /** Run `f` on `adj`, then release the adjacency's cache. */
  private def using[T](adj: Adjacency)(f: Adjacency => T): T =
    try f(adj) finally adj.release()

  /** In/out degree per vertex (0-degree vertices kept). */
  def degrees(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val outD = edges.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("out_deg"))
    val inD = edges.groupBy(col("dst").as("vid"))
      .agg(count(lit(1)).as("in_deg"))
    vertices.select("vid")
      .join(outD, Seq("vid"), "left_outer")
      .join(inD, Seq("vid"), "left_outer")
      .select(col("vid"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Weakly connected components by synchronous min-label propagation
    * over the undirected edge view. Labels are exact strings (min vid
    * in component reached so far), so results are bit-reproducible.
    *
    * `untilConverged=false` (oracle mode): exactly `iters` rounds —
    * an external oracle can replay them step for step. Correct only
    * when iters ≥ graph diameter.
    *
    * `untilConverged=true` (production mode): a changed-label count
    * (observed on each round's materializing job, no extra action)
    * stops the loop as soon as a round changes nothing, with
    * `iters` as the safety cap — correct on ANY diameter. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          iters: Int,
                          untilConverged: Boolean = false): DataFrame =
    // pre-partitioned on the per-round join key: the cached layout
    // satisfies the join's distribution, so each round shuffles only
    // the (small) label state, never the big edge frame
    using(new FrameAdjacency(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))))(
      connectedComponents(vertices, _, iters, untilConverged))

  /** WCC over a pre-built [[Adjacency]] (both directions already
    * encoded) — the GraphStore path: a [[StoredAdjacency]] of the
    * bucketed out table + reversed in table runs every round's message
    * join with ZERO edge-side Exchange and no block-manager copy of
    * the edge set. min-label is order-independent, so results are
    * bit-identical to the frame path. */
  def connectedComponents(vertices: DataFrame, adj: Adjacency,
                          iters: Int, untilConverged: Boolean): DataFrame =
    // A fixpoint early-exit in oracle mode was tried and reverted with
    // measurement (round 13), when the changed-count was a separate
    // action per round: the bench graph's iteration counts are tuned to
    // the diameter, so the exit never fires. `untilConverged` observes
    // the count because there it IS the loop condition.
    iterate(vertices.select(col("vid"), col("vid").as("label")).mat(), iters,
      if (untilConverged) Some(unchanged("label")) else None) { (labels, _) =>
      val fromNbrs = adj.send(labels, Seq(col("label")))
        .groupBy("vid")
        .agg(min(col("label")).as("nbr_label"))
      labels.join(fromNbrs, Seq("vid"), "left_outer")
        .select(col("vid"), col("label").as("__old"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
    }._1

  /** PageRank, `iters` synchronous rounds, damping 0.85:
    * pr' = (1-d) + d·Σ_in pr/out_deg  (unnormalized Brin-Page form;
    * dangling vertices contribute nothing, matching the classic
    * iterative formulation). `tol > 0` adds convergence detection:
    * stop when the max absolute rank change in a round falls below
    * `tol` (`iters` stays the safety cap); `tol = 0` replays exactly
    * `iters` rounds. */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int,
               damping: Double = 0.85, tol: Double = 0.0): DataFrame =
    // pre-partitioned by src (see connectedComponents): per-round joins
    // against the rank state reuse the cached layout instead of
    // re-shuffling the edge frame
    using(new FrameAdjacency(edges.select("src", "dst")))(
      pageRank(vertices, _, iters, damping, tol))

  /** PageRank over a pre-built directed [[Adjacency]] — the GraphStore
    * path: a [[StoredAdjacency]] of the bucketed out table keeps every
    * round's contribution join edge-side-Exchange-free. The per-state
    * out-degree is folded into the rank state (one small join per
    * round) instead of into the edge frame; the contribution multiset
    * is identical. */
  def pageRank(vertices: DataFrame, adj: Adjacency, iters: Int,
               damping: Double, tol: Double): DataFrame = {
    val outDeg = adj.outDegrees.mat()
    // converged: no rank moved by more than tol this round
    val converged = Exit(count_if(abs(col("pr") - col("__old")) > tol), _ == 0)
    val (pr, _) = iterate(vertices.select(col("vid"), lit(1.0).as("pr")).mat(),
        iters, if (tol > 0.0) Some(converged) else None) { (pr, _) =>
      // inner join: dangling vertices (no out-edges) contribute nothing
      val withOd = pr.join(outDeg, Seq("vid"))
      val contrib = adj.send(withOd, Seq((col("pr") / col("od")).as("c")))
        .groupBy("vid").agg(sum(col("c")).as("inflow"))
      pr.join(contrib, Seq("vid"), "left_outer")
        .select(col("vid"), col("pr").as("__old"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("pr"))
    }
    Ckpt.free(outDeg) // every round's state is its own checkpoint
    pr
  }

  /** Per-vertex triangle count over an undirected simple-graph view of
    * `edges` (src, dst). Degree-ordered orientation: every undirected
    * edge points from its (degree, vid)-smaller endpoint to the larger,
    * so the oriented graph is a DAG whose out-degrees are O(√m) — the
    * wedge join below is the standard shuffle-optimal formulation
    * (each triangle {x<y<z} enumerated exactly once as x→y, y→z, x→z).
    * The ordering key is total and data-derived, so an external oracle
    * replays it exactly. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCore(canonicalUndirected(edges), None)

  /** The wedge-join pipeline over an ALREADY-canonical undirected edge
    * set (a < b, simple). Factored out so clusteringCoefficients can
    * pass its canonicalized + checkpointed frame AND its degree frame
    * straight in — the historical nesting re-ran least/greatest +
    * filter + DISTINCT on data that was already distinct (a full
    * shuffle + hash dedup of the edge set, guide §2.4 "a distinct on
    * data that is already unique") and re-aggregated the degrees a
    * second time. */
  private def triangleCore(und: DataFrame,
                           degOpt: Option[DataFrame]): DataFrame = {
    val deg = degOpt.getOrElse(
      und.select(col("a").as("vid"))
        .unionAll(und.select(col("b").as("vid")))
        .groupBy("vid").agg(count(lit(1)).as("deg")))
    // orient a→b when (deg,vid)(a) < (deg,vid)(b); broadcast-size deg
    // frames only when Spark decides to — plain equi-joins here
    val withDeg = und
      .join(deg.withColumnRenamed("vid", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("vid", "b").withColumnRenamed("deg", "db"), "b")
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        col("b")).otherwise(col("a")).as("v"))
      .mat() // reused three times below; cut the double scan
    val d1 = oriented.select(col("u").as("x"), col("v").as("y"))
    val d2 = oriented.select(col("u").as("y"), col("v").as("z"))
    val d3 = oriented.select(col("u").as("x"), col("v").as("z"))
    val tris = d1.join(d2, "y").join(d3, Seq("x", "z")) // wedge ⋈ closing edge
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("triangles"))
  }

  /** Local clustering coefficient cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    * over the undirected simple-graph view (0 when deg < 2). Degrees and
    * triangles both come off the canonical edge set, so cc is exact and
    * oracle-replayable (integer operands, one IEEE division). */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
      .mat() // scanned twice (degrees + triangle join tree)
    val deg = und.select(col("a").as("vid"))
      .unionAll(und.select(col("b").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("deg"))
      .mat() // joined on both orientation sides + the final cc join
    // triangleCore reuses BOTH frames: no re-canonicalization (the
    // historical inner distinct), no second degree aggregation
    deg.join(triangleCore(und, Some(deg)),
        Seq("vid"), "left_outer")
      .select(col("vid"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          (coalesce(col("triangles"), lit(0L)) * 2.0) /
            (col("deg") * (col("deg") - 1))).as("cc"))
  }

  /** Canonical undirected simple-graph view: (a < b), self-loops and
    * duplicate/reversed rows dropped. */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** K-core by synchronous peeling, `iters` fixed rounds: each round
    * recomputes degrees over the surviving edge set and drops vertices
    * with degree < k together with their edges (converged once a round
    * changes nothing; extra rounds are no-ops). Returns the endpoints
    * of the surviving edge set. Each round is one aggregation + two
    * semi-joins on the edge keys, state checkpointed so plan depth
    * stays constant — the same loop shape as WCC. */
  def kCore(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    val (und0, und0Rows) = Ckpt.counted(canonicalUndirected(edges))
    // peeling is monotone (each round's edge set ⊆ the previous), so a
    // round that drops nothing is the fixpoint and every later round
    // is an identity pass — skip them. The convergence signal is the
    // round's row count, observed on its materializing job (free) vs
    // three shuffles of the edge set per skipped round.
    // Result-identical to running all `iters` rounds.
    val (und, _) = iterate(und0, iters, Some(sameRowCount(und0Rows))) { (und, _) =>
      val deg = und.select(col("a").as("vid"))
        .unionAll(und.select(col("b").as("vid")))
        .groupBy("vid").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("vid")
      und
        .join(keep.withColumnRenamed("vid", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("vid", "b"), Seq("b"), "left_semi")
        .select("a", "b")
    }
    und.select(col("a").as("vid")).unionAll(und.select(col("b").as("vid")))
      .distinct()
  }

  /** Both orientations of the simple undirected view, cached once. */
  private def undirectedAdjacency(edges: DataFrame): FrameAdjacency = {
    val und = canonicalUndirected(edges)
    new FrameAdjacency(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(und.select(col("b").as("src"), col("a").as("dst"))))
  }

  /** Synchronous label propagation, `iters` fixed rounds over the
    * undirected neighbor view: each vertex adopts its neighbors' most
    * frequent label, ties broken by MIN label — a total, deterministic
    * rule, so an external oracle replays every round. Isolated
    * vertices keep their own label. One (vid,label) count shuffle +
    * one argmin aggregation per round (no per-vertex windows: min_by
    * over a (−count, label) key keeps the partial-aggregation path). */
  def labelPropagation(vertices: DataFrame, edges: DataFrame,
                       iters: Int): DataFrame =
    using(undirectedAdjacency(edges))(labelPropagation(vertices, _, iters))

  /** LPA over a pre-built simple-undirected [[Adjacency]] — the
    * GraphStore path: a [[StoredAdjacency]] of the bucketed `_und`
    * table (self-loops dropped) runs every round's message join with
    * ZERO edge-side Exchange and no per-run block-manager copy. The
    * count/argmin rule is multiset-determined, so results are
    * bit-identical to the frame path. */
  def labelPropagation(vertices: DataFrame, adj: Adjacency,
                       iters: Int): DataFrame =
    iterate(vertices.select(col("vid"), col("vid").as("label")).mat(),
        iters) { (labels, _) =>
      val counted = adj.send(labels, Seq(col("label")))
        .groupBy("vid", "label")
        .agg(count(lit(1)).as("cnt"))
      val pick = counted.groupBy("vid")
        .agg(min_by(col("label"),
          struct((-col("cnt")).as("nc"), col("label").as("l"))).as("nlabel"))
      labels.join(pick, Seq("vid"), "left_outer")
        .select(col("vid"), coalesce(col("nlabel"), col("label")).as("label"))
    }._1

  /** Strongly connected components — the FW-BW coloring scheme
    * (Orzan's coloring / the same family as GraphX's SCC), run as
    * PINNED synchronous rounds so an external oracle replays it
    * step-for-step (the WCC fixed-round precedent):
    *
    * per phase, over the vertices not yet assigned:
    *   1. forward min-label propagation `rounds` times —
    *      color(v) = min(vid) over {v} ∪ ancestors-in-remaining;
    *   2. roots = vertices with color(v) == vid; walk BACKWARD from
    *      each root `rounds` times, staying inside its color —
    *      every vertex reached both ways IS in the root's SCC
    *      (root →* v by color, v →* root by the walk);
    *   3. assign those, repeat on the rest.
    * Unassigned leftovers after the last phase become singletons.
    * Exact when the rounds cover the color diameters and every color
    * holds one SCC layer per phase — `sccUntilConverged` below loops
    * both to fixpoint for the exact answer; AlgoSpec pins them equal
    * on known and generated graphs. Each round is one join + one
    * min-aggregation on the remaining set — the BFS shuffle shape,
    * frames checkpointed. */
  def sccPinned(vertices: DataFrame, edges: DataFrame,
                phases: Int, rounds: Int): DataFrame =
    withSccViews(edges)(sccPinned(vertices, _, _, phases, rounds))

  /** sccPinned over pre-built forward/backward [[Adjacency]] views (the
    * GraphStore path: distinct bucketed out table + its reversed in
    * twin — the edge set is NEVER materialized per phase). Instead of
    * restricting the EDGE set to the remaining vertices each phase
    * (a per-phase checkpoint copy of the edge frame), messages are
    * restricted: the state holds only remaining vertices (src side
    * filters itself) and a semi-join on the remaining set drops
    * messages to assigned dsts — the same per-round multiset, zero
    * edge copies. */
  def sccPinned(vertices: DataFrame, adjOut: Adjacency, adjIn: Adjacency,
                phases: Int, rounds: Int): DataFrame =
    sccPhases(vertices, adjOut, adjIn, phases, rounds, exact = false)

  /** Exact SCC: the same scheme with both loops run to fixpoint and
    * phases repeated until every vertex is assigned. */
  def sccUntilConverged(vertices: DataFrame, edges: DataFrame,
                        maxRounds: Int = 64): DataFrame =
    withSccViews(edges)(sccPhases(vertices, _, _, Int.MaxValue, maxRounds,
      exact = true))

  /** Forward and backward views of the distinct edge set. The dedup is
    * checkpointed ONCE: both views read the same materialized frame
    * instead of re-running the distinct shuffle per adjacency persist. */
  private def withSccViews(edges: DataFrame)(
      f: (Adjacency, Adjacency) => DataFrame): DataFrame = {
    val e = edges.select("src", "dst").distinct().mat()
    try using(new FrameAdjacency(e))(adjOut =>
      using(new FrameAdjacency(
        e.select(col("dst").as("src"), col("src").as("dst"))))(f(adjOut, _)))
    finally Ckpt.free(e)
  }

  /** The SCC phase loop. Pinned (`exact = false`): at most `phases`
    * phases of exactly `rounds` colour and reach rounds. Exact: phases
    * until every vertex is assigned, each loop run to its fixpoint
    * (a changed-colour count and a reach row count per round) with
    * `rounds` as the cap a non-converging loop fails on. */
  private def sccPhases(vertices: DataFrame, adjOut: Adjacency,
                        adjIn: Adjacency, phases: Int, rounds: Int,
                        exact: Boolean): DataFrame = {
    var (rem, remCnt) = Ckpt.counted(vertices.select("vid").distinct())
    var acc: DataFrame = null
    var p = 0
    // an exhausted remainder makes every later phase a no-op over
    // empty frames — skip it (2 phases × 2 loops × `rounds` Spark
    // jobs each otherwise run against nothing). Result-identical: a
    // phase over ∅ assigns ∅.
    while (p < phases && remCnt > 0) {
      // forward min-color over the remaining set. (Per-round
      // changed-count exits in the pinned form were tried and reverted
      // with measurement, round 13: the pinned rounds rarely converge
      // early on the bench graph and 24 extra count actions cost ~1.5 s.)
      val (color, colored) = iterate(
          rem.select(col("vid"), col("vid").as("color")).mat(), rounds,
          if (exact) Some(unchanged("color")) else None) { (color, _) =>
        // WCC's update shape: the left join both aggregates the
        // messages into the existing state AND restricts them to the
        // remaining set (color holds exactly rem) — no extra semi-join
        val fromNbrs = adjOut.send(color, Seq(col("color")))
          .groupBy("vid").agg(min(col("color")).as("__nc"))
        val old = if (exact) Seq(col("color").as("__old")) else Nil
        color.join(fromNbrs, Seq("vid"), "left_outer")
          .select((col("vid") +: old :+
            least(col("color"), coalesce(col("__nc"), col("color")))
              .as("color")): _*)
      }
      // silent truncation here would SHATTER a >rounds-diameter SCC
      // into wrong components — exactness demands a loud failure
      require(!exact || colored,
        s"scc coloring did not converge within $rounds rounds — raise maxRounds")
      // backward reach from roots, within color (the inner join on the
      // rem-only color frame keeps the walk inside the remaining set)
      val (roots, rootRows) = Ckpt.counted(
        color.filter(col("vid") === col("color"))
          .select(col("vid"), col("vid").as("root")))
      val (reach, reached) = iterate(roots, rounds,
          if (exact) Some(sameRowCount(rootRows)) else None) { (reach, _) =>
        val step = adjIn.send(reach, Seq(col("root")))
          .join(color.select(col("vid"), col("color").as("c2")), Seq("vid"))
          .filter(col("c2") === col("root"))
          .select(col("vid"), col("root"))
        reach.unionByName(step).distinct()
      }
      require(!exact || reached,
        s"scc backward reach did not converge within $rounds rounds — raise maxRounds")
      val assigned = reach.select(col("vid"), col("root").as("scc_id")).mat()
      Ckpt.free(reach)
      acc = if (acc == null) assigned
            else {
              val u = acc.unionByName(assigned).mat()
              Ckpt.free(acc)
              u
            }
      val (rem2, rem2Cnt) =
        Ckpt.counted(rem.join(assigned.select("vid"), Seq("vid"), "left_anti"))
      Ckpt.free(rem)
      Ckpt.free(color)
      // acc's union checkpoint copied assigned's rows (unless aliased on
      // the first phase)
      if (assigned ne acc) Ckpt.free(assigned)
      rem = rem2
      remCnt = rem2Cnt
      p += 1
    }
    val singletons = rem.select(col("vid"), col("vid").as("scc_id"))
    // acc is null only when the input vertex set was empty (the phase
    // loop never ran) — the result is the empty singleton frame
    if (acc == null) singletons else acc.unionByName(singletons)
  }

  /** HANP — Hop Attenuation & Node Preference label propagation
    * (Leung et al. 2009; the reference ecosystem's HanpAlgo). LPA
    * where each label carries a score: vertex v adopts
    *   l* = argmax_l Σ_{u ∈ N(v), label_u = l} score_u · deg_u
    * (node preference m = 1; ties broken by smallest label) and takes
    *   score_v' = max(0, max_{u ∈ N(v), label_u = l*} score_u − δ),
    * so labels attenuate as they spread — large communities stop
    * swallowing everything, the known LPA failure mode. δ defaults to
    * 1/16: with dyadic scores and integer degrees every F-sum is an
    * EXACT double in any summation order, so the oracle replays the
    * argmax bit-for-bit. Same per-round shuffle shape as LPA (one
    * message aggregation + one state join), state checkpointed. */
  def hanp(vertices: DataFrame, edges: DataFrame, iters: Int,
           delta: Double = 0.0625): DataFrame =
    using(undirectedAdjacency(edges))(hanp(vertices, _, iters, delta))

  /** HANP over a pre-built simple-undirected [[Adjacency]] (the
    * GraphStore `_und` path — see labelPropagation). The sender degree
    * is folded into the STATE (one small join per round against the
    * static degree frame) instead of into a persisted edge copy; the
    * scored-vote multiset is identical, and every sum is dyadic-exact,
    * so results are bit-identical to the frame path. */
  def hanp(vertices: DataFrame, adj: Adjacency, iters: Int,
           delta: Double): DataFrame = {
    val deg = adj.outDegrees.mat() // (vid, od) — static across rounds
    val (state, _) = iterate(vertices.select(col("vid"),
        col("vid").as("label"), lit(1.0).as("score")).mat(), iters) {
        (state, _) =>
      // inner join: a vertex with no edges sends no messages anyway
      val withDeg = state.join(deg, Seq("vid"))
      val msgs = adj.send(withDeg, Seq(col("label"),
        (col("score") * col("od")).as("f"), col("score")))
      val byLabel = msgs.groupBy("vid", "label")
        .agg(sum(col("f")).as("f"), max(col("score")).as("smax"))
      // argmax f, ties → min label — as a min_by aggregate over the
      // total (−f, label) key instead of a row_number window: labels
      // are distinct per vid (group key above), so the pick is the
      // same row, and the aggregate keeps the partial-agg path with no
      // per-round sort (one Exchange instead of window sort+shuffle).
      val pick = byLabel.groupBy("vid")
        .agg(min_by(struct(col("label"), col("smax")),
          struct((-col("f")).as("nf"), col("label").as("l"))).as("__w"))
        .select(col("vid"), col("__w.label").as("nlabel"),
          greatest(col("__w.smax") - delta, lit(0.0)).as("nscore"))
      state.join(pick, Seq("vid"), "left_outer")
        .select(col("vid"),
          coalesce(col("nlabel"), col("label")).as("label"),
          coalesce(col("nscore"), col("score")).as("score"))
    }
    Ckpt.free(deg)
    state
  }

  /** Neighbor-set Jaccard similarity |N(a)∩N(b)| / |N(a)∪N(b)| for
    * vertex pairs sharing ≥1 out-neighbor. `maxNbrDeg` drops hub
    * neighbors (in-degree > cap) BEFORE pairing — the same skew guard
    * as the LSH buckets: without it one hub with d in-neighbors emits
    * d² pairs. Degrees are counted over the capped edge set so the
    * ratio is internally consistent and oracle-replayable. */
  def jaccardSimilarity(edges: DataFrame, maxNbrDeg: Int): DataFrame = {
    val e = edges.select("src", "dst").distinct()
    val nbrDeg = e.groupBy("dst").agg(count(lit(1)).as("nd"))
    val capped = e.join(nbrDeg.filter(col("nd") <= maxNbrDeg).select("dst"),
        Seq("dst"), "left_semi")
      .mat() // scanned three times (deg + both pair sides)
    val deg = capped.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // degrees ride the pair rows instead of joining the aggregated
    // pair table back to the degree frame twice: the historical shape
    // shuffled the PAIR table (the largest frame here — pairs ≥ edges
    // whenever neighborhoods overlap) two extra times and ran a second
    // full degree pass. d is constant per src, so min(d) in the pair
    // aggregation recovers it exactly; the division is the same
    // count/long arithmetic, so results are bit-identical (guide §2.3:
    // aggregate before you shuffle; §2.4: fewer exchanges outright).
    // materialized: the self-join below scans it twice, and without
    // the checkpoint each side re-runs the whole enrichment (capped
    // shuffle + degree aggregation) independently — the plan audit
    // showed no subtree reuse
    val enriched = capped.join(deg, "src").mat()
    // capped is fully superseded once enriched is materialized (deg was
    // computed during that materialization; nothing reads capped again)
    // — free its blocks now instead of holding them for the session
    Ckpt.free(capped)
    val common = enriched.as("x").join(enriched.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("a"), col("y.src").as("b"))
      .agg(count(lit(1)).as("common"),
        min(col("x.d")).as("da"), min(col("y.d")).as("db"))
    common.select(col("a"), col("b"),
      (col("common") * lit(1.0) /
        (col("da") + col("db") - col("common"))).as("jaccard"))
  }

  /** Louvain-style community detection: `iters` synchronous rounds of
    * modularity-ascent moves (phase 1 of Louvain with a deterministic,
    * totally-ordered move rule — the reference ecosystem's algorithm
    * package ships Louvain; the classic sequential sweep is
    * order-dependent, so this uses the synchronous variant every
    * distributed implementation uses). Each round every vertex moves to
    * the neighboring community maximizing
    *   score(C) = 2m·k_in(C) − k_i·(Σtot(C) − [C = current] k_i)
    * (the modularity gain scaled by the positive constant 2m², so the
    * argmax is identical), ties broken by MIN community id. Fully
    * synchronous updates ping-pong on symmetric pairs (a adopts b's
    * community while b adopts a's), so two deterministic mitigations
    * from the parallel-Louvain literature apply: (1) the Grappolo swap
    * rule — a vertex in a singleton community may join another
    * SINGLETON community only when the target id is smaller; (2) each
    * round only the md5(vid, round)-even half of the vertices may move
    * — a round-varying subset, so period-2 cycles between larger
    * communities break within a few rounds (budget ~2× the rounds a
    * sequential sweep would need). All-integer arithmetic and
    * md5-derived gates — an external oracle replays rounds bit-exactly.
    * Returns (vid, c) for every non-isolated vertex.
    *
    * Scale: per round one message shuffle (neighbor-community counts),
    * one Σtot aggregation over the assignment (tiny), and one argmin —
    * the same shape as labelPropagation. */
  def louvain(edges: DataFrame, iters: Int): DataFrame =
    louvainMoves(canonicalUndirected(edges).withColumn("w", lit(1L)),
      selfW = None, iters = iters, gateTag = "")._1

  /** One synchronous move phase over a WEIGHTED undirected simple
    * graph — the generalization multi-level Louvain needs for its
    * coarsened levels. `und` is (a, b, w) with a < b and no self-loops;
    * `selfW` is optional (vid, sw) self-loop weight (a contracted
    * community's internal edges), contributing 2·sw to the weighted
    * degree but nothing to any move gain (a self-loop stays internal
    * wherever the vertex goes, so it cancels between candidates).
    * `gateTag` salts the round-varying mover gate per level; level 1
    * uses "" so the single-level oracle replay is byte-identical to
    * the historical rounds. All weights are integral (edge-multiplicity
    * counts), so every score is exact long arithmetic and an external
    * oracle replays rounds bit-for-bit. */
  /** Returns (assignment, improvingMoveRemains). The second component
    * is only computed when `trackImproving` (one extra candidate-score
    * pass over the FINAL assignment): TRUE iff some vertex still has a
    * strictly-positive-gain move — the exact Blondel "changes remain"
    * signal, independent of the md5 mover gate (a gated-out vertex
    * still counts, so the auto-depth driver never stops early because
    * the gate starved a level). */
  private def louvainMoves(und: DataFrame, selfW: Option[DataFrame],
                           iters: Int, gateTag: String,
                           trackImproving: Boolean = false)
      : (DataFrame, Boolean) = {
    // idempotent: a coarsened level passes an already-checkpointed
    // supergraph — re-matting it would duplicate every block
    val undM = graft.Ckpt.matIdempotent(und)
    // m2 = 2·(total weight incl. self-loops) — invariant under
    // contraction, so every level sees the SAME m2 (true Louvain)
    val wSum = undM.agg(coalesce(sum("w"), lit(0L))).head.getLong(0)
    val selfSum = selfW.map(_.agg(coalesce(sum("sw"), lit(0L)))
      .head.getLong(0)).getOrElse(0L)
    val m2 = (wSum + selfSum) * 2
    val adj = new FrameAdjacency(
      undM.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(undM.select(col("b").as("src"), col("a").as("dst"), col("w"))),
      keep = Seq("w"))
    val nbrDeg = adj.bySrc(Seq(sum("w").as("k0")))
    val deg = (selfW match {
      case None => nbrDeg.select(col("vid"), col("k0").as("k"))
      case Some(sw) =>
        // full outer: an all-internal community contracts to a
        // supervertex with ONLY a self-loop — it has no move to make
        // but must stay in the assignment for the unfold join
        nbrDeg.join(sw, Seq("vid"), "full_outer")
          .select(col("vid"), (coalesce(col("k0"), lit(0L)) +
            lit(2L) * coalesce(col("sw"), lit(0L))).as("k"))
    }).mat()

    // candidate scores WITH the staying score folded in — one pass
    // over the message join per round instead of two (the historical
    // split cand/stay formulation re-ran the whole kin subtree — edge
    // join + aggregation — a second time for `stay`; guide §1.2: fix
    // the distributed algorithm first). Exact equivalences used:
    //  - the adjacency is orientation-symmetric (und ∪ reversed), so
    //    sending the assignment along src → dst yields the same
    //    (receiver, community, w) multiset as the historical dst-join
    //    — and src is the cached frame's partition key, so the edge
    //    side never exchanges or sorts per round;
    //  - the own-community candidate row's score is EXACTLY the old
    //    staying score m2·kin_i − k·(st_i − k); when no such row
    //    exists, kin_i = 0 and stay = −k·(st_i − k), a per-vid
    //    constant carried on every row — so one window over vid
    //    replaces the second kin pass. All-long arithmetic throughout,
    //    so every comparison is bit-identical to the split form.
    def scoredCand(assign: DataFrame): DataFrame = {
      val nbrC = adj.send(assign, Seq(col("c"), col("w")))
      val kin = nbrC.groupBy("vid", "c").agg(sum("w").as("kin"))
      // community size and Σtot in ONE aggregation pass (they key on
      // the same c over the same assign⋈deg rows — deg covers every
      // assigned vid, so the inner join drops nothing and the merged
      // frame has exactly the historical csize/sigtot rows): one
      // exchange and two downstream joins fewer per round
      val stats = assign.join(deg, "vid").groupBy("c")
        .agg(count(lit(1)).as("sz"), sum("k").as("st"))
      val cur = assign.withColumnRenamed("c", "c_i")
        .join(stats.withColumnRenamed("c", "c_i")
          .withColumnRenamed("sz", "sz_i")
          .withColumnRenamed("st", "st_i"), "c_i")
      val cand = kin.join(stats, "c")
        .join(deg, "vid").join(cur, "vid")
        // Grappolo swap rule: singleton → larger-id singleton is a
        // would-be symmetric swap; drop the candidate
        .filter(!(col("sz_i") === 1L && col("sz") === 1L &&
          col("c") > col("c_i")))
        .select(col("vid"), col("c"), col("c_i"),
          (lit(m2) * col("kin") - col("k") *
            (col("st") - when(col("c") === col("c_i"), col("k"))
              .otherwise(lit(0L)))).as("score"),
          (-col("k") * (col("st_i") - col("k"))).as("stay0"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("vid")
      cand.withColumn("stay",
        coalesce(max(when(col("c") === col("c_i"), col("score"))).over(w),
          col("stay0")))
    }

    val (assign, _) = iterate(deg.select(col("vid"), col("vid").as("c")).mat(),
        iters) { (assign, round) =>
      val scored = scoredCand(assign)
      // hill-climb: move only on strictly positive gain over staying
      val pick = scored
        .filter(col("c") === col("c_i") || col("score") > col("stay"))
        .groupBy("vid")
        .agg(min_by(col("c"),
          struct((-col("score")).as("ns"), col("c").as("cc"))).as("nc"))
      // round-varying mover half: breaks symmetric swap cycles
      val gate = pmod(conv(substring(
        md5(concat(col("vid"), lit(s"$gateTag|$round"))), 1, 15), 16, 10)
        .cast("long"), lit(2L)) === 0L
      assign
        .join(pick, Seq("vid"), "left_outer")
        .select(col("vid"),
          when(gate && col("nc").isNotNull, col("nc"))
            .otherwise(col("c")).as("c"))
    }
    // improving-move probe over the FINAL assignment (auto-depth mode
    // only): exact — a strictly-positive-gain candidate counts whether
    // or not the md5 gate would have let it move this level
    val improving = trackImproving && {
      !scoredCand(assign)
        .filter(col("c") =!= col("c_i") && col("score") > col("stay"))
        .isEmpty
    }
    adj.release()
    // undM passed in pre-materialized belongs to the caller (the
    // multi-level driver still contracts over it)
    if (undM ne und) Ckpt.free(undM)
    Ckpt.free(deg)
    (assign, improving)
  }

  /** MULTI-LEVEL Louvain (Blondel et al. 2008 — the full algorithm the
    * reference ecosystem's LouvainAlgo implements): after each pinned
    * move phase, contract every community to a supervertex (inter-
    * community edges summed into weighted super-edges, intra edges +
    * rolled-up self-loops into supervertex self-weights), rerun the
    * move phase on the coarsened graph with the SAME m2, and unfold
    * the assignment chain back to original vertices. Coarsening is
    * what gives Louvain its quality and scalability on large graphs:
    * later levels move whole communities at once over an
    * exponentially smaller graph. Every level runs `iters` pinned,
    * md5-gated rounds with all-integer scores, so the DuckDB oracle
    * replays the entire hierarchy bit-for-bit.
    *
    * Scale: level-1 dominates (the coarsened graphs shrink
    * geometrically); contraction is one endpoint-mapping join + one
    * aggregation keyed on the community pair. */
  def louvainMultiLevel(edges: DataFrame, levels: Int,
                        iters: Int): DataFrame =
    louvainML(edges, levels, iters, untilConverged = false)

  /** Multi-level Louvain run to CONVERGENCE — the canonical stopping
    * rule (Blondel et al. §2: "the passes are repeated until there are
    * no more changes"): levels are added while a strictly-positive-gain
    * move still EXISTS against the level's final assignment (the exact
    * criterion, probed gate-independently — a vertex the md5 mover gate
    * happened to starve for a whole level still keeps the ascent
    * alive; the next level re-salts the gate), capped at `maxLevels`
    * as the runaway guard. The oracle-pinned fixed-`levels` form above
    * replays bit-exactly in DuckDB; this form is the production
    * default where the depth is data-dependent. */
  def louvainMultiLevelAuto(edges: DataFrame, iters: Int,
                            maxLevels: Int = 16): DataFrame =
    louvainML(edges, maxLevels, iters, untilConverged = true)

  private def louvainML(edges: DataFrame, levels: Int, iters: Int,
                        untilConverged: Boolean): DataFrame = {
    require(levels >= 1, s"levels must be >= 1, got $levels")
    var cur = canonicalUndirected(edges).withColumn("w", lit(1L))
    var selfW: Option[DataFrame] = None
    var mapping: DataFrame = null // original vid -> current community
    var lastA: DataFrame = null
    var done = false
    var l = 1
    while (l <= levels && !done) {
      val tag = if (l == 1) "" else s"|L$l"
      // materialize the level's edge frame ONCE in the driver:
      // louvainMoves then sees a LogicalRDD leaf (its matIdempotent is
      // a no-op) and the contraction below reuses the same checkpoint
      // instead of re-running the canonicalization shuffle
      cur = graft.Ckpt.matIdempotent(cur)
      // louvainMoves returns a checkpointed frame — no extra mat
      val (a, improving) =
        louvainMoves(cur, selfW, iters, tag, trackImproving = untilConverged)
      // convergence (Blondel §2): stop when the level's move phase
      // changed NOTHING — then contraction is the identity and no
      // deeper level can ever move. "No improving move remains" alone
      // is NOT a stop signal (phase-1 local optima are exactly what
      // contraction exists to escape — the resolution-limit ring);
      // conversely "no moves made" alone could be the md5 mover gate
      // starving a level, so the gate-independent probe keeps the
      // ascent alive in that case (next level re-salts the gate).
      if (untilConverged)
        done = !improving &&
          a.filter(col("vid") =!= col("c")).isEmpty
      lastA = a
      val prevMapping = mapping
      mapping =
        if (mapping == null) a
        else {
          val m2 = mapping.select(col("vid"), col("c").as("__mid"))
            .join(a.select(col("vid").as("__mid2"), col("c")),
              col("__mid") === col("__mid2"))
            .select(col("vid"), col("c")).mat()
          Ckpt.free(mapping)
          m2
        }
      if (l < levels && !done) {
        val curM = graft.Ckpt.matIdempotent(cur)
        val am = a.select(col("vid").as("__av"), col("c").as("__ac"))
        val bm = a.select(col("vid").as("__bv"), col("c").as("__bc"))
        val mapped = curM
          .join(am, col("a") === col("__av"))
          .join(bm, col("b") === col("__bv"))
        val superUnd = mapped.filter(col("__ac") =!= col("__bc"))
          .select(least(col("__ac"), col("__bc")).as("a"),
            greatest(col("__ac"), col("__bc")).as("b"), col("w"))
          .groupBy("a", "b").agg(sum("w").as("w"))
          .mat()
        // intra-community edge weight + prior self-loops roll up into
        // the supervertex's self-weight
        val intra = mapped.filter(col("__ac") === col("__bc"))
          .select(col("__ac").as("vid"), col("w").as("sw"))
        val rolledPrior = selfW.map(_.join(
            a.select(col("vid").as("__sv"), col("c")),
            col("vid") === col("__sv"))
          .select(col("c").as("vid"), col("sw")))
        val allSelf = rolledPrior.map(intra.unionByName(_)).getOrElse(intra)
          .groupBy("vid").agg(sum("sw").as("sw")).mat()
        selfW.foreach(Ckpt.free)
        Ckpt.free(curM)
        selfW = Some(allSelf)
        cur = superUnd
        if (prevMapping != null) Ckpt.free(a)
      }
      l += 1
    }
    // release the LAST level's frames: the unfolded mapping is a
    // self-contained checkpoint (lastA aliases mapping when levels==1)
    if (lastA ne mapping) Ckpt.free(lastA)
    Ckpt.free(cur) // no-op when still lazy
    selfW.foreach(Ckpt.free)
    mapping
  }

  /** Newman modularity Q = Σ_C [ w_in(C)/m − (Σtot(C)/2m)² ] of an
    * assignment over the unweighted undirected simple view of `edges`
    * (w_in counts intra-community edges; m = |edges|). The quality
    * metric the Louvain family ascends — AlgoSpec uses it to pin that
    * coarsening strictly improves on a single move phase. */
  def modularity(edges: DataFrame, assign: DataFrame): Double = {
    val und = canonicalUndirected(edges)
    val am = assign.select(col("vid").as("__av"), col("c").as("__ac"))
    val bm = assign.select(col("vid").as("__bv"), col("c").as("__bc"))
    val mapped = und
      .join(am, col("a") === col("__av"))
      .join(bm, col("b") === col("__bv"))
      .select(col("__ac").as("ca"), col("__bc").as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val m = mapped.count().toDouble
      if (m == 0) return 0.0
      val win = mapped.filter(col("ca") === col("cb"))
        .groupBy("ca").agg(count(lit(1)).as("win"))
      // Σtot per community = sum of member degrees over the simple view
      val st = mapped.select(col("ca").as("c"))
        .unionAll(mapped.select(col("cb").as("c")))
        .groupBy("c").agg(count(lit(1)).as("st"))
      st.join(win, st("c") === win("ca"), "left_outer")
        .select((coalesce(col("win"), lit(0L)) / m -
          (col("st") / (2 * m)) * (col("st") / (2 * m))).as("q"))
        .agg(sum("q")).head.getDouble(0)
    } finally {
      try { mapped.unpersist(blocking = false); () }
      catch { case _: Throwable => () }
    }
  }

  /** Deterministic random walks (the node2vec/DeepWalk corpus stage of
    * the reference ecosystem's algorithm package): one walk of ≤ `len`
    * steps per start vertex, step i moving to neighbor index
    * md5(walker ++ "|" ++ i) mod out-degree — pseudo-random but exactly
    * replayable by an external oracle (same md5→60-bit-int recipe as
    * MinHash). Walks halt at dead ends. Output is exploded
    * (walker, step, vid) rows so the result is flat-comparable.
    *
    * Scale: adjacency indexing is one row_number window partitioned by
    * src (a single shuffle, reused every step); each step is two joins
    * on the current-position key with the walker state checkpointed, so
    * plan depth stays constant like the BFS loops. */
  def randomWalks(edges: DataFrame, starts: DataFrame, len: Int): DataFrame =
    walksCore(edges.select("src", "dst").distinct(), starts, len)

  /** randomWalks over a pre-deduped simple neighbor view (the
    * GraphStore `_und` path): the per-run distinct is skipped, and a
    * bucketed-scan input indexes its adjacency with a LOCAL sort (the
    * window's partitionBy src is satisfied by the layout) behind a
    * shuffle-free persist instead of a checkpoint copy. */
  def randomWalksSimple(simple: DataFrame, starts: DataFrame,
                        len: Int): DataFrame =
    walksCore(simple, starts, len)

  private def walksCore(simple: DataFrame, starts: DataFrame,
                        len: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a stored scan keeps its hash(src) layout through the window and
    // the per-step joins: persist (no shuffle, released below) instead
    // of a checkpoint copy; flat inputs checkpoint as before
    val stored = graft.traverse.Traverse.storedScanOnly(simple) ||
      graft.traverse.Traverse.srcPartitioned(simple)
    val adj0 = simple.withColumn("idx",
        row_number().over(Window.partitionBy("src").orderBy("dst"))
          .cast("long") - 1)
    val adj = // reused by every step; also caps plan depth
      if (stored)
        adj0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else adj0.mat()
    // materialized once: it is joined at EVERY step, and leaving it
    // lazy re-runs the full edge-set aggregation per step (len extra
    // passes over the adjacency for a vertex-sized frame)
    val od = adj.groupBy("src").agg(count(lit(1)).as("od")).mat()
    var cur = starts.select(col("vid").as("walker"), col("vid").as("cur"))
      .mat()
    var out = cur.select(col("walker"), lit(0).as("step"), col("cur").as("vid"))
    var i = 1
    while (i <= len) {
      val pick = cur.join(od, cur("cur") === od("src"))
        .select(col("walker"), col("cur"),
          pmod(conv(substring(md5(concat(col("walker"), lit(s"|$i"))), 1, 15),
            16, 10).cast("long"), col("od")).as("pick"))
      // NOT freed: unlike the BFS loops, every step's frame stays
      // referenced by the accumulated output union
      cur = pick.join(adj,
          pick("cur") === adj("src") && pick("pick") === adj("idx"))
        .select(col("walker"), col("dst").as("cur"))
        .mat()
      out = out.unionByName(
        cur.select(col("walker"), lit(i).as("step"), col("cur").as("vid")))
      // cap the accumulated union's plan width: without this the final
      // plan is a len-wide union of per-step frames, unbounded in walk
      // length. The superseded per-step blocks stay referenced until
      // this re-materialization copies them, then nothing does.
      if (i % 8 == 0) out = out.mat()
      i += 1
    }
    // every per-step cur was checkpointed EAGERLY, so neither the
    // adjacency nor the degree frame is in any live lineage — release
    // the stored-path persist and the degree checkpoint
    Ckpt.free(od)
    if (stored)
      try { adj.unpersist(blocking = false) } catch { case _: Throwable => () }
    out
  }

  /** Closeness centrality of the `seeds` vertices (the reference
    * ecosystem's ClosenessAlgo capability): per seed, BFS distances to
    * everything reachable within `maxSteps`, then the classic
    * within-component closeness (reached − 1) / Σ dist (0.0 for an
    * isolated seed). Built on the same level-synchronous multi-origin
    * BFS as FIND SHORTEST PATH (Traverse.shortestDistances): per-round
    * frontier joins with visited anti-join, lineage truncated per step
    * — one BFS pass covers ALL seeds simultaneously, so sampling k
    * seeds costs one traversal, not k. */
  def closeness(seeds: DataFrame, edges: DataFrame,
                maxSteps: Int): DataFrame =
    graft.traverse.Traverse.shortestDistances(seeds, edges, maxSteps)
      .groupBy(col("origin").as("vid"))
      .agg((count(lit(1)) - 1).as("reached"),
        sum(col("dist")).cast("long").as("sum_dist"))
      .select(col("vid"), col("reached"),
        when(col("sum_dist") > 0,
          col("reached").cast("double") / col("sum_dist"))
          .otherwise(lit(0.0)).as("closeness"))

  /** Betweenness centrality from a seed sample — exact Brandes
    * restricted to paths originating at `seeds` (exact betweenness when
    * seeds = all vertices; the standard sampled estimator otherwise —
    * scale by |V|/|S| if an unbiased estimate is wanted). The
    * capability twin of the reference ecosystem's BetweennessAlgo.
    *
    * Forward: one level-synchronous BFS covers ALL seeds at once,
    * keeping each level's (origin, vid, sigma) frame — sigma is the
    * shortest-path count, summed over predecessors (one join + one
    * map-side-combined aggregation per level, lineage truncated).
    * Backward: Brandes' dependency accumulation
    * δ(v) = Σ_{w: succ} σ(v)/σ(w) · (1 + δ(w)), walked level by level
    * from the deepest frontier back to level 1 (seeds excluded —
    * Brandes sums δ_s(v) over v ≠ s). At most 2·maxSteps joins total;
    * the per-level frames are ≤ maxSteps extra checkpoints, freed as
    * the backward pass consumes them. Returns (vid, bc), rows only for
    * vertices on at least one counted path. */
  def betweenness(seeds: DataFrame, edges: DataFrame,
                  maxSteps: Int): DataFrame =
    using(new FrameAdjacency(edges.select("src", "dst").distinct()))(
      betweenness(seeds, _, maxSteps))

  /** Betweenness over a pre-built DISTINCT directed [[Adjacency]] (the
    * GraphStore path: the simple-view dedup is an exchange-free local
    * aggregation over the bucketed scan, and neither BFS pass ever
    * exchanges the edge side). Sigma sums are integer and delta sums
    * multiset-determined per (origin, vid), so results match the frame
    * path. */
  def betweenness(seeds: DataFrame, adj: Adjacency,
                  maxSteps: Int): DataFrame = {
    // ---- forward: BFS levels with path counts ----
    // Per-level row counts ride along (observed on each level's
    // materializing job), so the growing per-level joins below can gate
    // a BROADCAST of the small side exactly like every other reach-set
    // join in the engine (Traverse.maybeBroadcast): while the visited /
    // above sets fit the frontier cap, the anti-join and the backward
    // dependency join run build-side-broadcast with ZERO extra
    // exchange of the message set; past the cap they fall back to the
    // historical sort-merge shape — no new scale risk (guide §3.1).
    val (root, rootRows) = Ckpt.counted(
      seeds.select(col("vid").as("origin"), col("vid"), lit(1L).as("sigma")))
    var levels = Vector(root)
    var levelRows = Vector(rootRows)
    var visited = levels.head.select("origin", "vid").mat()
    var visitedRows = levelRows.head
    var step = 1
    var frontierRows = 1L
    while (step <= maxSteps && frontierRows > 0) {
      val prev = levels.last
      val (nxt, rows) = Ckpt.counted(
        adj.send(prev, Seq(col("origin"), col("sigma")))
          .join(graft.traverse.Traverse.maybeBroadcast(visited, visitedRows),
            Seq("origin", "vid"), "left_anti")
          .groupBy("origin", "vid").agg(sum(col("sigma")).as("sigma")))
      frontierRows = rows
      if (frontierRows > 0) {
        levels :+= nxt
        levelRows :+= frontierRows
        val v2 = visited.unionByName(nxt.select("origin", "vid")).mat()
        Ckpt.free(visited)
        visited = v2
        visitedRows += frontierRows
      } else Ckpt.free(nxt) // terminating empty frontier
      step += 1
    }
    Ckpt.free(visited)
    // ---- backward: dependency accumulation, deepest level first ----
    // every computed level 1..deepest contributes rows (the deepest
    // with δ = 0 — endpoints carry no dependency), so the output lists
    // every non-seed vertex on a counted path
    var acc: DataFrame = null
    def accAdd(dl: DataFrame): Unit =
      acc = if (acc == null) dl
            else {
              val u = acc.unionByName(dl).mat()
              Ckpt.free(acc)
              u
            }
    var deltaAbove = levels.last.withColumn("delta", lit(0.0))
      .select(col("origin"), col("vid"), col("sigma"), col("delta")).mat()
    if (levels.size >= 2) accAdd(deltaAbove)
    var l = levels.size - 2
    while (l >= 1) { // level 0 is the seed s itself — excluded from bc
      val lv = levels(l)
      val above = deltaAbove.select(col("origin").as("o2"),
        col("vid").as("w"), col("sigma").as("sigma_w"), col("delta"))
      // deliver each level row to its successors via the adjacency
      // (msg vid = successor; __v = the contributing vertex), then
      // keep only successors one level up on the same origin. The
      // `above` side is one BFS level (rows = levelRows(l+1), already
      // counted in the forward pass) — while it fits the frontier cap
      // it BROADCASTS, so neither the message set nor `above` is
      // exchanged for this join and the only shuffle left is the
      // map-side-combined dependency aggregation; a level past the cap
      // falls back to the historical sort-merge join unchanged.
      val contrib = adj.send(lv,
          Seq(col("origin"), col("vid").as("__v"), col("sigma")))
        .join(graft.traverse.Traverse.maybeBroadcast(above, levelRows(l + 1)),
          col("origin") === col("o2") && col("vid") === col("w"))
        .groupBy(col("origin"), col("__v").as("vid"))
        .agg(sum(col("sigma").cast("double") / col("sigma_w") *
          (lit(1.0) + col("delta"))).as("delta"))
      // keep zero-dependency vertices: they still pass (1 + 0) upward
      val dl = lv.join(contrib, Seq("origin", "vid"), "left")
        .select(col("origin"), col("vid"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .mat()
      val accBefore = acc
      accAdd(dl)
      // freeing the old deltaAbove must not free a frame acc still
      // answers from, and must not re-free the one accAdd just
      // released (on the first backward round deltaAbove == old acc)
      if ((deltaAbove ne acc) && (deltaAbove ne accBefore))
        Ckpt.free(deltaAbove)
      Ckpt.free(levels(l)) // consumed
      deltaAbove = dl
      l -= 1
    }
    if (deltaAbove ne acc) Ckpt.free(deltaAbove)
    Ckpt.free(levels.head)
    if (levels.size >= 2) Ckpt.free(levels.last)
    if (acc == null)
      seeds.sparkSession.emptyDataFrame
        .withColumn("vid", lit("")).withColumn("bc", lit(0.0)).limit(0)
    else
      acc.groupBy("vid").agg(sum(col("delta")).as("bc"))
  }

  /** Node2vec-biased walks (Grover & Leskovec 2016) — the biased
    * sibling of randomWalks, completing the reference ecosystem's
    * Node2Vec capability. Second-order bias: from `cur` with previous
    * vertex `prev`, a candidate x weighs
    *   backW (=1/p)  if x == prev,
    *   1.0           if edge (prev, x) exists (distance-1 from prev),
    *   outW  (=1/q)  otherwise.
    * Defaults p = q = 4 make every weight DYADIC (0.25 / 1.0), so the
    * ordered cumulative sums are EXACT in IEEE double and an external
    * oracle replays the pick bit-for-bit: threshold = (52-bit md5
    * fraction of walker|step) × total weight, step = first dst-ordered
    * candidate whose cumulative weight exceeds it. Step 1 seeds
    * prev = cur, which degenerates to uniform weights (every candidate
    * is cur-adjacent) with no special-casing. The pick itself is exact
    * for any positive weights (see [[pickFirstOver]]).
    *
    * Scale: per step one join on the current-position key, one
    * (prev, cand) existence left-join, and per-walker windows
    * (partitioned by walker — never a global window); state is
    * checkpointed per step like every loop here. */
  def node2vecWalks(edges: DataFrame, starts: DataFrame, len: Int,
                    backW: Double = 0.25, outW: Double = 0.25): DataFrame =
    node2vecCore(edges.select("src", "dst").distinct(), starts, len,
      backW, outW)

  /** node2vecWalks over a pre-deduped simple neighbor view (the
    * GraphStore `_und` path — see randomWalksSimple): no per-run
    * distinct, no checkpoint copy of the edge set; both the candidate
    * expansion and the (prev, cand) existence probe join against the
    * bucketed layout in place. */
  def node2vecWalksSimple(simple: DataFrame, starts: DataFrame, len: Int,
                          backW: Double = 0.25,
                          outW: Double = 0.25): DataFrame =
    node2vecCore(simple, starts, len, backW, outW)

  private def node2vecCore(simple0: DataFrame, starts: DataFrame, len: Int,
                           backW: Double, outW: Double): DataFrame = {
    val TwoPow52 = 4503599627370496.0
    val stored = graft.traverse.Traverse.storedScanOnly(simple0) ||
      graft.traverse.Traverse.srcPartitioned(simple0)
    val simple = // scanned twice per step (candidates + existence probe)
      if (stored)
        simple0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else simple0.mat()
    var cur = starts.select(col("vid").as("walker"), col("vid").as("cur"),
      col("vid").as("prev")).mat()
    var out = cur.select(col("walker"), lit(0).as("step"),
      col("cur").as("vid"))
    var i = 1
    while (i <= len) {
      val cand = cur.join(simple, cur("cur") === simple("src"))
        .select(col("walker"), col("cur"), col("prev"),
          simple("dst").as("cand"))
      val pe = simple.select(col("src").as("ps"), col("dst").as("pd"))
      val wts = cand.join(pe,
          col("prev") === col("ps") && col("cand") === col("pd"), "left")
        .select(col("walker"), col("cur"), col("cand"),
          when(col("cand") === col("prev"), lit(backW))
            .when(col("pd").isNotNull, lit(1.0))
            .otherwise(lit(outW)).as("w"))
      val picked = pickFirstOver(wts, tw =>
        (conv(substring(md5(concat(col("walker"), lit(s"|$i"))), 1, 13),
          16, 10).cast("double") / TwoPow52) * tw)
      // NOT freed (randomWalks posture): each step's frame stays
      // referenced by the accumulated output union until the i%8 re-mat
      cur = picked.select(col("walker"), col("cand").as("cur"),
        col("cur").as("prev")).mat()
      out = out.unionByName(
        cur.select(col("walker"), lit(i).as("step"), col("cur").as("vid")))
      if (i % 8 == 0) out = out.mat()
      i += 1
    }
    // per-step curs were checkpointed eagerly — the stored persist can go
    if (stored)
      try { simple.unpersist(blocking = false) }
      catch { case _: Throwable => () }
    out
  }

  /** node2vec's weighted pick: per walker, the first cand-ordered row
    * of `wts` (walker, cand, w, ...) whose running weight sum cw
    * exceeds `threshold(tw)`, tw being the walker's total weight. ONE
    * Window node: cw, prevCw (the running sum before the row) and tw
    * share the (walker, cand) partition and order with different
    * frames. tw as the unbounded-frame sum equals the last running sum
    * bit-for-bit (WindowExec accumulates every frame in the same sort
    * order), and prevCw is the previous row's cw bit-for-bit — lag(cw,
    * 1, 0.0) without a second Window — so exactly one row has
    * prevCw <= t < cw for any positive weights, dyadic or not (cw - w
    * rounds away from the previous cw once sums are inexact). */
  private[graft] def pickFirstOver(wts: DataFrame,
                                   threshold: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCand = Window.partitionBy("walker").orderBy("cand")
    val scored = wts
      .withColumn("cw", sum(col("w")).over(
        byCand.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prevCw", coalesce(sum(col("w")).over(
        byCand.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .withColumn("tw", sum(col("w")).over(
        byCand.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("t", threshold(col("tw")))
    scored.filter(col("cw") > col("t") && col("prevCw") <= col("t"))
  }

  /** Weighted single-source shortest distances, `iters` synchronous
    * Bellman-Ford rounds (distance = min over ≤iters-hop path sums, so
    * exact once iters ≥ diameter). Returns only reached vertices
    * (vid, dist). Each round is one join on the frontier key + one
    * min-aggregation — the same shuffle shape as the BFS loops — with
    * the state frame checkpointed per round so plan depth stays
    * constant. Path sums associate left-to-right, so an external
    * oracle replays them bit-for-bit. */
  def sssp(edges: DataFrame, source: String, iters: Int): DataFrame =
    using(new FrameAdjacency(
      edges.select(col("src"), col("dst"),
        col("weight").cast("double").as("w")), keep = Seq("w")))(
      sssp(edges.sparkSession, _, source, iters, col("w")))

  /** SSSP over a pre-built directed [[Adjacency]] that `keep`s the
    * columns `w` references (the GraphStore path: weight derived from
    * a stored edge column, every relaxation join edge-side
    * Exchange-free). min-aggregation is multiset-determined and path
    * sums associate identically, so results match the frame path
    * bit-for-bit.
    *
    * While the reached set and the edge rows read stay within
    * [[Adjacency.DriverRows]], the rounds run on the driver
    * ([[ssspOnDriver]]): one [[Adjacency.neighbors]] read per round,
    * of the vertices reached last round only, and the same
    * min-relaxation in driver memory. Above the bound the loop restarts
    * on the distributed rounds. */
  def sssp(spark: org.apache.spark.sql.SparkSession, adj: Adjacency,
           source: String, iters: Int,
           w: org.apache.spark.sql.Column): DataFrame =
    sssp(spark, adj, source, iters, w, Adjacency.DriverRows)

  /** [[sssp]] with the driver loop's bound as a parameter (0 forces the
    * distributed rounds). */
  private[graft] def sssp(spark: org.apache.spark.sql.SparkSession,
                          adj: Adjacency, source: String, iters: Int,
                          w: org.apache.spark.sql.Column,
                          driverRows: Int): DataFrame =
    ssspOnDriver(spark, adj, source, iters, w, driverRows).getOrElse(
      iterate(spark.range(1).select(lit(source).as("vid"), lit(0.0).as("dist"))
          .mat(), iters) { (dist, _) =>
        val ext = adj.send(dist, Seq((col("dist") + w).as("dist")))
        dist.unionByName(ext)
          .groupBy("vid").agg(min(col("dist")).as("dist"))
      }._1)

  /** The distributed rounds of [[sssp]] replayed on the driver: each
    * round reads the out-edges of the vertices first reached in the
    * previous round (earlier reads stay in driver memory, so every
    * round relaxes over the whole reached set, as the join does), and
    * a round that changes nothing ends the loop, since every later
    * round would repeat it. Spark's `min` is replayed exactly: NULL
    * sums are skipped unless nothing else arrives, NaN orders above
    * every number, and a value that compares equal (-0.0 against 0.0)
    * keeps the earlier one. None, with no rows returned, when the
    * vertex ids are not strings or the reached set or the rows read
    * exceed `bound`. */
  private def ssspOnDriver(spark: org.apache.spark.sql.SparkSession,
                           adj: Adjacency, source: String, iters: Int,
                           w: org.apache.spark.sql.Column,
                           bound: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    if (bound < 1 || adj.vidType != StringType) return None
    type D = java.lang.Double
    // Spark's min: a NULL never wins, NaN is the greatest double, ties
    // keep the value already held
    def least(a: D, b: D): D =
      if (b == null) a
      else if (a == null) b
      else if (a.doubleValue == b.doubleValue ||
               java.lang.Double.compare(a, b) <= 0) a
      else b
    val nb = adj.driverNeighbors(Seq(w.cast(DoubleType)), bound)
    var dist = Map[Any, D](source -> java.lang.Double.valueOf(0.0))
    var round = 0
    var changed = true
    while (round < iters && changed) {
      // reads the vertices reached last round; the rest are held
      if (!nb.load(dist.keys)) return None
      var next = dist
      for ((u, du) <- dist; r <- nb(u)) {
        val (v, wv) = (r.get(1), r.getAs[D](2))
        val sum: D = if (du == null || wv == null) null else du + wv
        next = next.updated(v, next.get(v).fold(sum)(least(_, sum)))
      }
      if (next.size > bound) return None
      changed = next != dist
      dist = next
      round += 1
    }
    val schema = StructType(Seq(StructField("vid", StringType),
      StructField("dist", DoubleType)))
    Some(spark.createDataFrame(java.util.Arrays.asList(
      dist.toSeq.map { case (v, d) => Row(v, d) }: _*), schema))
  }
}
