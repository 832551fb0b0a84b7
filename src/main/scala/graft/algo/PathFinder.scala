package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.traverse.Traverse
import graft.traverse.Traverse.{Direction, Out}
import graft.Ckpt
import graft.Ckpt.MatOps

/** FIND PATH family (SURVEY.md §2.5): src→dst endpoint semantics with
  * path reconstruction, re-expressed as level-synchronous DataFrame BFS.
  * One path-walk engine ([[walk]]) serves every form, as the reference
  * plans them all through one path planner. Modes:
  *
  *  - `shortest` ≈ BFSShortestPathExecutor.cpp:12 /
  *    MultiShortestPathExecutor.cpp:10 (FIND SHORTEST PATH FROM a,b TO
  *    c,d): per-origin visited pruning, so a (src, dst) pair is emitted
  *    the first level it is reached — its shortest distance — with all
  *    equal-length ties;
  *  - `noloop` ≈ AllPathsExecutor.cpp:19 (FIND NOLOOP PATH, and
  *    `allPaths`): every path up to n steps with no repeated vertex;
  *  - `all`: trail semantics, no repeated stored edge
  *    (AllPathsExecutor.cpp:334-366).
  *
  * Every walk row carries (origin, vid, vids). The path payload decides
  * the rest:
  *  - untyped (`shortestPaths`, `allPaths`, FIND SHORTEST/NOLOOP text
  *    without YIELD): nothing more. `visited` is seeded with the origin,
  *    so a src == dst pair is never emitted.
  *  - typed (`typedPaths`, `typedPathsRaw`, YIELD path, FIND ALL PATH):
  *    rows also carry `steps`, the stored identity of every hop, and no
  *    stored edge repeats. `visited` starts empty, so a src that is also
  *    a dst finds its cycles. The per-row struct array and the no-repeat
  *    filter made the untyped shortest queries 1.4-1.5× slower (sf0.1,
  *    4 cores), which is why the payload is opt-in.
  *
  * Routes: one forward level loop for every mode; `shortest` at caps of
  * [[BidiMinSteps]] or more takes the bidirectional assembly over
  * [[bidiDrive]] instead — for the typed payload only on disjoint
  * endpoint sets (a self-pair cycle has no meet-in-the-middle split).
  *
  * Small walks: the untyped forward walk (SHORTEST below
  * [[BidiMinSteps]], NOLOOP) runs on the driver while its seeds,
  * targets, each level's frontier and the neighbor rows read stay within
  * [[Adjacency.DriverRows]]: one key-filtered [[Adjacency.neighbors]]
  * read per level, no checkpoint, no join ([[forwardOnDriver]]). A walk
  * that crosses the bound restarts from its seeds on the distributed
  * loop below; the typed walk and the bidirectional search always take
  * the distributed route.
  *
  * Scale: each level materializes + truncates lineage (localCheckpoint),
  * counting its rows on the same job (`Ckpt.counted`), and prunes
  * per-origin visited sets, but the frontier carries one row
  * PER PATH (the vids array) — on dense graphs equal-length-path
  * multiplicity makes it far larger than |reached|, so the hop join's
  * broadcast hint is gated through Traverse.maybeBroadcast
  * (BroadcastFrontierRows cap); above the cap the join shuffles, which
  * is the correct plan for a huge frontier. The dst set is broadcast
  * unconditionally — it is a user-supplied endpoint list, not a growing
  * frontier.
  */
object PathFinder {

  /** One side of the adaptive meet-in-the-middle search: frontier,
    * accumulated levels (every row at its per-origin first-arrival
    * depth — all tied paths kept), visited pruning, checkpoint
    * lifecycle. `expand` applies the caller's raw one-hop extension,
    * prunes it against visited, checkpoints, and bumps the depth. */
  private final class BidiSide(seed0: DataFrame, seedRows: Long) {
    var frontier: DataFrame = seed0
    var acc: DataFrame = seed0
    var levels: Vector[DataFrame] = Vector(seed0)
    // DISTINCT (origin, vid) membership set: the frontier carries one
    // row per PATH, so deduping each level before it joins the set
    // keeps both the per-level anti-join's build side and the
    // met-pairs join proportional to |reached|, not to path
    // multiplicity (which grows exponentially on dense graphs)
    private var visited = seed0.select("origin", "vid").distinct().mat()
    var top = 0
    var cnt: Long = seedRows
    /** Final expansion depth per PRUNED origin (stopped early because
      * all its pairs resolved) — driver-side, bounded by the pruning
      * seed-size gate. Unpruned origins implicitly cap at `top`. */
    val capsLocal = scala.collection.mutable.HashMap.empty[Any, Int]
    /** The side's full (origin, vid) reached set — one incremental
      * DISTINCT materialized frame, so the met-pairs check never
      * re-distincts the accumulated ball. */
    def visitedSet: DataFrame = visited
    def expand(raw: DataFrame): DataFrame = {
      val (next, rows) = Ckpt.counted(raw.join(
          visited.select(col("origin").as("vo"), col("vid").as("vv")),
          col("origin") === col("vo") && col("vid") === col("vv"),
          "left_anti"))
      cnt = rows
      if (cnt > 0) {
        // next's pairs are disjoint from visited (the anti-join), so
        // union-of-distincts stays distinct without a global re-dedup
        val v2 = visited
          .unionByName(next.select("origin", "vid").distinct()).mat()
        Ckpt.free(visited)
        visited = v2
        levels :+= next
        acc = acc.unionByName(next)
        frontier = next
        top += 1
        next
      } else { Ckpt.free(next); null }
    }
    /** Stop expanding fully-resolved origins: record their final
      * depth (= current top) and filter them out of the frontier with
      * a literal predicate — it FUSES into the next hop join's scan
      * of the frontier checkpoint, costing no extra action or copy.
      * `cnt` intentionally keeps the pre-filter count (a safe upper
      * bound for the smaller-side choice and the broadcast gate). */
    def prune(newlyDone: Iterable[Any]): Unit = if (newlyDone.nonEmpty) {
      newlyDone.foreach(o => capsLocal(o) = top)
      frontier = frontier.filter(!col("origin").isin(newlyDone.toSeq: _*))
    }
    /** The (origin, __cap) frame for the assembly's per-origin split —
      * tiny by the gate, so callers broadcast it. None when nothing
      * was pruned. */
    def capsFrame: Option[DataFrame] = if (capsLocal.isEmpty) None else {
      val spark = acc.sparkSession
      val of = levels(0).schema("origin")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        of.copy(name = "origin"),
        org.apache.spark.sql.types.StructField("__cap",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
      val rows = capsLocal.toSeq.map { case (o, d) =>
        org.apache.spark.sql.Row(o, d) }
      Some(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema))
    }
    def close(): Unit = Ckpt.free(visited)
  }

  /** ADAPTIVE bidirectional meet-in-the-middle driver (the reference's
    * left/right frontiers, BFSShortestPathExecutor.cpp:12). Each step
    * expands the SMALLER frontier (asymmetric endpoint sets never blow
    * up the big side), and the search stops as soon as ANY of:
    *  - every (src, dst) pair has met — a pair's first meet happens
    *    exactly when fTop + bTop reaches its distance (levels grow one
    *    at a time, and a shortest path splits at every index), so on
    *    fully-reachable endpoint sets the search runs distance-many
    *    level expansions TOTAL, not maxSteps;
    *  - either frontier empties — that side's ball is complete, so
    *    every reachable pair already meets it (at depth-0 on the other
    *    side if nowhere else);
    *  - fTop + bTop = maxSteps — the cap.
    * On a graph of branching factor b the two balls visit O(b^(n/2))
    * vertices instead of the single-direction O(b^n).
    *
    * Exactness: every vertex of a shortest o→t path (o ≠ t) sits at
    * forward depth = its index and backward depth = L − index (else a
    * shortcut would beat L), so all shortest paths meet at every
    * computed split; the caller reconstructs at the single canonical
    * split min(fTop, L) — always computed, see the inequalities in
    * the assembly — which reproduces the single-direction loop's row
    * multiset (prefix-multiplicity × suffix-multiplicity at one split
    * = whole-path multiplicity). Pairs with src == dst never meet
    * here (cycle semantics stay on the single-direction loop).
    *
    * `pairsTotal` counts the resolvable (src ≠ dst) endpoint pairs;
    * pass -1 to disable the met-pairs early exit. Returns the two
    * sides, closed, with all level checkpoints still live. */
  private def bidiDrive(fSide: BidiSide, bSide: BidiSide, maxSteps: Int,
                        pairsTotal: Long,
                        extendF: (DataFrame, Long, Int) => DataFrame,
                        extendB: (DataFrame, Long, Int) => DataFrame)
      : Unit = {
    var met = 0L
    var metPairs: DataFrame = null
    // Resolved-pair pruning, gated to COLLECTABLE endpoint sets (the
    // reference's FIND SHORTEST endpoint lists are user-supplied and
    // small): both seed sets are collected once, the per-origin
    // requirement map lives on the driver (overlap with the other
    // endpoint set lowers a requirement by one — src == dst pairs
    // never resolve here), and each meets-level pays ONE extra
    // collect (per-origin met counts, ≤ seed-sized). A single-seed
    // side never prunes (its full resolution IS the loop's exit
    // condition), so single-pair deep searches like LDBC IC13 skip
    // the bookkeeping entirely.
    val PruneMaxSeeds = 1024
    var needFm: Map[Any, Long] = null
    var needBm: Map[Any, Long] = null
    if (pairsTotal >= 2) {
      val sv = fSide.levels(0).select(col("origin")).distinct()
        .limit(PruneMaxSeeds + 1).collect().map(_.get(0)).toSeq
      val dv = bSide.levels(0).select(col("origin")).distinct()
        .limit(PruneMaxSeeds + 1).collect().map(_.get(0)).toSeq
      if (sv.size <= PruneMaxSeeds && dv.size <= PruneMaxSeeds) {
        val sSet = sv.toSet; val dSet = dv.toSet
        if (sv.size > 1) needFm = sv.map(o =>
          o -> (dv.size - (if (dSet(o)) 1 else 0)).toLong).toMap
        if (dv.size > 1) needBm = dv.map(o =>
          o -> (sv.size - (if (sSet(o)) 1 else 0)).toLong).toMap
      }
    }
    /** Origins of `side` (po = the metPairs column it owns) that have
      * met EVERY required counterpart — stop expanding them. Their
      * already-computed levels stay for the assembly; capsLocal
      * records each pruned origin's final depth, which the assembly's
      * per-origin canonical split uses (a pruned ball is complete up
      * to its cap, and every pair of a pruned origin met while both
      * balls were still within their caps — see the split inequality
      * in the assembly comments). */
    def pruneResolved(side: BidiSide, po: String,
                      need: Map[Any, Long]): Unit =
      if (metPairs != null && need != null) {
        val metCnt = metPairs.groupBy(col(po).as("origin"))
          .agg(count(lit(1)).as("__met")).collect()
        val done = metCnt.iterator
          .filter(r => need.getOrElse(r.get(0), Long.MaxValue) <= r.getLong(1))
          .map(_.get(0))
          .filterNot(side.capsLocal.contains)
          .toSeq
        side.prune(done)
      }
    def recordMeets(newLevel: DataFrame, other: BidiSide,
                    newIsFwd: Boolean): Unit =
      if (newLevel != null && pairsTotal >= 0) {
        val nl = newLevel.select(col("origin"), col("vid")).distinct()
        // the other side's reached set is its incrementally-maintained
        // visited frame — no per-level re-distinct of the whole ball
        val ot = other.visitedSet.select(col("origin").as("__o2"), col("vid"))
        val p0 = nl.join(ot, Seq("vid"))
        val pairs =
          (if (newIsFwd)
             p0.select(col("origin").as("__po"), col("__o2").as("__pt"))
           else
             p0.select(col("__o2").as("__po"), col("origin").as("__pt")))
            .filter(col("__po") =!= col("__pt"))
            .distinct()
        // incremental: only genuinely NEW pairs join the met set (and
        // bump the count) — the accumulated set is never re-distincted
        val (fresh, freshCnt) = Ckpt.counted(
          if (metPairs == null) pairs
          else pairs.join(metPairs
              .select(col("__po").as("__mo"), col("__pt").as("__mt")),
            col("__po") === col("__mo") && col("__pt") === col("__mt"),
            "left_anti"))
        if (freshCnt > 0) {
          met += freshCnt
          val m2 = (if (metPairs == null) fresh
                    else metPairs.unionByName(fresh)).mat()
          if (metPairs != null) Ckpt.free(metPairs)
          metPairs = m2
          // new meets may have fully resolved some endpoints: stop
          // expanding them (seeded many-pair searches otherwise keep
          // growing every origin's ball until the LAST pair resolves)
          if (met < pairsTotal) {
            pruneResolved(fSide, "__po", needFm)
            pruneResolved(bSide, "__pt", needBm)
          }
        }
        Ckpt.free(fresh)
      }
    while (fSide.top + bSide.top < maxSteps &&
           fSide.cnt > 0 && bSide.cnt > 0 &&
           (pairsTotal < 0 || met < pairsTotal)) {
      if (fSide.cnt <= bSide.cnt) {
        val nl = fSide.expand(
          extendF(fSide.frontier, fSide.cnt, fSide.top + 1))
        recordMeets(nl, bSide, newIsFwd = true)
      } else {
        val nl = bSide.expand(
          extendB(bSide.frontier, bSide.cnt, bSide.top + 1))
        recordMeets(nl, fSide, newIsFwd = false)
      }
    }
    if (metPairs != null) Ckpt.free(metPairs)
    fSide.close(); bSide.close()
  }

  /** Step-cap threshold for the bidirectional strategy. Shallow caps
    * keep the single-direction loop: its level count is already small,
    * and a backward ball from a high-fan-in endpoint set (e.g. sink
    * vertices every edge points at) can cost more than the whole
    * forward search — measured 1.6-2.6× on the 4-hop star-schema
    * queries. Deep caps are where the forward ball's exponent
    * dominates and the two half-depth balls (plus the met-pairs early
    * exit) win — measured 0.69× on the 15-hop LDBC IC13.
    *
    * An AUTOMATIC per-query probe was tried and rejected with
    * measurement (round 13): the natural signal, 1-hop in-degree of
    * the dst set, is insufficient — on the 4-hop star-schema caps the
    * backward level-1 ball from the region sinks is 25 rows (looks
    * bidi-safe) while the explosion arrives at depth 2 (the full
    * customer/supplier layer) and forced bidi measures 1.66× the
    * forward loop; seeing depth 2 means running two backward hops,
    * i.e. paying most of the loss before deciding. */
  val BidiMinSteps = 6

  /** The path-walk engine behind every FIND PATH form. `edges` carry
    * (src, dst) — plus (etype, rank) for the typed payload — in STORED
    * direction; `dir` orients them here. `mode` ∈ shortest | noloop |
    * all (trail, typed only). Output (src, dst, vids[, steps], hops),
    * one row per path. */
  private[graft] def walk(srcs: DataFrame, dsts: DataFrame,
                          edges: DataFrame, maxSteps: Int, mode: String,
                          dir: Direction, typed: Boolean,
                          driverRows: Int = Adjacency.DriverRows)
      : DataFrame = {
    require(typed || mode != "all", "trail mode needs the typed payload")
    val e =
      if (typed) stepEdges(edges, dir)
      else Traverse.orient(edges, dir).select("src", "dst")
    if (mode == "shortest" && maxSteps >= BidiMinSteps) {
      val s = srcs.select("vid").distinct()
      val d = dsts.select("vid").distinct()
      val overlap = s.join(d, Seq("vid"), "left_semi").count()
      // resolvable pairs: src == dst pairs never resolve in the bidi
      if (!typed || overlap == 0)
        return bidi(srcs, dsts, e, maxSteps, typed,
          s.count() * d.count() - overlap)
    }
    (if (typed) None
     else forwardOnDriver(srcs, dsts, e, maxSteps, mode, driverRows))
      .getOrElse(forward(srcs, dsts, e, maxSteps, mode, typed))
  }

  /** Typed walk edges: traversal (src, dst) plus the stored identity
    * every step records (ss, sd, etype, rank) and whether the step
    * walks its edge reversed — orientation happens here so each step
    * keeps its stored endpoints for rendering and edge-identity
    * checks (keyEqual normalizes direction, Edge.cpp:128). */
  private def stepEdges(edges: DataFrame, dir: Direction): DataFrame = {
    def oriented(rev: Boolean) = edges.select(
      col(if (rev) "dst" else "src").as("src"),
      col(if (rev) "src" else "dst").as("dst"), col("etype"), col("rank"),
      col("src").as("ss"), col("dst").as("sd"), lit(rev).as("rev"))
    dir match {
      case Out => oriented(rev = false)
      case Traverse.In => oriented(rev = true)
      case Traverse.Both =>
        oriented(rev = false).unionByName(oriented(rev = true))
    }
  }

  /** Depth-0 walk rows: (origin, vid, vids[, steps]). */
  private def seed(vids: DataFrame, e: DataFrame, typed: Boolean)
      : DataFrame = {
    val vt = if (e.schema("src").dataType == StringType) "string"
      else "bigint"
    val steps =
      if (typed) Seq(array().cast(
        s"array<struct<s:$vt,d:$vt,t:string,r:bigint,rev:boolean>>")
        .as("steps"))
      else Nil
    vids.select(Seq(col("vid").as("origin"), col("vid"),
      array(col("vid")).as("vids")) ++ steps: _*)
  }

  private def hop(frontier: DataFrame, cnt: Long, e: DataFrame)
      : DataFrame =
    Traverse.maybeBroadcast(frontier, cnt)
      .join(e, frontier("vid") === e("src"))

  /** The walk row one hop over `e` extends a frontier row into. */
  private def grown(e: DataFrame, typed: Boolean): Seq[Column] =
    Seq(col("origin"), e("dst").as("vid"),
      concat(col("vids"), array(e("dst"))).as("vids")) ++
      (if (typed) Seq(concat(col("steps"), array(struct(e("ss").as("s"),
        e("sd").as("d"), e("etype").as("t"), e("rank").as("r"),
        e("rev").as("rev")))).as("steps"))
      else Nil)

  /** The forward level loop every mode shares: one hop per level, the
    * mode's filter, then the level's hits against the broadcast dst
    * set. Hits are checkpointed (small) so superseded frontiers can be
    * freed. */
  private def forward(srcs: DataFrame, dsts: DataFrame, e0: DataFrame,
                      maxSteps: Int, mode: String, typed: Boolean)
      : DataFrame = {
    val e = Traverse.persistEdges(e0, maxSteps)
    val dstSet = broadcast(dsts.select(col("vid").as("__target")).distinct())
      .mat()
    def hits(df: DataFrame, step: Int) = df.select(Seq(
      col("origin").as("src"), col("vid").as("dst"), col("vids")) ++
      (if (typed) Seq(col("steps")) else Nil) :+ lit(step).as("hops"): _*)
    val seed0 = seed(srcs, e, typed)
    var (frontier, cnt) = Ckpt.counted(seed0)
    // shortest: per-origin visited anti-join. The typed payload starts
    // it EMPTY: a src that is also a dst must be re-reachable for the
    // self-pair's cycle paths (ShortestPath.feature `FROM "Tim Duncan"
    // TO "Tim Duncan" BIDIRECT` expects the 2-hop loops); re-reaching
    // the origin never shortens any other pair
    var visited =
      if (mode != "shortest") null
      else {
        val v = frontier.select(col("origin"), col("vid"))
        (if (typed) v.limit(0) else v).mat()
      }
    var found: DataFrame = null
    var step = 1
    while (step <= maxSteps && cnt > 0) {
      val h = hop(frontier, cnt, e)
      // the typed payload never re-walks a stored edge: ALL is trail
      // semantics outright, and SHORTEST's cycle paths (self-pair
      // BIDIRECT) must use two distinct stored edges
      // (ShortestPathBase.h:56 hasSameEdge)
      val kept =
        if (mode == "noloop") h.filter(!array_contains(col("vids"), e("dst")))
        else if (typed) h.filter(!exists(col("steps"), st =>
          st("s") === e("ss") && st("d") === e("sd") &&
            st("t") === e("etype") && st("r") === e("rank")))
        else h
      val ext = kept.select(grown(e, typed): _*)
      val (next, rows) = Ckpt.counted(
        if (visited == null) ext
        else ext.join(
          visited.select(col("origin").as("vo"), col("vid").as("vv")),
          ext("origin") === col("vo") && ext("vid") === col("vv"),
          "left_anti"))
      val hit = hits(next.join(dstSet, next("vid") === col("__target")), step)
        .mat()
      found = if (found == null) hit else found.unionByName(hit)
      if (visited != null) {
        val v2 = visited.unionByName(next.select("origin", "vid")).mat()
        Ckpt.free(visited)
        visited = v2
      }
      Ckpt.free(frontier) // consumed by next + hits
      frontier = next
      cnt = rows
      step += 1
    }
    Ckpt.free(frontier)
    if (visited != null) Ckpt.free(visited)
    Ckpt.free(dstSet)
    Traverse.releaseEdges(e, maxSteps) // hits are checkpointed
    if (found == null) hits(seed0, 0).limit(0) else found
  }

  /** The untyped [[forward]] loop held on the driver, one
    * [[Adjacency.neighbors]] read per level (of the frontier vids not
    * read at an earlier level) over the uncached oriented edges `e`:
    * the frontier, the per-origin visited set and the hits are driver
    * collections, the reference's graphd-side BFS
    * (BFSShortestPathExecutor.cpp:12). Rows equal the distributed
    * loop's, multiplicity included: parallel edges and repeated seeds
    * repeat paths there too. A `shortest` walk also stops once every
    * (origin, target) pair is visited, since no later level can hit.
    * None, with no rows returned, when the endpoint and edge vid types
    * differ (the join would coerce them), or when the seeds, the
    * targets, a level's frontier or the neighbor rows read exceed
    * `bound`: the caller then restarts on the distributed loop. */
  private def forwardOnDriver(srcs: DataFrame, dsts: DataFrame,
                              e: DataFrame, maxSteps: Int, mode: String,
                              bound: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val vt = e.schema("src").dataType
    val atomic = Seq[DataType](StringType, LongType, IntegerType)
    if (bound < 1 || !atomic.contains(vt) ||
        Seq(e.schema("dst"), srcs.schema("vid"), dsts.schema("vid"))
          .exists(_.dataType != vt)) return None
    def vids(df: DataFrame): Option[Seq[Any]] =
      Adjacency.collectUpTo(df.select("vid"), bound).map(_.map(_.get(0)).toSeq)
    val seeds = vids(srcs).getOrElse(return None)
    val targets = vids(dsts).getOrElse(return None).filter(_ != null).toSet
    val shortest = mode == "shortest"
    val nb = new Adjacency.Neighbors(e, Nil, bound)
    // a path is its vids; its origin is the head, its vid the last
    var frontier: Seq[Vector[Any]] = seeds.map(Vector(_))
    val visited = scala.collection.mutable.HashSet.empty[(Any, Any)]
    // (origin, target) pairs not yet visited: a shortest walk ends at 0
    var open = 0L
    if (shortest) {
      seeds.foreach(o => visited += (o -> o))
      open = seeds.distinct.filter(_ != null)
        .map(o => (targets - o).size.toLong).sum
    }
    val found = Vector.newBuilder[Row]
    var step = 1
    while (step <= maxSteps && frontier.nonEmpty && !(shortest && open == 0)) {
      if (!nb.load(frontier.iterator.map(_.last))) return None
      // built lazily: an oversized level stops at bound + 1 paths
      val next = frontier.iterator.flatMap { p =>
        // a NULL dst never joins a level and never meets a target
        nb(p.last).iterator.map(_.get(1)).filter { d =>
          d != null && (if (shortest) !visited((p.head, d)) else !p.contains(d))
        }.map(p :+ _)
      }.take(bound + 1).toVector
      if (next.size > bound) return None
      next.foreach { p =>
        if (targets(p.last)) found += Row(p.head, p.last, p, step)
        if (shortest && visited.add(p.head -> p.last) && targets(p.last))
          open -= 1
      }
      frontier = next
      step += 1
    }
    val schema = StructType(Seq(StructField("src", vt),
      StructField("dst", vt), StructField("vids", ArrayType(vt)),
      StructField("hops", IntegerType, nullable = false)))
    Some(e.sparkSession.createDataFrame(
      java.util.Arrays.asList(found.result(): _*), schema))
  }

  /** The shortest-path walk as an adaptive meet-in-the-middle search
    * over [[bidiDrive]]: the backward ball walks the REVERSED
    * orientation (each oriented row flipped; a typed step struct is
    * unchanged — it is what the forward traversal at that position
    * would have written), the smaller frontier expands first, and the
    * search stops at the first level where every pair has met. Per-pair
    * min + the canonical split reproduce the forward loop's row
    * multiset. */
  private def bidi(srcs: DataFrame, dsts: DataFrame, e0: DataFrame,
                   maxSteps: Int, typed: Boolean,
                   pairsTotal: Long): DataFrame = {
    val eF = Traverse.persistEdges(e0, maxSteps)
    val eB = Traverse.persistEdges(e0.select(e0.columns.toSeq.map {
      case "src" => col("dst").as("src")
      case "dst" => col("src").as("dst")
      case c => col(c)
    }: _*), maxSteps)
    def side(seeds: DataFrame) = {
      val (s0, rows) =
        Ckpt.counted(seed(seeds, e0, typed).withColumn("depth", lit(0)))
      new BidiSide(s0, rows)
    }
    def extend(e: DataFrame)(frontier: DataFrame, cnt: Long,
                             d: Int): DataFrame =
      hop(frontier, cnt, e).select(grown(e, typed) :+ lit(d).as("depth"): _*)

    val fS = side(srcs)
    val bS = side(dsts.select(col("vid")).distinct())
    bidiDrive(fS, bS, maxSteps, pairsTotal, extend(eF), extend(eB))

    def half(s: BidiSide, origin: String, p: String) =
      s.acc.select(Seq(col("origin").as(origin), col("vid"),
        col("vids").as(s"__${p}v")) ++
        (if (typed) Seq(col("steps").as(s"__${p}s")) else Nil) :+
        col("depth").as(s"__${p}d"): _*)
    val cand = half(fS, "origin", "f").join(half(bS, "__target", "b"),
        Seq("vid"))
      .filter(col("origin") =!= col("__target"))
      .withColumn("hops", col("__fd") + col("__bd"))
    // canonical split min(fcap_o, L), fcap_o = the origin's FINAL
    // forward depth (fS.top, or its prune depth if it resolved early):
    // always within both computed ball depths for a met pair — o's
    // ball is complete to fcap_o; and if fcap_o < L the pair met while
    // o was active, so some meet vertex v has bwd depth ≥ L − fcap_o,
    // putting the backward ball's cap at ≥ L − fcap_o too. One split
    // keeps the single-direction row multiplicity exactly (parallel
    // (src, dst) edge rows legitimately duplicate a vid-rendered path).
    val withCap = fS.capsFrame match {
      case None => cand.withColumn("__cap", lit(fS.top))
      case Some(caps) => cand.join(broadcast(caps), Seq("origin"), "left_outer")
        .withColumn("__cap", coalesce(col("__cap"), lit(fS.top)))
    }
    // assemble: forward prefix ++ reversed backward suffix (the meeting
    // vertex is the last element of both vids arrays — drop one copy)
    val out = withCap
      .withColumn("__min", min(col("hops")).over(
        Window.partitionBy("origin", "__target")))
      .filter(col("hops") === col("__min") &&
        col("__fd") === least(col("__cap"), col("hops")))
      .select(Seq(col("origin").as("src"), col("__target").as("dst"),
        concat(col("__fv"),
          slice(reverse(col("__bv")), lit(2), size(col("__bv")))).as("vids")) ++
        (if (typed) Seq(concat(col("__fs"), reverse(col("__bs"))).as("steps"))
         else Nil) :+ col("hops"): _*)
      .mat() // result-sized; lets every level checkpoint be freed
    fS.levels.foreach(Ckpt.free)
    bS.levels.foreach(Ckpt.free)
    Traverse.releaseEdges(eF, maxSteps)
    Traverse.releaseEdges(eB, maxSteps)
    out
  }

  /** Keep the least row by `order` per (src, dst) pair. */
  private def onePerPair(df: DataFrame, order: Column): DataFrame = {
    val w = Window.partitionBy(col("src"), col("dst")).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Walk rows → (src, dst, path, hops), path = "a->b->c". `single`
    * keeps one deterministic path per pair: the least rendering. */
  private[graft] def vidPaths(w: DataFrame,
                              single: Boolean = false): DataFrame = {
    val out = w.select(col("src"), col("dst"),
      array_join(col("vids"), "->").as("path"), col("hops"))
    if (single) onePerPair(out, col("path")) else out
  }

  /** Typed walk rows → the `YIELD path AS alias` shape, with the
    * reference's whole-path serialization (Path.cpp toString):
    * `<("v0")-[:etype@rank]->("v1")<-[:t]-("v2")...>`, rank omitted
    * when 0, reverse-traversed steps arrow `<-[:t]-`. `__path_<alias>`
    * is the hidden structured twin of the rendered path — downstream
    * pipes use it for ORDER BY (reference Path::operator< compares src
    * then step sequence, Path.h:211) and for length/nodes/relationships;
    * Gql.runScript drops it from the final frame. `single` keeps one
    * path per pair: the least rendering (any shortest path is a valid
    * answer; goldens relax-compare). */
  private[graft] def yieldPaths(w: DataFrame, alias: String,
                                single: Boolean = false): DataFrame = {
    val strVid = w.schema("src").dataType == StringType
    val r = w.withColumn("__rendered",
      renderTypedPath(col("vids"), col("steps"), strVid))
    (if (single) onePerPair(r, col("__rendered")) else r)
      .select(col("__rendered").as(alias),
        struct(col("vids"), col("steps")).as(s"__path_$alias"))
  }

  /** Shortest paths from every vid in `srcs` to every vid in `dsts`
    * reachable within maxSteps. Output (src, dst, path, hops) where
    * path = "a->b->c"; ties (multiple shortest paths) all survive
    * unless singlePath. */
  def shortestPaths(srcs: DataFrame, dsts: DataFrame, edges: DataFrame,
                    maxSteps: Int, dir: Direction = Out,
                    singlePath: Boolean = false): DataFrame =
    vidPaths(walk(srcs, dsts, edges, maxSteps, "shortest", dir,
      typed = false), singlePath)

  /** All simple paths (NOLOOP semantics: no repeated vertex) from srcs
    * to dsts up to maxSteps. Output (src, dst, path, hops). */
  def allPaths(srcs: DataFrame, dsts: DataFrame, edges: DataFrame,
               maxSteps: Int, dir: Direction = Out): DataFrame =
    vidPaths(walk(srcs, dsts, edges, maxSteps, "noloop", dir,
      typed = false))

  /** FIND {SHORTEST|ALL|NOLOOP} PATH ... YIELD path: typed paths in the
    * [[yieldPaths]] shape. `edges` must carry (src, dst, etype, rank)
    * in STORED direction. */
  def typedPaths(srcs: DataFrame, dsts: DataFrame, edges: DataFrame,
                 maxSteps: Int, mode: String, dir: Direction = Out,
                 alias: String = "p"): DataFrame =
    yieldPaths(walk(srcs, dsts, edges, maxSteps, mode, dir, typed = true),
      alias)

  /** typedPaths without the rendering: raw (vids, steps) rows — the
    * MATCH shortestPath()/allShortestPaths() surface binds pattern
    * variables straight off the structured columns. */
  def typedPathsRaw(srcs: DataFrame, dsts: DataFrame, edges: DataFrame,
                    maxSteps: Int, mode: String,
                    dir: Direction = Out): DataFrame =
    walk(srcs, dsts, edges, maxSteps, mode, dir, typed = true)
      .select("vids", "steps")

  /** Path serialization from the traversal vertex sequence + typed
    * steps (Path.cpp toString, relax-comparison form: tags/props
    * omitted, `@0` omitted). */
  private[graft] def renderTypedPath(vids: org.apache.spark.sql.Column,
                                     steps: org.apache.spark.sql.Column,
                                     strVid: Boolean): org.apache.spark.sql.Column = {
    def node(v: org.apache.spark.sql.Column) =
      if (strVid) concat(lit("(\""), v, lit("\")"))
      else concat(lit("("), v.cast("string"), lit(")"))
    concat(
      lit("<"), node(element_at(vids, 1)),
      array_join(zip_with(steps,
        slice(vids, lit(2), greatest(size(vids) - 1, lit(0))),
        (st, v) => concat(
          when(st("rev"), lit("<-[:")).otherwise(lit("-[:")), st("t"),
          when(st("r") =!= 0, concat(lit("@"), st("r").cast("string")))
            .otherwise(lit("")),
          when(st("rev"), lit("]-")).otherwise(lit("]->")),
          node(v))), ""),
      lit(">"))
  }
}
