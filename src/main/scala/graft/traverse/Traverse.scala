package graft.traverse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Ckpt
import graft.Ckpt.MatOps

/** Iterative graph-expansion library: the Spark-first re-expression of the
  * reference's traversal operators (SURVEY.md §2.1/§2.5):
  *
  *  - GetNeighbors (executor/query/GetNeighborsExecutor.cpp:24) → one
  *    frontier⋈edges join per hop; no special wide row format needed.
  *  - Expand/ExpandAll (ExpandExecutor.cpp:41, ExpandAllExecutor.cpp:50) →
  *    `go` with step range M..N accumulating per-step frontiers.
  *  - Traverse (TraverseExecutor.cpp:25) → `paths`: expansion keeping the
  *    vertex path as an ArrayType column, with cycle check via
  *    array_contains (openCypher-style uniqueness).
  *  - AppendVertices (AppendVerticesExecutor.cpp:18) → left join on the
  *    terminal vid with prefixed property columns.
  *  - BFSShortest / MultiShortestPath (BFSShortestPathExecutor.cpp:12,
  *    MultiShortestPathExecutor.cpp:10) → `shortestDistances`:
  *    level-synchronous BFS with a visited anti-join per origin.
  *  - Subgraph (SubgraphExecutor.cpp:15-52) → `subgraph`: BFS vertex
  *    set; `inducedEdges`: the induced edge set (DataCollect kSubgraph
  *    packs vertices AND edges, Query.h:1423-1432).
  *  - Loop + UnionAllVersionVar (LoopExecutor.cpp:15,
  *    UnionAllVersionVarExecutor.cpp:12) → `expand`: the one level
  *    loop all of the above (and MATCH `*m..n`) run on. Callers
  *    supply only their one-hop projection and which levels they keep.
  *
  * Scale posture — how each step stays sane at 100 TB:
  *  - Every level ends in an eager materialization (`Ckpt.mat`): the
  *    frontier is materialized and the logical plan is truncated, so
  *    step N's plan is one join deep, not N joins deep. Without this
  *    the plan grows super-linearly and re-derives the whole history
  *    each step (the round-1 bug). On a multi-executor cluster set
  *    `spark.graft.checkpointDir` to reliable storage and the same
  *    sites become durable `checkpoint()`s that survive executor loss
  *    (see graft.Ckpt; exercised by tools.LocalClusterCheck).
  *  - The frontier's row count is observed on the job that
  *    materializes it (`Ckpt.counted`, no extra action) and drives an
  *    explicit `broadcast()` hint when the frontier is small — so hop
  *    joins against a big edge table become broadcast joins instead of
  *    shuffling the edge table.
  *  - Early exit on an empty frontier (the reference's loop condition).
  *  - No collect() anywhere; the driver only sees counts.
  */
object Traverse {

  /** Rows below this count get an explicit broadcast hint on the hop
    * join. Conservative: a frontier of 5M vids (~a few hundred MB) still
    * broadcasts fine on real executors, but we stay well under driver
    * memory in local mode too. */
  val BroadcastFrontierRows = 2000000L

  /** Direction of edge traversal. REVERSELY/BIDIRECT mirror the GO
    * grammar (src/parser/parser.yy:1424). The reference stores both
    * directions (NebulaKeyUtils.h:61); we flip columns on a columnar
    * scan, which costs one projection instead of doubled storage. */
  sealed trait Direction
  case object Out extends Direction
  case object In extends Direction
  case object Both extends Direction

  /** Orient an edge table to (src, dst) in traversal direction. */
  def orient(edges: DataFrame, dir: Direction): DataFrame = dir match {
    case Out => edges
    case In  => edges.withColumnRenamed("src", "__tmp")
      .withColumnRenamed("dst", "src").withColumnRenamed("__tmp", "dst")
    case Both =>
      val rev = edges.withColumnRenamed("src", "__tmp")
        .withColumnRenamed("dst", "src").withColumnRenamed("__tmp", "dst")
      edges.unionByName(rev)
  }

  /** orient() for relationship-match semantics: an undirected (Both)
    * hop must see each stored edge once per distinct orientation — a
    * self-loop's forward and reversed rows are identical, so the
    * reversed side drops self-loops instead of a post-union
    * `.distinct()` (which was a full shuffle + hash-dedup of the
    * property-carrying edge frame per query, and disqualified the
    * frame from the storedScanOnly persist skip). Callers carry a
    * unique edge-id column, so every other row pair differs and the
    * result is exactly the set distinct() produced. */
  def orientDedup(edges: DataFrame, dir: Direction): DataFrame = dir match {
    case Both =>
      val rev = edges.withColumnRenamed("src", "__tmp")
        .withColumnRenamed("dst", "src").withColumnRenamed("__tmp", "dst")
      edges.unionByName(rev.filter(col("src") =!= col("dst")))
    case d => orient(edges, d)
  }

  /** True when the frame's physical layout already hash-partitions its
    * rows by `src` — a GraphStore bucketed scan (the bucketing survives
    * column-pruning projections and etype filters through alias-aware
    * planning). Such a frame needs NO loop-time persist: every hop join
    * on src reuses the on-disk layout with zero edge-side Exchange, and
    * at 100 TB re-reading bucketed parquet beats copying the edge table
    * into the block manager. */
  def srcPartitioned(e: DataFrame): Boolean =
    try e.queryExecution.sparkPlan.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.length == 1 && (h.expressions.head match {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            a.name == "src"
          case _ => false
        })
      case _ => false
    } catch { case _: Throwable => false }

  /** True when the frame is a pure projection/filter/union over
    * GraphStore bucketed scans — no shuffle, no join anywhere in its
    * physical tree. Re-deriving such a frame per hop is just re-reading
    * bucketed files (OS page cache behind them); persisting it would
    * copy the whole edge set — BOTH directions for orient(Both) — into
    * the block manager, which at 100 TB is the difference between a
    * scan and a second cluster-wide copy of the table. Flat-parquet
    * union views deliberately DON'T qualify (their leaves aren't
    * bucketed): their per-hop re-derivation was measured slower than
    * the cache in earlier rounds. */
  def storedScanOnly(e: DataFrame): Boolean =
    try {
      val plan = e.queryExecution.sparkPlan
      val shuffles = plan.collect {
        case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => x
      }
      val leaves = plan.collectLeaves()
      shuffles.isEmpty && leaves.nonEmpty && leaves.forall {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.bucketSpec.isDefined
        case _ => false
      }
    } catch { case _: Throwable => false }

  /** Persist the oriented edge frame for a multi-step loop: every hop
    * joins against it, and without caching each step re-derives the
    * union-of-projections from the parquet scan. Skipped when the frame
    * is already bucket-partitioned by src (see srcPartitioned) or is a
    * pure view over stored scans (see storedScanOnly) — the store IS
    * the cache. */
  def persistEdges(e: DataFrame, steps: Int): DataFrame =
    if (steps > 1 && !srcPartitioned(e) && !storedScanOnly(e))
      e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else e

  def releaseEdges(e: DataFrame, steps: Int): Unit =
    if (steps > 1)
      try { e.unpersist(blocking = false); () } catch { case _: Throwable => () }

  /** Hint the hop join's build side when the frontier is small. Public:
    * PathFinder's BFS loops and inducedEdges' semi-joins route
    * through the same gate so no loop ever broadcasts an unbounded
    * frontier (the reference bounds this with its memory tracker;
    * we bound it with BroadcastFrontierRows). */
  def maybeBroadcast(frontier: DataFrame, rows: Long): DataFrame =
    if (rows > 0 && rows <= BroadcastFrontierRows) broadcast(frontier)
    else frontier

  /** orient() that keeps the STORED endpoints as (ss, sd) beside the
    * traversal-oriented (src, dst); every other column rides along.
    * GET SUBGRAPH dedups the edges it emits on the stored identity
    * (Edge.cpp keyEqual), whichever direction walked them. */
  def orientCols(edges: DataFrame, dir: Direction): DataFrame = {
    val others = edges.columns.filterNot(Seq("src", "dst").contains).map(col)
    def side(from: String, to: String): DataFrame =
      edges.select(Seq(col(from).as("src"), col(to).as("dst"),
        col("src").as("ss"), col("dst").as("sd")) ++ others: _*)
    dir match {
      case Out => side("src", "dst")
      case In => side("dst", "src")
      case Both => side("src", "dst").unionByName(side("dst", "src"))
    }
  }

  /** One materialized expansion level: the hop count that reached it,
    * the checkpointed frame and its row count. */
  private[graft] final case class Level(step: Int, df: DataFrame, rows: Long)

  /** The hop every level runs: the frontier, broadcast when small,
    * joined to the oriented edges on vid = src. The frontier's `vid` is
    * dropped, so a caller's projection reads the edge row's (src, dst,
    * ...) beside the columns the frontier carries. */
  private def hopJoin(level: Level, edges: DataFrame): DataFrame = {
    val f = level.df
    maybeBroadcast(f, level.rows).join(edges, f("vid") === edges("src"))
      .drop(f("vid"))
  }

  /** The one frontier loop behind every multi-step expansion outside
    * PathFinder — the reference's Loop + UnionAllVersionVar
    * (LoopExecutor.cpp:15, UnionAllVersionVarExecutor.cpp:12).
    *
    * Level 0 is `seed`; level k is the caller's `hop` projection of
    * `hopJoin(level k-1, edges)`. With `visitKey`, a level also drops
    * every row whose key an earlier level holds (left anti-join). Each
    * level is materialized by one job that also counts its rows
    * (`Ckpt.counted`), and an empty level ends the walk before hop
    * `n`. `edges` is persisted for the walk and released at its end
    * (persistEdges).
    *
    * Returns the levels with rows whose step is in `keep`. With
    * `visitKey` it returns one Level instead: the visited set, every
    * level's rows in one checkpoint, re-materialized per level so the
    * next anti-join reads one scan. A level checkpoint is freed as soon
    * as no later hop and no returned frame reads it. */
  private[graft] def expand(seed: DataFrame, edges: DataFrame, n: Int,
                            keep: Range = 0 until 0,
                            visitKey: Seq[String] = Nil)
                           (hop: (DataFrame, Int) => DataFrame): Seq[Level] = {
    val e = persistEdges(edges, n)
    val (root, rootRows) = Ckpt.counted(seed)
    var level = Level(0, root, rootRows)
    var visited = if (visitKey.isEmpty) null else level
    val seen = visitKey.zipWithIndex.map { case (k, i) => (k, s"__seen$i") }
    val kept = scala.collection.mutable.ArrayBuffer.empty[Level]
    def keeps(l: Level) = visited == null && l.rows > 0 && keep.contains(l.step)
    if (keeps(level)) kept += level
    while (level.step < n && level.rows > 0) {
      val step = level.step + 1
      val next = hop(hopJoin(level, e), step)
      val fresh = if (visited == null) next else next.join(
        visited.df.select(seen.map { case (k, s) => col(k).as(s) }: _*),
        seen.map { case (k, s) => next(k) === col(s) }.reduce(_ && _),
        "left_anti")
      val (df, rows) = Ckpt.counted(fresh)
      val prev = level
      level = Level(step, df, rows)
      // the visited checkpoint holds prev's rows; the next hop reads level
      if (!keeps(prev) && (prev ne visited)) Ckpt.free(prev.df)
      if (visited != null && level.rows > 0) {
        val all = visited.df.unionByName(level.df).mat()
        Ckpt.free(visited.df)
        visited = Level(step, all, visited.rows + level.rows)
      }
      if (keeps(level)) kept += level
    }
    if (!keeps(level) && (level ne visited)) Ckpt.free(level.df)
    releaseEdges(e, n)
    if (visited == null) kept.toSeq else Seq(visited)
  }

  /** The kept levels as one frame (UnionAllVersionVar). */
  private[graft] def unionLevels(levels: Seq[Level]): Option[DataFrame] =
    levels.map(_.df).reduceOption(_ unionByName _)

  /** GO M TO N STEPS FROM seeds OVER edges: (origin, vid, step) rows
    * reachable in exactly k hops for each k in [m, n]. Each level is
    * deduped on (origin, vid) — ExpandAll's frontier dedup
    * (ExpandAllExecutor.cpp:50) — so the frontier stays bounded by |V|
    * per origin instead of path count. GO's edge-multiplicity output
    * (one row per traversed edge) is `goYield`. */
  def go(seeds: DataFrame, edges: DataFrame, m: Int, n: Int,
         dir: Direction = Out): DataFrame = {
    require(m >= 1 && n >= m, s"bad step range $m..$n")
    val levels = expand(seeds.select(col("vid").as("origin"), col("vid")),
      orient(edges, dir).select("src", "dst"), n, keep = m to n) { (hop, k) =>
      hop.select(col("origin"), col("dst").as("vid")).distinct()
        .withColumn("step", lit(k))
    }
    unionLevels(levels).getOrElse(seeds.sparkSession.emptyDataFrame
      .withColumn("origin", lit("")).withColumn("vid", lit(""))
      .withColumn("step", lit(0)).limit(0))
  }

  /** GO ... YIELD edge rows: the reference's exact GO output shape —
    * the frontier is DEDUPED between steps (ExpandAllExecutor
    * frontier semantics) but the yielded rows are one per traversed
    * edge at each step in [m, n], keeping the edge's property columns
    * (like._dst / $$-style yields join on these). TCK golden: GO 3
    * STEPS FROM "Tim Duncan" OVER like | YIELD COUNT(*) == 5
    * (tests/tck/features/aggregate/Agg.feature). */
  def goYield(seeds: DataFrame, edges: DataFrame, m: Int, n: Int,
              dir: Direction = Out, stepCaps: Seq[Int] = Nil): DataFrame = {
    require(m >= 1 && n >= m, s"bad step range $m..$n")
    // BIDIRECT keeps a `__rev` marker so whole-edge yields can recover
    // the STORED direction from the traversal-oriented columns
    val e = dir match {
      case Both =>
        edges.withColumn("__rev", lit(false))
          .unionByName(orient(edges, In).withColumn("__rev", lit(true)))
      case other => orient(edges, other)
    }
    // per-step edge cap (GO ... SAMPLE [n,..] / LIMIT [n,..]); a
    // deterministic first-n is a valid sample
    def cap(k: Int, hop: DataFrame) =
      stepCaps.lift(k - 1).fold(hop)(c => hop.limit(math.max(c, 0)))
    // a step before n feeds the next frontier: its capped pick is
    // materialized so the yielded rows and the frontier see the SAME rows
    val capped = scala.collection.mutable.Map.empty[Int, DataFrame]
    // step k's rows are the hop out of level k-1, left lazy: keep
    // m-1..n-1, so the walk stops at level n-1 (nothing reads level n)
    val levels = expand(seeds.select(col("vid").as("origin"), col("vid")),
      e, n - 1, keep = m - 1 until n) { (hop, k) =>
      val rows = if (!stepCaps.isDefinedAt(k - 1)) hop else {
        val c = cap(k, hop).mat()
        capped(k) = c
        c
      }
      rows.select(col("origin"), col("dst").as("vid")).distinct()
    }
    capped.foreach { case (k, c) => if (k < m) Ckpt.free(c) }
    levels.map { l =>
      val k = l.step + 1
      capped.getOrElse(k, cap(k, hopJoin(l, e))).withColumn("step", lit(k))
    }.reduceOption(_ unionByName _).getOrElse(
      seeds.sparkSession.emptyDataFrame.select(lit("").as("origin"),
        lit("").as("src"), lit("").as("dst"), lit(0).as("step")).limit(0))
  }

  /** Traverse with path tracking: (v)-[:e*m..n]->(w) keeping the full
    * vertex path as ArrayType, cycle check via array_contains. Output
    * (origin, path, vid, step).
    *
    * The reference checks edge-uniqueness (TraverseExecutor.cpp); we
    * enforce the stricter vertex-uniqueness (no vertex revisited on a
    * path) — divergence only on revisiting walks, which the oracle
    * queries avoid. */
  def paths(seeds: DataFrame, edges: DataFrame, m: Int, n: Int,
            dir: Direction = Out): DataFrame = {
    require(m >= 1 && n >= m, s"bad step range $m..$n")
    val levels = expand(seeds.select(col("vid").as("origin"),
      array(col("vid")).as("path"), col("vid")),
      orient(edges, dir).select("src", "dst"), n, keep = m to n) { (hop, k) =>
      hop.filter(!array_contains(col("path"), col("dst")))
        .select(col("origin"), concat(col("path"), array(col("dst"))).as("path"),
          col("dst").as("vid"), lit(k).as("step"))
    }
    unionLevels(levels).getOrElse(
      seeds.select(col("vid").as("origin"), array(col("vid")).as("path"),
        col("vid"), lit(0).as("step")).limit(0))
  }

  /** AppendVertices (AppendVerticesExecutor.cpp:18): attach end-vertex
    * props to a traversal result via a left join on the terminal vid.
    * Prop columns are prefixed to avoid collisions with traversal
    * columns or with props appended at an earlier hop. */
  def appendVertices(result: DataFrame, vertexTable: DataFrame,
                     vidCol: String = "vid",
                     prefix: String = ""): DataFrame = {
    val props = vertexTable.columns.filter(_ != "vid")
      .foldLeft(vertexTable)((df, c) => df.withColumnRenamed(c, prefix + c))
    result.join(props.withColumnRenamed("vid", "__dst_vid"),
      result(vidCol) === col("__dst_vid"), "left").drop("__dst_vid")
  }

  /** Level-synchronous multi-origin BFS: min #hops from each seed to
    * every reachable vertex within maxSteps. Output (origin, vid, dist).
    * Visited-set pruning keeps state O(reached); early exit on an empty
    * frontier. */
  def shortestDistances(seeds: DataFrame, edges: DataFrame, maxSteps: Int,
                        dir: Direction = Out): DataFrame =
    expand(seeds.select(col("vid").as("origin"), col("vid"), lit(0).as("dist")),
      orient(edges, dir).select("src", "dst"), maxSteps,
      visitKey = Seq("origin", "vid")) { (hop, k) =>
      // distinct on (origin, vid) ONLY, the constant dist stamped
      // AFTER: keying the distinct on (origin, vid, dist) made its
      // exchange useless to the visited anti-join (HashPartitioning on
      // a superset of the join keys does not satisfy the join's
      // clustering), so every hop paid a SECOND message-sized exchange
      // (guide §2.4: two operations keyed the same way share one
      // exchange). Same rows — dist is constant within a step.
      hop.select(col("origin"), col("dst").as("vid")).distinct()
        .withColumn("dist", lit(k))
    }.head.df

  /** GET SUBGRAPH n STEPS (SubgraphExecutor.cpp:15-52): one BFS from
    * the seed SET. Output (vid, step): each reached vertex at the step
    * that first reached it, the seeds at 0. The edges the reference
    * packs beside them (DataCollect kSubgraph) are `inducedEdges`, a
    * separate pass that vertex-only callers skip. */
  def subgraph(seeds: DataFrame, edges: DataFrame, n: Int,
               dir: Direction = Both): DataFrame =
    expand(seeds.select(col("vid")).distinct().withColumn("step", lit(0)),
      orient(edges, dir).select("src", "dst"), n, visitKey = Seq("vid")) { (hop, k) =>
      hop.select(col("dst").as("vid")).distinct().withColumn("step", lit(k))
    }.head.df

  /** GET SUBGRAPH's edges for the `subgraph` vertices reached over
    * `oriented`, which carries traversal (src, dst) plus the stored
    * (ss, sd, etype, rank) (see orientCols). Output (ss, sd, etype,
    * rank, step), one row per stored edge.
    *
    * The reference's per-step loop emits each stored edge the FIRST
    * time any frontier walks it, and the final ring keeps only edges
    * whose far end is inside the reach set — which, because every
    * expansion adds its targets to the set, is equivalent to:
    *   edge emitted  ⇔  src ∈ reach ∧ dst ∈ reach,
    *   at step        = min over orientations of depth(src).
    * So the BFS walks the narrow (src, dst) projection for depths, and
    * the edges are stamped here in ONE property-table pass (one
    * shuffle keyed on the edge identity, Edge.cpp keyEqual). */
  def inducedEdges(vertices: DataFrame, oriented: DataFrame): DataFrame = {
    // reach is bounded by the n-hop neighborhood: gate its broadcast
    // like every other reach-set join (a checkpoint: the count is cheap)
    val rows = vertices.count()
    oriented
      .join(maybeBroadcast(vertices.select(col("vid").as("__sv"),
        col("step").as("__sstep")), rows), col("src") === col("__sv"))
      .join(maybeBroadcast(vertices.select(col("vid").as("__dv")), rows),
        col("dst") === col("__dv"), "left_semi")
      .groupBy(Seq("ss", "sd", "etype", "rank").map(col): _*)
      .agg(min(col("__sstep")).as("step"))
  }
}
