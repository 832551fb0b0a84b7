package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.GraphModel
import graft.traverse.Traverse
import graft.traverse.Traverse.{Both, In, Out}
import graft.algo.PathFinder

/** SparkEntry registrations for the graph operator surface (SURVEY.md
  * §2.1/§2.5): scans, FETCH, LOOKUP, GO/Expand, Traverse-with-paths,
  * AppendVertices, BFS distances, FIND SHORTEST/ALL PATH with endpoint
  * semantics, and GET SUBGRAPH (vertices + induced edges).
  *
  * Oracles are DuckDB recursive CTEs over the same property-graph view
  * (the `E` edge union mirrors GraphModel.edges 1:1). BFS-shortest path
  * enumeration uses the level-constraint trick: a path is shortest iff
  * every prefix vertex sits at its own BFS depth, so the oracle first
  * computes depths, then only extends along depth-increasing edges.
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** DuckDB twin of GraphModel.edges (src, dst, etype, rank). */
  val edgesCte: String =
    """E AS (
      |  SELECT 'c:' || o_custkey AS src, 'o:' || o_orderkey AS dst, 'placed' AS etype, CAST(0 AS BIGINT) AS rank FROM orders
      |  UNION ALL SELECT 'o:' || l_orderkey, 'p:' || l_partkey, 'has_part', CAST(l_linenumber AS BIGINT) FROM lineitem
      |  UNION ALL SELECT 'o:' || l_orderkey, 's:' || l_suppkey, 'has_supp', CAST(l_linenumber AS BIGINT) FROM lineitem
      |  UNION ALL SELECT 'c:' || c_custkey, 'n:' || c_nationkey, 'in_nation', CAST(0 AS BIGINT) FROM customer
      |  UNION ALL SELECT 's:' || s_suppkey, 'n:' || s_nationkey, 'in_nation', CAST(0 AS BIGINT) FROM supplier
      |  UNION ALL SELECT 'n:' || n_nationkey, 'r:' || n_regionkey, 'in_region', CAST(0 AS BIGINT) FROM nation
      |)""".stripMargin

  private def gm(s: SparkSession, dir: String) = GraphModel(s, dir)

  private def custSeeds(g: GraphModel, maxKey: Int): DataFrame =
    g.customers.filter(expr(s"CAST(substr(vid, 3, 10) AS BIGINT) <= $maxKey"))
      .select("vid")

  val queries: Map[String, Q] = Map(
    // ScanVertices (ScanVerticesExecutor.cpp:17): union view of all tags
    "q_scan_vertices" -> ((s, dir) => gm(s, dir).vertices),

    // ScanEdges (ScanEdgesExecutor.cpp:17) + implicit grouping
    "q_scan_edges" -> ((s, dir) =>
      gm(s, dir).edges.groupBy("etype").agg(count(lit(1)).as("cnt"))),

    // GetVertices = FETCH PROP ON tag (GetVerticesExecutor.cpp:14)
    "q_fetch_vertices" -> ((s, dir) =>
      gm(s, dir).customers.filter(col("vid").isin("c:1", "c:2", "c:3"))),

    // GetEdges = FETCH PROP ON edge (GetEdgesExecutor.cpp:17)
    "q_fetch_edges" -> ((s, dir) =>
      gm(s, dir).hasPart.filter(col("src") === "o:1")),

    // LOOKUP = IndexScan + filter (LookupPlanner.cpp); Catalyst pushes
    // the predicate to the parquet scan = the reference's index scan
    "q_lookup" -> ((s, dir) =>
      gm(s, dir).customers.filter(col("acctbal") > 9900)
        .select(col("vid"), col("name"), col("acctbal"))),

    // GO 1 STEP (doSimplePlan, GoPlanner.cpp:145)
    "q_go_1" -> ((s, dir) => {
      val g = gm(s, dir)
      Traverse.go(custSeeds(g, 20), g.placed, 1, 1)
    }),

    // GO 1 TO 2 STEPS OVER * (ExpandAllExecutor.cpp:50, M..N range)
    "q_go_1to2" -> ((s, dir) => {
      val g = gm(s, dir)
      Traverse.go(custSeeds(g, 5), g.edges, 1, 2)
    }),

    // GO ... YIELD edge rows (reference GO output shape: deduped
    // frontier between steps, one row per traversed edge at step n)
    "q_go_yield" -> ((s, dir) => {
      val g = gm(s, dir)
      Traverse.goYield(custSeeds(g, 5),
        g.edges.select("src", "dst", "etype", "rank"), 2, 2)
        .select("origin", "src", "dst", "etype", "rank", "step")
    }),

    // Bucketed-store 2-hop expansion: the edge set lives in the
    // session's GraphStore (hash(vid) partitioning baked into the
    // files, NebulaKeyUtils.h:58-111 — built ONCE per dataset by
    // GraphStore.ensure and shared with every other graph query) and
    // the whole-graph 2-hop join runs with ZERO shuffle of the edge
    // tables (PlanSpec asserts no Exchange). At 100 TB this is the
    // difference between shuffling the edge set per hop and never
    // shuffling it.
    "q_bucketed_go" -> ((s0, dir) => {
      import graft.sources.GraphStore
      // when store-backing is OFF (an explicit flat A/B run, or a bare
      // session), build the store on a conf-isolated session CLONE —
      // enabling it on s0 itself would silently flip every later query
      // of the session to store-backed and invalidate the A/B
      val s = if (GraphStore.enabled(s0)) s0
              else { val c = s0.newSession(); GraphStore.enableManaged(c); c }
      val g = gm(s, dir)
      GraphStore.twoHop(s, g.store.get)
        .groupBy("etype1", "etype2").agg(count(lit(1)).as("cnt"))
    }),

    // GO ... REVERSELY (GoPlanner REVERSELY wiring)
    "q_go_rev" -> ((s, dir) => {
      val g = gm(s, dir)
      val seeds = g.suppliers
        .filter(expr("CAST(substr(vid, 3, 10) AS BIGINT) <= 5")).select("vid")
      Traverse.go(seeds, g.hasSupp, 1, 1, dir = In)
    }),

    // Traverse with path tracking (TraverseExecutor.cpp:25)
    "q_paths_1to2" -> ((s, dir) => {
      val g = gm(s, dir)
      Traverse.paths(custSeeds(g, 3), g.edges, 1, 2)
        .select(col("origin"), array_join(col("path"), "->").as("path"),
          col("vid"), col("step"))
    }),

    // path functions (nodes/startNode/endNode/length/relationships/
    // hasSameVertexInPath) over the traversal path column
    "q_expr_path" -> ((s, dir) => {
      val g = gm(s, dir)
      val path = col("path")
      val steps = greatest(size(path) - 1, lit(0))
      Traverse.paths(custSeeds(g, 3), g.edges, 1, 2)
        .select(col("origin"),
          array_join(path, "->").as("path"),
          element_at(path, 1).as("start_v"),
          element_at(path, -1).as("end_v"),
          steps.as("plen"),
          (size(array_distinct(path)) < size(path)).as("cyc"),
          steps.as("nrels"))
    }),

    // AppendVertices (AppendVerticesExecutor.cpp:18) with prop prefixing
    "q_append_vertices" -> ((s, dir) => {
      val g = gm(s, dir)
      Traverse.appendVertices(
        Traverse.go(custSeeds(g, 20), g.placed, 1, 1), g.orders,
        prefix = "o_")
    }),

    // BFS distances (BFSShortestPathExecutor.cpp:12 frontier semantics)
    "q_shortest_dist" -> ((s, dir) => {
      val g = gm(s, dir)
      Traverse.shortestDistances(custSeeds(g, 10), g.edges, 4)
    }),

    // FIND SHORTEST PATH FROM ... TO ... (MultiShortestPathExecutor.cpp:10)
    "q_shortest_pair" -> ((s, dir) => {
      val g = gm(s, dir)
      PathFinder.shortestPaths(custSeeds(g, 3), g.regions.select("vid"),
        g.edges, 4)
    }),

    // MATCH shortestPath(): one deterministic representative per pair
    // (SingleShortestPath.cpp strategy)
    "q_shortest_single" -> ((s, dir) => {
      val g = gm(s, dir)
      PathFinder.shortestPaths(custSeeds(g, 3), g.regions.select("vid"),
        g.edges, 4, singlePath = true)
    }),

    // FIND ALL PATH ... UPTO 4 STEPS, NOLOOP (AllPathsExecutor.cpp:19)
    "q_all_paths" -> ((s, dir) => {
      val g = gm(s, dir)
      PathFinder.allPaths(custSeeds(g, 2), g.regions.select("vid"),
        g.edges, 4)
    }),

    // nGQL sentence front door (graft.nql.Gql): parsed text → the same
    // operator plans, proving the parser+planner path end-to-end
    "q_nql_go" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """GO 1 TO 2 STEPS FROM "c:1", "c:2" OVER * YIELD origin, vid, step""")),
    "q_nql_lookup" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """LOOKUP ON customer WHERE customer.acctbal > 9900 YIELD vid, name, acctbal""")),
    "q_nql_fetch" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """FETCH PROP ON part "p:1", "p:2", "p:3"""")),
    "q_nql_path" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """FIND SHORTEST PATH FROM "c:1" TO "r:0", "r:1" UPTO 4 STEPS""")),
    "q_nql_subgraph" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """GET SUBGRAPH 1 STEPS FROM "c:1"""")),
    // pipes + implicit-grouping YIELD aggregation (PipeValidator +
    // AggregateExecutor semantics) through the parser
    "q_nql_pipe" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """GO 2 STEPS FROM "c:1", "c:2", "c:3" OVER * YIELD origin, vid
          || YIELD origin, count(vid) AS n
          || ORDER BY origin | LIMIT 10""".stripMargin)),
    // set sentence over piped GOs (parser.yy:3031: UNION dedups)
    "q_nql_union" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """GO FROM "c:1" OVER placed YIELD placed._dst AS vid
          |UNION GO FROM "c:2" OVER placed YIELD placed._dst AS vid""".stripMargin)),
    // $var assignment feeding a later sentence (AssignmentValidator)
    "q_nql_var" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """$a = GO FROM "c:1", "c:2", "c:3" OVER placed YIELD placed._dst AS oid;
          |GO FROM $a.oid OVER has_supp YIELD DISTINCT has_supp._dst AS sid""".stripMargin)),
    // UNWIND sentence (UnwindExecutor.cpp:12)
    "q_nql_unwind" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """UNWIND [1, 2, 3, 4] AS x""")),
    // FETCH PROP ON <edge> src->dst form (parser.yy:2312); probing all
    // five possible regions — the join keeps only the real edge
    "q_nql_fetch_edge" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """FETCH PROP ON in_region "n:0" -> "r:0", "n:0" -> "r:1",
          |"n:0" -> "r:2", "n:0" -> "r:3", "n:0" -> "r:4"""".stripMargin)),
    // GET SUBGRAPH edge output through the parser (DataCollect
    // kSubgraph packs vertices AND edges, Query.h:1423-1432). The
    // parser keeps a hidden structured twin (`__edges_e`) of the
    // rendered edge list, so flattening to (src, dst, etype, rank) is
    // a struct explode — no regex re-parse of the rendering.
    "q_nql_subgraph_edges" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val rows = graft.nql.Gql.runRaw(gm(s, dir),
        """GET SUBGRAPH 2 STEPS FROM "c:1" YIELD VERTICES AS v, EDGES AS e""")
      rows.select(explode(col("__edges_e")).as("es"))
        .select(col("es.src").as("src"), col("es.dst").as("dst"),
          col("es.etype").as("etype"), col("es.rank").cast("long").as("rank"))
    }),
    // FIND PATH honoring OVER <etypes> (typed traversal, PathPlanner)
    "q_nql_typed_path" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """FIND ALL PATH FROM "c:1" TO "r:0", "r:1", "r:2", "r:3", "r:4"
          |OVER in_nation, in_region UPTO 3 STEPS""".stripMargin)),

    // nGQL DML sentences end-to-end (round 5): build a scenario-local
    // space through the parser (CREATE/INSERT/UPDATE/UPSERT/DELETE),
    // then read it back with GO — the oracle replays the net effect as
    // constants (parser.yy:3060/3141/2987 surface)
    "q_nql_dml" -> ((s, dir) => {
      val cat = new graft.graph.ScenarioCatalog(s)
      graft.nql.Gql.runScript(cat,
        """CREATE TAG account(owner string, balance int DEFAULT 0);
          |CREATE EDGE paid(amount int);
          |INSERT VERTEX account(owner) VALUES "a":("Ann"), "b":("Bob"), "c":("Cy");
          |INSERT EDGE paid(amount) VALUES "a"->"b":(10), "a"->"c":(20), "b"->"c":(30);
          |UPDATE VERTEX ON account "a" SET balance = balance + 100;
          |UPSERT VERTEX ON account "d" SET owner = "Dee", balance = 5;
          |UPDATE EDGE ON paid "a"->"b" SET amount = amount * 2;
          |DELETE EDGE paid "b"->"c";
          |DELETE VERTEX "c" WITH EDGE;""".stripMargin)
      graft.nql.Gql.run(cat,
        """GO FROM "a" OVER paid
          |YIELD paid._src AS src, paid._dst AS dst, paid.amount AS amount,
          |      $^.account.balance AS balance""".stripMargin)
    }),

    // index DDL lifecycle (round 7): CREATE INDEX, stale-index read
    // visibility (rows stored before the index exist only after
    // REBUILD backfills), LOOKUP through the index
    // (meta IndexProcessor + RebuildIndexJob semantics)
    "q_nql_index_flow" -> ((s, dir) => {
      val cat = new graft.graph.ScenarioCatalog(s)
      graft.nql.Gql.runScript(cat,
        """CREATE TAG acct(owner string, score int);
          |INSERT VERTEX acct(owner, score) VALUES "a":("Ann", 7), "b":("Bob", 9);
          |CREATE TAG INDEX acct_score ON acct(score);
          |INSERT VERTEX acct(owner, score) VALUES "c":("Cy", 9);""".stripMargin)
      val before = graft.nql.Gql.run(cat,
        "LOOKUP ON acct WHERE acct.score == 9 " +
          "YIELD id(vertex) AS vid, acct.owner AS owner")
        .withColumn("phase", lit("before"))
      graft.nql.Gql.runScript(cat, "REBUILD TAG INDEX acct_score;")
      val after = graft.nql.Gql.run(cat,
        "LOOKUP ON acct WHERE acct.score == 9 " +
          "YIELD id(vertex) AS vid, acct.owner AS owner")
        .withColumn("phase", lit("after"))
      before.unionByName(after)
    }),

    // MATCH shortestPath()/allShortestPaths() text surface (round 5):
    // customer → region is exactly customer -in_nation-> nation
    // -in_region-> region, so every shortest path has length 2
    "q_match_shortest" -> ((s, dir) =>
      graft.nql.Gql.run(gm(s, dir),
        """MATCH p = allShortestPaths((a:customer)-[e:in_nation|in_region*..4]->(b:region))
          |WHERE id(a) == "c:1"
          |RETURN id(a) AS a, id(b) AS b, length(p) AS len""".stripMargin)),

    // GET SUBGRAPH 2 STEPS (SubgraphExecutor.cpp:15-52): vertex set...
    "q_subgraph_vertices" -> ((s, dir) => {
      val g = gm(s, dir)
      Traverse.subgraph(g.customers.filter(col("vid") === "c:1").select("vid"),
        g.edges, 2, Both).select(col("vid"), col("step").as("depth"))
    }),

    // ...and induced edges (DataCollect kSubgraph, Query.h:1423-1432)
    "q_subgraph_edges" -> ((s, dir) => {
      val g = gm(s, dir)
      val reached = Traverse.subgraph(
        g.customers.filter(col("vid") === "c:1").select("vid"), g.edges, 2, Both)
      Traverse.inducedEdges(reached, Traverse.orientCols(g.edges, Both))
        .select(col("ss").as("src"), col("sd").as("dst"), col("etype"),
          col("rank"))
    })
  )

  private val vertsUnion =
    """SELECT 'c:' || c_custkey AS vid, 'customer' AS label FROM customer
      |UNION ALL SELECT 's:' || s_suppkey, 'supplier' FROM supplier
      |UNION ALL SELECT 'p:' || p_partkey, 'part' FROM part
      |UNION ALL SELECT 'n:' || n_nationkey, 'nation' FROM nation
      |UNION ALL SELECT 'r:' || r_regionkey, 'region' FROM region
      |UNION ALL SELECT 'o:' || o_orderkey, 'order' FROM orders""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_scan_vertices" -> vertsUnion,
    "q_scan_edges" ->
      s"WITH $edgesCte SELECT etype, count(*) AS cnt FROM E GROUP BY etype",
    "q_fetch_vertices" ->
      """SELECT 'c:' || c_custkey AS vid, c_name AS name, c_nationkey AS nationkey,
        |  c_acctbal AS acctbal, c_mktsegment AS mktsegment
        |FROM customer WHERE c_custkey IN (1, 2, 3)""".stripMargin,
    "q_fetch_edges" ->
      """SELECT 'o:' || l_orderkey AS src, 'p:' || l_partkey AS dst,
        |  CAST(l_linenumber AS BIGINT) AS rank, l_quantity AS quantity,
        |  l_extendedprice AS extendedprice, l_discount AS discount
        |FROM lineitem WHERE l_orderkey = 1""".stripMargin,
    "q_lookup" ->
      """SELECT 'c:' || c_custkey AS vid, c_name AS name, c_acctbal AS acctbal
        |FROM customer WHERE c_acctbal > 9900""".stripMargin,
    "q_go_1" ->
      """SELECT DISTINCT 'c:' || o_custkey AS origin, 'o:' || o_orderkey AS vid, 1 AS step
        |FROM orders WHERE o_custkey <= 20""".stripMargin,
    "q_go_1to2" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey <= 5),
        |r(origin, vid, step) AS (
        |  SELECT vid, vid, 0 FROM seeds
        |  UNION
        |  SELECT r.origin, e.dst, r.step + 1 FROM r JOIN E e ON e.src = r.vid WHERE r.step < 2
        |)
        |SELECT origin, vid, step FROM r WHERE step >= 1""".stripMargin,
    "q_bucketed_go" ->
      s"""WITH $edgesCte
        |SELECT e1.etype AS etype1, e2.etype AS etype2, count(*) AS cnt
        |FROM E e1 JOIN E e2 ON e1.dst = e2.src
        |GROUP BY 1, 2""".stripMargin,
    "q_go_rev" ->
      """SELECT DISTINCT 's:' || l_suppkey AS origin, 'o:' || l_orderkey AS vid, 1 AS step
        |FROM lineitem WHERE l_suppkey <= 5""".stripMargin,
    "q_go_yield" ->
      s"""WITH $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey <= 5),
        |f1 AS (SELECT DISTINCT s.vid AS origin, e.dst AS vid
        |       FROM seeds s JOIN E e ON e.src = s.vid)
        |SELECT f1.origin AS origin, e.src, e.dst, e.etype, e.rank, 2 AS step
        |FROM f1 JOIN E e ON e.src = f1.vid""".stripMargin,
    "q_paths_1to2" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey <= 3),
        |p(origin, path, vid, step) AS (
        |  SELECT vid, [vid], vid, 0 FROM seeds
        |  UNION ALL
        |  SELECT p.origin, list_append(p.path, e.dst), e.dst, p.step + 1
        |  FROM p JOIN E e ON e.src = p.vid
        |  WHERE p.step < 2 AND NOT list_contains(p.path, e.dst)
        |)
        |SELECT origin, array_to_string(path, '->') AS path, vid, step FROM p WHERE step >= 1""".stripMargin,
    "q_expr_path" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey <= 3),
        |p(origin, path, vid, step) AS (
        |  SELECT vid, [vid], vid, 0 FROM seeds
        |  UNION ALL
        |  SELECT p.origin, list_append(p.path, e.dst), e.dst, p.step + 1
        |  FROM p JOIN E e ON e.src = p.vid
        |  WHERE p.step < 2 AND NOT list_contains(p.path, e.dst)
        |)
        |SELECT origin, array_to_string(path, '->') AS path,
        |  path[1] AS start_v, path[-1] AS end_v,
        |  CAST(len(path) - 1 AS INTEGER) AS plen,
        |  len(list_distinct(path)) < len(path) AS cyc,
        |  CAST(len(path) - 1 AS INTEGER) AS nrels
        |FROM p WHERE step >= 1""".stripMargin,
    "q_append_vertices" ->
      """SELECT DISTINCT 'c:' || o_custkey AS origin, 'o:' || o_orderkey AS vid, 1 AS step,
        |  o_orderstatus AS o_status, o_totalprice AS o_totalprice, o_orderpriority AS o_priority
        |FROM orders WHERE o_custkey <= 20""".stripMargin,
    "q_shortest_dist" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey <= 10),
        |r(origin, vid, dist) AS (
        |  SELECT vid, vid, 0 FROM seeds
        |  UNION
        |  SELECT r.origin, e.dst, r.dist + 1 FROM r JOIN E e ON e.src = r.vid WHERE r.dist < 4
        |)
        |SELECT origin, vid, MIN(dist) AS dist FROM r GROUP BY origin, vid""".stripMargin,
    "q_shortest_pair" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey <= 3),
        |d(origin, vid, dist) AS (
        |  SELECT vid, vid, 0 FROM seeds
        |  UNION
        |  SELECT d.origin, e.dst, d.dist + 1 FROM d JOIN E e ON e.src = d.vid WHERE d.dist < 4
        |),
        |md AS (SELECT origin, vid, MIN(dist) AS dist FROM d GROUP BY origin, vid),
        |p(origin, path, vid, step) AS (
        |  SELECT vid, [vid], vid, 0 FROM seeds
        |  UNION ALL
        |  SELECT p.origin, list_append(p.path, e.dst), e.dst, p.step + 1
        |  FROM p JOIN E e ON e.src = p.vid
        |  JOIN md ON md.origin = p.origin AND md.vid = e.dst AND md.dist = p.step + 1
        |  WHERE p.step < 4
        |)
        |SELECT p.origin AS src, p.vid AS dst, array_to_string(p.path, '->') AS path, p.step AS hops
        |FROM p WHERE p.vid LIKE 'r:%' AND p.step >= 1""".stripMargin,
    "q_shortest_single" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey <= 3),
        |d(origin, vid, dist) AS (
        |  SELECT vid, vid, 0 FROM seeds
        |  UNION
        |  SELECT d.origin, e.dst, d.dist + 1 FROM d JOIN E e ON e.src = d.vid WHERE d.dist < 4
        |),
        |md AS (SELECT origin, vid, MIN(dist) AS dist FROM d GROUP BY origin, vid),
        |p(origin, path, vid, step) AS (
        |  SELECT vid, [vid], vid, 0 FROM seeds
        |  UNION ALL
        |  SELECT p.origin, list_append(p.path, e.dst), e.dst, p.step + 1
        |  FROM p JOIN E e ON e.src = p.vid
        |  JOIN md ON md.origin = p.origin AND md.vid = e.dst AND md.dist = p.step + 1
        |  WHERE p.step < 4
        |),
        |hits AS (SELECT p.origin AS src, p.vid AS dst,
        |           array_to_string(p.path, '->') AS path, p.step AS hops
        |         FROM p WHERE p.vid LIKE 'r:%' AND p.step >= 1)
        |SELECT src, dst, path, hops FROM (
        |  SELECT src, dst, path, hops,
        |    row_number() OVER (PARTITION BY src, dst ORDER BY path) AS rn
        |  FROM hits) WHERE rn = 1""".stripMargin,
    "q_all_paths" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey <= 2),
        |p(origin, path, vid, step) AS (
        |  SELECT vid, [vid], vid, 0 FROM seeds
        |  UNION ALL
        |  SELECT p.origin, list_append(p.path, e.dst), e.dst, p.step + 1
        |  FROM p JOIN E e ON e.src = p.vid
        |  WHERE p.step < 4 AND NOT list_contains(p.path, e.dst)
        |)
        |SELECT p.origin AS src, p.vid AS dst, array_to_string(p.path, '->') AS path, p.step AS hops
        |FROM p WHERE p.vid LIKE 'r:%' AND p.step >= 1""".stripMargin,
    "q_nql_go" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey IN (1, 2)),
        |r(origin, vid, step) AS (
        |  SELECT vid, vid, 0 FROM seeds
        |  UNION
        |  SELECT r.origin, e.dst, r.step + 1 FROM r JOIN E e ON e.src = r.vid WHERE r.step < 2
        |)
        |SELECT origin, vid, step FROM r WHERE step >= 1""".stripMargin,
    "q_nql_lookup" ->
      """SELECT 'c:' || c_custkey AS vid, c_name AS name, c_acctbal AS acctbal
        |FROM customer WHERE c_acctbal > 9900""".stripMargin,
    "q_nql_fetch" ->
      """SELECT 'p:' || p_partkey AS vid, p_name AS name, p_brand AS brand,
        |  p_type AS ptype, p_size AS psize
        |FROM part WHERE p_partkey IN (1, 2, 3)""".stripMargin,
    "q_nql_path" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:1' AS vid),
        |d(origin, vid, dist) AS (
        |  SELECT vid, vid, 0 FROM seeds
        |  UNION
        |  SELECT d.origin, e.dst, d.dist + 1 FROM d JOIN E e ON e.src = d.vid WHERE d.dist < 4
        |),
        |md AS (SELECT origin, vid, MIN(dist) AS dist FROM d GROUP BY origin, vid),
        |p(origin, path, vid, step) AS (
        |  SELECT vid, [vid], vid, 0 FROM seeds
        |  UNION ALL
        |  SELECT p.origin, list_append(p.path, e.dst), e.dst, p.step + 1
        |  FROM p JOIN E e ON e.src = p.vid
        |  JOIN md ON md.origin = p.origin AND md.vid = e.dst AND md.dist = p.step + 1
        |  WHERE p.step < 4
        |)
        |SELECT p.origin AS src, p.vid AS dst, array_to_string(p.path, '->') AS path, p.step AS hops
        |FROM p WHERE p.vid IN ('r:0', 'r:1') AND p.step >= 1""".stripMargin,
    "q_nql_subgraph" ->
      s"""WITH RECURSIVE $edgesCte,
        |UE AS (SELECT src, dst FROM E UNION ALL SELECT dst, src FROM E),
        |r(vid, dist) AS (
        |  SELECT 'c:1', 0
        |  UNION
        |  SELECT ue.dst, r.dist + 1 FROM r JOIN UE ue ON ue.src = r.vid WHERE r.dist < 1
        |)
        |SELECT vid, MIN(dist) AS depth FROM r GROUP BY vid""".stripMargin,
    "q_nql_pipe" ->
      s"""WITH RECURSIVE $edgesCte,
        |seeds AS (SELECT 'c:' || c_custkey AS vid FROM customer WHERE c_custkey IN (1, 2, 3)),
        |r(origin, vid, step) AS (
        |  SELECT vid, vid, 0 FROM seeds
        |  UNION
        |  SELECT r.origin, e.dst, r.step + 1 FROM r JOIN E e ON e.src = r.vid WHERE r.step < 2
        |)
        |SELECT origin, count(*) AS n FROM r WHERE step = 2 GROUP BY origin
        |ORDER BY origin LIMIT 10""".stripMargin,
    "q_subgraph_vertices" ->
      s"""WITH RECURSIVE $edgesCte,
        |UE AS (SELECT src, dst FROM E UNION ALL SELECT dst, src FROM E),
        |r(vid, dist) AS (
        |  SELECT 'c:1', 0
        |  UNION
        |  SELECT ue.dst, r.dist + 1 FROM r JOIN UE ue ON ue.src = r.vid WHERE r.dist < 2
        |)
        |SELECT vid, MIN(dist) AS depth FROM r GROUP BY vid""".stripMargin,
    "q_subgraph_edges" ->
      s"""WITH RECURSIVE $edgesCte,
        |UE AS (SELECT src, dst FROM E UNION ALL SELECT dst, src FROM E),
        |r(vid, dist) AS (
        |  SELECT 'c:1', 0
        |  UNION
        |  SELECT ue.dst, r.dist + 1 FROM r JOIN UE ue ON ue.src = r.vid WHERE r.dist < 2
        |)
        |SELECT src, dst, etype, rank FROM E
        |WHERE src IN (SELECT vid FROM r) AND dst IN (SELECT vid FROM r)""".stripMargin,
    "q_nql_union" ->
      """SELECT DISTINCT 'o:' || o_orderkey AS vid FROM orders
        |WHERE o_custkey IN (1, 2)""".stripMargin,
    "q_nql_var" ->
      """SELECT DISTINCT 's:' || l_suppkey AS sid
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey IN (1, 2, 3)""".stripMargin,
    "q_nql_unwind" ->
      "SELECT CAST(unnest(range(1, 5)) AS BIGINT) AS x",
    // net effect of the q_nql_dml script: a's balance 100, edges from
    // a: a->b amount 20 (updated), a->c deleted with vertex c
    "q_nql_dml" ->
      """SELECT 'a' AS src, 'b' AS dst, CAST(20 AS BIGINT) AS amount,
        |       CAST(100 AS BIGINT) AS balance""".stripMargin,
    // net effect of q_nql_index_flow: before REBUILD only the
    // post-index insert ("c") is index-visible; after, "b" joins it
    "q_nql_index_flow" ->
      """SELECT * FROM (VALUES ('before', 'c', 'Cy'),
        |  ('after', 'b', 'Bob'), ('after', 'c', 'Cy'))
        |  t(phase, vid, owner)""".stripMargin,
    "q_match_shortest" ->
      """SELECT 'c:1' AS a, 'r:' || n_regionkey AS b, CAST(2 AS BIGINT) AS len
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |WHERE c_custkey = 1""".stripMargin,
    "q_nql_fetch_edge" ->
      """SELECT 'n:' || n_nationkey AS src, 'r:' || n_regionkey AS dst,
        |       CAST(0 AS BIGINT) AS rank
        |FROM nation WHERE n_nationkey = 0""".stripMargin,
    "q_nql_subgraph_edges" ->
      s"""WITH RECURSIVE $edgesCte,
        |UE AS (SELECT src, dst FROM E UNION ALL SELECT dst, src FROM E),
        |r(vid, dist) AS (
        |  SELECT 'c:1', 0
        |  UNION
        |  SELECT ue.dst, r.dist + 1 FROM r JOIN UE ue ON ue.src = r.vid WHERE r.dist < 2
        |)
        |SELECT src, dst, etype, rank FROM E
        |WHERE src IN (SELECT vid FROM r) AND dst IN (SELECT vid FROM r)""".stripMargin,
    "q_nql_typed_path" ->
      """SELECT 'c:1' AS src, 'r:' || n_regionkey AS dst,
        |       'c:1->n:' || c_nationkey || '->r:' || n_regionkey AS path,
        |       2 AS hops
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |WHERE c_custkey = 1""".stripMargin
  )
}
