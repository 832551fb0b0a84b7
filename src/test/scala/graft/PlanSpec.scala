package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Plan-shape assertions (the Spark analogue of the reference's
  * optimizer plan_differ tests, SURVEY §5): filters reach the parquet
  * scan, small join sides broadcast, traversal steps have truncated
  * lineage, TopN compiles to TakeOrderedAndProject. Runs on sf0.001. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def have(): Unit = assumeFiles(s"$dir/lineitem.parquet")

  test("SparkEntry.entry: the flagship query returns rows") {
    have()
    assert(SparkEntry.entry(spark).count() > 0)
  }

  private def executed(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan

  test("LOOKUP: predicate is pushed to the parquet scan") {
    have()
    val plan = executed("q_lookup").toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,9900.0)"),
      s"no pushed filter in:\n$plan")
  }

  test("MATCH text seek: WHERE predicate reaches the parquet scan") {
    have()
    val plan = executed("q_nql_match_seek").toString
    // the mktsegment equality from MATCH ... WHERE must be a scan-
    // level pushed filter, not a post-scan Filter only
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"MATCH seek predicate not pushed:\n${plan.take(2000)}")
  }

  test("column pruning: project reads only needed columns") {
    have()
    val plan = executed("q_limit_offset").toString
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint>"),
      s"scan not pruned to o_orderkey:\n$plan")
  }

  test("inner join plans as broadcast hash join under AQE") {
    have()
    val df = SparkEntry.queries("q_inner_join")(spark, dir)
    df.collect() // let AQE finalize
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin"), s"no BHJ in:\n$finalPlan")
  }

  test("TopN compiles to TakeOrderedAndProject (bounded heap, no global sort)") {
    have()
    val plan = executed("q_topn").toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TOAP in:\n$plan")
  }

  test("aggregation is partial (map-side combine before the exchange)") {
    have()
    val plan = executed("q_aggregate").toString
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"no partial aggregation in:\n$plan")
  }

  test("traversal frontier lineage is truncated (constant plan depth)") {
    have()
    // a 2-step go's plan must hang off a checkpointed RDD scan, not a
    // 2-join-deep tree (the round-1 scale bug); q_go_1to2's walk at
    // bound 0, the distributed loop (at its size it runs on the driver)
    val g = graft.graph.GraphModel(spark, dir)
    val plan = graft.traverse.Traverse.go(g.customers
        .filter(expr("CAST(substr(vid, 3, 10) AS BIGINT) <= 5")).select("vid"),
        g.edges, 1, 2, graft.traverse.Traverse.Out, 0)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      s"frontier not materialized:\n$plan")
    assert(!plan.contains("Join"), s"lineage not truncated:\n$plan")
  }

  test("broadcast hint is gated by frontier size (BroadcastFrontierRows cap)") {
    import graft.traverse.Traverse
    val small = spark.range(10).selectExpr("cast(id as string) as vid")
    val hinted = Traverse.maybeBroadcast(small, 10L)
      .queryExecution.analyzed.toString
    assert(hinted.contains("ResolvedHint"), s"small frontier not hinted:\n$hinted")
    val big = Traverse.maybeBroadcast(small, Traverse.BroadcastFrontierRows + 1)
      .queryExecution.analyzed.toString
    assert(!big.contains("ResolvedHint"), s"oversized frontier hinted:\n$big")
  }

  test("betweenness: per-level visited and dependency joins plan as broadcast hash joins") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false") // unwrapped plan tree
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // only a hint broadcasts
    import s2.implicits._
    val levels = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint" &&
            qe.executedPlan.exists(_.isInstanceOf[BaseJoinExec]))
          levels.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    // a diamond a -> {b, c} -> d -> e: three BFS levels below the seed,
    // two backward dependency rounds
    val e = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val bc = graft.algo.GraphAlgos.betweenness(Seq("a").toDF("vid"), e, 4)
      .as[(String, Double)].collect().toMap
    assert(bc("d") == 1.0, s"betweenness changed: $bc")
    // listener events arrive on the listener bus thread
    def joins(keep: BaseJoinExec => Boolean) = levels.toArray(Array.empty[SparkPlan])
      .toSeq.flatMap(_.collect { case j: BaseJoinExec if keep(j) => j })
    def visited = joins(_.joinType == LeftAnti)
    def dependency = joins(_.references.exists(_.name == "o2"))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((visited.size < 4 || dependency.size < 2) && System.nanoTime() < deadline)
      Thread.sleep(50)
    s2.listenerManager.unregister(listener)
    assert(visited.size == 4 && dependency.size == 2,
      s"expected 4 visited and 2 dependency joins, got ${visited.size} and ${dependency.size}")
    (visited ++ dependency).foreach(j => assert(j.isInstanceOf[BroadcastHashJoinExec],
      s"per-level join is not broadcast:\n$j"))
  }

  test("shortestDistances: one message exchange per hop (distinct and anti-join share it)") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false") // unwrapped plan tree
    import s2.implicits._
    // every hop's checkpointed frame is planned here; its join is the hop
    val hops = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint" &&
            qe.executedPlan.exists(_.isInstanceOf[BaseJoinExec]))
          hops.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    val e = (0 until 30).flatMap(i =>
      Seq((s"v$i", s"v${i + 1}"), (s"v$i", s"v${i * 7 % 31}")))
      .toDF("src", "dst")
    val d = graft.traverse.Traverse.shortestDistances(
      Seq("v0", "v3").toDF("vid"), e, 4)
    assert(d.filter($"dist" === 4).count() > 0, "the walk stopped before hop 4")
    // listener events arrive on the listener bus thread
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (hops.size < 4 && System.nanoTime() < deadline) Thread.sleep(50)
    s2.listenerManager.unregister(listener)
    assert(hops.size == 4, s"expected 4 hop plans, got ${hops.size}")
    hops.forEach { p =>
      // keying the distinct on (origin, vid) lets the visited anti-join
      // reuse its partitioning: the hop's output shuffles once
      val message = p.collect { case x: ShuffleExchangeExec
        if x.child.exists(_.isInstanceOf[BaseJoinExec]) => x }
      assert(message.size == 1,
        s"expected 1 exchange over the hop join, got ${message.size}:\n$p")
      assert(p.collect { case x: ShuffleExchangeExec => x }.size == 2,
        s"expected the message and visited exchanges only:\n$p")
    }
  }

  test("mutation delta broadcast is gated by size (bulk delta plans a shuffle)") {
    import graft.operators.Mutations
    val tmp = java.nio.file.Files.createTempDirectory("graft-mut").toString
    val table = Mutations.vertexTable(spark, s"$tmp/t")
    table.insert(spark.range(100).selectExpr("cast(id as string) as vid",
      "id as v"))
    // small delta: key side carries the broadcast hint
    val small = spark.range(5).selectExpr("cast(id as string) as vid", "id as v")
    assert(table.insertPlan(small).queryExecution.analyzed.toString
      .contains("ResolvedHint"), "small delta not broadcast-hinted")
    // bulk delta above the cap: NO hint — the planner/AQE picks the
    // join, which at real scale is a shuffle, not a driver broadcast
    val bulk = spark.range(graft.traverse.Traverse.BroadcastFrontierRows + 1)
      .selectExpr("cast(id as string) as vid", "id as v")
    assert(!table.deletePlan(bulk).queryExecution.analyzed.toString
      .contains("ResolvedHint"), "bulk delta still broadcast-hinted")
  }

  test("a 2000-row literal INSERT EDGE plans one IN predicate, no join") {
    import graft.operators.Mutations
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-mut").toString
    val table = Mutations.edgeTable(spark, s"$tmp/e")
    table.insert(spark.range(10).selectExpr("cast(id as string) as src",
      "cast(id + 1 as string) as dst", "id % 2 as rank", "id as w"))
    // VALUES rows are a frame the driver holds: one struct IN over
    // (src, dst, rank), which the optimizer makes one set lookup
    val rows = (0 until 2000).map(i => (s"$i", s"${i + 1}", i % 2L, -1L))
      .toDF("src", "dst", "rank", "w")
    val plan = table.insertPlan(rows).queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, s"a join:\n$plan")
    val filters = plan.collect { case f: Filter => f }
    assert(filters.size == 1, s"expected one Filter:\n$plan")
    val sets = filters.head.condition.collect {
      case x: InSet => x.hset.size
      case x: In => x.list.size
    }
    assert(sets == Seq(2000), s"expected one 2000-key set:\n$plan")
    assert(filters.head.condition.collect { case x: InSet => x }.size == 1,
      s"the IN is not a set lookup:\n$plan")
    // overwrite: keys 0..9 of the table are replaced, none survive twice
    table.insert(rows)
    assert(table.read.count() == 2000)
    assert(table.read.filter(col("w") =!= -1L).count() == 0)
  }

  test("no eager localCheckpoint of a property-carrying base edge table") {
    // round-4 VERDICT #3: MatchSeg var-length checkpointed the whole
    // edge table before the first hop; the lazy persist pattern
    // (Traverse.persistEdges) is the only allowed materializer for
    // base tables. Guard at the source level.
    val srcs = Seq("src/main/scala/graft/nql/MatchSeg.scala",
      "src/main/scala/graft/nql/Gql.scala")
    srcs.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), java.nio.charset.StandardCharsets.UTF_8)
      text.linesIterator.zipWithIndex.foreach { case (l, i) =>
        assert(!(l.contains("edgesWithProps") &&
            (l.contains("localCheckpoint") || l.contains(".mat()"))),
          s"$f:${i + 1} eagerly checkpoints a base edge table")
      }
      Seq("orient(base, rel.dir).localCheckpoint",
          "orient(base, rel.dir).mat(").foreach { bad =>
        assert(!text.contains(bad),
          s"$f checkpoints the oriented base edge table")
      }
    }
  }

  test("metadata-only multimodal inspect does not read the payload column") {
    have()
    val df = graft.pipeline.Multimodal.assetsFromText(
        Tables.load(spark, dir, "documents"), "doc_id", "text", "image")
      .select("asset_id", "media_type")
    val scan = df.queryExecution.executedPlan.toString
    // only doc_id needed from parquet once payload columns are pruned
    assert(scan.contains("ReadSchema: struct<doc_id:bigint"),
      s"payload not pruned:\n$scan")
  }

  test("fulltext BM25: no explode/keyed shuffle; stats broadcast; bounded top-k") {
    have()
    val plan = executed("q_fulltext_search").toString
    // the 1-row corpus stats (N, avgdl, per-term df) broadcast back;
    // per-doc scoring is a projection — never a shuffle keyed on the
    // corpus, never a token explode
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"fulltext stats not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("Generate"),
      s"fulltext plan explodes tokens:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"fulltext top-k is not TakeOrderedAndProject:\n${plan.take(3000)}")
    // the stats aggregation must map-side combine
    assert(plan.contains("partial_count"),
      s"stats aggregation not partial:\n${plan.take(3000)}")
  }

  test("triangle counting: equi-joins only, never a cartesian wedge") {
    have()
    val plan = executed("q_algo_triangles").toString
    // degree-ordered orientation makes every stage an equi-join —
    // a CartesianProduct would mean the wedge enumeration regressed
    // to all-pairs and will not survive scale
    assert(!plan.contains("CartesianProduct"),
      s"triangle plan went cartesian:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"per-corner count not map-side combined:\n${plan.take(3000)}")
  }

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten

  test("re-bound MATCH var seeds from the prior binding, not an all-vertex scan") {
    have()
    // `(a)` in the second clause is already bound — the seed must come
    // from the first clause's frame, NOT g.allVertices (a 6-table
    // union whose branches can't be pruned at plan time). part/region
    // tables are unrelated to both clauses AND to the in_nation edge
    // derivation (which does read supplier): any scan of them is the
    // O(V) re-seek regression.
    val df = graft.nql.Gql.run(graft.graph.GraphModel(spark, dir),
      """MATCH (a:customer)-[:placed]->(o:order)
        |MATCH (a)-[:in_nation]->(n:nation)
        |RETURN id(a) AS c, n.nation.name AS nation LIMIT 5""".stripMargin)
    val paths = scannedPaths(df)
    assert(paths.nonEmpty, "expected parquet scans in the plan")
    Seq("part.parquet", "region.parquet").foreach { t =>
      assert(!paths.exists(_.contains(t)),
        s"re-bound var re-seeked ALL vertices (scans $t):\n${paths.mkString("\n")}")
    }
  }

  test("variable id() seed prunes the second MATCH with a semi join") {
    have()
    val df = SparkEntry.queries("q_ldbc_varseed")(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"variable seed did not become a semi-join pre-filter:\n${plan.take(3000)}")
  }

  test("adjacency cache is sorted by src (per-round join Sort elides)") {
    import spark.implicits._
    // r13: FrameAdjacency persists its oriented edge frame SORTED
    // within the hash(src) partitions, so every round's sort-merge
    // join reads the cache in key order instead of re-sorting the
    // whole edge side per round. Pin the cached plan's ordering.
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
      .toDF("src", "dst")
    val adj = new graft.algo.FrameAdjacency(edges)
    try {
      val sent = adj.send(Seq("a", "b").toDF("vid"),
        Seq(org.apache.spark.sql.functions.col("vid").as("msg")))
      val rels = sent.queryExecution.optimizedPlan.collect {
        case im: org.apache.spark.sql.execution.columnar.InMemoryRelation => im
      }
      assert(rels.nonEmpty, "send() does not read the adjacency cache")
      rels.foreach { im =>
        // the cached plan itself must carry the partition-local sort
        // on src (global = false: no extra exchange) — under AQE the
        // wrapper hides outputOrdering until execution, so assert on
        // the cached plan tree. Structural match on SortExec (not the
        // rendered string, whose format shifts across Spark versions).
        // AdaptiveSparkPlanExec is a leaf to TreeNode.collect — unwrap
        // it (pre-execution its current plan is the initial one, which
        // carries the Sort under audit)
        val unwrapped = im.cachedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        val sorts = unwrapped.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
        assert(sorts.exists { s =>
          !s.global && (s.sortOrder.headOption.map(_.child) match {
            case Some(a: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
              a.name == "src"
            case _ => false
          })
        }, s"cache build is not a partition-local sort on src:\n${
          unwrapped.toString.take(1500)}")
      }
    } finally adj.release()
  }

  test("bucketed store: 2-hop expansion joins with ZERO exchange") {
    have()
    import graft.sources.GraphStore
    val g = graft.graph.GraphModel(spark, dir)
    val store = java.nio.file.Files.createTempDirectory("graft-gstore-spec")
    GraphStore.write(g.edges, g.vertices, "gstore_spec", store.toString, 8)
    // twoHop forces the sort-merge path itself (edge tables are never
    // broadcastable at scale), so the assertion holds on small data too
    val df = GraphStore.twoHop(spark, "gstore_spec")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"bucketed 2-hop is not a sort-merge join:\n${plan.take(3000)}")
    assert(!plan.contains("Exchange"),
      s"bucketed 2-hop still shuffles the edge tables:\n${plan.take(3000)}")
    // and the layout is semantically right: same rows as the naive join
    val e = g.edges.select("src", "dst", "etype")
    val naive = e.select(col("src").as("a"), col("dst").as("m"),
        col("etype").as("etype1"))
      .join(e.select(col("src").as("m2"), col("dst").as("b"),
        col("etype").as("etype2")), col("m") === col("m2"))
      .count()
    assert(df.count() === naive, "bucketed 2-hop row count diverges")
  }

  test("bucketed store: frontier expand shuffles only the frontier side") {
    have()
    import graft.sources.GraphStore
    // reuses the store written by the previous test if present;
    // otherwise writes it (test ordering safety)
    if (!spark.catalog.tableExists("gstore_spec_out")) {
      val g = graft.graph.GraphModel(spark, dir)
      val store = java.nio.file.Files.createTempDirectory("graft-gstore-spec")
      GraphStore.write(g.edges, g.vertices, "gstore_spec", store.toString, 8)
    }
    // per-plan merge hint stands in for "the frontier is too big to
    // broadcast" (production: planner broadcasts small frontiers, which
    // is also shuffle-free for the edge side)
    val frontier = spark.range(50).selectExpr("'c:' || id AS vid")
    val e = GraphStore.outEdges(spark, "gstore_spec")
    val df = frontier.join(e.hint("merge"), frontier("vid") === e("src"))
    val plan = df.queryExecution.executedPlan.toString
    // exactly one Exchange: the frontier repartitions to the table's
    // bucketing; the edge scan itself must not shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected 1 exchange (frontier only), got $exchanges:\n${plan.take(3000)}")
  }

  // ---- round 11: the store under the MAIN surface ----------------
  // a cloned session (own SQLConf, shared external catalog) keeps the
  // store-backing conf and broadcast overrides from leaking into the
  // other (concurrent) suites sharing SparkSpec.spark

  private def bucketScansUnderExchange(
      plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        x.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.bucketSpec.isDefined => f
        }.size
    }.sum

  private def exchanges(
      plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => x
    }.size

  test("stored graph under GO: hop joins exchange only the frontier, persist skipped") {
    have()
    import graft.sources.GraphStore
    import graft.traverse.Traverse
    val s2 = spark.newSession()
    GraphStore.enableManaged(s2)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false") // unwrapped plan tree
    val g = graft.graph.GraphModel(s2, dir)
    val e1 = g.edges.select("src", "dst")
    // the stored scan satisfies hash(src): Traverse loops skip the
    // per-query persist — the store IS the cache
    assert(Traverse.srcPartitioned(e1),
      "stored edge scan not recognized as hash-partitioned by src")
    assert(!Traverse.srcPartitioned(
      graft.graph.GraphModel(spark, dir).edges.select("src", "dst")),
      "flat union view wrongly claims hash partitioning")
    // 2-step hop chain exactly as go() builds it — the frontier is
    // MATERIALIZED between hops (go's per-step mat), so each hop's
    // plan is one join whose only exchange is the frontier side; the
    // edge side reads in place
    import graft.Ckpt.MatOps
    // filter, not limit: a global limit adds its own single-partition
    // exchange and would muddy the frontier-exchange count
    val f0 = g.customers
      .filter(expr("CAST(substr(vid, 3, 10) AS BIGINT) <= 30"))
      .select(col("vid").as("origin"), col("vid"))
    val hop1 = f0.join(e1, f0("vid") === e1("src"))
      .select(col("origin"), e1("dst").as("vid"))
    val p1 = hop1.queryExecution.executedPlan
    assert(bucketScansUnderExchange(p1) == 0,
      s"hop-1 shuffles the bucketed edge scan:\n${p1.toString.take(3000)}")
    assert(exchanges(p1) == 1,
      s"hop-1: expected 1 exchange (frontier), got ${exchanges(p1)}:\n${p1.toString.take(3000)}")
    val f1 = hop1.mat()
    val e2 = GraphStore.outEdges(s2, g.store.get).select("src", "dst")
    val hop2 = f1.join(e2, f1("vid") === e2("src"))
      .select(f1("origin"), e2("dst").as("vid"))
    val p2 = hop2.queryExecution.executedPlan
    assert(bucketScansUnderExchange(p2) == 0,
      s"hop-2 shuffles the bucketed edge scan:\n${p2.toString.take(3000)}")
    assert(exchanges(p2) == 1,
      s"hop-2: expected 1 exchange (frontier), got ${exchanges(p2)}:\n${p2.toString.take(3000)}")
    // and the stored loop is result-identical to the flat loop
    def seeds(gm: graft.graph.GraphModel) = gm.customers
      .filter(expr("CAST(substr(vid, 3, 10) AS BIGINT) <= 3")).select("vid")
    // (bound 0: the distributed loop on both)
    val stored = Traverse.go(seeds(g), g.edges, 1, 2, Traverse.Out, 0)
      .collect().map(_.toSeq).toSet
    val gFlat = graft.graph.GraphModel(spark, dir)
    val flat = Traverse.go(seeds(gFlat), gFlat.edges, 1, 2, Traverse.Out, 0)
      .collect().map(_.toSeq).toSet
    assert(stored == flat, "stored GO diverges from flat GO")
  }

  test("stored adjacency: algorithm message joins never exchange the edge side") {
    have()
    import graft.sources.GraphStore
    val s2 = spark.newSession()
    GraphStore.enableManaged(s2)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false") // unwrapped plan tree
    val g = graft.graph.GraphModel(s2, dir)
    val adj = g.adjacencyBoth
    assert(adj.isInstanceOf[graft.algo.StoredAdjacency],
      "store-backed GraphModel did not hand out a StoredAdjacency")
    val state = g.vertices.select(col("vid"), col("vid").as("label"))
    val msgs = adj.send(state, Seq(col("label")))
    val plan = msgs.queryExecution.executedPlan
    assert(bucketScansUnderExchange(plan) == 0,
      s"a bucketed side sits under an Exchange:\n${plan.toString.take(3000)}")
    // the STATE shuffles (once, reused by the second side via
    // ReusedExchange) — never more than one exchange per side, never
    // zero (the SMJ requires the state to move to the bucket layout)
    assert(exchanges(plan) >= 1 && exchanges(plan) <= 2,
      s"expected 1-2 state exchanges, got ${exchanges(plan)}:\n${plan.toString.take(3000)}")
    // stored and flat WCC agree (min-label is order-independent)
    val gFlat = graft.graph.GraphModel(spark, dir)
    val a = graft.algo.GraphAlgos
      .connectedComponents(g.vertices, adj, iters = 2, untilConverged = false)
      .collect().map(_.toSeq).toSet
    val b = graft.algo.GraphAlgos
      .connectedComponents(gFlat.vertices, gFlat.edges, iters = 2)
      .collect().map(_.toSeq).toSet
    assert(a == b, "stored WCC diverges from flat WCC")
  }

  test("neighbor read: a src InSet on the bucketed edge scan, no Join, no Exchange") {
    have()
    import graft.sources.GraphStore
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val s2 = spark.newSession()
    GraphStore.enableManaged(s2)
    val g = graft.graph.GraphModel(s2, dir)
    val e = GraphStore.outEdges(s2, g.store.get).select("src", "dst", "rank")
    val keys = (1 to 20).map(i => s"c:$i")
    val read = graft.algo.Adjacency.neighborRead(e, keys, Seq(col("rank")))
    val plan = read.queryExecution.executedPlan
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, plan.toString)
    val scan = scans.head
    val onSrc = scan.dataFilters.exists {
      case In(a, _) => a.references.toSeq.map(_.name) == Seq("src")
      case InSet(a, _) => a.references.toSeq.map(_.name) == Seq("src")
      case _ => false
    }
    assert(onSrc, s"no src In/InSet on the scan: ${scan.dataFilters}")
    // one key selects one bucket's files, though the scan is not a
    // bucketed scan (no operator above it needs the layout)
    val one = graft.algo.Adjacency.neighborRead(e, Seq("c:1"), Nil)
      .queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f.optionalBucketSet }
    assert(one.size == 1 && one.head.exists(_.cardinality() == 1), s"$one")
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      plan.toString)
    assert(plan.collect {
      case x: org.apache.spark.sql.execution.exchange.Exchange => x }.isEmpty,
      plan.toString)
    // the scan reads the three projected columns only
    assert(scan.requiredSchema.fieldNames.toSet == Set("src", "dst", "rank"),
      scan.requiredSchema.toString)
    assert(read.collect().forall(r => keys.contains(r.getString(0))))
  }

  test("stored und adjacency: undirected algorithm sends never exchange the edge side") {
    have()
    import graft.sources.GraphStore
    val s2 = spark.newSession()
    GraphStore.enableManaged(s2)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val g = graft.graph.GraphModel(s2, dir)
    // the _und table scan (with the self-loop filter) stays a pure
    // bucketed view — LPA/HANP/walks ride it with no per-run shuffle
    assert(graft.traverse.Traverse.srcPartitioned(
      g.undNeighbors(dropSelfLoops = true)),
      "_und scan not hash-partitioned by src")
    val adj = g.adjacencyUnd(dropSelfLoops = true)
    assert(adj.isInstanceOf[graft.algo.StoredAdjacency],
      "store-backed adjacencyUnd is not a StoredAdjacency")
    val state = g.vertices.select(col("vid"), col("vid").as("label"))
    val plan = adj.send(state, Seq(col("label")))
      .queryExecution.executedPlan
    assert(bucketScansUnderExchange(plan) == 0,
      s"und message join shuffles the edge side:\n${plan.toString.take(3000)}")
    adj.release()
    // LPA over the stored und view is bit-identical to the flat run
    val gFlat = graft.graph.GraphModel(spark, dir)
    val adj2 = g.adjacencyUnd(dropSelfLoops = true)
    val a = graft.algo.GraphAlgos
      .labelPropagation(g.vertices, adj2, iters = 2)
      .collect().map(_.toSeq).toSet
    adj2.release()
    val b = graft.algo.GraphAlgos
      .labelPropagation(gFlat.vertices, gFlat.edges, iters = 2)
      .collect().map(_.toSeq).toSet
    assert(a == b, "stored LPA diverges from flat LPA")
  }

  test("stored directed adjacencies: sssp weights and betweenness dedup stay exchange-free") {
    have()
    import graft.sources.GraphStore
    val s2 = spark.newSession()
    GraphStore.enableManaged(s2)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val g = graft.graph.GraphModel(s2, dir)
    // sssp: the relaxation join reads the bucketed scan in place, the
    // weight expression derived from a kept edge column
    val wAdj = g.adjacencyOut(keep = Seq("rank"))
    val dist = s2.range(1).select(lit("c:1").as("vid"), lit(0.0).as("dist"))
    val p1 = wAdj.send(dist, Seq((col("dist") + col("rank") + 1).as("dist")))
      .queryExecution.executedPlan
    assert(bucketScansUnderExchange(p1) == 0,
      s"sssp relaxation shuffles the edge side:\n${p1.toString.take(3000)}")
    wAdj.release()
    // betweenness: the simple-view distinct over the bucketed scan is
    // a LOCAL aggregation (hash(src) satisfies the (src,dst)
    // clustering) — zero exchanges end to end on the edge side
    val dedup = GraphStore.outEdges(s2, g.store.get)
      .select("src", "dst").distinct()
    assert(exchanges(dedup.queryExecution.executedPlan) == 0,
      s"bucketed distinct shuffles:\n${dedup.queryExecution.executedPlan.toString.take(3000)}")
    val bAdj = g.adjacencyOutDistinct
    val seeds = g.customers.filter(expr("CAST(substr(vid, 3, 10) AS BIGINT) <= 2"))
      .select(col("vid").as("origin"), col("vid"), lit(1L).as("sigma"))
    val p2 = bAdj.send(seeds, Seq(col("origin"), col("sigma")))
      .queryExecution.executedPlan
    assert(bucketScansUnderExchange(p2) == 0,
      s"betweenness forward send shuffles the edge side:\n${p2.toString.take(3000)}")
    bAdj.release()
  }

  test("stored edgesByType: typed read prunes to its etype partition") {
    have()
    import graft.sources.GraphStore
    val s2 = spark.newSession()
    GraphStore.enableManaged(s2)
    val g = graft.graph.GraphModel(s2, dir)
    val typed = g.edgesByType("placed")
    // directory-level partition pruning: the scan carries an etype
    // partition filter (only etype=placed files are listed), the
    // round-12 layout's whole purpose
    val scan = typed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty, "typed read did not plan a file scan")
    assert(scan.head.partitionFilters.exists(_.references.exists(
        _.name == "etype")),
      s"typed read has no etype partition filter:\n" +
        typed.queryExecution.executedPlan.toString.take(2000))
    // the pruned scan keeps the hash(src) bucketing — typed GO hops
    // stay exchange-free on the edge side
    assert(graft.traverse.Traverse.srcPartitioned(
      typed.select("src", "dst")),
      "etype-pruned scan lost its src bucketing")
    // column order, schema, and rows replicate the flat per-type frame
    val flat = graft.graph.GraphModel(spark, dir).edgesByType("placed")
    assert(typed.columns.toSeq == flat.columns.toSeq,
      s"typed column order diverges: ${typed.columns.toSeq} vs ${flat.columns.toSeq}")
    assert(typed.collect().map(_.toSeq).toSet ==
      flat.collect().map(_.toSeq).toSet,
      "stored edgesByType rows diverge from flat")
    // unknown types still fail loudly (Gql's tag-vs-etype dispatch
    // catches exactly this)
    intercept[IllegalArgumentException] { g.edgesByType("nope") }
  }

  test("adjacency cache dial: uncached sides still plan zero edge-side exchange") {
    have()
    import graft.sources.GraphStore
    val s2 = spark.newSession()
    GraphStore.enableManaged(s2)
    s2.conf.set(graft.algo.Adjacency.ConfCache, "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val g = graft.graph.GraphModel(s2, dir)
    val adj = g.adjacencyBoth
    val state = g.vertices.select(col("vid"), col("vid").as("label"))
    val plan = adj.send(state, Seq(col("label"))).queryExecution.executedPlan
    // the dial actually disabled the block-manager copy...
    assert(!plan.toString.contains("InMemoryTableScan"),
      s"cache=false still persists the sides:\n${plan.toString.take(2000)}")
    // ...and the uncached path still reads the bucketed layout in
    // place — the 100-TB posture: re-read files, never shuffle edges
    assert(bucketScansUnderExchange(plan) == 0,
      s"uncached side sits under an Exchange:\n${plan.toString.take(3000)}")
    // results are bit-identical across the dial (same message multisets)
    val a = graft.algo.GraphAlgos
      .connectedComponents(g.vertices, adj, iters = 2, untilConverged = false)
      .collect().map(_.toSeq).toSet
    adj.release()
    val s3 = spark.newSession()
    GraphStore.enableManaged(s3)
    s3.conf.set(graft.algo.Adjacency.ConfCache, "true")
    val g3 = graft.graph.GraphModel(s3, dir)
    val adj3 = g3.adjacencyBoth
    val b = graft.algo.GraphAlgos
      .connectedComponents(g3.vertices, adj3, iters = 2, untilConverged = false)
      .collect().map(_.toSeq).toSet
    adj3.release()
    assert(a == b, "uncached WCC diverges from cached WCC")
  }

  test("adjacency auto cache: expanded estimate vs storage budget") {
    have()
    import graft.algo.Adjacency
    val s2 = spark.newSession()
    // tiny dataset: expanded estimate (5× source) is far inside any
    // JVM's storage budget — auto caches
    assert(Adjacency.cacheSides(s2, dir), "auto refused a tiny dataset")
    // forced postures win over auto
    s2.conf.set(Adjacency.ConfCache, "false")
    assert(!Adjacency.cacheSides(s2, dir))
    s2.conf.set(Adjacency.ConfCache, "true")
    assert(Adjacency.cacheSides(s2, dir))
  }

  test("stored edge props: MATCH hop frames are pure views over bucketed scans") {
    have()
    import graft.sources.GraphStore
    import graft.traverse.Traverse
    val s2 = spark.newSession()
    GraphStore.enableManaged(s2)
    val g = graft.graph.GraphModel(s2, dir)
    // the property-carrying hop frame (edgesWithProps + Both-direction
    // orientDedup — exactly the var-length MATCH shape) must qualify
    // for the storedScanOnly persist skip: no shuffle anywhere, every
    // leaf a bucketed scan, so loops re-read the store instead of
    // copying 2× the edge set into the block manager
    val base = g.edgesWithProps(g.edgeTypeNames)
      .withColumn("__osrc", col("src")).withColumn("__odst", col("dst"))
    val oriented = Traverse.orientDedup(base, Traverse.Both)
    assert(Traverse.storedScanOnly(oriented),
      "Both-direction props hop frame is not a pure stored view")
    // flat sessions keep the old posture (persist) — sanity-check the
    // gate does NOT claim flat unions
    val gF = graft.graph.GraphModel(spark, dir)
    val baseF = gF.edgesWithProps(gF.edgeTypeNames)
      .withColumn("__osrc", col("src")).withColumn("__odst", col("dst"))
    assert(!Traverse.storedScanOnly(Traverse.orientDedup(baseF, Traverse.Both)),
      "flat props frame wrongly claims stored-scan-only")
    // and the stored projection is schema+row identical to the flat one
    val a = g.edgesWithProps(Seq("placed", "has_part"))
    val b = gF.edgesWithProps(Seq("placed", "has_part"))
    assert(a.columns.toSeq == b.columns.toSeq,
      s"stored edgesWithProps column order diverges: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet,
      "stored edgesWithProps rows diverge from flat")
  }

  test("jaccard: pair join is an equi join on the shared neighbor, no cartesian") {
    have()
    // the hub-cap semi join itself sits behind the localCheckpoint
    // lineage cut (Scan ExistingRDD), so assert the downstream shape:
    // the pair enumeration joins on dst — never a cartesian
    val plan = executed("q_algo_jaccard").toString
    assert(!plan.contains("CartesianProduct"),
      s"jaccard pair join went cartesian:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"),
      s"pair counting not map-side combined:\n${plan.take(3000)}")
  }

  // ---- round 13: build-once / attach-many ------------------------

  test("store attach: a fresh catalog registers from the meta marker, no rewrite") {
    have()
    import graft.sources.GraphStore
    val g = graft.graph.GraphModel(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-gstore-attach")
    val s2 = spark.newSession()
    s2.conf.set(GraphStore.ConfDir, root.toString)
    s2.conf.set(GraphStore.ConfBuckets, "8")
    val name = GraphStore.ensure(s2, dir)(g.edges, g.vertices)
    val outRows = GraphStore.outEdges(s2, name)
      .select("src", "dst", "etype").collect().map(_.toString).sorted.toSeq
    val undCount = GraphStore.undNeighbors(s2, name).count()
    def dataFiles: Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root.toString, name))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dataFiles
    assert(before.nonEmpty, "store wrote no parquet files")
    // simulate a fresh catalog: drop every table, then re-ensure with
    // thunks that THROW — attach must come from the marker alone
    Seq("_out", "_in", "_und", "_v").foreach(sfx =>
      s2.sql(s"DROP TABLE IF EXISTS $name$sfx"))
    val name2 = GraphStore.ensure(s2, dir)(
      sys.error("attach rebuilt the edges"),
      sys.error("attach rebuilt the vertices"))
    assert(name2 == name)
    assert(dataFiles == before, "attach rewrote data files")
    // same rows through the re-registered tables
    assert(GraphStore.outEdges(s2, name)
      .select("src", "dst", "etype").collect().map(_.toString).sorted.toSeq
      == outRows, "re-registered out-adjacency rows diverge")
    assert(GraphStore.undNeighbors(s2, name).count() == undCount)
    // bucketing metadata survived the DDL round-trip: groupBy on the
    // bucket key plans ZERO exchange over the re-registered table
    val agg = GraphStore.outEdges(s2, name).groupBy("src").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"re-registered table lost its bucketing:\n${plan.take(3000)}")
    // etype directory partitioning survived: a typed filter prunes at
    // the partition level (partition filters, not data filters)
    val etype = GraphStore.outEdges(s2, name).select("etype")
      .distinct().collect().map(_.getString(0)).head
    val typed = GraphStore.outEdges(s2, name)
      .filter(col("etype") === etype)
    val tplan = typed.queryExecution.executedPlan.toString
    assert(tplan.contains("PartitionFilters: [isnotnull(etype"),
      s"typed read not partition-pruned after attach:\n${tplan.take(3000)}")
  }
}
