package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.Tables
import graft.functions.Fn.roundPortable
import graft.functions.Udfs
import graft.operators.Mutations
import graft.sources.CsvFixtures
import graft.streaming.EventStream

/** SparkEntry registrations for the remaining user surfaces: mutation
  * sinks, the CSV fixture loader, the UDF catalog, Structured
  * Streaming, and the raw SQL entry point. Each query is
  * self-contained (temp dirs / literal fixtures built inside the
  * function) so the driver can run it at any scale factor. */
object SurfaceQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // INSERT/UPSERT/UPDATE/DELETE flow (executor/mutate/*) against a
    // keyed parquet table; the returned frame is the final table state
    "q_mutation_flow" -> ((s, dir) => {
      import s.implicits._
      val path = java.nio.file.Files.createTempDirectory("graft-mut").toString
      val t = Mutations.vertexTable(s, path + "/tag")
      val base = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 50)
        .select(col("c_custkey").cast("long").as("vid"),
          col("c_acctbal").as("acctbal"))
      t.insert(base)
      t.insert(
        s.range(1, 11).select(col("id").as("vid"), lit(999.0).as("acctbal"))
          .unionByName(s.range(9001, 9006)
            .select(col("id").as("vid"), lit(1.0).as("acctbal"))))
      t.update(col("vid") <= 5, "acctbal" -> (col("acctbal") + 100))
      t.delete(s.range(11, 16).select(col("id").as("vid")))
      t.read
    }),

    // CSV fixture loader honoring the reference importer convention
    // (FIXTURES.md): vertex header + empty-string-as-null
    "q_csv_fixture" -> ((s, _) => {
      val f = java.nio.file.Files.createTempFile("graft-fix", ".csv")
      java.nio.file.Files.writeString(f,
        ":VID(string),player.name:string,player.age:int\n" +
          "p1,Alice,30\np2,,0\np3,Carol,25\n")
      CsvFixtures.load(s, f.toString)
    }),

    // UDF surface: scalar + typed-Aggregator registered in the SQL
    // catalog (GraphFunction.h plugin equivalent)
    "q_udf" -> ((s, dir) => {
      Udfs.register(s)
      Tables.load(s, dir, "customer").createOrReplaceTempView("q_udf_customer")
      s.sql(
        """SELECT title_case(c_mktsegment) AS seg,
          |       stddev_pop_udf(c_acctbal) AS sd
          |FROM q_udf_customer GROUP BY c_mktsegment""".stripMargin)
        .select(col("seg"), roundPortable(col("sd"), 3).as("sd"))
    }),

    // Structured Streaming: incremental file source → watermarked
    // tumbling-window agg → memory sink, drained with AvailableNow.
    // Same transform runs in batch (EventStream.windowedTypeStats is
    // mode-agnostic) — this entry proves the streaming path.
    "q_stream_window" -> ((s, dir) => {
      // the streaming file source wants a DIRECTORY; stage the single
      // events.parquet file into one via symlink
      val stage = java.nio.file.Files.createTempDirectory("graft-stream")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val src = EventStream.readEvents(s, stage.toString,
        schemaFrom = s"$dir/events.parquet")
      val agg = EventStream.windowedTypeStats(src, "1 hour")
        .select(col("win_start"), col("win_end"), col("event_type"),
          col("cnt"), roundPortable(col("sum_value"), 2).as("sum_value"))
      val q = agg.writeStream
        .format("memory").queryName("q_stream_window_sink")
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q_stream_window_sink")
    }),

    // Streaming graph mutation ingest (GraphIngest): a parquet landing
    // dir of (op, src, dst, rank, props) mutation events drains through
    // foreachBatch into a KeyedTable (staged, idempotent merges), and
    // the ingested edge table then serves the ordinary GO surface. The
    // online-write path of the reference (INSERT/DELETE statements) as
    // a checkpointed stream.
    "q_stream_ingest" -> ((s, dir) => {
      import graft.streaming.GraphIngest
      import graft.traverse.Traverse
      val root = java.nio.file.Files.createTempDirectory("graft-ingest").toString
      val landing = s"$root/landing"
      val orders = Tables.load(s, dir, "orders")
      def mut(op: String, filt: org.apache.spark.sql.Column) =
        orders.filter(filt).select(lit(op).as("op"),
          concat(lit("c:"), col("o_custkey")).as("src"),
          concat(lit("o:"), col("o_orderkey")).as("dst"),
          lit(0L).as("rank"),
          col("o_totalprice").as("totalprice"))
      // landing file wave 1: insert placed-edges for orderkey % 3 == 0;
      // wave 2: insert % 3 == 1 and delete % 6 == 0 (half of wave 1).
      // DELIBERATE single-batch assumption: maxFilesPerTrigger is left
      // unset so Trigger.AvailableNow drains both waves in ONE
      // microbatch, exercising KeyedTable's within-batch semantics
      // (inserts apply before deletes regardless of file order). The
      // sibling q_stream_ingest_log is the multi-batch ordering test —
      // it coalesces each wave to one file with distinct mtimes and
      // sets maxFilesPerTrigger=1.
      mut("insert", pmod(col("o_orderkey"), lit(3)) === 0)
        .write.mode("append").parquet(landing)
      mut("insert", pmod(col("o_orderkey"), lit(3)) === 1)
        .unionByName(mut("delete", pmod(col("o_orderkey"), lit(6)) === 0))
        .write.mode("append").parquet(landing)
      val table = Mutations.edgeTable(s, s"$root/edges")
      GraphIngest.ingest(s, landing, schemaFrom = landing, table,
        checkpointDir = s"$root/ckpt").awaitTermination()
      // the ingested table is a first-class edge frame: 1-hop GO
      val seeds = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 20)
        .select(concat(lit("c:"), col("c_custkey")).as("vid"))
      Traverse.go(seeds, table.read, 1, 1)
    }),

    // Same mutation log through the LOG-STRUCTURED table (LogTable):
    // per-batch cost is an O(batch) segment append (vs KeyedTable's
    // O(table) rewrite), tombstoned deletes resolve at read by
    // last-writer-wins, and maxFilesPerTrigger=1 + compactEvery=2
    // exercise multi-batch ordering AND a mid-stream compaction.
    "q_stream_ingest_log" -> ((s, dir) => {
      import graft.streaming.GraphIngest
      import graft.traverse.Traverse
      val root = java.nio.file.Files.createTempDirectory("graft-ingestlog").toString
      val landing = s"$root/landing"
      val orders = Tables.load(s, dir, "orders")
      def mut(op: String, filt: org.apache.spark.sql.Column) =
        orders.filter(filt).select(lit(op).as("op"),
          concat(lit("c:"), col("o_custkey")).as("src"),
          concat(lit("o:"), col("o_orderkey")).as("dst"),
          lit(0L).as("rank"),
          col("o_totalprice").as("totalprice"))
      // distinct mtimes → deterministic batch order, stamped EXPLICITLY
      // (setLastModified) instead of the historical Thread.sleep(1100):
      // same ordering guarantee for the file source, without spending a
      // measured second of the query's wall-clock on a timer
      def stampNew(seen: Set[String], t: Long): Set[String] = {
        val files = Option(new java.io.File(landing).listFiles())
          .getOrElse(Array.empty[java.io.File])
        files.filterNot(f => seen(f.getName)).foreach(_.setLastModified(t))
        files.map(_.getName).toSet
      }
      val t0 = System.currentTimeMillis() - 60000
      mut("insert", pmod(col("o_orderkey"), lit(3)) === 0)
        .coalesce(1).write.mode("append").parquet(landing)
      val wave1 = stampNew(Set.empty, t0)
      mut("insert", pmod(col("o_orderkey"), lit(3)) === 1)
        .unionByName(mut("delete", pmod(col("o_orderkey"), lit(6)) === 0))
        .coalesce(1).write.mode("append").parquet(landing)
      stampNew(wave1, t0 + 2000)
      val table = graft.operators.LogTable(s, s"$root/edges",
        Seq("src", "dst", "rank"))
      GraphIngest.ingestLog(s, landing, schemaFrom = landing, table,
        checkpointDir = s"$root/ckpt", maxFilesPerTrigger = 1,
        compactEvery = 2).awaitTermination()
      val seeds = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 20)
        .select(concat(lit("c:"), col("c_custkey")).as("vid"))
      Traverse.go(seeds, table.read, 1, 1)
    }),

    // Event-time gap sessionization (session_window): registered in
    // batch mode — the SAME aggregation runs streaming (see
    // StreamingSpec) because session_window is an ordinary grouping
    // expression; the oracle replays it as a lag/cumsum window.
    "q_stream_sessions" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      EventStream.sessionWindows(ev, gap = "30 minutes")
        .select(col("sess_start"), col("sess_end"), col("user_id"),
          col("n_events"), roundPortable(col("sum_value"), 2).as("sum_value"))
    }),

    // nGQL DML against a parquet-backed TableCatalog (round 7): the
    // AT-SCALE text-DML route. Bulk ingest arrives as a DataFrame
    // write; the text surface then mutates via KeyedTable merges, and
    // the piped DELETE keeps its id set as a DataFrame (anti join —
    // never a driver collect)
    "q_nql_dml_scale" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-tdml").toString
      val tc = new graft.graph.TableCatalog(s, root, vidIsInt = true)
      // DEFAULT columns flow through bulk ingest, partial-prop INSERT,
      // and the UPSERT seed row (round 8)
      graft.nql.Gql.runScript(tc,
        "CREATE TAG account(balance double DEFAULT 0.0, tier int DEFAULT 1);")
      tc.tagTable("account").insert(
        Tables.load(s, dir, "customer").select(
          col("c_custkey").cast("long").as("vid"),
          col("c_acctbal").cast("double").as("balance"),
          lit(1L).as("tier")))
      graft.nql.Gql.runScript(tc,
        """INSERT VERTEX account(balance) VALUES 900001:(11.0), 900002:(22.0);
          |UPDATE VERTEX ON account 1, 2, 3 SET account.balance = account.balance + 1000;
          |UPSERT VERTEX ON account 1, 900003 SET account.balance = account.balance + 5;
          |LOOKUP ON account WHERE account.balance < 0.0 YIELD id(vertex) AS id | DELETE VERTEX $-.id;""".stripMargin)
      tc.vertexTable("account")
    }),

    // raw SQL entry point over the registered catalog (the reference's
    // query-language front door, minus the parser: Spark SQL IS the
    // declarative surface here)
    "q_sql_e2e" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      // 100.0D: in SQL text a bare decimal literal is DECIMAL, which
      // would promote the whole expression; D forces DOUBLE like the
      // DataFrame API's lit(100.0)
      s.sql(
        """SELECT n_name,
          |       count(*) AS order_cnt,
          |       floor(sum(o_totalprice) * 100.0D + 0.5D) / 100.0D AS revenue
          |FROM orders
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE o_orderstatus = 'F'
          |GROUP BY n_name""".stripMargin)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_mutation_flow" ->
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS vid, c_acctbal AS acctbal
        |              FROM customer WHERE c_custkey <= 50),
        |up AS (SELECT vid, CASE WHEN vid BETWEEN 1 AND 10 THEN 999.0 ELSE acctbal END AS acctbal FROM base
        |       UNION ALL SELECT unnest(range(9001, 9006)) AS vid, 1.0 AS acctbal),
        |upd AS (SELECT vid, CASE WHEN vid <= 5 THEN acctbal + 100 ELSE acctbal END AS acctbal FROM up)
        |SELECT vid, acctbal FROM upd WHERE vid NOT BETWEEN 11 AND 15""".stripMargin,
    "q_csv_fixture" ->
      """SELECT * FROM (VALUES ('p1', 'Alice', CAST(30 AS BIGINT)),
        |                      ('p2', NULL, CAST(0 AS BIGINT)),
        |                      ('p3', 'Carol', CAST(25 AS BIGINT))) AS t(vid, name, age)""".stripMargin,
    "q_udf" ->
      """SELECT upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2)) AS seg,
        |       floor(stddev_pop(c_acctbal) * 1000.0 + 0.5) / 1000.0 AS sd
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q_stream_ingest" ->
      // final ingested edge set = wave-1 ∪ wave-2 inserts minus the
      // wave-2 deletes, then the same 1-hop GO as q_go_1
      """SELECT DISTINCT 'c:' || o_custkey AS origin,
        |       'o:' || o_orderkey AS vid, 1 AS step
        |FROM orders
        |WHERE o_custkey <= 20
        |  AND o_orderkey % 3 IN (0, 1)
        |  AND o_orderkey % 6 <> 0""".stripMargin,
    "q_stream_ingest_log" ->
      // same final state as q_stream_ingest: LWW over the segment log
      // equals inserts-minus-deletes here
      """SELECT DISTINCT 'c:' || o_custkey AS origin,
        |       'o:' || o_orderkey AS vid, 1 AS step
        |FROM orders
        |WHERE o_custkey <= 20
        |  AND o_orderkey % 3 IN (0, 1)
        |  AND o_orderkey % 6 <> 0""".stripMargin,
    "q_stream_sessions" ->
      // gap sessionization replay: a session breaks where the gap to
      // the previous event is >= 30 min (Spark merges strictly
      // overlapping [ts, ts+gap) windows); end = last ts + gap
      """WITH s AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT min(ts) AS sess_start,
        |       max(ts) + INTERVAL 30 MINUTE AS sess_end,
        |       user_id, count(*) AS n_events,
        |       floor(sum(value) * 100.0 + 0.5) / 100.0 AS sum_value
        |FROM g GROUP BY user_id, sid""".stripMargin,
    "q_stream_window" ->
      """SELECT date_trunc('hour', ts) AS win_start,
        |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
        |       event_type, count(*) AS cnt,
        |       floor(sum(value) * 100.0 + 0.5) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q_nql_dml_scale" ->
      """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS vid,
        |                     CAST(c_acctbal AS DOUBLE) AS balance,
        |                     CAST(1 AS BIGINT) AS tier FROM customer),
        |ins AS (SELECT * FROM base
        |        UNION ALL SELECT CAST(vid AS BIGINT), CAST(balance AS DOUBLE), CAST(tier AS BIGINT)
        |                  FROM (VALUES (900001, 11.0, 1), (900002, 22.0, 1)) t(vid, balance, tier)),
        |upd AS (SELECT vid, CASE WHEN vid IN (1, 2, 3) THEN balance + 1000
        |                         ELSE balance END AS balance, tier FROM ins),
        |merged AS (SELECT * FROM upd
        |           UNION ALL SELECT CAST(900003 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(1 AS BIGINT)
        |                     WHERE NOT EXISTS (SELECT 1 FROM upd WHERE vid = 900003)),
        |ups AS (SELECT vid, CASE WHEN vid IN (1, 900003) THEN balance + 5
        |                         ELSE balance END AS balance, tier FROM merged)
        |SELECT vid, balance, tier FROM ups WHERE balance >= 0.0""".stripMargin,
    "q_sql_e2e" ->
      """SELECT n_name, count(*) AS order_cnt,
        |       floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin
  )
}
