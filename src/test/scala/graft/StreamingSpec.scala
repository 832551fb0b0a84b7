package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import java.sql.Timestamp

/** EventStream transform semantics, exercised in batch mode — the
  * transforms are mode-agnostic by construction, and the streaming
  * path itself (file source → watermark → windowed agg → AvailableNow
  * drain) is verified end-to-end by the oracle-checked
  * `q_stream_window` registration, which runs a real StreamingQuery.
  * (In-test MemoryStream state-store runs are avoided: the HDFS state
  * store shells out for file permissions, which is unreliable in this
  * container.) */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(3600L * 1000 + minute * 60000L)

  test("windowedTypeStats: tumbling windows + per-type rollup (batch)") {
    val df = Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(10), 1L, "click", 2.0),
      (3L, ts(40), 2L, "view", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.windowedTypeStats(df, "30 minutes")
      .select("event_type", "cnt", "sum_value")
      .as[(String, Long, Double)].collect().toSet
    // clicks land in window 1, the view in window 2
    assert(r == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    val wins = EventStream.windowedTypeStats(df, "30 minutes")
      .select("win_start").distinct().count()
    assert(wins == 2L)
  }

  test("sessionize state function: per-user fold over groups (batch)") {
    val ev = Seq(
      Event(1, ts(0), 7L, "click", 2.0),
      Event(2, ts(1), 7L, "click", 3.0),
      Event(3, ts(2), 9L, "view", 5.0)).toDS()
    val out = EventStream.sessionize(ev).collect()
      .map(s => s.user_id -> ((s.n_events, s.total_value))).toMap
    assert(out(7L) == ((2L, 5.0)) && out(9L) == ((1L, 5.0)))
  }

  test("sessionWindows: gap-merged sessions, end = last ts + gap (batch)") {
    val df = Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(10), 1L, "click", 2.0),  // 10 min gap -> same session
      (3L, ts(50), 1L, "click", 4.0),  // 40 min gap -> new session
      (4L, ts(0), 2L, "view", 8.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = EventStream.sessionWindows(df, "30 minutes")
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(r == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)), s"got $r")
    val sess = EventStream.sessionWindows(df, "30 minutes")
      .filter($"user_id" === 1L && $"n_events" === 2L)
      .select("sess_start", "sess_end")
      .as[(Timestamp, Timestamp)].head()
    assert(sess._1 == ts(0) && sess._2 == ts(40)) // last ts (10) + 30 min
  }

  test("dedupEvents plans watermarked within-horizon dedup (streaming-only op)") {
    val dir = "/root/testdata/sf0.001"
    assumeFiles(s"$dir/events.parquet")
    val src = EventStream.readEvents(spark, s"$dir/events.parquet",
      schemaFrom = s"$dir/events.parquet")
    val dd = EventStream.dedupEvents(src)
    assert(dd.isStreaming)
    // plan-shape check (no execution: see the state-store note above)
    val plan = dd.queryExecution.analyzed.toString
    assert(plan.contains("DeduplicateWithinWatermark"), plan.take(300))
    assert(plan.contains("EventTimeWatermark"), plan.take(300))
  }

  test("readEvents: ns-timestamp parquet streams with µs truncation") {
    val dir = "/root/testdata/sf0.001"
    assumeFiles(s"$dir/events.parquet")
    val src = EventStream.readEvents(spark, s"$dir/events.parquet",
      schemaFrom = s"$dir/events.parquet")
    assert(src.isStreaming)
    assert(src.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("GraphIngest: ordered multi-batch mutation drain + replay idempotence") {
    import graft.streaming.GraphIngest
    import graft.operators.Mutations
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-spec")
      .toString
    val landing = s"$root/landing"
    def mut(rows: (String, String, String)*) =
      rows.map { case (op, s0, d0) => (op, s0, d0, 0L, 1.0) }
        .toDF("op", "src", "dst", "rank", "w")
    // wave 1 inserts a,b; wave 2 (a later file) deletes a, inserts c.
    // maxFilesPerTrigger=1 forces one batch per file, oldest first —
    // if the batches ran out of order, `a` would survive.
    mut(("insert", "a", "x"), ("insert", "b", "x"))
      .coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1000) // distinct mtimes → deterministic file order
    mut(("delete", "a", "x"), ("insert", "c", "y"))
      .coalesce(1).write.mode("append").parquet(landing)
    val table = Mutations.edgeTable(spark, s"$root/edges")
    val q = GraphIngest.ingest(spark, landing, schemaFrom = landing,
      table, checkpointDir = s"$root/ckpt", maxFilesPerTrigger = 1)
    q.awaitTermination()
    def srcs = table.read.select("src").as[String].collect().toSet
    assert(srcs == Set("b", "c"), s"wrong final state: $srcs")
    // replaying the last batch (crash-before-checkpoint-advance) must
    // converge to the same table — the exactly-once-effective claim
    GraphIngest.applyBatch(mut(("delete", "a", "x"), ("insert", "c", "y")),
      table)
    assert(srcs == Set("b", "c"), s"replay not idempotent: $srcs")
  }

  test("LogTable: segment appends, LWW read, tombstones, compaction") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft-logtable")
      .toString
    val t = LogTable(spark, s"$root/t", Seq("k"))
    def batch(rows: (String, String, Int)*) =
      rows.toDF("op", "k", "v")
    t.append(batch(("insert", "a", 1), ("insert", "b", 1),
      // same-batch insert+delete of one key: delete wins (statement
      // order of a batched mutation script)
      ("insert", "z", 9), ("delete", "z", 0)))
    t.append(batch(("insert", "a", 2), ("delete", "b", 0),
      ("insert", "c", 3)))
    def state = t.read.select("k", "v").as[(String, Int)].collect().toMap
    // a overwritten by seg 2, b tombstoned, z never visible
    assert(state == Map("a" -> 2, "c" -> 3), s"bad LWW state: $state")
    assert(t.segments.size == 2)
    t.compact()
    assert(t.segments.size == 1, s"compact left ${t.segments}")
    assert(state == Map("a" -> 2, "c" -> 3), s"compaction changed state: $state")
    // appends after compaction keep winning by sequence
    t.append(batch(("delete", "a", 0)))
    assert(state == Map("c" -> 3), s"post-compact delete lost: $state")
  }

  test("LogTable: racing writers claim distinct segments by rename") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft-lograce")
      .toString
    val t = LogTable(spark, s"$root/t", Seq("k"))
    t.append(Seq(("insert", "a", 1)).toDF("op", "k", "v"))
    // simulate the race: another writer lands a segment at the very
    // sequence this writer would compute (segments.last + 1) before
    // this writer's rename
    val next = t.segments.last + 1
    Seq(("insert", "x", 7)).toDF("op", "k", "v")
      .write.parquet(f"$root/t/seg=$next%08d")
    t.append(Seq(("insert", "b", 2)).toDF("op", "k", "v"))
    // the append must have retried onto the NEXT free sequence; the
    // read sees both writers' rows
    assert(t.segments.size == 3, s"segments: ${t.segments}")
    val got = t.read.select("k", "v").as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 1, "b" -> 2, "x" -> 7), s"race lost a row: $got")
  }

  test("LogTable: crashed writers' orphaned stage dirs are GC'd by age") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft-loggc")
      .toString
    val t = LogTable(spark, s"$root/t", Seq("k"))
    t.append(Seq(("insert", "a", 1)).toDF("op", "k", "v"))
    // simulate a crashed writer: a stage dir whose mtime is past the
    // TTL (dot-hidden, so it was never reader-visible — just a leak)
    val dead = new java.io.File(s"$root/t/.stage-deadbeef0000")
    assert(dead.mkdirs())
    new java.io.File(dead, "part-0.parquet").createNewFile()
    assert(dead.setLastModified(
      System.currentTimeMillis() - LogTable.DefaultStageTtlMs - 60000))
    // a FRESH stage dir (in-flight writer) must survive the sweep
    val live = new java.io.File(s"$root/t/.stage-cafebabe0000")
    assert(live.mkdirs())
    t.append(Seq(("insert", "b", 2)).toDF("op", "k", "v"))
    assert(!dead.exists(), "orphaned stage dir not GC'd by append")
    assert(live.exists(), "in-flight stage dir wrongly GC'd")
    // claim protocol untouched: both appends landed, state is intact
    val got = t.read.select("k", "v").as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 1, "b" -> 2), s"state after GC: $got")
    // compact() runs the same sweep
    assert(live.setLastModified(
      System.currentTimeMillis() - LogTable.DefaultStageTtlMs - 60000))
    t.compact()
    assert(!live.exists(), "orphaned stage dir not GC'd by compact")
  }

  test("LogTable: compaction cadence bounds segment count under a long drain") {
    import graft.operators.LogTable
    import graft.streaming.GraphIngest
    // a week-long stream must not accumulate an unbounded segment list
    // for LogTable.read (full reads legitimately scan all segments for
    // LWW): ingestLog's compactEvery default folds the log every N
    // batches, so the live segment count stays ≤ compactEvery at any
    // drain length. 12 single-file batches, compactEvery = 4.
    val root = java.nio.file.Files.createTempDirectory("graft-logbound")
      .toString
    val landing = s"$root/landing"
    (1 to 12).foreach { i =>
      Seq(("insert", s"v$i", "t", i.toLong, i))
        .toDF("op", "src", "dst", "rank", "v")
        .coalesce(1).write.mode("append").parquet(landing)
      Thread.sleep(20) // distinct mtimes → deterministic file order
    }
    val t = LogTable(spark, s"$root/t", Seq("src", "dst", "rank"))
    val q = GraphIngest.ingestLog(spark, landing, schemaFrom = landing,
      t, checkpointDir = s"$root/ckpt", maxFilesPerTrigger = 1,
      compactEvery = 4)
    q.awaitTermination()
    assert(t.segments.size <= 4,
      s"drain left ${t.segments.size} segments — compaction cadence broken")
    assert(t.read.count() == 12, "compaction lost rows")
  }

  test("LogTable: key-range stats prune segments for point lookups") {
    import graft.operators.LogTable
    val root = java.nio.file.Files.createTempDirectory("graft-logprune")
      .toString
    val t = LogTable(spark, s"$root/t", Seq("k"))
    // three segments with disjoint key ranges
    t.append(Seq(("insert", "a1", 1), ("insert", "a9", 2))
      .toDF("op", "k", "v"))
    t.append(Seq(("insert", "m1", 3), ("insert", "m9", 4))
      .toDF("op", "k", "v"))
    t.append(Seq(("insert", "z1", 5), ("insert", "z9", 6))
      .toDF("op", "k", "v"))
    assert(t.segments.size == 3)
    // a point lookup scans FEWER segments than exist
    assert(t.prunedSegments("m1", "m1").size == 1,
      s"pruning kept ${t.prunedSegments("m1", "m1")}")
    val hit = t.readRange("m1", "m1").select("k", "v")
      .as[(String, Int)].collect().toMap
    assert(hit == Map("m1" -> 3), s"range read wrong: $hit")
    // pruning must stay sound under LWW: a later delete in another
    // segment of the same key range is still consulted
    t.append(Seq(("delete", "m1", 0)).toDF("op", "k", "v"))
    assert(t.readRange("m1", "m1").count() == 0, "tombstone not seen")
    // out-of-range lookup: zero segments, empty (schema-stable) result
    assert(t.readRange("q", "q").count() == 0)
  }
}
