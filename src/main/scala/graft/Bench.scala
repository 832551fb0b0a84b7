package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line for the driver.
  *
  * Hygiene (round-1 VERDICT #5): a query that throws is recorded in
  * "errors" and EXCLUDED from the total instead of being silently
  * counted as a fast success.
  *
  * Noise calibration (round-9 VERDICT #2): cross-round comparisons
  * showed uniform 1.5-2x wall-clock inflation from driver-host load —
  * enough to mask a real regression. The run now times a FIXED
  * data-independent probe (shuffled aggregation over a generated
  * range) three times and reports the median as "probe_sec": to
  * compare two BENCH files load-independently, compare
  * query_sec / probe_sec ratios. SPARK_GRAFT_BENCH_RUNS=n (default 1)
  * additionally takes the per-query min over n runs. */
object Bench {

  /** Fixed-size probe: 20M-row shuffle + partial agg + final agg —
    * exercises codegen, exchange, and task scheduling, independent of
    * the benchmarked data. ~0.5 s unloaded at local[32]. */
  def probeOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, 32)
      .selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").sum("v")
      .selectExpr("sum(`sum(v)`)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // data-size-derived (Tune): identical to `cpus` at driver scale,
    // grows with the dataset so ladder runs aren't partition-starved
    val shuffleParts = Tune.shufflePartitions(sfDir, cpus.toInt)
    val spark = Harness.session(s"local[$cpus]", shuffleParts)
    // JVM/codegen warmup so the first measured query doesn't absorb
    // Spark's one-time startup cost
    spark.range(1000).selectExpr("sum(id)").collect()
    // environment-load calibration: median of 3 fixed probes (the
    // first probe run doubles as shuffle-path warmup)
    val probes = Seq.fill(3)(probeOnce(spark)).sorted
    val probeSec = probes(1)
    // store-backing on, and the dataset's store is built HERE — an
    // attach-time cost a deployment pays once per dataset, not part of
    // any query's measured time (the first graph query would otherwise
    // absorb it nondeterministically by map order).
    val storeSec =
      if (!Harness.attachStore(spark)) 0.0
      else {
        val tStore = System.nanoTime()
        graft.graph.GraphModel(spark, sfDir).edges.limit(1).count()
        (System.nanoTime() - tStore) / 1e9
      }

    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    var times = Vector.empty[(String, Double)]
    var errors = Vector.empty[(String, String)]
    Harness.queries.foreach { case (name, fn) =>
      try {
        val best = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          // outside the timed window: drop every block the finished
          // query leaked so later iterative queries run against an
          // empty block manager (in-session parity with their
          // isolated times)
          SessionHygiene.sweep(spark)
          dt
        }.min
        times :+= name -> best
      } catch {
        case e: Throwable =>
          errors :+= name -> Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(160)
          SessionHygiene.sweep(spark)
      }
    }
    val qs = times.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = times.map(_._2).sum
    def record(queries: String, extra: String = "") =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$queries,"errors":$errs,"n_ok":${times.size},"n_err":${errors.size},"probe_sec":${f"$probeSec%.3f"},"store_build_sec":${f"$storeSec%.3f"},"runs":$runs,"sf":"$sfDir"$extra}"""
    val full = record(qs)
    println(full)
    // A harness that keeps only a bounded TAIL of stdout loses the
    // opening `{` of the ~4.5 kB full line. So the full line above
    // (the historical format) also goes to BENCH_LAST_<cpus>.json —
    // per core count, so runs at different widths keep their own
    // records — and a COMPACT summary (no per-query map) is the very
    // last stdout line, after spark.stop(); it names the sidecar only
    // when the write worked.
    val sidecar = s"BENCH_LAST_$cpus.json"
    val written =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
          (full + "\n").getBytes("UTF-8"))
        true
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"[bench] $sidecar not written: $e")
          false
      }
    val fullRef = if (written) s""","full":"$sidecar"""" else ""
    spark.stop()
    println(record("{}", fullRef))
  }
}
