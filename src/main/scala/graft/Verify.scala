package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER overrides the master — the cluster-mode
    // correctness gate runs the SAME 136-query dump on
    // local-cluster[2,2,*] (separate executor JVMs) and compares the
    // parquet results against the DuckDB oracle HASHES, catching
    // partition-order/window-determinism bugs a single-JVM run hides.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = Harness.session(master,
      Tune.shufflePartitions(sfDir, cpus.toInt))
    // store-backing on: every graph query rides the bucketed layout,
    // built once per dataset (GraphStore.ensure) under a JVM-managed
    // root (deleted on exit). SPARK_GRAFT_STORE=off runs the WHOLE
    // oracle gate against the flat parquet views instead — run it
    // periodically so flat-path regressions are still caught by the
    // DuckDB hashes, not only by unit tests.
    Harness.attachStore(spark)
    new java.io.File(outDir).mkdirs()
    Harness.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      SessionHygiene.sweep(spark) // per-query block-manager reset
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
