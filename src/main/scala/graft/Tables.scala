package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All reads are plain parquet scans, and Catalyst pushes
  * filters/projections down to the scan, which is the Spark-native
  * equivalent of the reference's storage-side IndexScan/prefix-scan
  * machinery (src/storage/exec/IndexScanNode.cpp).
  *
  * Each `load` resolves the table anew: it lists the files and runs a
  * one-task Spark job to read the schema from a footer — about 100 ms
  * and one job per call on a 4-core host at sf0.005. Callers that touch
  * a table repeatedly keep the returned frame (GraphModel resolves each
  * table once per model).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$sfDir/$name.parquet")
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.parquet's `ts` physical type varies by generator version:
    * TIMESTAMP(NANOS) (read as long under nanosAsLong, floored to µs —
    * same floor DuckDB applies) or timestamp[us] (read as
    * TIMESTAMP_NTZ). Normalize both to TimestampType; the session runs
    * in UTC so the NTZ→instant cast is value-preserving and matches
    * the DuckDB oracle's naive-timestamp arithmetic. */
  def loadEvents(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Register every table as a temp view so spark.sql(...) mirrors the
    * DuckDB oracle's naming. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
