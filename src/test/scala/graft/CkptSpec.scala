package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ckpt.mat strips the checkpoint's carried-over origin statistics —
  * the fix for the multi-level Louvain planning hang (SCALE.md: the
  * estimates compound round over round into million-digit
  * BigIntegers) — and returns exactly the input's rows. */
class CkptSpec extends SparkSpec {
  private def sizeInBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  private def defaultSize(s: org.apache.spark.sql.SparkSession): BigInt =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.defaultSizeInBytes

  private def input(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.range(0, 500).select(col("id"), (col("id") % 7).as("k"))

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("mat drops origin stats, keeps the rows") {
    val df = input(spark)
    val finite = sizeInBytes(df)
    assert(finite < defaultSize(spark), "input has no finite estimate")
    // a bare localCheckpoint carries the estimate over...
    assert(sizeInBytes(df.localCheckpoint()) == finite)
    // ...Ckpt.mat falls back to the default (unknown) size
    val m = Ckpt.mat(df)
    assert(sizeInBytes(m) == defaultSize(spark))
    assert(rows(m) == rows(df))
  }

  test("mat with a configured checkpoint level strips the same way") {
    val s2 = spark.newSession()
    s2.conf.set(Ckpt.LevelKey, "MEMORY_AND_DISK_SER")
    val df = input(s2)
    val m = Ckpt.mat(df)
    assert(sizeInBytes(m) == defaultSize(s2))
    assert(rows(m) == rows(df))
  }
}
