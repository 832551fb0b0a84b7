package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ckpt.mat strips the checkpoint's carried-over origin statistics —
  * the fix for the multi-level Louvain planning hang (SCALE.md: the
  * estimates compound round over round into million-digit
  * BigIntegers) — and returns exactly the input's rows. Ckpt.counted's
  * observed count equals `count()` in every durability mode, and the
  * loops that gate on it start no separate count job. */
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

  /** Frames whose observed count is checked: empty (a runtime-empty
    * filter and an optimizer-empty limit 0), one row, and many rows
    * over several partitions. */
  private def countCases(s: org.apache.spark.sql.SparkSession): Seq[(String, DataFrame)] =
    Seq(
      "filtered empty" -> s.range(0, 10).filter(col("id") < 0).toDF(),
      "limit 0" -> s.range(0, 10).limit(0).toDF(),
      "one row" -> s.range(0, 1).toDF(),
      "multi-partition" -> s.range(0, 143, 1, 7).repartition(5, col("id"))
        .select(col("id"), (col("id") % 3).as("k")))

  private def assertCountedExact(s: org.apache.spark.sql.SparkSession): Unit =
    countCases(s).foreach { case (name, df) =>
      val (m, rows) = Ckpt.counted(df)
      assert(rows == df.count(), name)
      assert(m.count() == rows, name)
    }

  test("counted: the observed count equals count() (localCheckpoint)") {
    assertCountedExact(spark)
    // a caller metric rides the same job
    val (_, odd) = Ckpt.counted(spark.range(0, 143, 1, 7).toDF(),
      count_if(col("id") % 2 === 1))
    assert(odd == 71)
  }

  test("counted: the observed count equals count() with a checkpoint level") {
    val s2 = spark.newSession()
    s2.conf.set(Ckpt.LevelKey, "MEMORY_AND_DISK_SER")
    assertCountedExact(s2)
  }

  test("counted: the observed count equals count() with a reliable checkpoint dir") {
    val s2 = spark.newSession()
    s2.conf.set(Ckpt.DirKey,
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    assert(Ckpt.reliable(s2))
    assertCountedExact(s2)
  }

  test("counted: concurrent observations from two threads stay exact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def run(offset: Int): Future[Seq[(Long, Long)]] = Future {
      (1 to 20).map { i =>
        val n = offset + i
        (n.toLong, Ckpt.counted(spark.range(0, n, 1, 3).toDF())._2)
      }
    }
    val both = Await.result(Future.sequence(Seq(run(0), run(100))), 5.minutes)
    both.flatten.foreach { case (want, got) => assert(got == want) }
  }

  test("loops count each level on its materializing job: no count job") {
    import spark.implicits._
    // a->b->d, a->c->d, a->e->f->d and b->a, all `like` edges
    val likes = Seq(("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"),
      ("a", "e"), ("e", "f"), ("f", "d"), ("b", "a"))
      .toDF("src", "dst").withColumn("rank", lit(0L))
    val cat = graft.graph.MapCatalog(
      tags = Map("node" -> Seq("a", "b", "c", "d", "e", "f").toDF("vid")),
      edges = Map("like" -> likes))
    Seq(
      // step caps keep GO on the checkpointed level loop (a capless GO
      // this small runs on the driver, with one neighbor read per level)
      """GO 2 STEPS FROM "a" OVER like YIELD like._dst AS d LIMIT [10, 10]""",
      // YIELD path: the typed walk keeps the checkpointed level loop
      // (an untyped walk this small runs on the driver, with no job)
      """FIND SHORTEST PATH FROM "a" TO "d" OVER like UPTO 3 STEPS YIELD path AS p""",
      """MATCH (v:node)-[:like*1..2]->(w) WHERE id(v) == "a" RETURN id(w) AS w"""
    ).foreach { q =>
      val (rows, jobs) = jobNamesOf(graft.nql.Gql.run(cat, q).collect())
      assert(rows.nonEmpty, q)
      // the tag reaches the loop's checkpoint jobs, so no count job is real
      assert(jobs.exists(_.startsWith("localCheckpoint at ")), s"$q: $jobs")
      val counts = jobs.filter(_.startsWith("count at "))
      assert(counts.isEmpty, s"$q started count jobs: $counts")
    }
  }
}
