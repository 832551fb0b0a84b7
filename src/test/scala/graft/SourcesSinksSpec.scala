package graft

import org.apache.spark.sql.functions._
import graft.sources.CsvFixtures
import graft.operators.Mutations
import java.nio.file.Files

class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  private def writeCsv(content: String): String = {
    val f = Files.createTempFile("graft-fixture", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  test("CsvFixtures: vertex file header convention (:VID + tag.prop:type)") {
    val path = writeCsv(
      """:VID(string),player.name:string,player.age:int
        |Tim Duncan,Tim Duncan,42
        |Nobody,,0
        |""".stripMargin)
    val df = CsvFixtures.load(spark, path)
    assert(df.columns.toSeq == Seq("vid", "name", "age"))
    val rows = df.as[(String, Option[String], Long)].collect().toMap2
    assert(rows("Tim Duncan") == ((Some("Tim Duncan"), 42L)))
    assert(rows("Nobody") == ((None, 0L))) // empty string → null
  }

  test("CsvFixtures: edge file with :RANK and without") {
    val ranked = writeCsv(
      """:SRC_VID(string),:DST_VID(string),:RANK,serve.start_year:int
        |a,b,0,2002
        |a,b,1,2010
        |""".stripMargin)
    val df = CsvFixtures.load(spark, ranked)
    assert(df.columns.toSeq == Seq("src", "dst", "rank", "start_year"))
    assert(df.count() == 2)

    val unranked = writeCsv(
      """:SRC_VID(string),:DST_VID(string),like.likeness:int
        |a,b,90
        |""".stripMargin)
    val df2 = CsvFixtures.load(spark, unranked)
    assert(df2.columns.contains("rank"))
    assert(df2.select("rank").as[Long].head() == 0L) // implicit rank 0
  }

  test("CsvFixtures: loads the reference nba fixture when present") {
    val nba = "/root/reference/tests/data/nba/serve.csv"
    assumeFiles(nba)
    val df = CsvFixtures.load(spark, nba)
    assert(df.columns.toSeq == Seq("src", "dst", "rank", "start_year", "end_year"))
    assert(df.count() > 100)
  }

  test("Mutations: insert overwrites on key, insertIfNotExists keeps") {
    val t = Mutations.vertexTable(spark, tmpDir() + "/tag")
    t.insert(Seq(("a", 1), ("b", 2)).toDF("vid", "x"))
    t.insert(Seq(("b", 20), ("c", 3)).toDF("vid", "x"))
    assert(t.read.as[(String, Int)].collect().toMap ==
      Map("a" -> 1, "b" -> 20, "c" -> 3))
    t.insertIfNotExists(Seq(("c", 300), ("d", 4)).toDF("vid", "x"))
    assert(t.read.as[(String, Int)].collect().toMap ==
      Map("a" -> 1, "b" -> 20, "c" -> 3, "d" -> 4))
  }

  test("Mutations: update with predicate, delete by key and predicate") {
    val t = Mutations.vertexTable(spark, tmpDir() + "/tag")
    t.insert(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("vid", "x"))
    t.update(col("x") > 1, "x" -> (col("x") * 10))
    assert(t.read.as[(String, Int)].collect().toMap ==
      Map("a" -> 1, "b" -> 20, "c" -> 30))
    t.delete(Seq("a").toDF("vid"))
    assert(!t.read.as[(String, Int)].collect().toMap.contains("a"))
    t.deleteWhere(col("x") === 30)
    assert(t.read.as[(String, Int)].collect().toMap == Map("b" -> 20))
  }

  test("Mutations: staging commit works over an explicit file:-scheme Hadoop path") {
    // the Hadoop FileSystem path (not java.io.File) must carry the
    // whole stage->old->target rename cycle; an unchecked local-only
    // rename would silently fail here on HDFS/S3-like stores
    val t = Mutations.vertexTable(spark, "file://" + tmpDir() + "/tag")
    t.insert(Seq(("a", 1), ("b", 2)).toDF("vid", "x"))
    t.insert(Seq(("b", 20)).toDF("vid", "x")) // second write = full cycle
    assert(t.read.as[(String, Int)].collect().toMap == Map("a" -> 1, "b" -> 20))
    t.deleteWhere(col("x") === 20)
    assert(t.read.as[(String, Int)].collect().toMap == Map("a" -> 1))
  }

  test("Mutations: edge identity includes rank") {
    val t = Mutations.edgeTable(spark, tmpDir() + "/edge")
    t.insert(Seq(("a", "b", 0L, 1), ("a", "b", 1L, 2)).toDF("src", "dst", "rank", "y"))
    t.delete(Seq(("a", "b", 0L)).toDF("src", "dst", "rank"))
    val left = t.read.as[(String, String, Long, Int)].collect()
    assert(left.length == 1 && left.head._3 == 1L) // rank-1 edge survives
  }

  test("Udfs: scalar + aggregate registration in the SQL catalog") {
    graft.functions.Udfs.register(spark)
    Seq(("hello world", 2.0), ("x", 4.0), ("y", 6.0)).toDF("s", "v")
      .createOrReplaceTempView("udf_t")
    val tc = spark.sql("SELECT title_case(s) FROM udf_t WHERE v = 2.0")
      .as[String].head()
    assert(tc == "Hello World")
    val sd = spark.sql("SELECT stddev_pop_udf(v) FROM udf_t").as[Double].head()
    assert(math.abs(sd - math.sqrt(8.0 / 3.0)) < 1e-9)
  }

  implicit class MapOps[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
