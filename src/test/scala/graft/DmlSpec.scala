package graft

import graft.graph.{MapCatalog, ScenarioCatalog}
import graft.nql.{Dml, DmlError, Gql}
import graft.sources.CsvFixtures

/** DML/DDL sentence surface over a scenario-local space
  * (ScenarioCatalog): the library face of the reference's INSERT /
  * UPDATE / UPSERT / DELETE grammar (parser.yy:3060/3141/2987). */
class DmlSpec extends SparkSpec {

  private def fresh(int: Boolean = false) = new ScenarioCatalog(spark, int)

  test("create + insert + query round trip") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG person(name string, age int);
        |CREATE EDGE knows(since int);
        |INSERT VERTEX person(name, age) VALUES "a":("Ann", 30), "b":("Bob", 40);
        |INSERT EDGE knows(since) VALUES "a"->"b":(2020);""".stripMargin)
    val out = Gql.run(cat,
      """GO FROM "a" OVER knows YIELD knows._dst AS dst, knows.since AS since""")
      .collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("b", 2020L)))
  }

  test("insert overwrites; IF NOT EXISTS keeps the first row") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG t(x int);
        |INSERT VERTEX t(x) VALUES "v":(1);
        |INSERT VERTEX t(x) VALUES "v":(2);
        |INSERT VERTEX IF NOT EXISTS t(x) VALUES "v":(3);""".stripMargin)
    assert(cat.tagRows("t")("v").head == 2L)
  }

  test("update stages and commits atomically: bad YIELD leaves state") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG t(x int);
        |INSERT VERTEX t(x) VALUES "v":(1);""".stripMargin)
    intercept[DmlError] {
      Gql.runScript(cat,
        """UPDATE VERTEX ON t "v" SET x = x + 1 YIELD nonexistent AS n""")
    }
    assert(cat.tagRows("t")("v").head == 1L) // SET not half-applied
  }

  test("upsert on a missing key inserts from defaults, WHEN ignored") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG t(a int DEFAULT 10, b int);
        |UPSERT VERTEX ON t "v" SET b = a + 5 WHEN b > 100 YIELD a AS a, b AS b;
        |""".stripMargin)
    assert(cat.tagRows("t")("v").toSeq == Seq(10L, 15L))
  }

  test("delete vertex WITH EDGE removes incident edges") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG t(x int); CREATE EDGE e();
        |INSERT VERTEX t(x) VALUES "a":(1), "b":(2);
        |INSERT EDGE e() VALUES "a"->"b":();
        |DELETE VERTEX "a" WITH EDGE;""".stripMargin)
    assert(!cat.tagRows("t").contains("a"))
    assert(cat.edgeRows("e").isEmpty)
  }

  test("type checking: wrong-typed insert value is rejected") {
    val cat = fresh()
    Gql.runScript(cat, """CREATE TAG t(x int)""")
    intercept[DmlError] {
      Gql.runScript(cat, """INSERT VERTEX t(x) VALUES "v":("not an int")""")
    }
    assert(cat.tagRows("t").isEmpty)
  }

  test("DML against an immutable catalog is unsupported, not silent") {
    val nba = "/root/reference/tests/data/nba"
    assumeFiles(s"$nba/player.csv", s"$nba/like.csv")
    val cat = MapCatalog(
      tags = Map("player" -> CsvFixtures.load(spark, s"$nba/player.csv")),
      edges = Map("like" -> CsvFixtures.load(spark, s"$nba/like.csv")))
    intercept[IllegalArgumentException] {
      Gql.runScript(cat, """DELETE VERTEX "Tim Duncan" WITH EDGE""")
    }
  }

  test("table space: text DML routes through KeyedTable merges") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-tc").toString
    val tc = new graft.graph.TableCatalog(spark, root, vidIsInt = true)
    Gql.runScript(tc, "CREATE TAG account(balance double);")
    Gql.runScript(tc, "CREATE EDGE paid(amount int);")
    // bulk ingest (the at-scale shape: a DataFrame write)
    tc.tagTable("account").insert(
      spark.range(1, 11).selectExpr("id as vid", "cast(id * 10 as double) as balance"))
    Gql.runScript(tc,
      """INSERT VERTEX account(balance) VALUES 100:(-5.0), 101:(7.0);
        |INSERT EDGE paid(amount) VALUES 1->2:(10), 2->3:(20), 3->100:(30);
        |UPDATE VERTEX ON account 1, 2 SET account.balance = account.balance + 1000;
        |UPDATE EDGE ON paid 1->2 SET amount = amount * 2;
        |DELETE EDGE paid 2->3;""".stripMargin)
    // piped delete: the id set STAYS a DataFrame (anti join)
    Gql.runScript(tc,
      """LOOKUP ON account WHERE account.balance < 0.0 YIELD id(vertex) AS id
        || DELETE VERTEX $-.id WITH EDGE;""".stripMargin)
    val acct = tc.vertexTable("account")
    assert(acct.count() == 11) // 10 + 2 inserted - 1 deleted (vid 100)
    assert(acct.filter(col("vid") === 1).select("balance")
      .head.getDouble(0) == 1010.0)
    val paid = tc.edgesByType("paid")
    assert(paid.count() == 1) // 2->3 deleted; 3->100 swept WITH EDGE
    assert(paid.filter(col("src") === 1 && col("dst") === 2)
      .select("amount").head.getLong(0) == 20L)
  }

  test("table space: piped UPDATE/UPSERT drive a key-set join") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-tu").toString
    val tc = new graft.graph.TableCatalog(spark, root, vidIsInt = true)
    Gql.runScript(tc, "CREATE TAG account(balance double);")
    Gql.runScript(tc, "CREATE EDGE paid(amount int);")
    tc.tagTable("account").insert(
      spark.range(1, 6).selectExpr("id as vid",
        "cast(id * 10 as double) as balance"))
    Gql.runScript(tc,
      "INSERT EDGE paid(amount) VALUES 1->2:(10), 2->3:(20);")
    // piped UPDATE: ids with balance >= 30 get +1000
    Gql.runScript(tc,
      """LOOKUP ON account WHERE account.balance >= 30.0 YIELD id(vertex) AS id
        || UPDATE VERTEX ON account $-.id SET balance = balance + 1000.0;"""
        .stripMargin)
    val acct = tc.vertexTable("account")
    assert(acct.filter(col("balance") > 1000.0).count() == 3) // vids 3,4,5
    assert(acct.filter(col("vid") === 1).select("balance")
      .head.getDouble(0) == 10.0)
    // piped UPDATE EDGE by (src,dst,rank) refs
    Gql.runScript(tc,
      """LOOKUP ON paid WHERE paid.amount > 15 YIELD src(edge) AS s, dst(edge) AS d, rank(edge) AS r
        || UPDATE EDGE ON paid $-.s -> $-.d @ $-.r SET amount = amount + 7;"""
        .stripMargin)
    val paid = tc.edgesByType("paid")
    assert(paid.filter(col("src") === 2).select("amount")
      .head.getLong(0) == 27L)
    assert(paid.filter(col("src") === 1).select("amount")
      .head.getLong(0) == 10L)
  }

  test("table-space piped DML never collects to the driver") {
    // guard at the source level, like PlanSpec's localCheckpoint rule:
    // the execTable region of Dml.scala (TableCatalog route) must not
    // contain a .collect( — piped $- sets must stay DataFrames
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/nql/Dml.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val start = text.indexOf("private def execTable")
    val end = text.indexOf("private def execScenario")
    assert(start >= 0 && end > start, "execTable region not found")
    val region = text.substring(start, end)
    assert(!region.contains(".collect("),
      "table-space DML collects to the driver")
  }

  test("fixture clone: mutations stay scenario-local") {
    val nba = "/root/reference/tests/data/nba"
    assumeFiles(s"$nba/player.csv", s"$nba/like.csv")
    val base = MapCatalog(
      tags = Map("player" -> CsvFixtures.load(spark, s"$nba/player.csv")),
      edges = Map("like" -> CsvFixtures.load(spark, s"$nba/like.csv")))
    val clone = ScenarioCatalog.fromCatalog(spark, base, vidIsInt = false)
    val before = clone.tagRows("player").size
    Gql.runScript(clone, """DELETE VERTEX "Tim Duncan" WITH EDGE""")
    assert(clone.tagRows("player").size == before - 1)
    assert(base.vertexTable("player")
      .filter(org.apache.spark.sql.functions.col("vid") === "Tim Duncan")
      .count() == 1) // fixture untouched
  }
}
