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

  test("integer SET/WHEN arithmetic is exact: no Double rounding, overflow raises") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG t(x int);
        |INSERT VERTEX t(x) VALUES "a":(9007199254740993), "b":(9223372036854775807);
        |""".stripMargin)
    // 2^53 + 1 is not a Double: x + 0 must not round it to 2^53
    Gql.runScript(cat, """UPDATE VERTEX ON t "a" SET x = x + 0""")
    assert(cat.tagRows("t")("a").head == 9007199254740993L)
    // Long.MaxValue + 1 raises the YIELD path's overflow error and
    // leaves the row as it was
    val err = intercept[DmlError] {
      Gql.runScript(cat, """UPDATE VERTEX ON t "b" SET x = x + 1""")
    }
    assert(err.getMessage.contains(
      "result of (9223372036854775807+1) cannot be represented as an integer"),
      err.getMessage)
    assert(cat.tagRows("t")("b").head == Long.MaxValue)
    // two longs above 2^53 compare as longs: == is false, > is true
    Gql.runScript(cat,
      """UPDATE VERTEX ON t "a" SET x = 1 WHEN x == 9007199254740992""")
    assert(cat.tagRows("t")("a").head == 9007199254740993L)
    Gql.runScript(cat,
      """UPDATE VERTEX ON t "a" SET x = 2 WHEN x > 9007199254740992""")
    assert(cat.tagRows("t")("a").head == 2L)
  }

  test("WHEN compares like YIELD: epsilon numerics, cross-family NULL, lists") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG t(x int);
        |INSERT VERTEX t(x) VALUES "v":(0);""".stripMargin)
    def yieldOf(c: String) = Gql.runScript(cat, s"YIELD $c AS r").collect().head.get(0)
    // (condition, applies, YIELD value)
    for (((c, applies, y), i) <- Seq(
        ("1 == 1.000000001", true, true),
        ("\"a\" < 1", false, null),
        ("[1] < [2]", true, true)).zipWithIndex) {
      assert(yieldOf(c) == y, c)
      Gql.runScript(cat, s"""UPDATE VERTEX ON t "v" SET x = ${i + 1} WHEN $c""")
      val x = cat.tagRows("t")("v").head
      assert((x == i + 1L) == applies, s"$c: x = $x")
      Gql.runScript(cat, """UPDATE VERTEX ON t "v" SET x = 0""")
    }
  }

  test("SET into an int prop rounds and keeps the column type, on both catalogs") {
    def run(cat: graft.graph.GraphCatalog) = {
      Gql.runScript(cat,
        """CREATE TAG t(x int);
          |INSERT VERTEX t(x) VALUES "v":(1), "w":(5);
          |UPDATE VERTEX ON t "v" SET x = x + 1.6;
          |UPSERT VERTEX ON t "u" SET x = -2.5;
          |INSERT VERTEX t(x) VALUES "z":(7);""".stripMargin)
      val df = cat.vertexTable("t")
      (df.schema("x").dataType,
        df.collect().map(r => r.getAs[String]("vid") -> r.getAs[Any]("x")).toMap)
    }
    val root = java.nio.file.Files.createTempDirectory("graft-ts").toString
    val table = run(new graft.graph.TableCatalog(spark, root))
    assert(table == run(fresh()))
    assert(table == (org.apache.spark.sql.types.LongType,
      Map("v" -> 3L, "w" -> 5L, "u" -> -3L, "z" -> 7L)))
    // the parquet files hold the declared type, not a widened double
    assert(spark.read.parquet(s"$root/tag_t").schema("x").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("upsert on a missing key inserts from defaults, WHEN ignored") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG t(a int DEFAULT 10, b int);
        |UPSERT VERTEX ON t "v" SET b = a + 5 WHEN b > 100 YIELD a AS a, b AS b;
        |""".stripMargin)
    assert(cat.tagRows("t")("v").toSeq == Seq(10L, 15L))
  }

  test("UPSERT seeds a missing key with the SET whatever WHEN says, on both catalogs") {
    def check(cat: graft.graph.GraphCatalog): Unit = {
      Gql.runScript(cat,
        """CREATE TAG t(a int DEFAULT 10, b int);
          |CREATE TAG s(n int);
          |CREATE EDGE e();
          |INSERT VERTEX t(a, b) VALUES "x":(1, 1), "y":(2, 2);
          |INSERT VERTEX s(n) VALUES "a":(0);
          |INSERT EDGE e() VALUES "a"->"w":(), "a"->"y":();""".stripMargin)
      // literal keys: "v" is missing, "x" exists and fails WHEN
      Gql.runScript(cat,
        """UPSERT VERTEX ON t "v", "x" SET b = a + 5 WHEN b > 100""")
      // piped keys: "w" is missing, "y" exists and fails WHEN
      Gql.runScript(cat,
        """GO FROM "a" OVER e YIELD e._dst AS id
          || UPSERT VERTEX ON t $-.id SET b = a + 5 WHEN b > 100""".stripMargin)
      val rows = cat.vertexTable("t").collect().map { r =>
        r.getAs[String]("vid") ->
          Seq("a", "b").map(c => Option(r.getAs[Any](c)).map(_.toString.toLong))
      }.toMap
      assert(rows == Map(
        "v" -> Seq(Some(10L), Some(15L)), "w" -> Seq(Some(10L), Some(15L)),
        "x" -> Seq(Some(1L), Some(1L)), "y" -> Seq(Some(2L), Some(2L))),
        s"${cat.getClass.getSimpleName}: $rows")
    }
    check(fresh())
    check(new graft.graph.TableCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-tw").toString))
  }

  test("scenario space: a multi-key UPDATE with a missing key applies no key") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG t(x int); CREATE EDGE e(w int);
        |INSERT VERTEX t(x) VALUES "a":(1), "b":(2);
        |INSERT EDGE e(w) VALUES "a"->"b":(1);""".stripMargin)
    val v = intercept[DmlError] {
      Gql.runScript(cat, """UPDATE VERTEX ON t "a", "zz" SET x = 9""")
    }
    assert(v.getMessage.contains("vertex zz on tag t not found"), v.getMessage)
    intercept[DmlError] {
      Gql.runScript(cat, """UPDATE EDGE ON e "a"->"b", "b"->"a" SET w = 9""")
    }
    assert(cat.tagRows("t").map { case (k, r) => k -> r.head }.toMap ==
      Map("a" -> 1L, "b" -> 2L))
    assert(cat.edgeRows("e").values.map(_.head).toSeq == Seq(1L))
    // a key named twice still sees its own earlier result
    Gql.runScript(cat, """UPDATE VERTEX ON t "a", "a", "b" SET x = x + 1""")
    assert(cat.tagRows("t").map { case (k, r) => k -> r.head }.toMap ==
      Map("a" -> 3L, "b" -> 3L))
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

  test("table space: a FETCH reads with the declared schema, no inference job") {
    val root = java.nio.file.Files.createTempDirectory("graft-tf").toString
    val tc = new graft.graph.TableCatalog(spark, root)
    Gql.runScript(tc,
      """CREATE TAG t(x int, s string);
        |INSERT VERTEX t(x, s) VALUES "a":(1, "p"), "b":(2, "q");""".stripMargin)
    val q = """FETCH PROP ON t "a" YIELD t.x AS x, t.s AS s"""
    Gql.run(tc, q).collect() // warm: first-touch planning
    val (rows, jobs) = jobNamesOf(Gql.run(tc, q).collect())
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "p")))
    // 5 jobs, 2 of them `parquet at Mutations.scala` footer reads, when
    // every read inferred the schema
    assert(!jobs.exists(_.startsWith("parquet at")),
      s"schema inference on read: $jobs")
    assert(jobs.size == 3, jobs)
  }

  test("table space: a literal-key statement is one rewrite job writing one file") {
    val root = java.nio.file.Files.createTempDirectory("graft-tj").toString
    val tc = new graft.graph.TableCatalog(spark, root)
    Gql.runScript(tc,
      """CREATE TAG t(x int); CREATE EDGE e(w int);
        |INSERT VERTEX t(x) VALUES "a":(1), "b":(2), "c":(3);
        |INSERT EDGE e(w) VALUES "a"->"b":(1), "b"->"c"@1:(2), "c"->"a":(3);
        |""".stripMargin)
    def jobs(stmt: String): Seq[String] = jobNamesOf(Gql.runScript(tc, stmt))._2
    // the key set is a predicate on the rewrite: no count of the delta,
    // no broadcast, and the UPDATE's missing-key count rides the write
    assert(jobs("""INSERT VERTEX t(x) VALUES "d":(4), "a":(5)""").size == 1)
    assert(jobs("""INSERT EDGE e(w) VALUES "a"->"c":(4), "b"->"c"@1:(5)""").size == 1)
    assert(jobs("""UPDATE VERTEX ON t "a", "c" SET x = x + 10""").size == 1)
    // an UPSERT seeds its missing key ("e", "c"->"d") on the same job
    assert(jobs("""UPSERT VERTEX ON t "c", "e" SET x = 7""").size == 1)
    assert(jobs("""UPSERT EDGE ON e "a"->"c", "c"->"d" SET w = 9""").size == 1)
    // one rewrite of the tag table, one of the edge table
    assert(jobs("""DELETE VERTEX "b" WITH EDGE""").size == 2)
    assert(tc.vertexTable("t").collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap == Map("a" -> 15L, "c" -> 7L, "d" -> 4L, "e" -> 7L))
    assert(tc.edgesByType("e").select("src", "dst", "rank", "w").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet == Set(("c", "a", 0L, 3L), ("a", "c", 0L, 9L), ("c", "d", 0L, 9L)))
    // a small table is one part file, and no _SUCCESS marker is written
    Seq("tag_t", "edge_e").foreach { t =>
      val names = new java.io.File(s"$root/$t").list().toSeq
      assert(names.count(_.startsWith("part-")) == 1, s"$t: $names")
      assert(!names.exists(_.contains("_SUCCESS")), s"$t: $names")
    }
  }

  test("table space: a literal UPSERT on a table of several files merges by key") {
    val root = java.nio.file.Files.createTempDirectory("graft-tu").toString
    val tc = new graft.graph.TableCatalog(spark, root)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    // 1 KB per file: the second INSERT rewrites the table as several
    // files, and the UPSERT's rank runs over more than one partition
    spark.conf.set(key, "1k")
    try {
      def vals(r: Range) = r.map(i => s""""v$i":($i)""").mkString(", ")
      Gql.runScript(tc, s"""CREATE TAG t(x int);
        |INSERT VERTEX t(x) VALUES ${vals(0 until 150)};
        |INSERT VERTEX t(x) VALUES ${vals(150 until 300)};""".stripMargin)
      def parts = new java.io.File(s"$root/tag_t").list().count(_.startsWith("part-"))
      assert(parts > 1, s"$parts part files")
      Gql.runScript(tc,
        """UPSERT VERTEX ON t "v5", "v200", "n1", "n2", "n1" SET x = 7 WHEN x > 100""")
      val got = tc.vertexTable("t").collect().map(r => r.getString(0) -> r.getLong(1))
      val want = (0 until 300).map(i => s"v$i" -> i.toLong).toMap ++
        Map("v200" -> 7L, "n1" -> 7L, "n2" -> 7L)
      // one row per key: a repeated seed key is seeded once
      assert(got.length == want.size && got.toMap == want)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("table space: a multi-key UPDATE with a missing key raises and applies no key") {
    def check(cat: graft.graph.GraphCatalog): Unit = {
      Gql.runScript(cat,
        """CREATE TAG t(x int); CREATE EDGE e(w int);
          |INSERT VERTEX t(x) VALUES "a":(1), "b":(2);
          |INSERT EDGE e(w) VALUES "a"->"b":(1);""".stripMargin)
      val v = intercept[DmlError] {
        Gql.runScript(cat, """UPDATE VERTEX ON t "a", "zz" SET x = 9""")
      }
      assert(v.getMessage.contains("vertex zz on tag t not found"), v.getMessage)
      val e = intercept[DmlError] {
        Gql.runScript(cat, """UPDATE EDGE ON e "a"->"b", "b"->"a" SET w = 9""")
      }
      assert(e.getMessage.contains("edge (b,a,0) on e not found"), e.getMessage)
      val rows = Gql.run(cat,
        """FETCH PROP ON t "a", "b" YIELD t.x AS x""").collect()
        .map(_.getAs[Long]("x")).toSet
      assert(rows == Set(1L, 2L), s"${cat.getClass.getSimpleName}: $rows")
      val w = Gql.run(cat, """GO FROM "a" OVER e YIELD e.w AS w""").collect()
        .map(_.getLong(0)).toSeq
      assert(w == Seq(1L), s"${cat.getClass.getSimpleName}: $w")
    }
    check(fresh())
    val root = java.nio.file.Files.createTempDirectory("graft-tm").toString
    check(new graft.graph.TableCatalog(spark, root))
    assert(!new java.io.File(s"$root/tag_t.stage").exists(), "stage left behind")
  }

  test("table space: literal and piped key sets leave identical tables") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    def space(): graft.graph.TableCatalog = {
      val tc = new graft.graph.TableCatalog(spark,
        java.nio.file.Files.createTempDirectory("graft-tl").toString,
        vidIsInt = true)
      Gql.runScript(tc,
        """CREATE TAG t(x int); CREATE EDGE e(w int);
          |INSERT VERTEX t(x) VALUES 1:(1), 2:(2), 3:(3), 4:(4);
          |INSERT EDGE e(w) VALUES 1->2:(1), 1->2@1:(2), 2->3:(3), 3->4@2:(4),
          |  4->1:(5), 2->4@1:(6);""".stripMargin)
      tc
    }
    def state(tc: graft.graph.TableCatalog) =
      (tc.vertexTable("t").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        tc.edgesByType("e").select("src", "dst", "rank", "w").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
    val literal, piped = space()
    Gql.runScript(literal,
      """INSERT VERTEX t(x) VALUES 2:(20), 5:(5);
        |INSERT EDGE e(w) VALUES 1->2@1:(20), 3->1@3:(7);""".stripMargin)
    // the same rows as frames the driver does not hold: the key join
    def frame(rows: Seq[Seq[Any]], schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema).repartition(2)
    piped.tagTable("t").insert(frame(Seq(Seq(2L, 20L), Seq(5L, 5L)),
      piped.tagSchema("t")))
    piped.edgeTable("e").insert(frame(Seq(Seq(1L, 2L, 1L, 20L),
      Seq(3L, 1L, 3L, 7L)), piped.edgeSchema("e")))
    assert(state(literal) == state(piped))
    Gql.runScript(literal, "DELETE EDGE e 1->2@1, 3->1@3")
    Gql.runScript(piped,
      """LOOKUP ON e WHERE e.w > 6 YIELD src(edge) AS s, dst(edge) AS d, rank(edge) AS r
        || DELETE EDGE e $-.s -> $-.d @ $-.r""".stripMargin)
    assert(state(literal) == state(piped))
    Gql.runScript(literal, "DELETE VERTEX 2, 5 WITH EDGE")
    Gql.runScript(piped,
      """LOOKUP ON t WHERE t.x >= 5 YIELD id(vertex) AS id
        || DELETE VERTEX $-.id WITH EDGE""".stripMargin)
    assert(state(literal) == state(piped))
    assert(state(literal) == (Set((1L, 1L), (3L, 3L), (4L, 4L)),
      Set((3L, 4L, 2L, 4L), (4L, 1L, 0L, 5L))))
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

  test("table space: a key repeated in one statement writes one row") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-td").toString
    val tc = new graft.graph.TableCatalog(spark, root, vidIsInt = true)
    Gql.runScript(tc,
      """CREATE TAG account(balance double DEFAULT 0.0);
        |CREATE EDGE paid(amount int DEFAULT 0);
        |INSERT VERTEX account(balance) VALUES 5:(5.0), 5:(6.0);
        |INSERT VERTEX IF NOT EXISTS account(balance) VALUES 7:(7.0), 7:(8.0);
        |UPSERT VERTEX ON account 9, 9 SET balance = balance + 1.0;
        |INSERT EDGE paid(amount) VALUES 1->2:(10), 1->2:(11);
        |UPSERT EDGE ON paid 2->1, 2->1 SET amount = amount + 1;""".stripMargin)
    def balances(v: Long) = tc.vertexTable("account").filter(col("vid") === v)
      .select("balance").collect().map(_.getDouble(0)).toSeq
    def amounts(s: Long, d: Long) = tc.edgesByType("paid")
      .filter(col("src") === s && col("dst") === d)
      .select("amount").collect().map(_.getLong(0)).toSeq
    assert(balances(5) == Seq(6.0)) // INSERT: the last row wins
    assert(balances(7) == Seq(7.0)) // IF NOT EXISTS: the first row wins
    assert(balances(9) == Seq(1.0)) // UPSERT: one key, SET applied once
    assert(amounts(1, 2) == Seq(11L))
    assert(amounts(2, 1) == Seq(1L))
  }

  test("table space: UPSERT EDGE inserts missing keys from defaults, literal and piped") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-tue").toString
    val tc = new graft.graph.TableCatalog(spark, root, vidIsInt = true)
    Gql.runScript(tc,
      """CREATE EDGE paid(amount int DEFAULT 5, note string DEFAULT "x");
        |CREATE EDGE knows();
        |INSERT EDGE paid(amount, note) VALUES 1->2:(10, "a"), 2->3:(20, "b"),
        |  4->5:(12, "c"), 4->6:(30, "d");
        |INSERT EDGE knows() VALUES 4->5:(), 4->6:(), 4->7:();""".stripMargin)
    def edges = tc.edgesByType("paid").select("src", "dst", "amount", "note")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    // literal keys: 1->2 passes WHEN and updates, 2->3 fails WHEN and
    // stays, 3->4 is missing and is inserted from the defaults (5, "x")
    // with the SET applied
    Gql.runScript(tc,
      """UPSERT EDGE ON paid 1->2, 2->3, 3->4
        |  SET amount = amount + 100 WHEN amount < 15""".stripMargin)
    assert(edges == Set((1L, 2L, 110L, "a"), (2L, 3L, 20L, "b"),
      (3L, 4L, 105L, "x"), (4L, 5L, 12L, "c"), (4L, 6L, 30L, "d")))
    // piped keys: 4->5 passes WHEN, 4->6 fails it, 4->7 is missing
    Gql.runScript(tc,
      """GO FROM 4 OVER knows YIELD knows._src AS s, knows._dst AS d, knows._rank AS r
        || UPSERT EDGE ON paid $-.s -> $-.d @ $-.r
        |  SET amount = amount + 100 WHEN amount < 15""".stripMargin)
    assert(edges == Set((1L, 2L, 110L, "a"), (2L, 3L, 20L, "b"),
      (3L, 4L, 105L, "x"), (4L, 5L, 112L, "c"), (4L, 6L, 30L, "d"),
      (4L, 7L, 105L, "x")))
    assert(tc.edgesByType("paid").filter(col("rank") =!= 0).count() == 0)
  }

  test("scenario space: piped UPDATE and DELETE change exactly the piped keys") {
    val cat = fresh()
    Gql.runScript(cat,
      """CREATE TAG account(balance double); CREATE TAG vip(level int);
        |CREATE EDGE paid(amount int);
        |INSERT VERTEX account(balance) VALUES "a":(1.0), "b":(2.0), "c":(3.0), "d":(4.0);
        |INSERT VERTEX vip(level) VALUES "a":(1), "b":(1), "c":(1), "d":(1);
        |INSERT EDGE paid(amount) VALUES "a"->"b":(10), "a"->"c":(20), "b"->"d":(30),
        |  "c"->"d"@1:(40);""".stripMargin)
    def balances = cat.tagRows("account").map { case (v, r) => v -> r.head }.toMap
    def amounts = cat.edgeRows("paid").map { case (k, r) => k -> r.head }.toMap
    Gql.runScript(cat,
      """GO FROM "a" OVER paid YIELD paid._dst AS id
        || UPDATE VERTEX ON account $-.id SET balance = balance + 100.0""".stripMargin)
    assert(balances == Map("a" -> 1.0, "b" -> 102.0, "c" -> 103.0, "d" -> 4.0))
    Gql.runScript(cat,
      """GO FROM "a" OVER paid YIELD paid._src AS s, paid._dst AS d, paid._rank AS r
        || UPDATE EDGE ON paid $-.s -> $-.d @ $-.r SET amount = amount + 1""".stripMargin)
    assert(amounts == Map(("a", "b", 0L) -> 11L, ("a", "c", 0L) -> 21L,
      ("b", "d", 0L) -> 30L, ("c", "d", 1L) -> 40L))
    Gql.runScript(cat,
      """GO FROM "b" OVER paid YIELD paid._src AS s, paid._dst AS d
        || DELETE EDGE paid $-.s -> $-.d""".stripMargin)
    assert(amounts.keySet == Set(("a", "b", 0L), ("a", "c", 0L), ("c", "d", 1L)))
    Gql.runScript(cat,
      """$v = GO FROM "c" OVER paid YIELD paid._dst AS id;
        |DELETE TAG vip FROM $v.id""".stripMargin)
    assert(cat.tagRows("vip").keySet == Set("a", "b", "c"))
    assert(cat.tagRows("account").contains("d"))
    Gql.runScript(cat,
      """GO FROM "c" OVER paid YIELD paid._dst AS id
        || DELETE VERTEX $-.id WITH EDGE""".stripMargin)
    assert(balances.keySet == Set("a", "b", "c"))
    assert(amounts.keySet == Set(("a", "b", 0L), ("a", "c", 0L)))
    val noPipe = intercept[IllegalArgumentException] {
      Gql.runScript(cat, "DELETE VERTEX $-.id")
    }
    assert(noPipe.getMessage.contains("DELETE VERTEX $-. needs a pipe"),
      noPipe.getMessage)
    val noVar = intercept[IllegalArgumentException] {
      Gql.runScript(cat, "DELETE VERTEX $nope.id")
    }
    assert(noVar.getMessage.contains("undefined $nope"), noVar.getMessage)
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
