package graft

import graft.nql.{Expr, Gql}
import graft.nql.Gql._
import graft.traverse.Traverse.{Both, In, Out}

/** Parser unit tests for the nGQL sentence subset. Execution against
  * data is covered by the q_nql_* oracle queries. */
class GqlSpec extends SparkSpec {

  test("GO defaults: 1 step, Out, default (etype._dst) yields") {
    val Go(m, n, seeds, _, _, ets, dir, where, ys, dist, _) =
      Gql.parse("""GO FROM "a" OVER like"""): @unchecked
    assert(m == 1 && n == 1 && seeds == Seq("a") && ets == Seq("like") && dir == Out)
    assert(ys.isEmpty && !dist && where.isEmpty)
  }

  test("GO m TO n STEPS with direction and aliased yields") {
    val Go(m, n, seeds, _, _, ets, dir, _, Some(ys), _, _) =
      Gql.parse("""GO 2 TO 3 STEPS FROM "a", "b" OVER * REVERSELY YIELD vid AS v, step"""): @unchecked
    assert(m == 2 && n == 3 && seeds == Seq("a", "b") && ets == Seq("*") && dir == In)
    assert(ys.map(_.alias) == Seq("v", "step"))
  }

  test("GO over multi-edge list with boolean WHERE tree") {
    val Go(_, _, _, _, _, ets, _, Some(w), _, _, _) = Gql.parse(
      """GO FROM "a" OVER like, serve WHERE like.likeness > 80 AND serve.start_year < 2000 OR NOT (step == 1) YIELD vid"""): @unchecked
    assert(ets == Seq("like", "serve"))
    val Expr.Bin("or", _, _) = w: @unchecked
  }

  test("GO N STEPS (no TO) fixes both ends of the range") {
    val Go(m, n, _, _, _, _, dir, _, _, _, _) =
      Gql.parse("""GO 3 STEPS FROM "x" OVER e BIDIRECT"""): @unchecked
    assert(m == 3 && n == 3 && dir == Both)
  }

  test("GO seeds from $var.col and from $-.col") {
    val Go(_, _, _, _, sv, _, _, _, _, _, _) =
      Gql.parse("""GO FROM $a.dst OVER like"""): @unchecked
    assert(sv.contains("a" -> "dst"))
    val Piped(_, pipes) = Gql.parse(
      """GO FROM "a" OVER like YIELD like._dst as id | GO FROM $-.id OVER serve YIELD serve._dst"""): @unchecked
    val Seq(PGo(g2)) = pipes: @unchecked
    assert(g2.seedsCol.contains("id") && g2.etypes == Seq("serve"))
  }

  test("LOOKUP with WHERE expression trees and function yields") {
    val Lookup(tag, where, ys, _) =
      Gql.parse("""LOOKUP ON customer WHERE acctbal >= 9900 YIELD vid, name AS n"""): @unchecked
    assert(tag == "customer" && where.isDefined)
    assert(ys.map(_.alias) == Seq("vid", "n"))
    val Lookup(_, w2, y2, _) = Gql.parse(
      """LOOKUP ON player WHERE player.age > 40 AND player.name STARTS WITH "T" YIELD player.name, upper(player.name) AS u"""): @unchecked
    val Expr.Bin("and", _, _) = w2.get: @unchecked
    assert(y2.map(_.alias) == Seq("player.name", "u"))
  }

  test("FETCH PROP ON tag vids and edge src->dst@rank") {
    val Fetch(tag, vids, _, ys, dist) =
      Gql.parse("""FETCH PROP ON part "p:1", "p:2""""): @unchecked
    assert(tag == Seq("part") && vids == Seq("p:1", "p:2"))
    assert(ys.isEmpty && !dist)
    val FetchEdge(et, keys, _, _, _, _) = Gql.parse(
      """FETCH PROP ON serve "a" -> "b" @0, "c" -> "d" YIELD serve.start_year"""): @unchecked
    assert(et == "serve" &&
      keys == Seq(("a", "b", Some(0L)), ("c", "d", None)))
    val Piped(_, Seq(PFetch(pf: Fetch))) = Gql.parse(
      """LOOKUP ON player WHERE player.age == 40 YIELD id(vertex) AS id | FETCH PROP ON player $-.id YIELD player.name"""): @unchecked
    assert(pf.vidsRef.contains(InRef(None, "id")))
  }

  test("FIND PATH honors OVER list, direction, NOLOOP, UPTO") {
    val FindPath(m1, srcs, dsts, ets, dir, k, _, _, _, _) =
      Gql.parse("""FIND SHORTEST PATH FROM "a" TO "b", "c" OVER like REVERSELY UPTO 4 STEPS"""): @unchecked
    assert(m1 == "shortest" && srcs == Seq("a") && dsts == Seq("b", "c"))
    assert(ets == Seq("like") && dir == In && k == 4)
    val FindPath(m2, _, _, ets2, _, k2, _, _, _, _) =
      Gql.parse("""FIND NOLOOP PATH FROM "a" TO "b""""): @unchecked
    assert(m2 == "noloop" && ets2 == Seq("*") && k2 == 5)
  }

  test("GET SUBGRAPH with edge filter and YIELD EDGES") {
    val SubgraphY(steps, seeds, _, specs, yields, _) =
      Gql.parse("""GET SUBGRAPH 2 STEPS FROM "c:1" OUT placed YIELD VERTICES AS v, EDGES AS e"""): @unchecked
    assert(steps == 2 && seeds == Seq("c:1"))
    assert(specs == Seq((Out, Seq("placed"))))
    assert(yields == Seq(("vertices", "v"), ("edges", "e")))
  }

  test("GET SUBGRAPH: the YIELD and plain forms reach the same vertex rings") {
    import spark.implicits._
    // a cycle a->c->d->a, a self-loop on b, an in-edge x->a the OUT walk
    // never takes, and d->y one hop past the 2-step limit
    val g = graft.graph.MapCatalog(
      Map("v" -> Seq("a", "b", "c", "d", "x", "y").toDF("vid")),
      Map("e" -> Seq(("a", "c"), ("c", "d"), ("d", "a"), ("b", "b"),
        ("x", "a"), ("d", "y")).toDF("src", "dst")
        .withColumn("rank", org.apache.spark.sql.functions.lit(0L))))
    val plain = Gql.run(g, """GET SUBGRAPH 2 STEPS FROM "a", "b" OUT e""")
      .as[(String, Int)].collect().toMap
    assert(plain == Map("a" -> 0, "b" -> 0, "c" -> 1, "d" -> 2))
    // the YIELD form has one row per step, listing that step's
    // vertices rendered as ("vid")
    val rings = Gql.run(g,
      """GET SUBGRAPH 2 STEPS FROM "a", "b" OUT e YIELD VERTICES AS v""")
      .as[Seq[String]].collect().map(_.map(_.stripPrefix("(\"")
        .stripSuffix("\")")).toSet).toSet
    assert(rings == plain.groupBy(_._2).values.map(_.keySet).toSet)
  }

  test("set sentences: UNION / UNION ALL / INTERSECT / MINUS (left-assoc)") {
    val SetOp("minus", _, SetOp("union", false, _, _), _) = Gql.parse(
      """GO FROM "a" OVER like YIELD vid UNION GO FROM "b" OVER like YIELD vid MINUS GO FROM "c" OVER like YIELD vid"""): @unchecked
    val SetOp("union", true, _, _) = Gql.parse(
      """GO FROM "a" OVER like YIELD vid UNION ALL GO FROM "b" OVER like YIELD vid"""): @unchecked
  }

  test("scripts: $var assignment feeding a later sentence") {
    val script = Gql.parseScript(
      """$a = GO FROM "x" OVER like YIELD like._dst AS dst; GO FROM $a.dst OVER serve YIELD serve._dst""")
    assert(script.size == 2)
    assert(script.head._1.contains("a"))
    assert(script(1)._1.isEmpty)
  }

  test("UNWIND and standalone YIELD sentences") {
    val Unwind(_, alias) = Gql.parse("""UNWIND [1, 2, 3] AS x"""): @unchecked
    assert(alias == "x")
    val YieldStmt(items, _, _) =
      Gql.parse("""YIELD 1 + 2 AS s, "a" AS t"""): @unchecked
    assert(items.map(_.alias) == Seq("s", "t"))
  }

  test("expression parser: precedence, CASE, IN, IS NULL, functions") {
    def e(s: String) = Expr.parseText(s)
    val Expr.Bin("or", Expr.Bin("and", _, _), _) = e("a > 1 AND b < 2 OR c == 3"): @unchecked
    val Expr.Bin("+", _, Expr.Bin("*", _, _)) = e("1 + 2 * 3"): @unchecked
    val Expr.CaseW(None, brs, Some(_)) =
      e("CASE WHEN a > 1 THEN 2 ELSE 3 END"): @unchecked
    assert(brs.size == 1)
    val Expr.Bin("in", _, Expr.ListLit(xs)) = e("a IN [1, 2, 3]"): @unchecked
    assert(xs.size == 3)
    val Expr.Un("isnotnull", _) = e("a.b.c IS NOT NULL"): @unchecked
    val Expr.FnCall("count", List(Expr.Star), false) = e("COUNT(*)"): @unchecked
    val Expr.FnCall("count", _, true) = e("COUNT(DISTINCT x)"): @unchecked
  }

  test("errors: unterminated string, unknown sentence, trailing junk") {
    intercept[IllegalArgumentException](Gql.parse("""GO FROM "a OVER x"""))
    intercept[IllegalArgumentException](Gql.parse("""DROP TABLE x"""))
    intercept[IllegalArgumentException](
      Gql.parse("""LOOKUP ON t WHERE a ~ 3"""))
  }

  test("keywords are case-insensitive") {
    Gql.parse("""go from "a" over like yield vid""")
  }

  test("FIND PATH OVER <etype> excludes other edge types (was silently ignored)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val likes = Seq(("a", "b", 0L), ("b", "c", 0L)).toDF("src", "dst", "rank")
      .withColumn("likeness", lit(1L))
    val roads = Seq(("a", "c", 0L)).toDF("src", "dst", "rank")
    val cat = graft.graph.MapCatalog(
      tags = Map("node" -> Seq("a", "b", "c").toDF("vid")),
      edges = Map("like" -> likes, "road" -> roads))
    // over like only: a->b->c (2 hops); the 1-hop road shortcut is
    // excluded — with OVER ignored the answer would be the road
    val typed = Gql.run(cat, """FIND SHORTEST PATH FROM "a" TO "c" OVER like UPTO 3 STEPS""")
      .select("hops").as[Int].collect().toSeq
    assert(typed == Seq(2), s"typed path took the wrong edges: $typed")
    val all = Gql.run(cat, """FIND SHORTEST PATH FROM "a" TO "c" OVER * UPTO 3 STEPS""")
      .select("hops").as[Int].collect().toSeq
    assert(all == Seq(1), s"untyped path should use the road: $all")
  }

  /** a->b->d, a->c->d, a->e->f->d and b->a, all `like` edges. */
  private def likeCatalog = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val likes = Seq(("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"),
      ("a", "e"), ("e", "f"), ("f", "d"), ("b", "a"))
      .toDF("src", "dst").withColumn("rank", lit(0L))
    graft.graph.MapCatalog(
      tags = Map("node" -> Seq("a", "b", "c", "d", "e", "f").toDF("vid")),
      edges = Map("like" -> likes))
  }

  test("FIND SINGLE SHORTEST PATH without YIELD returns one shortest path") {
    import spark.implicits._
    val r = Gql.run(likeCatalog,
        """FIND SINGLE SHORTEST PATH FROM "a" TO "d" OVER like UPTO 4 STEPS""")
      .select("path", "hops").as[(String, Int)].collect().toSeq
    assert(r == Seq(("a->b->d", 2)), s"got $r")
  }

  test("FIND ALL PATH without YIELD walks trails, like the YIELD form") {
    import spark.implicits._
    // trail semantics: a vertex may repeat (a->b->a), a stored edge may not
    val r = Gql.run(likeCatalog,
        """FIND ALL PATH FROM "a" TO "d" OVER like UPTO 4 STEPS""")
      .select("path").as[String].collect().sorted.toSeq
    assert(r == Seq("a->b->a->c->d", "a->b->d", "a->c->d", "a->e->f->d"),
      s"got $r")
    val yielded = Gql.run(likeCatalog,
      """FIND ALL PATH FROM "a" TO "d" OVER like UPTO 4 STEPS YIELD path AS p""")
    assert(yielded.count() == r.size)
  }

  test("GO step caps: LIMIT / SAMPLE [..] cap every step, the last one too") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // fan-out: a -> b1..b4, each bi -> ci1..ci3
    val pairs = (1 to 4).flatMap(i => ("a", s"b$i") +:
      (1 to 3).map(j => (s"b$i", s"c$i$j")))
    val cat = graft.graph.MapCatalog(
      tags = Map("node" -> pairs.flatMap(p => Seq(p._1, p._2)).distinct.toDF("vid")),
      edges = Map("e" -> pairs.toDF("src", "dst").withColumn("rank", lit(0L))))
    val edgeSet = pairs.toSet
    def go(q: String) = Gql.run(cat, q).select("s", "d").as[(String, String)]
      .collect().toSeq
    for (kw <- Seq("LIMIT", "SAMPLE")) {
      val two = go(s"""GO 2 STEPS FROM "a" OVER e YIELD e._src AS s, e._dst AS d $kw [2, 1]""")
      assert(two.size == 1, s"$kw: $two")
      assert(two.forall(edgeSet), s"$kw: $two")
      val range = go(s"""GO 1 TO 2 STEPS FROM "a" OVER e YIELD e._src AS s, e._dst AS d $kw [1, 2]""")
      assert(range.forall(edgeSet), s"$kw: $range")
      val (step1, step2) = range.partition(_._1 == "a")
      assert(step1.size == 1 && step2.size == 2, s"$kw: $range")
      // the second step walks out of the first step's capped pick
      assert(step2.forall(_._1 == step1.head._2), s"$kw: $range")
    }
  }

  test("constant integer overflow raises the reference's message, never wraps") {
    val cat = new graft.graph.ScenarioCatalog(spark, false)
    def err(q: String) =
      intercept[IllegalArgumentException](Gql.runScript(cat, q).collect()).getMessage
    for ((q, what) <- Seq(
        "YIELD 9223372036854775807 + 1 == -9223372036854775808 AS r" ->
          "(9223372036854775807+1)",
        "YIELD 9223372036854775807 * 2 IN [-2] AS r" -> "(9223372036854775807*2)",
        "YIELD (9223372036854775807 + 0) + 1 AS r" -> "(9223372036854775807+1)",
        "YIELD 1 AS r | LIMIT 9223372036854775807 + 1" -> "(9223372036854775807+1)"))
      assert(err(q) == s"result of $what cannot be represented as an integer", q)
    assert(err("YIELD -(-9223372036854775807 - 1) AS r") ==
      "SemanticError: result of -(-9223372036854775808) cannot be represented as an integer")
  }

  test("an integer / or % by zero is NULL over piped columns, a constant one raises") {
    val cat = new graft.graph.ScenarioCatalog(spark, false)
    val r = Gql.runScript(cat,
      """YIELD 7 AS x, -7 AS n, 0 AS z | YIELD $-.x / $-.z AS d, $-.x % $-.z AS m,
        |$-.n / 2 AS d2, $-.n % 2 AS m2, (1 / $-.z) IS NULL AS dn""".stripMargin)
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1), s"got $r")
    assert(r.getLong(2) == -3L && r.getLong(3) == -1L && r.getBoolean(4), s"got $r")
    // the reference's constant folder rejects a constant zero divisor
    for (q <- Seq("YIELD 1 / 0 AS d", "YIELD 7 % (1 - 1) AS m",
                  "YIELD 7 AS x | YIELD $-.x + 1 / 0 AS d"))
      assert(intercept[IllegalArgumentException](Gql.runScript(cat, q).collect())
        .getMessage == "SemanticError: Divide by 0", q)
  }

  test("list + list concatenates, over piped columns and constants") {
    val cat = new graft.graph.ScenarioCatalog(spark, false)
    val c = Gql.runScript(cat, "YIELD [1, 2] + [3] AS r").collect().head
    assert(c.getSeq[Long](0) == Seq(1L, 2L, 3L))
    val r = Gql.runScript(cat,
      """YIELD [1, 2] AS a, [3] AS b, ["x"] AS s | YIELD $-.a + $-.b AS r, $-.s + $-.s AS t""")
      .collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(r.getSeq[String](1) == Seq("x", "x"))
  }

  test("GO: ordering a prop against a literal of another type family keeps no row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val cat = graft.graph.MapCatalog(
      tags = Map("t" -> Seq(("a", 10L), ("b", 20L), ("c", 30L)).toDF("vid", "age")),
      edges = Map("e" -> Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
        .withColumn("rank", lit(0L))))
    def dsts(where: String) = Gql.run(cat,
        s"""GO FROM "a" OVER e WHERE $where YIELD e._dst AS d""")
      .as[String].collect().toSet
    assert(dsts("$$.t.age >= true").isEmpty)
    assert(dsts("$$.t.age < \"25\"").isEmpty)
    assert(dsts("$$.t.age >= 12") == Set("b", "c"))
    assert(dsts("$$.t.age < 25") == Set("b"))
  }

  test("FETCH on the driver: the join's rows on a GraphModel, store on and off") {
    val dir = "/root/testdata/sf0.001"
    assumeFiles(dir)
    import org.apache.spark.sql.functions.col
    val stored = spark.newSession()
    graft.sources.GraphStore.enableManaged(stored)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map(kv => kv._1 -> kv._2.size)
    // "c:1" present and repeated, "p:1" a part without the customer tag
    // (NULL props), "zz" absent
    val keys = Seq("c:1", "p:1", "zz", "c:1")
    val q = s"FETCH PROP ON customer ${keys.map(k => "\"" + k + "\"").mkString(", ")}"
    Seq("store off" -> spark, "store on" -> stored).foreach { case (name, s2) =>
      val g = graft.graph.GraphModel(s2, dir)
      Gql.run(g, q).collect() // warm: resolves the tables, builds the store
      val (got, jobs) = jobNamesOf(bag(Gql.run(g, q)))
      import s2.implicits._
      val want = bag(keys.toDF("vid")
        .join(g.allVertices.select(col("vid")), Seq("vid"), "left_semi")
        .join(g.vertexTable("customer"), Seq("vid"), "left"))
      assert(got == want, name)
      assert(got.values.sum == 3 && got.keys.exists(r => r.head == "p:1" &&
        r.tail.forall(_ == null)), s"$name: $got")
      assert(jobs.size == 2 && jobs.forall(_.contains("Adjacency.scala")),
        s"$name: $jobs")
      // a piped bag the driver does not hold (a LOOKUP's rows) takes the
      // joins at once: no key read, which would compute the bag twice
      // once it passed the bound
      val piped = "LOOKUP ON customer WHERE customer.acctbal > 9000 YIELD vid" +
        " | FETCH PROP ON customer $-.vid"
      val (pipedRows, pipedJobs) = jobNamesOf(bag(Gql.run(g, piped)))
      val pipedWant = bag(g.customers.filter(col("acctbal") > 9000)
        .select("vid").join(g.vertexTable("customer"), Seq("vid")))
      assert(pipedRows.nonEmpty && pipedRows == pipedWant, name)
      assert(!pipedJobs.exists(_.contains("Adjacency.scala")), s"$name: $pipedJobs")
    }
  }
}
