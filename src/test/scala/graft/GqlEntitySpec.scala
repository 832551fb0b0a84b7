package graft

import graft.graph.{GraphCatalog, MapCatalog, ScenarioCatalog}
import graft.nql.Gql
import org.apache.spark.sql.SparkSession

/** Golden entity table: every entity function (`vertex`/`edge` whole
  * values, id src dst rank type typeid, properties(x) and
  * properties(x).p, keys, tags/labels, alias.prop, `$^`/`$$` props,
  * `$-.c`/`$var.c`, score(), and the hidden `__vid_`/`__edge_`/`__path_`
  * twins) in every nGQL sentence that yields or filters, and the same
  * functions over MATCH's named vertex and edge variables in RETURN,
  * WITH and WHERE, over a string-vid MapCatalog and an int-vid
  * ScenarioCatalog. Each answer is the
  * output schema (name:type) and the sorted rows, or the reject text;
  * a Spark analysis failure is pinned by its error condition only. */
class GqlEntitySpec extends SparkSpec {
  import GqlEntitySpec._

  private lazy val catalogs = Map("str" -> str(spark), "int" -> int(spark))

  golden.foreach { case (name, cat, table) =>
    test(name) {
      val wrong = table.flatMap { case (q, want) =>
        val got = answer(catalogs(cat), q)
        if (got == want) None else Some(s"$q\n  want: $want\n  got:  $got")
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
    }
  }
}

object GqlEntitySpec {
  /** player(name, age) on a, b, c; team(name) on a and t (a bears
    * both tags, t only team); like a->b 90, b->c 80, a->c @1 70;
    * serve a->t 2001, b->t 2005. */
  def str(spark: SparkSession): GraphCatalog = {
    import spark.implicits._
    MapCatalog(
      tags = Map(
        "player" -> Seq(("a", "Ann", Some(30L)), ("b", "Bob", Some(40L)),
          ("c", "Cy", None)).toDF("vid", "name", "age"),
        "team" -> Seq(("a", "A-team"), ("t", "Tea")).toDF("vid", "name")),
      edges = Map(
        "like" -> Seq(("a", "b", 0L, 90L), ("b", "c", 0L, 80L),
          ("a", "c", 1L, 70L)).toDF("src", "dst", "rank", "likeness"),
        "serve" -> Seq(("a", "t", 0L, 2001L), ("b", "t", 0L, 2005L))
          .toDF("src", "dst", "rank", "start_year")))
  }

  /** The same shape with int vids on a scenario space, indexed for
    * LOOKUP and fulltext-indexed on person.name. */
  def int(spark: SparkSession): GraphCatalog = {
    val c = new ScenarioCatalog(spark, true)
    Gql.runScript(c,
      """CREATE TAG person(name string, age int);
        |CREATE EDGE knows(w int);
        |CREATE TAG INDEX person_idx ON person(age);
        |CREATE EDGE INDEX knows_idx ON knows(w);
        |CREATE FULLTEXT TAG INDEX person_ft ON person(name);
        |INSERT VERTEX person(name, age) VALUES 1:("ann lee", 30), 2:("bob", 40), 3:("ann", 50);
        |INSERT EDGE knows(w) VALUES 1->2:(5), 2->3:(6), 1->3@2:(7);""".stripMargin)
    c
  }

  private def show(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ", ", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(show).mkString("{", ", ", "}")
    case x => x.toString
  }

  def answer(g: GraphCatalog, q: String): String =
    try {
      val df = Gql.run(g, q)
      val rows = df.collect().map(r => r.toSeq.map(show).mkString("(", ", ", ")")).sorted
      df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
        .mkString(", ") + " | " + rows.mkString(" ")
    } catch {
      case e: org.apache.spark.sql.AnalysisException => s"analysis: ${e.getCondition}"
      case e: IllegalArgumentException => s"reject: ${e.getMessage}"
      case e: graft.nql.DmlError => s"reject: ${e.getMessage}"
    }

  /** (test name, catalog, sentence -> answer). */
  val golden: Seq[(String, String, Seq[(String, String)])] = Seq(
    ("GO over one type: edge functions, alias.prop, $^/$$ and frontier names", "str", Seq(
      """GO FROM "a" OVER like""" ->
        """like._dst:string | (b) (c)""",
      """GO FROM "a" OVER like YIELD like._dst AS d, like._src AS s, like._rank AS r, like.likeness AS l, like._type AS ty""" ->
        """d:string, s:string, r:bigint, l:bigint, ty:int | (b, a, 0, 90, 2) (c, a, 1, 70, 2)""",
      """GO FROM "a" OVER like YIELD edge AS e, src(edge) AS s, dst(edge) AS d, rank(edge) AS r, type(edge) AS t, typeid(edge) AS ti""" ->
        """e:string, s:string, d:string, r:bigint, t:string, ti:int | ([:like "a"->"b" @0], a, b, 0, like, 2) ([:like "a"->"c" @1], a, c, 1, like, 2)""",
      """GO FROM "a" OVER like YIELD properties(edge) AS p, properties(edge).likeness AS pl, properties(edge).nope AS px""" ->
        """p:string, pl:bigint, px:void | ({likeness: 70}, 70, null) ({likeness: 90}, 90, null)""",
      """GO FROM "a" OVER like YIELD $$ AS dv, id($$) AS di, $^ AS sv, id($^) AS si, vid AS v""" ->
        """dv:string, di:string, sv:string, si:string, v:string | (("b"), b, ("a"), a, b) (("c"), c, ("a"), a, c)""",
      """GO FROM "a" OVER like YIELD $$.player.name AS dn, $$.player.age AS da, $^.player.name AS sn, $^.team.name AS stn""" ->
        """dn:string, da:bigint, sn:string, stn:string | (Bob, 40, Ann, A-team) (Cy, null, Ann, A-team)""",
      """GO FROM "a" OVER like YIELD properties($$) AS dp, properties($$).name AS dpn, properties($^).age AS spa, tags($$) AS dt, labels($^) AS sl""" ->
        """dp:string, dpn:string, spa:bigint, dt:array<string>, sl:array<string> | ({age: 40, name: "Bob"}, Bob, 30, [player], [player, team]) ({name: "Cy"}, Cy, 30, [player], [player, team])""",
      """GO FROM "a" OVER like YIELD properties($^) AS sp, properties($$).nope AS px""" ->
        """sp:string, px:void | ({age: 30, name: "Ann"}, null) ({age: 30, name: "Ann"}, null)""",
      """GO FROM "a" OVER like YIELD like.nope AS n""" ->
        """analysis: UNRESOLVED_COLUMN.WITH_SUGGESTION""",
      """GO FROM "a" OVER like YIELD EDGE AS e""" ->
        """e:string | ([:like "a"->"b" @0]) ([:like "a"->"c" @1])""",
      """GO FROM "a" OVER like YIELD name AS n""" ->
        """reject: Invalid label identifiers: name""",
      """GO FROM "a" OVER like WHERE like.likeness > 80 YIELD like._dst AS d""" ->
        """d:string | (b)""",
      """GO FROM "a" OVER like WHERE $$.player.age > 35 YIELD like._dst AS d""" ->
        """d:string | (b)""",
      """GO FROM "a" OVER like WHERE $^.player.name == "Ann" AND rank(edge) == 1 YIELD dst(edge) AS d""" ->
        """d:string | (c)""",
      """GO FROM "a" OVER like WHERE properties($$).age IS NULL YIELD dst(edge) AS d""" ->
        """d:string | (c)""",
      """GO FROM "a" OVER serve YIELD serve._dst AS d, $$.team.name AS n, tags($$) AS t""" ->
        """d:string, n:string, t:array<string> | (t, Tea, [team])""",
      """GO 1 TO 2 STEPS FROM "a" OVER * YIELD vid AS v, origin AS o, step AS s""" ->
        """v:string, o:string, s:int | (b, a, 1) (c, a, 1) (c, a, 2) (t, a, 1) (t, a, 2)""",
      """GO 1 TO 2 STEPS FROM "a" OVER like WHERE step == 2 YIELD vid AS v""" ->
        """v:string | (c)""",
      """GO 2 STEPS FROM "a" OVER like YIELD like._dst AS d, $^.player.name AS sn, step AS s""" ->
        """d:string, sn:string, s:int | (c, Bob, 2)""")),
    ("GO over several types: type guards, EMPTY equality, default yields", "str", Seq(
      """GO FROM "a" OVER like, serve""" ->
        """like._dst:string, serve._dst:string | (b, null) (c, null) (null, t)""",
      """GO FROM "a" OVER * YIELD type(edge) AS t, typeid(edge) AS ti, edge AS e, src(edge) AS s, dst(edge) AS d""" ->
        """t:string, ti:int, e:string, s:string, d:string | (like, 2, [:like "a"->"b" @0], a, b) (like, 2, [:like "a"->"c" @1], a, c) (serve, 3, [:serve "a"->"t" @0], a, t)""",
      """GO FROM "a" OVER like, serve YIELD properties(edge) AS p, properties(edge).likeness AS pl, properties(edge).start_year AS py""" ->
        """p:string, pl:bigint, py:bigint | ({likeness: 70}, 70, null) ({likeness: 90}, 90, null) ({start_year: 2001}, null, 2001)""",
      """GO FROM "a" OVER like, serve YIELD like.likeness AS l, serve.start_year AS y, like._dst AS ld, serve._dst AS sd, like._type AS lt, serve._rank AS sr""" ->
        """l:bigint, y:bigint, ld:string, sd:string, lt:int, sr:bigint | (70, null, c, null, 2, null) (90, null, b, null, 2, null) (null, 2001, null, t, null, 0)""",
      """GO FROM "a" OVER like, serve WHERE serve._dst != "zz" YIELD dst(edge) AS d""" ->
        """d:string | (b) (c) (t)""",
      """GO FROM "a" OVER like, serve WHERE like.likeness == 90 YIELD dst(edge) AS d""" ->
        """d:string | (b)""",
      """GO FROM "a" OVER like, serve WHERE NOT (like.likeness == 90) YIELD dst(edge) AS d""" ->
        """d:string | (c) (t)""",
      """GO FROM "a" OVER like, serve YIELD $$ AS dv, tags($$) AS dt, properties($$) AS dp, properties($$).name AS dn""" ->
        """dv:string, dt:array<string>, dp:string, dn:string | (("b"), [player], {age: 40, name: "Bob"}, Bob) (("c"), [player], {name: "Cy"}, Cy) (("t"), [team], {name: "Tea"}, Tea)""",
      """GO FROM "a" OVER like, serve YIELD $$.team.name AS tn, $$.player.name AS pn""" ->
        """tn:string, pn:string | (Tea, null) (null, Bob) (null, Cy)""",
      """GO FROM "a" OVER like, serve WHERE [like.likeness] YIELD dst(edge) AS d""" ->
        """d:string | """)),
    ("GO REVERSELY and BIDIRECT: whole edges print the stored direction", "str", Seq(
      """GO FROM "c" OVER like REVERSELY YIELD edge AS e, src(edge) AS s, dst(edge) AS d, like._src AS ls, like._dst AS ld, $$ AS dv, $^ AS sv, vid AS v""" ->
        """e:string, s:string, d:string, ls:string, ld:string, dv:string, sv:string, v:string | ([:like "a"->"c" @1], a, c, c, a, ("a"), ("c"), a) ([:like "b"->"c" @0], b, c, c, b, ("b"), ("c"), b)""",
      """GO FROM "t" OVER serve REVERSELY YIELD $$.player.name AS n, id($$) AS i, serve.start_year AS y""" ->
        """n:string, i:string, y:bigint | (Ann, a, 2001) (Bob, b, 2005)""",
      """GO FROM "b" OVER like BIDIRECT YIELD edge AS e, src(edge) AS s, dst(edge) AS d, like._src AS ls, like._dst AS ld, rank(edge) AS r""" ->
        """e:string, s:string, d:string, ls:string, ld:string, r:bigint | ([:like "a"->"b" @0], a, b, b, a, 0) ([:like "b"->"c" @0], b, c, b, c, 0)""",
      """GO FROM "b" OVER * BIDIRECT YIELD edge AS e, type(edge) AS t, $$ AS dv""" ->
        """e:string, t:string, dv:string | ([:like "a"->"b" @0], like, ("a")) ([:like "b"->"c" @0], like, ("c")) ([:serve "b"->"t" @0], serve, ("t"))""")),
    ("GO piped and from a variable: $-.c and $var.c", "str", Seq(
      """GO FROM "a" OVER like YIELD like._dst AS id, like.likeness AS l | GO FROM $-.id OVER like YIELD $-.l AS pl, $-.id AS pid, like._dst AS d""" ->
        """pl:bigint, pid:string, d:string | (90, b, c)""",
      """GO FROM "a" OVER like YIELD like._dst AS id | GO FROM $-.id OVER like YIELD like._dst AS d""" ->
        """d:string | (c)""",
      """GO FROM "a" OVER like YIELD like._dst AS id, like.likeness AS l | GO FROM $-.id OVER like YIELD $-.* , like._dst AS d""" ->
        """$-.*:bigint, d:string | (90, c)""",
      """$v = GO FROM "a" OVER like YIELD like._dst AS id; GO FROM $v.id OVER like YIELD $v.id AS vi, like._dst AS d""" ->
        """vi:string, d:string | (b, c)""",
      """$v = GO FROM "a" OVER like YIELD like._dst AS id; GO FROM $v.id OVER like""" ->
        """like._dst:string | (c)""")),
    ("FETCH one tag: vertex functions, NULL-props rows, rejects", "str", Seq(
      """FETCH PROP ON player "a", "t", "zz", "a"""" ->
        """vid:string, name:string, age:bigint | (a, Ann, 30) (a, Ann, 30) (t, null, null)""",
      """FETCH PROP ON player "a", "t", "c" YIELD vertex AS v, id(vertex) AS i, player.name AS n, player.age AS a""" ->
        """v:string, i:string, n:string, a:bigint | (("a"), a, Ann, 30) (("c"), c, Cy, null) (("t"), t, null, null)""",
      """FETCH PROP ON player "a", "t", "c" YIELD properties(vertex) AS p, properties(vertex).name AS pn, properties(vertex).nope AS px""" ->
        """p:string, pn:string, px:void | ({age: 30, name: "Ann"}, Ann, null) ({name: "Cy"}, Cy, null) ({}, null, null)""",
      """FETCH PROP ON player "a", "t", "c" YIELD keys(vertex) AS k, tags(vertex) AS t, labels(vertex) AS l""" ->
        """k:array<string>, t:array<string>, l:array<string> | ([], [player], [player]) ([age, name], [player], [player]) ([name], [player], [player])""",
      """FETCH PROP ON player "a", "a" YIELD DISTINCT player.name AS n""" ->
        """n:string | (Ann)""",
      """FETCH PROP ON player "a" YIELD src(edge) AS s""" ->
        """reject: Invalid expression src(EDGE) over a vertex fetch""",
      """FETCH PROP ON player "a" YIELD type(edge) AS s""" ->
        """reject: Invalid expression type(EDGE) over a vertex fetch""",
      """FETCH PROP ON player "a" YIELD vertex""" ->
        """reject: please add alias when using vertex.""",
      """FETCH PROP ON player "a" YIELD name""" ->
        """reject: Invalid label identifiers: name""",
      """FETCH PROP ON player "a" YIELD team.name AS n""" ->
        """reject: unresolvable expression team.name""",
      """FETCH PROP ON player "a", "b" YIELD vertex AS v | YIELD id($-.v) AS i, $-.v AS v""" ->
        """i:string, v:string | (a, ("a")) (b, ("b"))""",
      """FETCH PROP ON player "a", "b" YIELD id(vertex) AS i | GO FROM $-.i OVER like YIELD like._dst AS d""" ->
        """d:string | (b) (c) (c)""",
      """GO FROM "a" OVER like YIELD like._dst AS id | FETCH PROP ON player $-.id YIELD player.name AS n, vertex AS v""" ->
        """n:string, v:string | (Bob, ("b")) (Cy, ("c"))""",
      """$v = GO FROM "a" OVER like YIELD like._dst AS id; FETCH PROP ON player $v.id YIELD player.age AS a""" ->
        """a:bigint | (40) (null)""")),
    ("FETCH several tags: merged props, tag presence, rejects", "str", Seq(
      """FETCH PROP ON player, team "a", "t", "b", "zz"""" ->
        """vid:string, player.name:string, player.age:bigint, team.name:string | (a, Ann, 30, A-team) (b, Bob, 40, null) (t, null, null, Tea)""",
      """FETCH PROP ON player, team "a", "t", "b" YIELD vertex AS v, id(vertex) AS i, player.name AS n, team.name AS tn""" ->
        """v:string, i:string, n:string, tn:string | (("a"), a, Ann, A-team) (("b"), b, Bob, null) (("t"), t, null, Tea)""",
      """FETCH PROP ON player, team "a", "t", "b" YIELD properties(vertex) AS p, properties(vertex).name AS pn, properties(vertex).nope AS px""" ->
        """p:string, pn:string, px:void | ({age: 30, name: "Ann"}, Ann, null) ({age: 40, name: "Bob"}, Bob, null) ({name: "Tea"}, Tea, null)""",
      """FETCH PROP ON team, player "a", "t" YIELD properties(vertex).name AS pn, keys(vertex) AS k, tags(vertex) AS t, labels(vertex) AS l""" ->
        """pn:string, k:array<string>, t:array<string>, l:array<string> | (A-team, [age, name], [player, team], [player, team]) (Tea, [name], [team], [team])""",
      """FETCH PROP ON * "a", "t", "c" YIELD tags(vertex) AS t, properties(vertex) AS p""" ->
        """t:array<string>, p:string | ([player, team], {age: 30, name: "Ann"}) ([player], {name: "Cy"}) ([team], {name: "Tea"})""",
      """FETCH PROP ON * "a"""" ->
        """vid:string, player.name:string, player.age:bigint, team.name:string | (a, Ann, 30, A-team)""",
      """FETCH PROP ON player, team "a" YIELD dst(edge) AS d""" ->
        """reject: Invalid expression dst(EDGE) over a vertex fetch""",
      """FETCH PROP ON player, team "a" YIELD vertex AS v | YIELD id($-.v) AS i""" ->
        """i:string | (a)""")),
    ("FETCH EDGE: edge functions, twins, rejects", "str", Seq(
      """FETCH PROP ON like "a" -> "b", "a" -> "c" @1, "a" -> "c"""" ->
        """src:string, dst:string, rank:bigint, likeness:bigint | (a, b, 0, 90) (a, c, 1, 70)""",
      """FETCH PROP ON like "a" -> "b", "a" -> "c" @1 YIELD edge AS e, src(edge) AS s, dst(edge) AS d, rank(edge) AS r, type(edge) AS t""" ->
        """e:string, s:string, d:string, r:bigint, t:string | ([:like "a"->"b" @0], a, b, 0, like) ([:like "a"->"c" @1], a, c, 1, like)""",
      """FETCH PROP ON like "a" -> "b", "a" -> "c" @1 YIELD properties(edge) AS p, properties(edge).likeness AS pl, properties(edge).nope AS px, keys(edge) AS k""" ->
        """p:string, pl:bigint, px:void, k:array<string> | ({likeness: 70}, 70, null, [likeness]) ({likeness: 90}, 90, null, [likeness])""",
      """FETCH PROP ON like "a" -> "b" YIELD like._src AS ls, like._dst AS ld, like._rank AS lr, like.likeness AS l""" ->
        """ls:string, ld:string, lr:bigint, l:bigint | (a, b, 0, 90)""",
      """FETCH PROP ON like "a" -> "b" YIELD id(vertex) AS i""" ->
        """reject: Invalid expression id(VERTEX) over an edge fetch""",
      """FETCH PROP ON like "a" -> "b" YIELD tags(vertex) AS i""" ->
        """reject: Invalid expression tags(VERTEX) over an edge fetch""",
      """FETCH PROP ON like "a" -> "b" YIELD edge""" ->
        """reject: please add alias when using edge.""",
      """FETCH PROP ON like "a" -> "b", "b" -> "c" YIELD edge AS e | YIELD startNode($-.e) AS s, endNode($-.e) AS d, properties($-.e) AS p, type($-.e) AS t, src($-.e) AS s2, dst($-.e) AS d2, rank($-.e) AS r""" ->
        """s:string, d:string, p:string, t:string, s2:string, d2:string, r:bigint | (("a"), ("b"), {likeness: 90}, like, a, b, 0) (("b"), ("c"), {likeness: 80}, like, b, c, 0)""",
      """GO FROM "a" OVER like YIELD like._src AS s, like._dst AS d, like._rank AS r | FETCH PROP ON like $-.s -> $-.d @ $-.r YIELD like.likeness AS l""" ->
        """l:bigint | (70) (90)""")),
    ("LOOKUP on a tag and an edge type", "str", Seq(
      """LOOKUP ON player WHERE player.age > 20""" ->
        """vid:string, name:string, age:bigint | (a, Ann, 30) (b, Bob, 40)""",
      """LOOKUP ON player WHERE player.age > 20 YIELD vertex AS v, id(vertex) AS i, player.name AS n, vid AS vv, name AS nn""" ->
        """v:string, i:string, n:string, vv:string, nn:string | (("a"), a, Ann, a, Ann) (("b"), b, Bob, b, Bob)""",
      """LOOKUP ON player WHERE player.age > 20 YIELD properties(vertex) AS p, properties(vertex).name AS pn, VERTEX AS v2""" ->
        """p:struct<name:string,age:bigint>, pn:string, v2:string | ({Ann, 30}, Ann, ("a")) ({Bob, 40}, Bob, ("b"))""",
      """LOOKUP ON player WHERE player.name == "Ann" YIELD player.age AS a""" ->
        """a:bigint | (30)""",
      """LOOKUP ON like WHERE like.likeness > 75""" ->
        """src:string, dst:string, rank:bigint, likeness:bigint | (a, b, 0, 90) (b, c, 0, 80)""",
      """LOOKUP ON like WHERE like.likeness > 75 YIELD edge AS e, src(edge) AS s, dst(edge) AS d, rank(edge) AS r, like.likeness AS l""" ->
        """e:string, s:string, d:string, r:bigint, l:bigint | ([:like "a"->"b" @0], a, b, 0, 90) ([:like "b"->"c" @0], b, c, 0, 80)""",
      """LOOKUP ON like WHERE like.likeness > 75 YIELD properties(edge) AS p, properties(edge).likeness AS pl""" ->
        """p:struct<likeness:bigint>, pl:bigint | ({80}, 80) ({90}, 90)""",
      """LOOKUP ON player WHERE player.age > 20 YIELD id(vertex) AS i | GO FROM $-.i OVER like YIELD $-.i AS i, like._dst AS d""" ->
        """i:string, d:string | (a, b) (a, c) (b, c)""")),
    ("LOOKUP on an int-vid scenario space, and fulltext score()", "int", Seq(
      """LOOKUP ON person WHERE person.age > 35 YIELD vertex AS v, id(vertex) AS i, person.name AS n, properties(vertex) AS p""" ->
        """v:string, i:bigint, n:string, p:struct<name:string,age:bigint> | ((2), 2, bob, {bob, 40}) ((3), 3, ann, {ann, 50})""",
      """LOOKUP ON knows WHERE knows.w > 5 YIELD edge AS e, src(edge) AS s, dst(edge) AS d, rank(edge) AS r, knows.w AS w, properties(edge) AS p""" ->
        """e:string, s:bigint, d:bigint, r:bigint, w:bigint, p:struct<w:bigint> | ([:knows 1->3 @2], 1, 3, 2, 7, {7}) ([:knows 2->3 @0], 2, 3, 0, 6, {6})""",
      """LOOKUP ON person WHERE ES_QUERY(person_ft, "ann") YIELD id(vertex) AS i, score() AS s, vertex AS v, person.name AS n, properties(vertex) AS p""" ->
        """i:bigint, s:float, v:string, n:string, p:struct<name:string,age:bigint> | (1, 0.39019167, (1), ann lee, {ann lee, 30}) (3, 0.52354836, (3), ann, {ann, 50})""",
      """LOOKUP ON person WHERE ES_QUERY(person_ft, "ann")""" ->
        """vid:bigint, name:string, age:bigint | (1, ann lee, 30) (3, ann, 50)""",
      """LOOKUP ON person WHERE ES_QUERY(person_ft, "ann") YIELD id(vertex) AS i, score() AS s | LIMIT 1""" ->
        """i:bigint, s:float | (3, 0.52354836)""")),
    ("int vids: GO, FETCH and FETCH EDGE render unquoted", "int", Seq(
      """GO FROM 1 OVER knows YIELD edge AS e, $$ AS dv, $^ AS sv, $$.person.name AS n, properties(edge) AS p, properties($$) AS dp, tags($$) AS t""" ->
        """e:string, dv:string, sv:string, n:string, p:string, dp:string, t:array<string> | ([:knows 1->2 @0], (2), (1), bob, {w: 5}, {age: 40, name: "bob"}, [person]) ([:knows 1->3 @2], (3), (1), ann, {w: 7}, {age: 50, name: "ann"}, [person])""",
      """GO FROM 3 OVER knows REVERSELY YIELD edge AS e, src(edge) AS s, knows._src AS ks""" ->
        """e:string, s:bigint, ks:bigint | ([:knows 1->3 @2], 1, 3) ([:knows 2->3 @0], 2, 3)""",
      """FETCH PROP ON person 1, 2, 9 YIELD vertex AS v, id(vertex) AS i, properties(vertex) AS p, keys(vertex) AS k, tags(vertex) AS t""" ->
        """v:string, i:bigint, p:string, k:array<string>, t:array<string> | ((1), 1, {age: 30, name: "ann lee"}, [age, name], [person]) ((2), 2, {age: 40, name: "bob"}, [age, name], [person])""",
      """FETCH PROP ON person 1, 2 YIELD vertex AS v | YIELD id($-.v) AS i""" ->
        """i:bigint | (1) (2)""",
      """FETCH PROP ON * 1, 2 YIELD vertex AS v, tags(vertex) AS t, properties(vertex) AS p""" ->
        """v:string, t:array<string>, p:string | ((1), [person], {age: 30, name: "ann lee"}) ((2), [person], {age: 40, name: "bob"})""",
      """FETCH PROP ON knows 1 -> 2, 1 -> 3 @2 YIELD edge AS e, properties(edge) AS p, type(edge) AS t""" ->
        """e:string, p:string, t:string | ([:knows 1->2 @0], {w: 5}, knows) ([:knows 1->3 @2], {w: 7}, knows)""",
      """FETCH PROP ON knows 1 -> 2 YIELD edge AS e | YIELD startNode($-.e) AS s, endNode($-.e) AS d, properties($-.e) AS p""" ->
        """s:string, d:string, p:string | ((1), (2), {w: 5})""",
      """FIND SHORTEST PATH FROM 1 TO 3 OVER knows YIELD path AS p | YIELD length($-.p) AS n, nodes($-.p) AS ns, relationships($-.p) AS rs, startNode($-.p) AS s, endNode($-.p) AS e""" ->
        """n:bigint, ns:array<string>, rs:array<string>, s:string, e:string | (1, [(1), (3)], [[:knows 1->3 @2]], (1), (3))""")),
    ("GET SUBGRAPH WHERE: edge props, stored ends and $$ props", "str", Seq(
      """GET SUBGRAPH 1 STEPS FROM "a" OUT like, serve WHERE like.likeness > 80 YIELD VERTICES AS v, EDGES AS e""" ->
        """v:array<string>, e:array<string> | ([("a")], [[:like "a"->"b" @0]]) ([("b")], [])""",
      """GET SUBGRAPH 1 STEPS FROM "a" BOTH like WHERE like.likeness > 75 YIELD VERTICES AS v, EDGES AS e""" ->
        """v:array<string>, e:array<string> | ([("a")], [[:like "a"->"b" @0]]) ([("b")], [])""",
      """GET SUBGRAPH 2 STEPS FROM "a" OUT like WHERE $$.player.age > 35 YIELD VERTICES AS v, EDGES AS e""" ->
        """v:array<string>, e:array<string> | ([("a")], [[:like "a"->"b" @0]]) ([("b")], [])""",
      """GET SUBGRAPH 1 STEPS FROM "c" IN like WHERE like._src == "a" YIELD VERTICES AS v, EDGES AS e""" ->
        """v:array<string>, e:array<string> | ([("a")], []) ([("c")], [[:like "a"->"c" @1]])""",
      """GET SUBGRAPH 1 STEPS FROM "a" OUT like WHERE like._dst == "b" OR like._rank == 1 YIELD EDGES AS e""" ->
        """e:array<string> | ([[:like "a"->"b" @0], [:like "a"->"c" @1]]) ([])""",
      """GET SUBGRAPH 1 STEPS FROM "a" OUT like, serve WHERE serve.start_year > 2000 YIELD VERTICES AS v""" ->
        """v:array<string> | ([("a")]) ([("t")])""",
      """GET SUBGRAPH 1 STEPS FROM "a" OUT like WHERE like.nope > 1 YIELD VERTICES AS v""" ->
        """analysis: UNRESOLVED_COLUMN.WITH_SUGGESTION""")),
    ("FIND PATH WHERE and the path twins", "str", Seq(
      """FIND SHORTEST PATH FROM "a" TO "c" OVER like WHERE like.likeness > 85 YIELD path AS p""" ->
        """p:string | """,
      """FIND SHORTEST PATH FROM "a" TO "c" OVER like WHERE like.likeness < 85 YIELD path AS p""" ->
        """p:string | (<("a")-[:like@1]->("c")>)""",
      """FIND ALL PATH FROM "a" TO "c", "t" OVER * WHERE like.likeness > 75 OR serve.start_year > 2000 UPTO 3 STEPS YIELD path AS p""" ->
        """p:string | (<("a")-[:like]->("b")-[:like]->("c")>) (<("a")-[:like]->("b")-[:serve]->("t")>) (<("a")-[:serve]->("t")>)""",
      """FIND ALL PATH FROM "a" TO "c" OVER like WHERE like.nope > 1 YIELD path AS p""" ->
        """p:string | """,
      """FIND ALL PATH FROM "a" TO "c" OVER like WHERE like._src == "a" YIELD path AS p""" ->
        """p:string | """,
      """FIND ALL PATH FROM "a" TO "c" OVER like WHERE [1] YIELD path AS p""" ->
        """p:string | """,
      """FIND NOLOOP PATH FROM "a" TO "c" OVER like WHERE like.likeness >= 70""" ->
        """src:string, dst:string, path:string, hops:int | (a, c, a->b->c, 2) (a, c, a->c, 1)""",
      """FIND ALL PATH FROM "a" TO "c" OVER like UPTO 3 STEPS YIELD path AS p | YIELD length($-.p) AS n, nodes($-.p) AS ns, relationships($-.p) AS rs, startNode($-.p) AS s, endNode($-.p) AS e, id(startNode($-.p)) AS si, id(endNode($-.p)) AS ei""" ->
        """n:bigint, ns:array<string>, rs:array<string>, s:string, e:string, si:string, ei:string | (1, [("a"), ("c")], [[:like "a"->"c" @1]], ("a"), ("c"), a, c) (2, [("a"), ("b"), ("c")], [[:like "a"->"b" @0], [:like "b"->"c" @0]], ("a"), ("c"), a, c)""",
      """FIND ALL PATH FROM "a" TO "c" OVER like UPTO 3 STEPS YIELD path AS p | ORDER BY $-.p DESC | YIELD length($-.p) AS n""" ->
        """n:bigint | (1) (2)""")),
    ("GROUP BY, YIELD and pipes: $-.c, $var.c, bare and dotted names", "str", Seq(
      """GO FROM "a", "b" OVER like YIELD like._src AS s, like.likeness AS l | GROUP BY $-.s YIELD $-.s AS s, sum($-.l) AS t, count(*) AS c""" ->
        """s:string, t:bigint, c:bigint | (a, 160, 2) (b, 80, 1)""",
      """GO FROM "a", "b" OVER like YIELD like._src AS s, like.likeness AS l | GROUP BY $-.s YIELD $-.s AS s, $-.l AS l""" ->
        """reject: Yield non-agg expression must be functionally dependent on items in GROUP BY clause: $-.l""",
      """$v = GO FROM "a", "b" OVER like YIELD like._src AS s, like.likeness AS l; GROUP BY $v.s YIELD $v.s AS s, max($v.l) AS m""" ->
        """s:string, m:bigint | (a, 90) (b, 80)""",
      """YIELD 1 + 2 AS x, "s" AS y""" ->
        """x:bigint, y:string | (3, s)""",
      """$v = GO FROM "a" OVER like YIELD like._dst AS d, like.likeness AS l; YIELD $v.d AS d, $v.l + 1 AS l2 WHERE $v.l > 80""" ->
        """d:string, l2:bigint | (b, 91)""",
      """GO FROM "a" OVER like YIELD like._dst AS d, like.likeness AS l | YIELD $-.d AS d, $-.l * 2 AS l2 WHERE $-.l > 80""" ->
        """d:string, l2:bigint | (b, 180)""",
      """GO FROM "a" OVER like YIELD like._dst AS d, like.likeness AS l | YIELD d AS x, l AS y""" ->
        """x:string, y:bigint | (b, 90) (c, 70)""",
      """GO FROM "a" OVER like | YIELD $-.like._dst AS d""" ->
        """d:string | (b) (c)""",
      """GO FROM "a" OVER like YIELD like._dst AS d, like.likeness AS l | YIELD $-.*""" ->
        """d:string, l:bigint | (b, 90) (c, 70)""",
      """GO FROM "a" OVER like YIELD like._dst AS d, like.likeness AS l | ORDER BY $-.l DESC | LIMIT 1""" ->
        """d:string, l:bigint | (b, 90)""",
      """GO FROM "a" OVER like YIELD like._dst AS d, like.likeness AS l | YIELD sum($-.l) AS t, count(*) AS c""" ->
        """t:bigint, c:bigint | (160, 2)""",
      """YIELD {a: {b: 3}} AS m | YIELD $-.m.b AS b""" ->
        """analysis: FIELD_NOT_FOUND""",
      """GO FROM "a" OVER like YIELD like._dst AS d | UNWIND [$-.d, "x"] AS u""" ->
        """u:string | (b) (c) (x) (x)""",
      """$a = GO FROM "a" OVER like YIELD like._dst AS d, like.likeness AS l; $b = GO FROM "b" OVER like YIELD like._src AS s, like._dst AS d2; YIELD $a.d AS d, $b.d2 AS d2 FROM $a INNER JOIN $b ON $a.d == $b.s""" ->
        """d:string, d2:string | (b, c)""")),
    ("MATCH vertices: whole values, id, properties, keys, labels, tag access", "str", Seq(
      """MATCH (v:player) RETURN v AS v, id(v) AS i, v.player.name AS n, v.player.age AS a""" ->
        """v:string, i:string, n:string, a:bigint | (("a"), a, Ann, 30) (("b"), b, Bob, 40) (("c"), c, Cy, null)""",
      """MATCH (v:player) WHERE v.player.age > 35 RETURN v AS v""" ->
        """v:string | (("b"))""",
      """MATCH (v:player) RETURN properties(v) AS p, properties(v).name AS pn, properties(v).age AS pa, properties(v).nope AS px""" ->
        """p:string, pn:string, pa:bigint, px:void | ({age: 30, name: "Ann"}, Ann, 30, null) ({age: 40, name: "Bob"}, Bob, 40, null) ({name: "Cy"}, Cy, null, null)""",
      """MATCH (v:player) RETURN labels(v) AS l, keys(v) AS k""" ->
        """l:array<string>, k:array<string> | ([player, team], [age, name]) ([player], [age, name]) ([player], [age, name])""",
      """MATCH (v) RETURN id(v) AS i, properties(v) AS p, keys(v) AS k, labels(v) AS l""" ->
        """i:string, p:string, k:array<string>, l:array<string> | (a, {age: 30, name: "Ann"}, [age, name], [player, team]) (b, {age: 40, name: "Bob"}, [age, name], [player]) (c, {name: "Cy"}, [age, name], [player]) (t, {name: "Tea"}, [name], [team])""",
      """MATCH (v) RETURN id(v) AS i, v.player.name AS n, v.team.name AS tn, v.player.nope AS px""" ->
        """i:string, n:string, tn:string, px:void | (a, Ann, A-team, null) (b, Bob, null, null) (c, Cy, null, null) (t, null, Tea, null)""",
      """MATCH (v:player) RETURN id(v) AS i, v.player AS vp, v.notATag AS nt, v['name'] AS sn, v['nope'] AS sx""" ->
        """i:string, vp:string, nt:void, sn:string, sx:void | (a, {age: 30, name: "Ann"}, null, Ann, null) (b, {age: 40, name: "Bob"}, null, Bob, null) (c, {name: "Cy"}, null, Cy, null)""",
      """MATCH (v) WHERE id(v) == "t" RETURN v AS v, labels(v) AS l, properties(v) AS p, keys(v) AS k, v.team AS vt, v.player AS vp""" ->
        """v:string, l:array<string>, p:string, k:array<string>, vt:string, vp:string | (("t"), [team], {name: "Tea"}, [name], {name: "Tea"}, null)""",
      """MATCH (v) WHERE id(v) == "t" RETURN tags(v) AS t, v.team.name AS n, v.player.name AS pn""" ->
        """t:array<string>, n:string, pn:string | ([team], Tea, null)""",
      """MATCH (v:team) RETURN id(v) AS i, v['name'] AS sn, v['age'] AS sa, properties(v).age AS pa""" ->
        """i:string, sn:string, sa:bigint, pa:bigint | (a, Ann, 30, 30) (t, Tea, null, null)""",
      """MATCH (v:player) WHERE v IS NOT NULL AND id(v) != "c" WITH v, v.player.age AS a RETURN v AS v, a AS a""" ->
        """v:string, a:bigint | (("a"), 30) (("b"), 40)""",
      """MATCH (v:player) WITH v WHERE v.player.age > 35 RETURN id(v) AS i, v.player.name AS n""" ->
        """i:string, n:string | (b, Bob)""",
      """MATCH (v:player) RETURN id(v) AS i, collect(v) AS vs""" ->
        """i:string, vs:array<string> | (a, [("a")]) (b, [("b")]) (c, [("c")])""",
      """MATCH (v:player) WITH id(v) AS i, collect(v) AS vs RETURN i AS i, size(vs) AS n, vs AS vs""" ->
        """i:string, n:int, vs:array<string> | (a, 1, [("a")]) (b, 1, [("b")]) (c, 1, [("c")])""",
      """MATCH (v:player) WHERE id(v) == "a" RETURN [v] AS l""" ->
        """l:array<string> | ([("a")])""",
      """MATCH (v) WITH {a: v} AS m RETURN m.a.player.age AS ma, m.a.team.name AS mt, m.a.player AS mp""" ->
        """ma:bigint, mt:string, mp:struct<name:string,age:bigint> | (30, A-team, {Ann, 30}) (40, null, {Bob, 40}) (null, Tea, null) (null, null, {Cy, null})""")),
    ("MATCH edges: whole values, edge functions, props, several types, OPTIONAL nulls", "str", Seq(
      """MATCH (a)-[e:like]->(b) RETURN e AS e, type(e) AS t, rank(e) AS r, src(e) AS s, dst(e) AS d""" ->
        """e:string, t:string, r:bigint, s:string, d:string | ([:like "a"->"b" @0], like, 0, a, b) ([:like "a"->"c" @1], like, 1, a, c) ([:like "b"->"c" @0], like, 0, b, c)""",
      """MATCH (a)-[e:like]->(b) RETURN properties(e) AS p, properties(e).likeness AS pl, properties(e).nope AS px, e.likeness AS l, e.nope AS ex, e['likeness'] AS sl, keys(e) AS k""" ->
        """p:string, pl:bigint, px:void, l:bigint, ex:void, sl:bigint, k:array<string> | ({likeness: 70}, 70, null, 70, null, 70, [likeness]) ({likeness: 80}, 80, null, 80, null, 80, [likeness]) ({likeness: 90}, 90, null, 90, null, 90, [likeness])""",
      """MATCH (a)-[e:like]->(b) WHERE e.likeness > 75 RETURN id(a) AS a, id(b) AS b""" ->
        """a:string, b:string | (a, b) (b, c)""",
      """MATCH (a)-[e:like]->(b) WHERE e IS NOT NULL WITH a, e, b WHERE e.likeness < 85 RETURN a AS a, e AS e, b AS b""" ->
        """a:string, e:string, b:string | (("a"), [:like "a"->"c" @1], ("c")) (("b"), [:like "b"->"c" @0], ("c"))""",
      """MATCH (a:player)-[e:like|serve]->(b) RETURN e AS e, type(e) AS t, properties(e) AS p, e.likeness AS l, e.start_year AS y""" ->
        """e:string, t:string, p:string, l:bigint, y:bigint | ([:like "a"->"b" @0], like, {likeness: 90}, 90, null) ([:like "a"->"c" @1], like, {likeness: 70}, 70, null) ([:like "b"->"c" @0], like, {likeness: 80}, 80, null) ([:serve "a"->"t" @0], serve, {start_year: 2001}, null, 2001) ([:serve "b"->"t" @0], serve, {start_year: 2005}, null, 2005)""",
      """MATCH (a)-[e]->(b) WHERE id(a) == "a" RETURN e AS e, type(e) AS t, properties(e) AS p""" ->
        """e:string, t:string, p:string | ([:like "a"->"b" @0], like, {likeness: 90}) ([:like "a"->"c" @1], like, {likeness: 70}) ([:serve "a"->"t" @0], serve, {start_year: 2001})""",
      """MATCH (a)-[e:like]-(b) WHERE id(a) == "b" RETURN e AS e, id(b) AS o, src(e) AS s, dst(e) AS d""" ->
        """e:string, o:string, s:string, d:string | ([:like "a"->"b" @0], a, a, b) ([:like "b"->"c" @0], c, b, c)""",
      """MATCH (a)<-[e:serve]-(b) RETURN e AS e, id(a) AS a, id(b) AS b, src(e) AS s""" ->
        """e:string, a:string, b:string, s:string | ([:serve "a"->"t" @0], t, a, a) ([:serve "b"->"t" @0], t, b, b)""",
      """MATCH (a)-[e:like]->(b) RETURN id(a) AS a, id(b) AS b, collect(e) AS es""" ->
        """a:string, b:string, es:array<string> | (a, b, [[:like "a"->"b" @0]]) (a, c, [[:like "a"->"c" @1]]) (b, c, [[:like "b"->"c" @0]])""",
      """MATCH (a)-[e:like]->(b) WHERE id(a) == "a" RETURN [a, e, b] AS l""" ->
        """l:array<string> | ([("a"), [:like "a"->"b" @0], ("b")]) ([("a"), [:like "a"->"c" @1], ("c")])""",
      """MATCH (a)-[e:like]->(b) WHERE id(b) == "c" WITH {x: e} AS m RETURN m.x.likeness AS l""" ->
        """l:bigint | (70) (80)""",
      """MATCH (v:player) OPTIONAL MATCH (v)-[e:serve]->(t) RETURN id(v) AS i, count(e) AS c, e AS e""" ->
        """i:string, c:bigint, e:string | (a, 1, [:serve "a"->"t" @0]) (b, 1, [:serve "b"->"t" @0]) (c, 0, null)""",
      """MATCH (v:player) OPTIONAL MATCH (v)-[e:serve]->(t) RETURN count(e) AS c""" ->
        """c:bigint | (2)""",
      """MATCH (v:player) OPTIONAL MATCH (v)-[e:serve]->(t) WITH v, e RETURN id(v) AS i, type(e) AS t, e.start_year AS y, e AS e""" ->
        """i:string, t:string, y:bigint, e:string | (a, serve, 2001, [:serve "a"->"t" @0]) (b, serve, 2005, [:serve "b"->"t" @0]) (c, null, null, null)""")),
    ("MATCH on int vids: vertices and edges render unquoted", "int", Seq(
      """MATCH (v:person) RETURN v AS v, id(v) AS i, properties(v) AS p, labels(v) AS l, keys(v) AS k""" ->
        """v:string, i:bigint, p:string, l:array<string>, k:array<string> | ((1), 1, {age: 30, name: "ann lee"}, [person], [age, name]) ((2), 2, {age: 40, name: "bob"}, [person], [age, name]) ((3), 3, {age: 50, name: "ann"}, [person], [age, name])""",
      """MATCH (a)-[e:knows]->(b) RETURN e AS e, src(e) AS s, dst(e) AS d, rank(e) AS r, properties(e) AS p, keys(e) AS k""" ->
        """e:string, s:bigint, d:bigint, r:bigint, p:string, k:array<string> | ([:knows 1->2 @0], 1, 2, 0, {w: 5}, [w]) ([:knows 1->3 @2], 1, 3, 2, {w: 7}, [w]) ([:knows 2->3 @0], 2, 3, 0, {w: 6}, [w])""",
      """MATCH (a)-[e:knows]->(b) WHERE id(a) == 1 RETURN id(b) AS i, collect(e) AS es, collect(b) AS bs""" ->
        """i:bigint, es:array<string>, bs:array<string> | (2, [[:knows 1->2 @0]], [(2)]) (3, [[:knows 1->3 @2]], [(3)])""",
      """MATCH (a:person)-[e:knows]->(b) WITH a, e WHERE e.w > 5 RETURN a AS a, e AS e""" ->
        """a:string, e:string | ((1), [:knows 1->3 @2]) ((2), [:knows 2->3 @0])""",
      """MATCH (v:person) WHERE id(v) == 2 RETURN [v] AS l, v.person AS vp, v['age'] AS sa""" ->
        """l:array<string>, vp:string, sa:bigint | ([(2)], {age: 40, name: "bob"}, 40)"""))
  )
}

/** Prints each golden sentence's optimized plan with the `#n`
  * expression ids stripped, for a plan-identity diff of a refactor
  * between two checkouts (sentences that reject print their error):
  * `sbt "Test/runMain graft.GqlEntityPlans plans.txt"`. */
object GqlEntityPlans {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("local[2]", 2)
    val catalogs = Map("str" -> GqlEntitySpec.str(spark),
      "int" -> GqlEntitySpec.int(spark))
    val out = new java.io.PrintWriter(args(0))
    try GqlEntitySpec.golden.foreach { case (_, cat, table) =>
      table.foreach { case (q, _) =>
        val plan = try Gql.run(catalogs(cat), q).queryExecution.optimizedPlan.toString
          catch { case e: Exception => s"error: ${e.getClass.getSimpleName}" }
        out.println(s"== $q\n" + plan.replaceAll("#\\d+L?", ""))
      }
    } finally { out.close(); spark.stop() }
  }
}
