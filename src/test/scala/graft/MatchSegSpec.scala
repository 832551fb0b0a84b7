package graft

import graft.graph.MapCatalog
import graft.nql.Gql

/** MATCH semantics on a catalog built in the test, no fixture files:
  * OPTIONAL MATCH null padding, pattern predicates as anti joins, and
  * the validator's rejection of WHERE inside OPTIONAL MATCH. The same
  * shapes back q_match_optional and q_match_pattern_pred. */
class MatchSegSpec extends SparkSpec {
  import spark.implicits._

  // a -> b -> c, d isolated
  private lazy val g = MapCatalog(
    tags = Map("person" -> Seq(("a", "Ann"), ("b", "Bo"), ("c", "Cy"), ("d", "Di"))
      .toDF("vid", "name")),
    edges = Map("knows" -> Seq(("a", "b", 0L), ("b", "c", 0L))
      .toDF("src", "dst", "rank")))

  private def rows(q: String): Set[(String, String)] =
    Gql.run(g, q).as[(String, String)].collect().toSet

  test("OPTIONAL MATCH pads unmatched rows with null") {
    assert(rows("""MATCH (v:person) OPTIONAL MATCH (v)-[:knows]->(w)
                   |RETURN id(v) AS v, id(w) AS w""".stripMargin) ==
      Set(("a", "b"), ("b", "c"), ("c", null), ("d", null)))
  }

  test("WHERE NOT (v)-[:e]->() keeps exactly the vertices without an out-edge") {
    assert(rows("""MATCH (v:person) WHERE NOT (v)-[:knows]->()
                   |RETURN id(v) AS v, v.person.name AS name""".stripMargin) ==
      Set(("c", "Cy"), ("d", "Di")))
    assert(rows("""MATCH (v:person) WHERE NOT (v)<-[:knows]-()
                   |RETURN id(v) AS v, v.person.name AS name""".stripMargin) ==
      Set(("a", "Ann"), ("d", "Di")))
  }

  test("OPTIONAL MATCH ... WHERE is rejected") {
    val e = intercept[IllegalArgumentException] {
      Gql.run(g, """MATCH (v:person) OPTIONAL MATCH (v)-[:knows]->(w)
                   |WHERE id(w) == "b" RETURN id(v) AS v""".stripMargin)
    }
    assert(e.getMessage.contains(
      "Where clause in optional match is not supported."))
  }

  test("inline prop maps fold constant expressions and parameter access") {
    val aged = MapCatalog(
      tags = Map("person" -> Seq(("a", "Ann", 85L), ("b", "Bo", 30L))
        .toDF("vid", "name", "age")),
      edges = Map("knows" -> Seq(("a", "b", 0L)).toDF("src", "dst", "rank")))
    def ages(props: String) =
      Gql.runScript(aged,
        s"MATCH (v:person$props) RETURN id(v) AS v, v.person.name AS name",
        Map("p" -> "{a: 85}")).as[(String, String)].collect().toSet
    val literal = ages("{age: 85}")
    assert(literal == Set(("a", "Ann")))
    assert(ages("{age: (4 * 20) + 5}") == literal)
    assert(ages("{age: $p.a}") == literal)
  }

  test("WHERE ordering a prop against a literal of another type family keeps no row") {
    val aged = MapCatalog(
      tags = Map("t" -> Seq(("a", 10L), ("b", 20L)).toDF("vid", "age")),
      edges = Map("knows" -> Seq(("a", "b", 0L)).toDF("src", "dst", "rank")))
    def ids(where: String) =
      Gql.run(aged, s"MATCH (n:t) WHERE $where RETURN id(n) AS v")
        .as[String].collect().toSet
    assert(ids("""n.t.age >= "12"""").isEmpty)
    assert(ids("n.t.age < true").isEmpty)
    assert(ids("n.t.age >= 12") == Set("b"))
    assert(ids("n.t.age < 25") == Set("a", "b"))
  }

  // player(name, age) on a, b, c; team(name) on a and t; like and serve
  // edges between them (GqlEntitySpec.str)
  private lazy val nba = GqlEntitySpec.str(spark)
  private def answer(q: String) = GqlEntitySpec.answer(nba, q)

  test("v.tag and labels(v) in one RETURN join each tag once") {
    val both = """vt:string, l:array<string> | (null, [player]) (null, [player]) ({name: "A-team"}, [player, team])"""
    assert(answer("MATCH (v:player) RETURN v.team AS vt, labels(v) AS l") == both)
    assert(answer("MATCH (v:player) WITH v RETURN v.team AS vt, labels(v) AS l") == both)
    assert(answer("""MATCH (v) WHERE id(v) == "t" RETURN v.team AS vt, labels(v) AS l""") ==
      """vt:string, l:array<string> | ({name: "Tea"}, [team])""")
  }

  test("keys(v) lists the props of every tag the vertex bears, whatever else is read") {
    assert(answer("""MATCH (v) WHERE id(v) == "t" RETURN keys(v) AS k""") ==
      """k:array<string> | ([name])""")
    assert(answer("MATCH (v:team) RETURN id(v) AS i, keys(v) AS k") ==
      """i:string, k:array<string> | (a, [age, name]) (t, [name])""")
  }

  test("an edge var renders its own vid type with no vertex var in scope") {
    val es = """e:string | ([:like "a"->"b" @0]) ([:like "a"->"c" @1]) ([:like "b"->"c" @0])"""
    assert(answer("MATCH (a)-[e:like]->(b) WITH e RETURN e AS e") == es)
    assert(answer("MATCH p = (a)-[e:like]->(b) WITH p, e RETURN e AS e") == es)
    assert(answer("MATCH (a)-[e:like]->(b) WITH e WHERE rank(e) == 1 RETURN [e] AS l, collect(e) AS c") ==
      """l:array<string>, c:array<string> | ([[:like "a"->"c" @1]], [[:like "a"->"c" @1]])""")
  }

  test("RETURN collect(DISTINCT v) keeps one rendering per vertex") {
    // like reaches b once and c twice
    assert(answer("MATCH (a)-[:like]->(v) RETURN size(collect(DISTINCT v)) AS n") ==
      "n:int | (2)")
  }

  test("keys(e) over several edge types lists the row's type's props") {
    assert(answer("""MATCH (a)-[e:like|serve]->(b) WHERE id(a) == "a" RETURN type(e) AS t, keys(e) AS k""") ==
      """t:string, k:array<string> | (like, [likeness]) (like, [likeness]) (serve, [start_year])""")
  }
}
