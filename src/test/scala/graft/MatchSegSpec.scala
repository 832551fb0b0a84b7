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
}
