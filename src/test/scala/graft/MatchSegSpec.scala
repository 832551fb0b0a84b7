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
}
