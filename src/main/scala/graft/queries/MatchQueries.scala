package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.GraphModel
import graft.nql.Gql
import graft.operators.Apply

/** SparkEntry registrations for the MATCH surface (SURVEY.md §3 entry
  * point 1): label seek → expand → append props → where, pattern
  * predicates (anti join) and OPTIONAL MATCH (left join connector).
  * Every pattern runs as text through nql.MatchSeg, except
  * `q_match_optional`: its optional segment carries a predicate, and
  * the grammar rejects WHERE inside OPTIONAL MATCH (as the reference's
  * validator does), so it is the same left join written relationally. */
object MatchQueries {
  type Q = (SparkSession, String) => DataFrame

  private def gm(s: SparkSession, dir: String) = GraphModel(s, dir)

  val queries: Map[String, Q] = Map(
    "q_match_basic" -> ((s, dir) =>
      Gql.run(gm(s, dir),
        """MATCH (c:customer)-[:placed]->(o:order)
          |WHERE c.customer.mktsegment == "BUILDING" AND o.order.totalprice > 300000
          |RETURN id(c) AS c, c.customer.name AS c_name, id(o) AS o, o.order.totalprice AS o_totalprice""".stripMargin)),

    // MATCH (c:customer) OPTIONAL MATCH (c)-[:placed]->(o big) RETURN
    "q_match_optional" -> ((s, dir) => {
      val g = gm(s, dir)
      val bigOrders = g.placed.filter(col("totalprice") > 400000)
        .select(col("src").as("c"), col("dst").as("o"))
      val seek = g.customers
        .filter(expr("CAST(substr(vid, 3, 10) AS BIGINT) <= 100"))
        .select(col("vid").as("c"))
      Apply.leftJoin(seek, bigOrders, Seq("c"))
    }),

    "q_match_pattern_pred" -> ((s, dir) =>
      Gql.run(gm(s, dir),
        """MATCH (p:part) WHERE NOT (p)<-[:has_part]-()
          |RETURN id(p) AS p, p.part.name AS p_name""".stripMargin)),

    // label seek + boolean WHERE + ORDER/LIMIT
    "q_nql_match_seek" -> ((s, dir) =>
      Gql.run(gm(s, dir),
        """MATCH (v:customer) WHERE v.customer.mktsegment == "BUILDING" AND v.customer.acctbal > 9000
          |RETURN v.customer.name AS name, v.customer.acctbal AS acctbal
          |ORDER BY acctbal DESC, name LIMIT 20""".stripMargin)),
    // one-hop typed pattern with edge var + prop predicate
    "q_nql_match_hop" -> ((s, dir) =>
      Gql.run(gm(s, dir),
        """MATCH (c:customer)-[p:placed]->(o:order) WHERE p.totalprice > 400000
          |RETURN id(c) AS c, o.order.status AS status, p.totalprice AS totalprice""".stripMargin)),
    // implicit grouping aggregation over a 2-hop pattern
    "q_nql_match_agg" -> ((s, dir) =>
      Gql.run(gm(s, dir),
        """MATCH (c:customer)-[:in_nation]->(n:nation)
          |RETURN n.nation.name AS nation, count(*) AS cnt ORDER BY nation""".stripMargin)),
    // var-length path counting (edge-unique enumeration)
    "q_nql_match_var" -> ((s, dir) =>
      Gql.run(gm(s, dir),
        """MATCH (n:nation)-[:in_region*1..1]->(r:region)
          |RETURN r.region.name AS region, count(*) AS nations ORDER BY region""".stripMargin))
  )

  val oracleSql: Map[String, String] = Map(
    "q_match_basic" ->
      """SELECT 'c:' || c_custkey AS c, c_name AS c_name,
        |       'o:' || o_orderkey AS o, o_totalprice AS o_totalprice
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 300000""".stripMargin,
    "q_match_optional" ->
      """SELECT 'c:' || c_custkey AS c, 'o:' || o_orderkey AS o
        |FROM customer LEFT JOIN orders
        |  ON o_custkey = c_custkey AND o_totalprice > 400000
        |WHERE c_custkey <= 100""".stripMargin,
    "q_match_pattern_pred" ->
      """SELECT 'p:' || p_partkey AS p, p_name AS p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,
    "q_nql_match_seek" ->
      """SELECT c_name AS name, c_acctbal AS acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
        |ORDER BY acctbal DESC, name LIMIT 20""".stripMargin,
    "q_nql_match_hop" ->
      """SELECT 'c:' || c_custkey AS c, o_orderstatus AS status,
        |       o_totalprice AS totalprice
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin,
    "q_nql_match_agg" ->
      """SELECT n_name AS nation, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin,
    "q_nql_match_var" ->
      """SELECT r_name AS region, count(*) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin
  )
}
