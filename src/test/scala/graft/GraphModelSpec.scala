package graft

import org.apache.spark.sql.functions._

import graft.graph.GraphModel
import graft.nql.Gql

/** GraphModel resolves each source table once: after the first touch,
  * building a frame over the model starts no Spark job, and a GraphModel
  * statement costs only the jobs of its own collect. Runs on sf0.001
  * with the store off (the shared session never attaches one). */
class GraphModelSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def have(): Unit =
    assumeFiles(s"$dir/customer.parquet", s"$dir/orders.parquet",
      s"$dir/part.parquet")

  private def jobsOf[T](body: => T): (T, Int) = {
    val (out, jobs) = jobNamesOf(body)
    (out, jobs.size)
  }

  test("source tables resolve once per model: later touches start no job") {
    have()
    val g = GraphModel(spark, dir)
    // the first touch lists the files and reads the footer; counting it
    // shows the tag reaches the footer job, so the zeros below are real
    val (_, first) = jobsOf(g.vertexTable("part"))
    assert(first >= 1, "the first parquet resolution started no tagged job")
    val (_, again) = jobsOf(g.vertexTable("part"))
    assert(again === 0, "vertexTable re-resolved its parquet table")
    g.allVertices // resolve the other tag tables once
    val (_, all) = jobsOf(g.allVertices)
    assert(all === 0, "allVertices re-resolved its parquet tables")

    val q = "LOOKUP ON customer WHERE customer.acctbal > 9000 YIELD vid, name"
    val (built, buildJobs) = jobsOf(Gql.run(g, q))
    assert(buildJobs === 0, "building a LOOKUP frame started Spark jobs")
    val (rows, collectJobs) = jobsOf(built.collect())
    assert(rows.nonEmpty)
    val (again2, total) = jobsOf(Gql.run(g, q).collect())
    assert(again2.toSeq === rows.toSeq)
    assert(total === collectJobs,
      s"LOOKUP run+collect started $total jobs, its collect $collectJobs")
  }

  test("placed edges and order vertices share one orders relation (store off)") {
    have()
    val g = GraphModel(spark, dir)
    assert(g.store.isEmpty, "the shared test session attached a store")
    // the customer with the most orders (ties: lowest key)
    val ordersPq = spark.read.parquet(s"$dir/orders.parquet")
    val key = ordersPq.groupBy("o_custkey").count()
      .orderBy(col("count").desc, col("o_custkey")).head().getLong(0)
    val got = Gql.run(g,
      s"""MATCH (c:customer)-[p:placed]->(o:order) WHERE id(c) == "c:$key"
         |RETURN id(c) AS c, c.customer.name AS name, id(o) AS o,
         |o.order.status AS status, o.order.totalprice AS o_price,
         |p.totalprice AS p_price""".stripMargin)
      .collect().map(_.toSeq).toSet
    val want = ordersPq.filter(col("o_custkey") === key)
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .select(concat(lit("c:"), col("c_custkey").cast("string")),
        col("c_name"), concat(lit("o:"), col("o_orderkey").cast("string")),
        col("o_orderstatus"), col("o_totalprice"), col("o_totalprice"))
      .collect().map(_.toSeq).toSet
    assert(want.size > 1, "the chosen customer has fewer than two orders")
    assert(got === want)
  }

  test("store-backed GO 1 TO 2 STEPS: one neighbor read per level") {
    have()
    import graft.traverse.Traverse
    val s2 = spark.newSession()
    graft.sources.GraphStore.enableManaged(s2)
    val g = GraphModel(s2, dir)
    val q = """GO 1 TO 2 STEPS FROM "c:1" OVER * YIELD origin, vid, step"""
    Gql.run(g, q).collect() // warm: builds the store
    val (rows, jobs) = jobNamesOf(Gql.run(g, q).collect())
    assert(jobs.nonEmpty && jobs.size <= 2 &&
      jobs.forall(_.contains("Adjacency.scala")), s"$jobs")
    // the distributed loop reaches the same rows
    import s2.implicits._
    val loop = Traverse.go(Seq("c:1").toDF("vid"), g.allEdges, 1, 2,
      Traverse.Out, 0).collect()
    assert(rows.map(_.toSeq).sortBy(_.mkString).toSeq ==
      loop.map(_.toSeq).sortBy(_.mkString).toSeq)
    assert(rows.exists(_.getInt(2) == 2), "no second-level rows")
  }
}
