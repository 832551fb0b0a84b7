package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.Fn
import graft.graph.ScenarioCatalog
import graft.nql.Gql

/** nGQL expression semantics through the one function mapping
  * (`Expr.compile` and its `fnCol`), run as YIELD statements over piped
  * `$-` columns so that Spark, not the driver-side fold, evaluates
  * them: 0-based substr and subscripts, list functions and lambdas,
  * CASE, range, toSet and hash. Plus the column helpers outside that
  * mapping: portable rounding and the native cosine. */
class FnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat = new ScenarioCatalog(spark, false)

  /** The one row of `YIELD <input> | YIELD <items>`. */
  private def piped(input: String, items: String): Row =
    Gql.runScript(cat, s"YIELD $input | YIELD $items").collect().head

  private def one = spark.range(1)

  test("substr_ is 0-based like nGQL, not 1-based like SQL") {
    val r = piped(""""abcdef" AS s""", "substr($-.s, 1, 3) AS r, substr($-.s, 4) AS t")
    assert(r.getString(0) == "bcd" && r.getString(1) == "ef")
  }

  test("subscript and subscriptRange are 0-based, end-exclusive") {
    val r = piped("""["a", "b", "c", "d"] AS xs""",
      "$-.xs[1] AS i, $-.xs[1..3] AS s, $-.xs[-1] AS l")
    assert(r.getString(0) == "b")
    assert(r.getSeq[String](1) == Seq("b", "c"))
    assert(r.getString(2) == "d")
  }

  test("head/last/tail collection functions") {
    val r = piped("[1, 2, 3] AS xs", "head($-.xs) AS h, last($-.xs) AS l, tail($-.xs) AS t")
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(r.getSeq[Long](2) == Seq(2L, 3L))
  }

  test("predicate functions: all/any/none/single") {
    val r = piped("[2, 4, 5] AS xs",
      """all(x IN $-.xs WHERE x > 1) AS a, any(x IN $-.xs WHERE x > 4) AS b,
        |none(x IN $-.xs WHERE x > 9) AS c, single(x IN $-.xs WHERE x % 2 == 1) AS d,
        |all(x IN $-.xs WHERE x > 2) AS e""".stripMargin)
    assert((0 until 4).forall(r.getBoolean) && !r.getBoolean(4))
  }

  test("list comprehension + reduce") {
    val r = piped("[1, 2, 3, 4] AS xs",
      "[x IN $-.xs WHERE x % 2 == 0 | x * 10] AS c, reduce(a = 0, x IN $-.xs | a + x) AS s")
    assert(r.getSeq[Long](0) == Seq(20L, 40L))
    assert(r.getLong(1) == 10L)
  }

  test("caseWhen: ordered branches with otherwise") {
    val r = piped("false AS f, true AS t",
      """CASE WHEN $-.f THEN "a" WHEN $-.t THEN "b" ELSE "z" END AS r,
        |CASE WHEN $-.f THEN "a" ELSE "z" END AS e,
        |CASE $-.t WHEN false THEN "a" WHEN true THEN "b" END AS s""".stripMargin)
    assert(r.getString(0) == "b" && r.getString(1) == "z" && r.getString(2) == "b")
  }

  test("cosSimilarity matches hand computation") {
    val r = one.select(graft.functions.CosineSim(
      array(lit(1.0f), lit(2.0f)), array(lit(2.0f), lit(4.0f)))).as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("roundPortable: IEEE-stable half-up") {
    val r = one.select(
      Fn.roundPortable(lit(2.345), 2),
      Fn.roundPortable(lit(0.078125), 6)).as[(Double, Double)].head()
    assert(r._1 == 2.35 || r._1 == 2.34) // depends on binary repr, but stable
    assert(one.select(Fn.roundPortable(lit(2.345), 2)).as[Double].head() == r._1)
  }

  test("range/toSet/coalesce") {
    val r = piped("1 AS a, 5 AS b, [1, 1, 2] AS xs, null AS n",
      "range($-.a, $-.b, 2) AS r, toSet($-.xs) AS s, coalesce($-.n, $-.b) AS c")
    assert(r.getSeq[Long](0) == Seq(1L, 3L, 5L))
    // a SET value is the marked `__set` struct, distinct elements
    val set = r.getStruct(1)
    assert(set.schema.fieldNames.toSeq == Seq("__set"))
    assert(set.getSeq[Long](0).sorted == Seq(1L, 2L))
    assert(r.getLong(2) == 5L)
  }

  test("hash() on NON-CONSTANT columns matches reference semantics " +
       "per type: identity on ints, 0/1 on bools, murmur on strings/floats") {
    import graft.functions.NebulaHash
    def hashes(values: String): Seq[Long] =
      Gql.runScript(cat, s"UNWIND $values AS x | YIELD hash($$-.x) AS h")
        .as[Long].collect().toSeq
    // identity on an integral column (round-4 divergence: the UDF
    // stringified then murmured)
    assert(hashes("[0, 1, -7, 123456789012]") == Seq(0L, 1L, -7L, 123456789012L))
    assert(hashes("[true, false]") == Seq(1L, 0L))
    // strings/floats agree with the driver-side constant fold
    assert(hashes("""["Tim Duncan", "", "nebula"]""") ==
      Seq("Tim Duncan", "", "nebula").map(NebulaHash.hash64))
    assert(hashes("[1.5, -2.25]") == Seq(1.5, -2.25).map(NebulaHash.hash64))
    // an int32 prop column hashes as the same integer
    val g = graft.graph.MapCatalog(
      tags = Map("t" -> Seq(("a", 42), ("b", -1)).toDF("vid", "x")),
      edges = Map.empty)
    assert(Gql.run(g, "LOOKUP ON t YIELD hash(t.x) AS h").as[Long].collect()
      .toSet == Set(42L, -1L))
  }
}
