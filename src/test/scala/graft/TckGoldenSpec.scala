package graft

import org.apache.spark.sql.functions._
import graft.operators.{Relational => R}
import graft.sources.CsvFixtures
import graft.traverse.Traverse
import graft.traverse.Traverse.Both

/** Golden results ported from the reference TCK corpus
  * (tests/tck/features/aggregate/Agg.feature — "Basic Aggregate"), run
  * against the real nba CSV fixtures via CsvFixtures. These pin the
  * engine to the reference's OBSERVED outputs, not our reading of the
  * docs. */
class TckGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val nba = "/root/reference/tests/data/nba"
  private def haveNba(): Unit =
    assumeFiles(Seq("like", "serve", "player", "null").map(t => s"$nba/$t.csv"): _*)

  private def like = CsvFixtures.load(spark, s"$nba/like.csv")
  private def serve = CsvFixtures.load(spark, s"$nba/serve.csv")
  private def player = CsvFixtures.load(spark, s"$nba/player.csv")
    .unionByName(CsvFixtures.load(spark, s"$nba/null.csv"), allowMissingColumns = true)

  private def seed(v: String) = Seq(v).toDF("vid")

  test("""YIELD COUNT(*), 1+1 over a literal row""") {
    val r = R.value(spark, "c" -> lit(1L), "s" -> (lit(1) + lit(1)))
    assert(r.as[(Long, Int)].head() == ((1L, 2)))
  }

  test("agg over all-null input: count 0, sum 0, avg/std/min/max/bit_* NULL") {
    // Agg.feature:29-43 golden row
    val nulls = Seq[Option[Long]](None, None).toDF("v")
    val r = R.aggregate(nulls, Seq.empty, Seq(
      count(col("v")).as("v1"),
      avg(col("v")).as("v2"),
      coalesce(sum(col("v")), lit(0L)).as("v3"), // reference: SUM(null)=0
      stddev_pop(col("v")).as("v4"),
      min(col("v")).as("v5"),
      max(col("v")).as("v6"),
      bit_and(col("v")).as("v9"),
      bit_or(col("v")).as("v10"),
      bit_xor(col("v")).as("v11")))
    val row = r.head()
    assert(row.getLong(0) == 0L)
    assert(row.isNullAt(1)); assert(row.getLong(2) == 0L)
    assert(row.isNullAt(3)); assert(row.isNullAt(4)); assert(row.isNullAt(5))
    assert(row.isNullAt(6)); assert(row.isNullAt(7)); assert(row.isNullAt(8))
  }

  test("""GO FROM "Tim Duncan" OVER like | YIELD COUNT(*) == 2""") {
    haveNba()
    assert(Traverse.goYield(seed("Tim Duncan"), like, 1, 1).count() == 2L)
  }

  test("""GO 3 STEPS FROM "Tim Duncan" OVER like | YIELD COUNT(*) == 5""") {
    haveNba()
    assert(Traverse.goYield(seed("Tim Duncan"), like, 3, 3).count() == 5L)
  }

  test("""GO 1 TO 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT YIELD DISTINCT id($$) == 41""") {
    haveNba()
    val r = Traverse.go(seed("Tony Parker"), serve, 1, 3, dir = Both)
      .select("vid").distinct().count()
    assert(r == 41L)
  }

  test("MATCH (v:player) RETURN COUNT(*) == 56") {
    haveNba()
    assert(player.count() == 56L)
  }

  test("""GO FROM "Tim Duncan" OVER serve YIELD serve._dst == ["Spurs"]""") {
    // GO.feature "one step"
    haveNba()
    val r = Traverse.goYield(seed("Tim Duncan"), serve, 1, 1)
      .select("dst").as[String].collect()
    assert(r.sameElements(Array("Spurs")))
  }

  test("""GO FROM 'Thunders' OVER serve REVERSELY == 6 players""") {
    // GO.feature:136 golden
    haveNba()
    val r = Traverse.goYield(seed("Thunders"), serve, 1, 1,
        dir = Traverse.In)
      .select("dst").as[String].collect().toSet
    assert(r == Set("Russell Westbrook", "Kevin Durant", "James Harden",
      "Carmelo Anthony", "Paul George", "Ray Allen"))
  }

  test("piped GO chain keeps bag semantics (Boris Diaw like->like->serve)") {
    // GO.feature "one step" pipe golden: 7 rows, 5x Spurs
    haveNba()
    val g1 = Traverse.goYield(seed("Boris Diaw"), like, 1, 1)
      .select(col("dst").as("vid"))
    val g2 = Traverse.goYield(g1, like, 1, 1).select(col("dst").as("vid"))
    val g3 = Traverse.goYield(g2, serve, 1, 1).select(col("dst").as("d"))
    val counts = g3.groupBy("d").count().as[(String, Long)].collect().toMap
    assert(counts == Map("Spurs" -> 5L, "Hornets" -> 1L, "Trail Blazers" -> 1L))
  }

  test("multi-tag vertex: Tim Duncan is player AND bachelor (outer join on vid)") {
    // SURVEY §7.4 hard part 4: MATCH (v) without label sees all tags
    haveNba()
    val bachelor = CsvFixtures.load(spark, s"$nba/bachelor.csv")
    val joined = player.join(
      bachelor.withColumnRenamed("name", "b_name"), Seq("vid"), "full_outer")
    assert(joined.count() == 56L) // bachelor adds no new vid
    val tim = joined.filter(col("vid") === "Tim Duncan").head()
    assert(tim.getAs[String]("name") == "Tim Duncan")
    assert(tim.getAs[String]("speciality") == "psychology")
    // every other vertex has null bachelor props
    assert(joined.filter(col("speciality").isNotNull).count() == 1L)
  }

  test("UNWIND [1,2,NULL]: null element survives explode_outer per TCK") {
    // Agg.feature UNWIND golden: 3 rows including the NULL
    val r = spark.range(1)
      .select(explode_outer(array(lit(1), lit(2), lit(null.asInstanceOf[Integer]))).as("a"))
    assert(r.count() == 3L)
    assert(r.filter(col("a").isNull).count() == 1L)
  }
}
