package graft.tck

import org.apache.spark.sql.SparkSession
import graft.graph.{GraphCatalog, MapCatalog}
import graft.sources.CsvFixtures

/** The reference's TCK fixture spaces as catalogs — the one copy the
  * test shards (TckRunnerSpec) and the tools (SkipsReport, TckTriage)
  * run the corpus against. Each feature file's Background declares its
  * space: "nba" (string vids), "nba_int_vid" (the same CSVs with
  * MurmurHash2 vids, the importer's `function: hash` convention —
  * tests/data/nba_int_vid/config.yaml), "student" and "ngdata". */
object TckFixtures {
  /** None when the corpus and its fixture data are on disk, else the
    * clue a caller reports instead of running. */
  def missing: Option[String] =
    (TckCorpus.dataDir +: TckCorpus.features)
      .find(f => !new java.io.File(f).exists())
      .map(f => s"$f not found: 0 TCK scenarios executed")

  def catalogs(spark: SparkSession): Map[String, GraphCatalog] = {
    def csv(space: String, name: String) =
      CsvFixtures.load(spark, s"${TckCorpus.dataDir}/$space/$name.csv")
    val nba = MapCatalog(
      tags = Map(
        "player" -> csv("nba", "player")
          .unionByName(csv("nba", "null"), allowMissingColumns = true),
        "team" -> csv("nba", "team"),
        "bachelor" -> csv("nba", "bachelor")),
      edges = Seq("like", "serve", "teammate").map(e => e -> csv("nba", e)).toMap)
    val nbaIntVid = MapCatalog(
      tags = nba.tags.map { case (t, df) => t -> CsvFixtures.hashVids(df) },
      edges = nba.edges.map { case (e, df) => e -> CsvFixtures.hashVids(df) })
    val student = MapCatalog(
      tags = Seq("person", "teacher", "student")
        .map(t => t -> csv("student", t)).toMap,
      edges = Seq("is_teacher", "is_schoolmate", "is_friend", "is_colleagues")
        .map(e => e -> csv("student", e)).toMap)
    val (ngTags, ngEdges) =
      CsvFixtures.loadDir(spark, s"${TckCorpus.dataDir}/ngdata")
    Map("nba" -> nba, "nba_int_vid" -> nbaIntVid, "student" -> student,
      "ngdata" -> MapCatalog(tags = ngTags, edges = ngEdges))
  }

  private val spaceRe = "Given a graph with space named \"([^\"]+)\"".r

  /** Run one feature file's text against the space its Background
    * declares (nba when none). Scenario-Outline features parameterize
    * the space ("<space_name>" with nba / nba_int_vid Examples rows):
    * the runner expands EVERY Examples row, so both fixture spaces run;
    * the placeholder maps to nba only for the pre-expansion parse. */
  def runFeature(catalogs: Map[String, GraphCatalog],
                 text: String): TckRunner.Report = {
    val space = spaceRe.findFirstMatchIn(text).map(_.group(1)).getOrElse("nba")
    val fixtures =
      if (space.startsWith("<")) catalogs + (space -> catalogs("nba"))
      else catalogs
    TckRunner.runAll(fixtures, space, text)
  }
}
