package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog abstraction the query surfaces (nql.Gql and its MATCH
  * engine nql.MatchSeg) plan against: per-tag vertex tables
  * `(vid, props...)`, per-type edge tables `(src, dst, rank,
  * props...)`, and the union views. The
  * reference's equivalent is the meta-service schema catalog
  * (src/graph/service metad client); here a catalog is just a binding
  * of names to DataFrames, so ANY dataset (the TPC-H graph, the nba CSV
  * fixtures, a Delta lakehouse) can serve the same query language. */
trait GraphCatalog {
  /** The session the catalog's frames live in. Cheap: reaching it
    * builds no frame, so every statement can start from it. */
  def session: SparkSession
  def vertexTable(tag: String): DataFrame
  def edgesByType(etype: String): DataFrame
  /** Union view (src, dst, etype, rank) — `OVER *`. */
  def allEdges: DataFrame
  /** Union view (vid, label) — MATCH (v) without a label. */
  def allVertices: DataFrame
  /** Schema enumeration (the reference's meta-service listTags /
    * listEdges) — drives `OVER *` default yields and untyped MATCH
    * edges that need property columns. */
  def tagNames: Seq[String]
  def edgeTypeNames: Seq[String]
  /** Union of typed edge tables keeping property columns, with an
    * `__etype` discriminator; per-type props are NULL on other types'
    * rows (the reference's per-type NULL padding in GetNeighbors
    * responses). One projection per type over columnar scans — no
    * shuffle. */
  def edgesWithProps(etypes: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (etypes.isEmpty)
      // a space with no edge types yet (fresh scenario space): an
      // empty frame with the minimal hop schema, not a reduce crash
      allEdges.limit(0).withColumnRenamed("etype", "__etype")
        .select(col("src"), col("dst"), col("rank"), col("__etype"))
    else etypes.map(t => edgesByType(t).withColumn("__etype", lit(t)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }
}

/** A GraphCatalog assembled from explicit name→DataFrame maps (e.g.
  * loaded CSV fixtures). */
final case class MapCatalog(tags: Map[String, DataFrame],
                            edges: Map[String, DataFrame]) extends GraphCatalog {
  import org.apache.spark.sql.functions._
  lazy val session: SparkSession =
    (tags.values ++ edges.values).head.sparkSession
  def vertexTable(tag: String): DataFrame =
    tags.getOrElse(tag, throw new IllegalArgumentException(s"unknown tag $tag"))
  def edgesByType(etype: String): DataFrame =
    edges.getOrElse(etype, throw new IllegalArgumentException(s"unknown edge $etype"))
  def allEdges: DataFrame =
    edges.map { case (name, df) =>
      df.select(col("src"), col("dst"), lit(name).as("etype"), col("rank"))
    }.reduce(_ unionByName _)
  def allVertices: DataFrame =
    tags.map { case (name, df) =>
      df.select(col("vid"), lit(name).as("label"))
    }.reduce(_ unionByName _)
  def tagNames: Seq[String] = tags.keys.toSeq.sorted
  def edgeTypeNames: Seq[String] = edges.keys.toSeq.sorted
}
