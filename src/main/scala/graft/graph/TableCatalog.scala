package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

import graft.operators.Mutations

/** A PARQUET-BACKED mutable space: the at-scale twin of
  * ScenarioCatalog. Tags and edges are `Mutations.KeyedTable`s
  * (staged-commit parquet dirs keyed on vid / src,dst,rank), so the
  * nGQL DML text surface (INSERT / UPDATE / UPSERT / DELETE, literal
  * keys or piped `$-` refs, `Dml.execTable`) executes as one keyed
  * DataFrame merge per table — anti/semi joins with the delta
  * broadcast when small, one row per key — instead of driver-side row
  * maps. Schemas live on the driver (`tagDefs` / `edgeDefs`), cannot
  * change after CREATE, and every read uses them (no parquet schema
  * inference); TTL is rejected at CREATE. This is
  * the catalog a 100 TB space would use; ScenarioCatalog stays the
  * driver-side tool for TCK scenario spaces (tens of rows).
  *
  * Reference: storage mutate RPCs (src/storage/mutate/) + the graph
  * DML executors (src/graph/executor/mutate/); Spark-first here means
  * MERGE-shaped joins, not per-key RPCs.
  */
final class TableCatalog(val spark: SparkSession, val root: String,
                         val vidIsInt: Boolean = false)
    extends GraphCatalog {
  import ScenarioCatalog.PropDef

  def session: SparkSession = spark

  val tagDefs = mutable.LinkedHashMap.empty[String, Vector[PropDef]]
  val edgeDefs = mutable.LinkedHashMap.empty[String, Vector[PropDef]]

  private def vidType: DataType = if (vidIsInt) LongType else StringType

  def tagTable(t: String): Mutations.KeyedTable = {
    require(tagDefs.contains(t), s"unknown tag $t")
    Mutations.vertexTable(spark, s"$root/tag_$t", Some(tagSchema(t)))
  }

  def edgeTable(e: String): Mutations.KeyedTable = {
    require(edgeDefs.contains(e), s"unknown edge $e")
    Mutations.edgeTable(spark, s"$root/edge_$e", Some(edgeSchema(e)))
  }

  def tagSchema(t: String): StructType =
    StructType(StructField("vid", vidType) +:
      tagDefs(t).map(d => StructField(d.name, d.dt)))

  def edgeSchema(e: String): StructType =
    StructType(Seq(StructField("src", vidType), StructField("dst", vidType),
      StructField("rank", LongType)) ++
      edgeDefs(e).map(d => StructField(d.name, d.dt)))

  private def emptyOf(s: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), s)

  def vertexTable(tag: String): DataFrame = {
    require(tagDefs.contains(tag), s"unknown tag $tag")
    val t = tagTable(tag)
    if (t.exists) t.read else emptyOf(tagSchema(tag))
  }

  def edgesByType(etype: String): DataFrame = {
    require(edgeDefs.contains(etype), s"unknown edge $etype")
    val t = edgeTable(etype)
    if (t.exists) t.read else emptyOf(edgeSchema(etype))
  }

  def allEdges: DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val parts = edgeDefs.keys.toSeq.map(e =>
      edgesByType(e).select(col("src"), col("dst"),
        lit(e).as("etype"), col("rank")))
    if (parts.isEmpty)
      emptyOf(StructType(Seq(StructField("src", vidType),
        StructField("dst", vidType), StructField("etype", StringType),
        StructField("rank", LongType))))
    else parts.reduce(_.unionByName(_))
  }

  def allVertices: DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val parts = tagDefs.keys.toSeq.map(t =>
      vertexTable(t).select(col("vid"), lit(t).as("label")))
    if (parts.isEmpty)
      emptyOf(StructType(Seq(StructField("vid", vidType),
        StructField("label", StringType))))
    else parts.reduce(_.unionByName(_))
  }

  def tagNames: Seq[String] = tagDefs.keys.toSeq
  def edgeTypeNames: Seq[String] = edgeDefs.keys.toSeq
}
