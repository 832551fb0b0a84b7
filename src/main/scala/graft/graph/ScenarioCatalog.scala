package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A mutable, driver-side GraphCatalog: the Spark re-expression of one
  * reference "space" under DDL/DML (CREATE TAG/EDGE, INSERT, UPDATE,
  * DELETE — executor/mutate dir, parser.yy:3060/3141/2987).
  *
  * Scope: scenario-local state — TCK scenarios that create their own
  * space, interactive sessions, unit fixtures. Rows live on the
  * driver (a TCK space is tens of rows) and every read materializes a
  * DataFrame via `createDataFrame`, so the full query surface (GO /
  * MATCH / LOOKUP / FETCH / FIND PATH / GET SUBGRAPH) plans against it
  * unchanged. The AT-SCALE mutation path is
  * `operators/Mutations.KeyedTable` (staged parquet rewrite ≈ Delta
  * MERGE) — this class is deliberately NOT that: a 100 TB space is a
  * table, not a driver map.
  */
final class ScenarioCatalog(val spark: SparkSession,
                            var vidIsInt: Boolean = false,
                            /** FIXED_STRING(N) cap from the space's
                              * vid_type; string vids longer than this
                              * are a storage-level reject. */
                            var vidLen: Option[Int] = None)
    extends GraphCatalog {
  import ScenarioCatalog.PropDef

  def session: SparkSession = spark

  val tagDefs = mutable.LinkedHashMap.empty[String, Vector[PropDef]]
  val edgeDefs = mutable.LinkedHashMap.empty[String, Vector[PropDef]]
  /** schema → (ttl_col, ttl_duration seconds). Rows whose ttl column
    * value + duration has passed are invisible to every read
    * (storage TTL filter; duration 0 or empty col = disabled). */
  val tagTtl = mutable.Map.empty[String, (String, Long)]
  val edgeTtl = mutable.Map.empty[String, (String, Long)]
  /** Schema-level COMMENT = "..." (SHOW CREATE suffix). */
  val tagComment = mutable.Map.empty[String, String]
  val edgeComment = mutable.Map.empty[String, String]
  /** CREATE SPACE registry: name → (vid type text, comment). The
    * scenario's DATA lives in this one catalog regardless — spaces
    * here exist for DESC/SHOW CREATE SPACE output only. */
  val spaceDefs =
    mutable.LinkedHashMap.empty[String, (String, Option[String])]
  /** CREATE TAG|EDGE INDEX registry: index name → (isTag, schema,
    * cols(name, prefixLen), with-options, comment) — the engine needs
    * no index (LOOKUP scans), kept for SHOW CREATE output. */
  val indexDefs = mutable.LinkedHashMap.empty[String,
    (Boolean, String, Vector[(String, Option[Long])],
      Vector[(String, String)], Option[String])]
  /** (isTag, comma-joined names) of REBUILD INDEX jobs, for
    * SHOW TAG/EDGE INDEX STATUS (always FINISHED — nothing async). */
  val rebuiltJobs = mutable.ListBuffer.empty[(Boolean, String)]
  /** CREATE FULLTEXT TAG|EDGE INDEX registry: index name → (isTag,
    * schema, analyzed fields). The "index" itself is virtual — LOOKUP
    * ES_QUERY scores the schema's live rows with graft.nql.Fulltext. */
  val fulltextDefs =
    mutable.LinkedHashMap.empty[String, (Boolean, String, Vector[String])]
  /** (isTag, schema) → keys visible through that schema's index(es).
    * Present only while ≥1 index exists on the schema. Rows stored
    * BEFORE index creation stay out until REBUILD backfills them —
    * the reference's stale-index read semantics (Index.feature
    * rebuild scenarios). Keys: vid (tags), (src,dst,rank) (edges). */
  val indexVisible = mutable.Map.empty[(Boolean, String), mutable.Set[Any]]

  /** Prop names DROPPED from a schema — the reference keeps them in
    * schema history and rejects re-ADD ("Schema exisited before!",
    * Ddl.feature:311). */
  val droppedProps = mutable.Map.empty[(Boolean, String), mutable.Set[String]]

  /** USE-statement space scoping for SHOW listings: the space active
    * when each schema was created (None = the scenario's background
    * space). Data maps stay global — the TCK's multi-space scenarios
    * only assert listings per space (Schema.feature "multi spaces"). */
  var currentSpace: Option[String] = None
  val schemaSpace = mutable.Map.empty[(Boolean, String), Option[String]]

  /** Record a write in every live index of the schema. */
  def noteWrite(isTag: Boolean, schema: String, key: Any): Unit =
    indexVisible.get((isTag, schema)).foreach(_ += key)

  /** Index entries orphaned by INSERT ... IGNORE_EXISTED_INDEX (write
    * data, skip index maintenance): key → the PRE-insert prop values
    * that entry still carries. LOOKUP surfaces these alongside live
    * rows until REBUILD/DROP INDEX repairs the index
    * (Insert.feature:608-653). */
  val staleIndexRows = mutable.Map.empty[(Boolean, String),
    mutable.ArrayBuffer[(Any, Array[Any])]]

  /** Snapshot `old` as a stale entry iff the key is currently in the
    * schema's index (an un-indexed row leaves nothing behind). */
  def noteStale(isTag: Boolean, schema: String, key: Any,
                old: Array[Any]): Unit =
    if (indexVisible.get((isTag, schema)).exists(_.contains(key)))
      staleIndexRows.getOrElseUpdate((isTag, schema),
        mutable.ArrayBuffer.empty) += (key -> old.clone())

  /** Stale entries rendered in the table's row shape (vid+props /
    * src,dst,rank+props) for LOOKUP to union in. */
  def staleFrame(isTag: Boolean, schema: String): Option[DataFrame] =
    staleIndexRows.get((isTag, schema)).filter(_.nonEmpty).map { buf =>
      if (isTag) {
        val defs = tagDefs(schema)
        val schemaT = StructType(StructField("vid", vidType) +:
          defs.map(d => StructField(d.name, d.dt)))
        frame(schemaT, buf.toSeq.map { case (vid, ps) =>
          Row.fromSeq(vid +: ps.toSeq) })
      } else {
        val defs = edgeDefs(schema)
        val schemaT = StructType(
          StructField("src", vidType) +: StructField("dst", vidType) +:
            StructField("rank", LongType) +:
            defs.map(d => StructField(d.name, d.dt)))
        frame(schemaT, buf.toSeq.map { case ((s, d, r), ps) =>
          Row.fromSeq(s +: d +: r.asInstanceOf[Any] +: ps.toSeq) })
      }
    }

  /** LOOKUP visibility set: None = no index tracked, scan freely. */
  def lookupVisible(isTag: Boolean,
                    schema: String): Option[collection.Set[Any]] =
    indexVisible.get((isTag, schema))

  def hasTtl: Boolean =
    tagTtl.values.exists(t => t._1.nonEmpty && t._2 > 0) ||
      edgeTtl.values.exists(t => t._1.nonEmpty && t._2 > 0)

  private def ttlAlive(defs: Vector[PropDef],
                       ttl: Option[(String, Long)]): Array[Any] => Boolean =
    ttl.filter(t => t._1.nonEmpty && t._2 > 0) match {
      case None => _ => true
      case Some((c, dur)) =>
        val i = defs.indexWhere(_.name == c)
        if (i < 0) _ => true
        else {
          val now = System.currentTimeMillis() / 1000
          ps => ps(i) match {
            case n: Long => n + dur > now
            case n: Int => n + dur > now
            case _ => true
          }
        }
    }

  /** Expiry is OBSERVED deletion: once a read sees a row past its
    * TTL the row is gone for good — later config changes (ALTER
    * dropping the ttl column) do not resurrect it (TTL2.feature
    * `ttl ddl2`: expired rows stay invisible after `drop (b)`). */
  private def pruneExpired(): Unit = {
    tagTtl.foreach { case (t, ttl) =>
      tagDefs.get(t).foreach { defs =>
        val alive = ttlAlive(defs, Some(ttl))
        tagRows(t).filterInPlace((_, ps) => alive(ps))
      }
    }
    edgeTtl.foreach { case (e, ttl) =>
      edgeDefs.get(e).foreach { defs =>
        val alive = ttlAlive(defs, Some(ttl))
        edgeRows(e).filterInPlace((_, ps) => alive(ps))
      }
    }
  }
  /** vid → prop values (declared order). LinkedHashMap: insert order
    * is stable for deterministic output. */
  val tagRows =
    mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Any, Array[Any]]]
  /** (src, dst, rank) → prop values. */
  val edgeRows = mutable.LinkedHashMap
    .empty[String, mutable.LinkedHashMap[(Any, Any, Long), Array[Any]]]

  def vidType: DataType = if (vidIsInt) LongType else StringType

  def createTag(name: String, props: Vector[PropDef],
                ifNotExists: Boolean): Unit = {
    if (tagDefs.contains(name)) {
      if (!ifNotExists)
        throw new graft.nql.DmlError(s"Existed tag $name")
    } else {
      tagDefs(name) = props; tagRows(name) = mutable.LinkedHashMap()
      schemaSpace((true, name)) = currentSpace
    }
  }

  def createEdge(name: String, props: Vector[PropDef],
                 ifNotExists: Boolean): Unit = {
    if (edgeDefs.contains(name)) {
      if (!ifNotExists)
        throw new graft.nql.DmlError(s"Existed edge $name")
    } else {
      edgeDefs(name) = props; edgeRows(name) = mutable.LinkedHashMap()
      schemaSpace((false, name)) = currentSpace
    }
  }

  def dropTag(name: String): Unit = {
    tagDefs -= name; tagRows -= name; tagTtl -= name
  }
  def dropEdge(name: String): Unit = {
    edgeDefs -= name; edgeRows -= name; edgeTtl -= name
  }

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def vertexTable(tag: String): DataFrame = {
    pruneExpired()
    val defs = tagDefs.getOrElse(tag,
      throw new IllegalArgumentException(s"unknown tag $tag"))
    val schema = StructType(StructField("vid", vidType) +:
      defs.map(d => StructField(d.name, d.dt)))
    val alive = ttlAlive(defs, tagTtl.get(tag))
    frame(schema, tagRows(tag).iterator
      .filter { case (_, ps) => alive(ps) }
      .map { case (v, ps) => Row.fromSeq(v +: ps.toSeq) }.toSeq)
  }

  def edgesByType(etype: String): DataFrame = {
    pruneExpired()
    val defs = edgeDefs.getOrElse(etype,
      throw new IllegalArgumentException(s"unknown edge $etype"))
    // a user prop named `rank` shadows the built-in ranking column
    // (`E.rank` means the prop — InsertEdgeOnDiffParts.feature); the
    // key rank stays in the row key for mutations
    val keyRank =
      if (defs.exists(_.name == "rank")) Nil
      else Seq(StructField("rank", LongType))
    val schema = StructType(
      StructField("src", vidType) +: StructField("dst", vidType) +:
        (keyRank ++ defs.map(d => StructField(d.name, d.dt))))
    val alive = ttlAlive(defs, edgeTtl.get(etype))
    frame(schema, edgeRows(etype).iterator
      .filter { case (_, ps) => alive(ps) }
      .map { case ((s, d, r), ps) => Row.fromSeq(s +: d +:
        (if (keyRank.isEmpty) ps.toSeq else r +: ps.toSeq)) }
      .toSeq)
  }

  def allEdges: DataFrame = {
    pruneExpired()
    val schema = StructType(Seq(StructField("src", vidType),
      StructField("dst", vidType), StructField("etype", StringType),
      StructField("rank", LongType)))
    val rows = edgeRows.iterator.flatMap { case (name, m) =>
      val alive = ttlAlive(edgeDefs(name), edgeTtl.get(name))
      m.iterator.collect { case ((s, d, r), ps) if alive(ps) =>
        Row(s, d, name, r) }
    }.toSeq
    frame(schema, rows)
  }

  def allVertices: DataFrame = {
    pruneExpired()
    val schema = StructType(Seq(StructField("vid", vidType),
      StructField("label", StringType)))
    val rows = tagRows.iterator.flatMap { case (name, m) =>
      val alive = ttlAlive(tagDefs(name), tagTtl.get(name))
      m.iterator.collect { case (v, ps) if alive(ps) => Row(v, name) }
    }.toSeq
    frame(schema, rows)
  }

  def tagNames: Seq[String] = tagDefs.keys.toSeq
  def edgeTypeNames: Seq[String] = edgeDefs.keys.toSeq

  /** Vids present in ANY tag (DELETE VERTEX / dangling checks). */
  def hasVertex(vid: Any): Boolean = tagRows.values.exists(_.contains(vid))

  def deleteVertex(vid: Any, withEdge: Boolean): Unit = {
    tagRows.values.foreach(_ -= vid)
    if (withEdge) edgeRows.values.foreach { m =>
      m.filterInPlace { case ((s, d, _), _) => s != vid && d != vid }
    }
  }
}

object ScenarioCatalog {
  /** One prop of a tag/edge schema (NebulaSchemaProvider fields:
    * nullable unless NOT NULL, optional DEFAULT). */
  final case class PropDef(name: String,
                           dt: org.apache.spark.sql.types.DataType,
                           notNull: Boolean = false,
                           hasDefault: Boolean = false,
                           default: Any = null,
                           /** declared nGQL type, for DESCRIBE (e.g.
                             * "int64", "list_string"). */
                           typeName: String = "",
                           /** COMMENT "..." on the prop. */
                           comment: Option[String] = None)

  /** Deep-copy a fixture catalog into a mutable scenario space so a
    * DML-bearing scenario can't corrupt the shared fixture. Rows are
    * collected driver-side once per (catalog, table) — TCK fixtures
    * are hundreds of rows. */
  def fromCatalog(spark: SparkSession, src: GraphCatalog,
                  vidIsInt: Boolean): ScenarioCatalog = {
    val cat = new ScenarioCatalog(spark, vidIsInt)
    src.tagNames.foreach { t =>
      val df = src.vertexTable(t)
      val props = df.schema.fields.filter(_.name != "vid")
      cat.tagDefs(t) =
        props.map(f => ScenarioCatalog.PropDef(f.name, f.dataType)).toVector
      val vidIdx = df.schema.fieldIndex("vid")
      val propIdx = props.map(f => df.schema.fieldIndex(f.name))
      val m = mutable.LinkedHashMap.empty[Any, Array[Any]]
      df.collect().foreach { r =>
        m(r.get(vidIdx)) = propIdx.map(r.get).toArray
      }
      cat.tagRows(t) = m
    }
    src.edgeTypeNames.foreach { e =>
      val df = src.edgesByType(e)
      val keyNames = Set("src", "dst", "rank")
      val props = df.schema.fields.filterNot(f => keyNames(f.name))
      cat.edgeDefs(e) =
        props.map(f => ScenarioCatalog.PropDef(f.name, f.dataType)).toVector
      val si = df.schema.fieldIndex("src")
      val di = df.schema.fieldIndex("dst")
      val ri = df.schema.fieldIndex("rank")
      val propIdx = props.map(f => df.schema.fieldIndex(f.name))
      val m = mutable.LinkedHashMap.empty[(Any, Any, Long), Array[Any]]
      df.collect().foreach { r =>
        val rank = r.get(ri) match {
          case l: Long => l
          case i: Int => i.toLong
          case null => 0L
          case other => other.toString.toLong
        }
        m((r.get(si), r.get(di), rank)) = propIdx.map(r.get).toArray
      }
      cat.edgeRows(e) = m
    }
    cat
  }
}
