package graft.nql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import graft.graph.GraphCatalog

/** Where a sentence's frame holds each graph entity its expressions can
  * name, and the one resolver built from it: the reference's entity
  * functions (FunctionManager.cpp:58 — id tags labels properties keys
  * type typeid src dst rank) defined once over the frame's columns.
  * `vertex`, `$^` and `$$` are [[Binding.Vertex]]es, the current edge an
  * [[Binding.Edge]]. `names` binds bare names to columns (GO's `vid` is
  * the hop's dst). `input(kind, var)` is the column-name prefix under
  * which `$-.c` (kind "input") or `$var.c` (kind "var") live, with the
  * hidden `__vid_` / `__edge_` / `__path_` twins of rendered values;
  * `bare` makes a bare (dotted) name a frame column too. `frame` is the
  * frame the expressions run over. Where sentences differ, the difference is a field:
  *  - `propsStruct`: properties(x) is the struct of the prop columns
  *    (LOOKUP) rather than the rendered map;
  *  - `rejectAbsent`: an entity function of the entity the frame does
  *    not hold is the reference's semantic reject (GetPropValidator);
  *  - `familyOrder`: ordering a schema prop against a literal of another
  *    type family is NULL (RelationalExpr.feature);
  *  - `absentNull`: an `<etype>.<prop>` naming no frame column reads
  *    NULL (a path's edge filter); otherwise analysis rejects it. */
private[nql] final case class Binding(
    vertex: Option[Binding.Vertex] = None,
    src: Option[Binding.Vertex] = None,
    dst: Option[Binding.Vertex] = None,
    edge: Option[Binding.Edge] = None,
    names: Map[String, Column] = Map.empty,
    input: (String, String) => Option[String] = (_, _) => None,
    bare: Boolean = false,
    frame: Option[DataFrame] = None,
    strVid: Boolean = true,
    score: Option[Column] = None,
    propsStruct: Boolean = false,
    rejectAbsent: Boolean = false,
    familyOrder: Boolean = false,
    absentNull: Boolean = false) {
  import Binding._
  import Expr.{Attr, FnCall, Param, Ref}

  private def word(e: Expr.E, w: String): Boolean = e match {
    case Ref(List(k)) => k.equalsIgnoreCase(w)
    case _ => false
  }
  /** The vertex an argument names: `vertex`, `$^` or `$$`. */
  private def vertexOf(e: Expr.E): Option[Vertex] = e match {
    case Param("src", _, Nil) => src
    case Param("dst", _, Nil) => dst
    case _ if word(e, "vertex") => vertex
    case _ => None
  }
  private def edgeOf(e: Expr.E): Option[Edge] =
    if (word(e, "edge")) edge else None

  private def propType(e: Expr.E): Option[DataType] = e match {
    case Param(side @ ("dst" | "src"), _, List(t, p)) =>
      (if (side == "dst") dst else src).filter(_.tags.contains(t))
        .flatMap(_.props(t).find(_.name == p)).map(_.dataType)
    case Ref(List(et, p)) if !p.startsWith("_") =>
      edge.flatMap(_.types.find(_.name == et))
        .flatMap(_.props.find(_.name == p)).map(_.dataType)
    case _ => None
  }

  /** A frame column by input ref or bare name: a literally dotted
    * column name (`like._dst`) wins; when only the head exists,
    * descend struct fields (`$-.a.b` over a map-literal column). */
  private def frameCol(prefix: String, parts: List[String]): Column = {
    val name = prefix + parts.mkString(".")
    if (cols(name)) Gql.colByName(name)
    else parts match {
      case a :: rest if rest.nonEmpty && cols(prefix + a) =>
        rest.foldLeft(Gql.colByName(prefix + a))(_.getField(_))
      case _ => Gql.colByName(name)
    }
  }
  /** The hidden twin (`__vid_`, `__edge_`, `__path_`) of a one-part
    * input ref or bare name, when the frame carries it. */
  def twin(kind: String, e: Expr.E): Option[String] = (e match {
    case Param(k, n, List(c)) => input(k, n).map(_ + kind + c)
    case Ref(List(c)) if bare => Some(kind + c)
    case _ => None
  }).filter(cols)

  def resolver: Expr.Resolver = {
    case x if familyOrder && Expr.crossFamilyOrder(x, propType) =>
      Some(lit(null).cast("boolean"))
    case FnCall("score", Nil, _) if score.isDefined => score
    case Ref(List(n)) if names.contains(n) => names.get(n)
    case x if vertexOf(x).isDefined =>
      Some(Gql.renderNode(vertexOf(x).get.vid, strVid))
    case x if edgeOf(x).isDefined =>
      val ed = edgeOf(x).get
      Some(Gql.renderEdge(ed.typeName, ed.storedSrc, ed.storedDst, ed.rank,
        strVid))
    // entity functions over an entity the frame does not hold
    case FnCall(f @ ("src" | "dst" | "rank" | "type"), List(a), _)
        if rejectAbsent && edge.isEmpty && word(a, "edge") =>
      throw new IllegalArgumentException(
        s"Invalid expression $f(EDGE) over a vertex fetch")
    case FnCall(f @ ("id" | "tags" | "labels"), List(a), _)
        if rejectAbsent && vertex.isEmpty && word(a, "vertex") =>
      throw new IllegalArgumentException(
        s"Invalid expression $f(VERTEX) over an edge fetch")
    case FnCall(f, List(a), _) if vertexOf(a).isDefined && vertexFns(f) =>
      val v = vertexOf(a).get
      Some(f match {
        case "id" => v.vid
        case "properties" if propsStruct => propsStructOf(v.fields)
        case "properties" => Gql.renderPropsMap(v.fields)
        case "keys" => Gql.presentKeys(v.fields)
        case _ => v.tagList
      })
    case FnCall(f, List(a), _) if edgeOf(a).isDefined && edgeFns(f) =>
      val ed = edgeOf(a).get
      Some(f match {
        case "src" => ed.storedSrc
        case "dst" => ed.storedDst
        case "rank" => ed.rank
        case "type" => ed.typeName
        case "typeid" => ed.typeId
        case "keys" => Gql.presentKeys(ed.fields)
        case "properties" if propsStruct => propsStructOf(ed.fields)
        case "properties" => ed.propsMap
        // the hidden `__edge_<alias>` twin of a whole-edge yield
        case _ => struct(ed.storedSrc.as("src"), ed.storedDst.as("dst"),
          ed.rank.as("rank"), ed.typeName.as("etype"), ed.propsMap.as("props"))
      })
    case Attr(FnCall("properties", List(a), _), p)
        if !propsStruct && vertexOf(a).isDefined =>
      Some(vertexOf(a).get.merged(p))
    case Attr(FnCall("properties", List(a), _), p)
        if !propsStruct && edgeOf(a).isDefined =>
      Some(edgeOf(a).get.merged(p))
    case Ref(List(t, p)) if vertex.exists(_.tags.contains(t)) =>
      Some(vertex.get.prop(t, p))
    case Ref(List(et, p)) if edge.exists(_.types.exists(_.name == et)) =>
      val ed = edge.get
      val t = ed.types.find(_.name == et).get
      Some(p match {
        case _ if absentNull && !cols(p) => lit(null)
        case "_src" => ed.guard(t, ed.src)
        case "_dst" => ed.guard(t, ed.dst)
        case "_rank" => ed.guard(t, ed.rank)
        case "_type" => ed.guard(t, lit(t.id))
        case _ => ed.guard(t, col(p))
      })
    case Param(side @ ("dst" | "src"), _, List(t, p))
        if (if (side == "dst") dst else src).exists(_.tags.contains(t)) =>
      Some((if (side == "dst") dst else src).get.prop(t, p))
    // id() over a rendered whole-vertex column reads its vid twin
    case FnCall("id", List(a), _) if twin("__vid_", a).isDefined =>
      Some(col(twin("__vid_", a).get))
    // id() over a path endpoint is the raw vid, not the rendered node
    case FnCall("id", List(FnCall(f @ ("startnode" | "endnode"), List(a), _)), _)
        if twin("__path_", a).isDefined =>
      Some(element_at(pathTwin(a)._1("vids"), if (f == "startnode") 1 else -1))
    // path functions over a `__path_` twin (FunctionManager path registry)
    case FnCall(f @ ("length" | "nodes" | "startnode" | "endnode" |
        "relationships"), List(a), _) if twin("__path_", a).isDefined =>
      val (h, s) = pathTwin(a)
      Some(f match {
        case "length" => size(h("steps")).cast("long")
        case "nodes" => transform(h("vids"), v => Gql.renderNode(v, s))
        case "relationships" => transform(h("steps"), st =>
          Gql.renderEdge(st("t"), st("s"), st("d"), st("r"), s))
        case _ => Gql.renderNode(
          element_at(h("vids"), if (f == "startnode") 1 else -1), s)
      })
    // whole-edge columns carry an `__edge_<alias>` twin
    case FnCall(f @ ("startnode" | "endnode" | "properties" | "type" | "src" |
        "dst" | "rank"), List(a), _) if twin("__edge_", a).isDefined =>
      val name = twin("__edge_", a).get
      val h = col(name)
      def s = structOf(name)("src").dataType == StringType
      Some(f match {
        case "startnode" => Gql.renderNode(h("src"), s)
        case "endnode" => Gql.renderNode(h("dst"), s)
        case "type" => h("etype")
        case "properties" => h("props")
        case other => h(other)
      })
    case Param(k, n, parts) if parts.nonEmpty && input(k, n).isDefined =>
      Some(frameCol(input(k, n).get, parts))
    case Ref(parts) if bare && parts.nonEmpty => Some(frameCol("", parts))
    case _ => None
  }

  private lazy val schema = frame.fold(new StructType())(_.schema)
  private lazy val cols: Set[String] = schema.fieldNames.toSet
  private def structOf(name: String) = schema(name).dataType.asInstanceOf[StructType]
  private def pathTwin(a: Expr.E): (Column, Boolean) = {
    val name = twin("__path_", a).get
    val vids = structOf(name)("vids").dataType.asInstanceOf[ArrayType]
    (col(name), vids.elementType == StringType)
  }
}

private[nql] object Binding {
  private def propsStructOf(fields: Seq[(String, Column, DataType)]): Column =
    struct(fields.map(f => f._2.as(f._1)): _*)
  private def firstWins(props: Seq[StructField]): Seq[(String, DataType)] =
    props.map(f => f.name -> f.dataType).distinctBy(_._1)
  private val vertexFns = Set("id", "properties", "keys", "tags", "labels")
  private val edgeFns = Set("src", "dst", "rank", "type", "typeid", "keys",
    "properties", "__edge_twin")

  /** A vertex of the frame. `tags` in merge order (the first wins a
    * prop-name clash); `props(t)` the tag's prop fields. `prefix`
    * None: one tag every row bears, its props bare columns; Some(p):
    * tag t's prop q is column `p + t + "_" + q`, and a non-null
    * `p + t + "___has"` marks the tag borne. */
  final case class Vertex(vid: Column, tags: Seq[String],
                          props: String => Seq[StructField],
                          prefix: Option[String] = None) {
    def prop(t: String, p: String): Column =
      prefix.fold(col(p))(pre => col(s"$pre${t}_$p"))
    /** A prop of the merged view; NULL when no tag declares it. */
    def merged(p: String): Column =
      tags.filter(t => props(t).exists(_.name == p)) match {
        case Seq() => lit(null)
        case hs => if (prefix.isEmpty) col(p) else coalesce(hs.map(prop(_, p)): _*)
      }
    def fields: Seq[(String, Column, DataType)] =
      firstWins(tags.flatMap(props)).map { case (p, dt) => (p, merged(p), dt) }
    def tagList: Column = prefix match {
      case None => array(lit(tags.head))
      case Some(pre) => array_compact(array(tags.sorted.map(t =>
        when(col(s"$pre${t}___has").isNotNull, lit(t))): _*))
    }
  }

  /** An edge type: name, the reference's integer id (any stable int;
    * goldens regex-match it) and prop fields, both read on first use. */
  final class EdgeType(val name: String, id0: => Int, props0: => Seq[StructField]) {
    lazy val id: Int = id0
    lazy val props: Seq[StructField] = props0
  }

  /** The current edge. `typeCol` names a row's type; None for one type,
    * whose columns need no guard. `src`/`dst` are the traversal ends
    * (`<etype>._src` / `_dst`), `storedSrc`/`storedDst` the stored ones
    * (src(edge), dst(edge), the whole-edge value). */
  final case class Edge(types: Seq[EdgeType], typeCol: Option[Column],
                        src: Column, dst: Column, rank: Column,
                        storedSrc: Column, storedDst: Column) {
    def guard(t: EdgeType, c: Column): Column =
      typeCol.fold(c)(tc => when(tc === t.name, c))
    def typeName: Column = typeCol.getOrElse(lit(types.head.name))
    private def byType(f: EdgeType => Column): Column = typeCol match {
      case None => f(types.head)
      case Some(tc) => types.tail.foldLeft(when(tc === types.head.name, f(types.head))) {
        (acc, t) => acc.when(tc === t.name, f(t)) }
    }
    def typeId: Column = byType(t => lit(t.id))
    private def fieldsOf(t: EdgeType) =
      t.props.map(f => (f.name, guard(t, col(f.name)), f.dataType))
    def propsMap: Column = byType(t => Gql.renderPropsMap(fieldsOf(t)))
    def merged(p: String): Column =
      types.filter(_.props.exists(_.name == p)) match {
        case Seq() => lit(null)
        case hs => if (typeCol.isEmpty) col(p) else coalesce(hs.map(guard(_, col(p))): _*)
      }
    def fields: Seq[(String, Column, DataType)] =
      firstWins(types.flatMap(_.props)).map { case (p, dt) => (p, merged(p), dt) }
  }

  /** One edge type stored in frame order (src, dst, rank columns). */
  def stored(types: Seq[EdgeType], typeCol: Option[Column] = None): Edge =
    Edge(types, typeCol, col("src"), col("dst"), col("rank"), col("src"), col("dst"))

  private val edgeKeys = Set("src", "dst", "rank")
  def edgeProps(fields: Seq[StructField]): Seq[StructField] =
    fields.filterNot(f => edgeKeys(f.name))
  /** A catalog edge type, with its table's props or `props`. */
  def edgeType(g: GraphCatalog, et: String): EdgeType =
    edgeType(g, et, edgeProps(g.edgesByType(et).schema.fields.toSeq))
  def edgeType(g: GraphCatalog, et: String, props: => Seq[StructField]): EdgeType =
    new EdgeType(et, g.edgeTypeNames.indexOf(et) + 2, props)
  /** Pipe input: `$-.c` and bare names read the frame's columns. */
  def pipe(df: DataFrame): Binding =
    Binding(input = (k, _) => Option.when(k == "input")(""), bare = true,
      frame = Some(df))
  /** `$var.c` reads column `prefix(var) + c` of `df`. */
  def vars(df: DataFrame, prefix: String => String = _ => ""): Binding =
    Binding(input = (k, v) => Option.when(k == "var")(prefix(v)), frame = Some(df))
  def tagProps(g: GraphCatalog): String => Seq[StructField] =
    t => g.vertexTable(t).schema.fields.toSeq.filter(_.name != "vid")
}
