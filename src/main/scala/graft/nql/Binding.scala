package graft.nql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import graft.graph.GraphCatalog

/** Where a sentence's frame holds each graph entity its expressions can
  * name, and the one resolver built from it: the reference's entity
  * functions (FunctionManager.cpp:58 — id tags labels properties keys
  * type typeid src dst rank) defined once over the frame's columns.
  * `vertices` and `edges` bind names to [[Binding.Vertex]]es and
  * [[Binding.Edge]]s: `vertex`, `$^`, `$$` and `edge` (any case for
  * `vertex`/`edge`) name a sentence's own entities; any other name is a
  * variable, which also reads `v.tag.prop`, `v.tag`, `v['p']`, `e.p`,
  * `e['p']` and, inside a map literal, a navigable struct. `names`
  * binds bare names to columns (GO's `vid` is the hop's dst).
  * `input(kind, var)` is the column-name prefix under which `$-.c`
  * (kind "input") or `$var.c` (kind "var") live, with the hidden
  * `__vid_` / `__edge_` / `__path_` twins of rendered values; `bare`
  * makes a bare (dotted) name a frame column too. `frame` is the frame
  * the expressions run over. Where sentences differ, the difference is
  * a field:
  *  - `render`: a whole vertex or edge is its rendering; otherwise its
  *    raw vid or (type, src, dst, rank) key struct, NULL when unbound;
  *  - `declaredKeys`: keys(x) lists the props the vertex's borne tags or
  *    the edge's type declare, rather than those not NULL on the row;
  *  - `propsStruct`: properties(x) is the struct of the prop columns
  *    (LOOKUP) rather than the rendered map;
  *  - `rejectAbsent`: an entity function of the entity the frame does
  *    not hold is the reference's semantic reject (GetPropValidator);
  *  - `familyOrder`: ordering a schema prop against a literal of another
  *    type family is NULL (RelationalExpr.feature);
  *  - `absentNull`: an `<etype>.<prop>` naming no frame column reads
  *    NULL (a path's edge filter); otherwise analysis rejects it. */
private[nql] final case class Binding(
    vertices: Map[String, Binding.Vertex] = Map.empty,
    edges: Map[String, Binding.Edge] = Map.empty,
    names: Map[String, Column] = Map.empty,
    input: (String, String) => Option[String] = (_, _) => None,
    bare: Boolean = false,
    frame: Option[DataFrame] = None,
    score: Option[Column] = None,
    render: Boolean = true,
    declaredKeys: Boolean = false,
    propsStruct: Boolean = false,
    rejectAbsent: Boolean = false,
    familyOrder: Boolean = false,
    absentNull: Boolean = false) {
  import Binding._
  import Expr.{Attr, FnCall, MapLit, Param, Ref, Subscript}

  private def vertex = vertices.get("vertex")
  private def edge = edges.get("edge")
  private def side(s: String) = vertices.get(if (s == "dst") "$$" else "$^")
  private def word(e: Expr.E, w: String): Boolean = e match {
    case Ref(List(k)) => k.equalsIgnoreCase(w)
    case _ => false
  }
  /** The vertex an argument names: `vertex`, `$^`, `$$` or a variable. */
  private def vertexOf(e: Expr.E): Option[Vertex] = e match {
    case Param(s @ ("src" | "dst"), _, Nil) => side(s)
    case _ if word(e, "vertex") => vertex
    case Ref(List(v)) => vertices.get(v)
    case _ => None
  }
  private def edgeOf(e: Expr.E): Option[Edge] = e match {
    case _ if word(e, "edge") => edge
    case Ref(List(v)) => edges.get(v)
    case _ => None
  }

  /** A variable: any name but the sentence's own entities. */
  private def varVertex(n: String) = if (own(n)) None else vertices.get(n)
  private def varEdge(n: String) = if (own(n)) None else edges.get(n)
  private def navOf(e: Expr.E): Option[Column] = e match {
    case Ref(List(n)) => varVertex(n).map(_.nav).orElse(varEdge(n).map(_.nav))
    case _ => None
  }

  private def propType(e: Expr.E): Option[DataType] = e match {
    case Param(s @ ("dst" | "src"), _, List(t, p)) =>
      side(s).filter(_.tags.contains(t))
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
      val v = vertexOf(x).get
      Some(if (render) Gql.renderNode(v.vid, v.strVid) else v.vid)
    case x if edgeOf(x).isDefined =>
      val ed = edgeOf(x).get
      Some(if (render) Gql.renderEdge(ed.typeName, ed.storedSrc, ed.storedDst,
          ed.rank, ed.strVid)
        else when(ed.storedSrc.isNotNull,
          struct(ed.typeName, ed.storedSrc, ed.storedDst, ed.rank)))
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
        case "keys" if declaredKeys => v.declaredKeys
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
        case "keys" if declaredKeys => ed.declaredKeys
        case "keys" => Gql.presentKeys(ed.fields)
        case "properties" if propsStruct => propsStructOf(ed.fields)
        case "properties" => ed.propsMap
        // the hidden `__edge_<alias>` twin of a whole-edge yield
        case _ => struct(ed.storedSrc.as("src"), ed.storedDst.as("dst"),
          ed.rank.as("rank"), ed.typeName.as("etype"), ed.propsMap.as("props"))
      })
    // the ends of the edge key the traversal read, traversal orientation
    // and all (FunctionManager.cpp:2152,2202: a `<-` hop reads the
    // reverse key, so its dst is the far node); a vertex's own vid
    case FnCall(f @ ("none_direct_src" | "none_direct_dst"), a :: _, _)
        if vertexOf(a).isDefined || edgeOf(a).isDefined =>
      Some(vertexOf(a).map(_.vid).getOrElse(
        if (f.endsWith("dst")) edgeOf(a).get.dst else edgeOf(a).get.src))
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
    case Param(s @ ("dst" | "src"), _, List(t, p))
        if side(s).exists(_.tags.contains(t)) =>
      Some(side(s).get.prop(t, p))
    // a variable's tag prop, whole tag (NULL where the vertex lacks it,
    // or for a name no tag has), subscripted prop and edge prop
    case Ref(List(v, t, p)) if varVertex(v).isDefined =>
      Some(varVertex(v).get.read(t, p))
    case Ref(List(v, t)) if varVertex(v).isDefined =>
      Some(varVertex(v).get.tagMap(t))
    case Ref(List(e, p)) if varEdge(e).isDefined => Some(varEdge(e).get.merged(p))
    case Subscript(Ref(List(v)), Expr.Lit(p: String)) if varVertex(v).isDefined =>
      Some(varVertex(v).get.merged(p))
    case Subscript(Ref(List(e)), Expr.Lit(p: String)) if varEdge(e).isDefined =>
      Some(varEdge(e).get.merged(p))
    // a map capturing a whole variable holds it as a navigable struct
    // (`{a: v}.a.player.age`): per-tag prop structs, NULL where the
    // vertex lacks the tag; an edge's columns as one struct
    case MapLit(entries) if entries.exists(en => navOf(en._2).isDefined) =>
      Some(struct(entries.map { case (k, x) =>
        navOf(x).getOrElse(Expr.compile(x, resolver)).as(k) }: _*))
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
  private val own = Set("vertex", "edge", "$^", "$$")
  private val vertexFns = Set("id", "properties", "keys", "tags", "labels")
  private val edgeFns = Set("src", "dst", "rank", "type", "typeid", "keys",
    "properties", "__edge_twin")

  /** A vertex of the frame, its vid rendered quoted when `strVid`.
    * `tags` in merge order (the first wins a prop-name clash);
    * `props(t)` the tag's prop fields. `prefix` None: one tag every row
    * bears, its props bare columns; Some(p): tag t's prop q is column
    * `p + t + "_" + q`, and `present(t)` marks the tag borne (by default
    * a non-null `p + t + "___has"`). */
  final case class Vertex(vid: Column, tags: Seq[String],
                          props: String => Seq[StructField],
                          prefix: Option[String] = None, strVid: Boolean = true,
                          present: Option[String => Column] = None) {
    def prop(t: String, p: String): Column =
      prefix.fold(col(p))(pre => col(s"$pre${t}_$p"))
    /** Tag t's prop p; NULL when t does not declare it. */
    def read(t: String, p: String): Column =
      if (props(t).exists(_.name == p)) prop(t, p) else lit(null)
    private def has(t: String): Column =
      present.fold(col(s"${prefix.get}${t}___has").isNotNull)(_(t))
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
      case Some(_) => array_compact(array(tags.sorted.map(t =>
        when(has(t), lit(t))): _*))
    }
    /** The sorted props the borne tags declare. */
    def declaredKeys: Column = {
      val empty = typedLit(Seq.empty[String])
      val perTag = tags.sorted.flatMap { t =>
        val ks = props(t).map(_.name).sorted
        Option.when(ks.nonEmpty)(when(has(t), array(ks.map(lit): _*)).otherwise(empty))
      }
      if (perTag.isEmpty) empty
      else array_sort(array_distinct(flatten(array(perTag: _*))))
    }
    private def tagFields(t: String) = props(t).map(f => (f.name, prop(t, f.name), f.dataType))
    /** Tag t's props as a rendered map, NULL where the vertex lacks t. */
    def tagMap(t: String): Column =
      if (!tags.contains(t)) lit(null)
      else when(has(t), if (props(t).isEmpty) lit(null) else Gql.renderPropsMap(tagFields(t)))
    /** A struct of per-tag prop structs, NULL where the vertex lacks the
      * tag; the vid when no tag has props. */
    def nav: Column = tags.sorted.filter(props(_).nonEmpty) match {
      case Seq() => vid
      case ts => struct(ts.map(t => when(has(t),
        struct(tagFields(t).map(f => f._2.as(f._1)): _*)).as(t)): _*)
    }
  }

  /** An edge type: name, the reference's integer id (any stable int;
    * goldens regex-match it) and prop fields, both read on first use. */
  final class EdgeType(val name: String, id0: => Int, props0: => Seq[StructField]) {
    lazy val id: Int = id0
    lazy val props: Seq[StructField] = props0
  }

  /** An edge of the frame, its ends rendered quoted when `strVid`.
    * `typeCol` names a row's type; None for one type, whose columns need
    * no guard. `src`/`dst` are the traversal ends (`<etype>._src` /
    * `_dst`), `storedSrc`/`storedDst` the stored ones (src(edge),
    * dst(edge), the whole-edge value). `union` None: each type's props
    * are bare columns read behind a guard on the row's type; Some(fs):
    * the edge's columns are `prefix + f` for each f in fs, one per name
    * whatever the type (a row's type leaves the others' NULL), the keys
    * `src`, `dst`, `rank` and `etype` among them. */
  final case class Edge(types: Seq[EdgeType], typeCol: Option[Column],
                        src: Column, dst: Column, rank: Column,
                        storedSrc: Column, storedDst: Column,
                        strVid: Boolean = true, prefix: String = "",
                        union: Option[Seq[StructField]] = None) {
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
    def propsMap: Column =
      if (union.isDefined) Gql.renderPropsMap(fields)
      else byType(t => Gql.renderPropsMap(fieldsOf(t)))
    def merged(p: String): Column = union match {
      case Some(fs) => if (fs.exists(_.name == p)) col(prefix + p) else lit(null)
      case None => types.filter(_.props.exists(_.name == p)) match {
        case Seq() => lit(null)
        case hs => if (typeCol.isEmpty) col(p) else coalesce(hs.map(guard(_, col(p))): _*)
      }
    }
    def fields: Seq[(String, Column, DataType)] = union match {
      case Some(fs) => fs.filterNot(f => edgeKeys(f.name) || f.name == "etype")
        .map(f => (f.name, col(prefix + f.name), f.dataType))
      case None =>
        firstWins(types.flatMap(_.props)).map { case (p, dt) => (p, merged(p), dt) }
    }
    /** The sorted props the row's type declares. */
    def declaredKeys: Column = {
      def names(t: EdgeType) = t.props.map(_.name).sorted
      def keysOf(t: EdgeType) =
        if (names(t).isEmpty) typedLit(Seq.empty[String]) else array(names(t).map(lit): _*)
      if (types.map(names).distinct.size == 1) keysOf(types.head) else byType(keysOf)
    }
    /** The edge's columns as one struct; the stored src when it has none. */
    def nav: Column = union.filter(_.nonEmpty)
      .fold(storedSrc)(fs => struct(fs.map(f => col(prefix + f.name).as(f.name)): _*))
  }

  /** One edge type stored in frame order (src, dst, rank columns). */
  def stored(types: Seq[EdgeType], typeCol: Option[Column] = None,
             strVid: Boolean = true): Edge =
    Edge(types, typeCol, col("src"), col("dst"), col("rank"), col("src"), col("dst"),
      strVid)

  /** Whether `df` carries column `c` as a string (quoted vids). */
  def isStr(df: DataFrame, c: String): Boolean =
    df.columns.contains(c) && df.schema(c).dataType == StringType
  /** The fields of `df` named `pre + q`, as q; `_`-led q are hidden. */
  private def under(df: DataFrame, pre: String): Seq[StructField] =
    df.schema.fields.toSeq.collect { case f if f.name.startsWith(pre) &&
      !f.name.stripPrefix(pre).startsWith("_") => f.copy(name = f.name.stripPrefix(pre)) }
  /** The column marking tag t borne by vertex variable v. */
  def marker(v: String, t: String): String = s"__lbl_${v}_$t"
  /** Vertex variable v of `df`: vid column `v`, tag t's prop q in column
    * `v_t_q` where `df` carries it, presence in [[marker]]. */
  def vertexVar(df: DataFrame, v: String, tags: Seq[String]): Vertex =
    Vertex(col(v), tags, t => under(df, s"${v}_${t}_"), Some(s"${v}_"),
      isStr(df, v), Some(t => col(marker(v, t))))
  /** Edge variable e of `df` over `types`: columns `e_src`, `e_dst`,
    * `e_rank`, `e_etype` and `e_<prop>`; the traversal ends `e__tsrc` /
    * `e__tdst` where `df` carries them, else the stored ones. */
  def edgeVar(df: DataFrame, e: String, types: Seq[EdgeType]): Edge = {
    def c(n: String) = col(s"${e}_$n")
    def end(n: String) =
      if (df.columns.contains(s"${e}__t$n")) col(s"${e}__t$n") else c(n)
    Edge(types, Some(c("etype")), end("src"), end("dst"), c("rank"), c("src"), c("dst"),
      isStr(df, s"${e}_src"), s"${e}_", Some(under(df, s"${e}_")))
  }

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
