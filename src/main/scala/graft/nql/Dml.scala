package graft.nql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, round}
import org.apache.spark.sql.types._
import graft.graph.{GraphCatalog, ScenarioCatalog}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.Ckpt.MatOps

/** A DML/DDL statement violated the reference's semantic or execution
  * rules (wrong arity, unknown prop, type mismatch, missing key) —
  * the analogue of the reference's SemanticError / ExecutionError
  * status codes. Distinct from IllegalArgumentException (= surface we
  * don't parse) so the TCK runner can assert expected-error steps. */
final class DmlError(msg: String) extends RuntimeException(msg)

/** nGQL DML + DDL sentences (SURVEY §2.1 sinks as a *parser* surface;
  * reference grammar: parser.yy:3060 insert_vertex_sentence, :3141
  * insert_edge_sentence, :2987 update, delete at :3220, CREATE TAG/
  * EDGE in the maintain section). Statements execute against a
  * ScenarioCatalog (driver-side scenario space — TCK runner, small
  * sessions) or a parquet-backed `graph.TableCatalog` (the AT-SCALE
  * route: every mutation plans as a Mutations.KeyedTable merge, and
  * piped `$-` refs stay DataFrames — see execTable). Both executors
  * read a statement's key set the same way: literal key tuples, or
  * the key frame one resolver (pipedKeys) builds from piped refs; an
  * UPDATE/UPSERT in vertex or edge form is one `Update` over it. */
object Dml {
  import Gql.{P, Stmt, Item, InRef, Word, Sym, Str, Num}

  // ---------- AST ----------
  sealed trait DStmt extends Stmt
  /** CREATE TAG / CREATE EDGE (schema definition). */
  case class CreateSchema(isTag: Boolean, name: String,
                          props: Vector[PropSpec],
                          ifNotExists: Boolean,
                          ttlDuration: Option[Long] = None,
                          ttlCol: Option[String] = None,
                          comment: Option[String] = None) extends DStmt
  case class DropSchema(isTag: Boolean, name: String,
                        ifExists: Boolean) extends DStmt
  case class AlterAdd(isTag: Boolean, name: String,
                      props: Vector[PropSpec],
                      drops: Vector[String],
                      changes: Vector[PropSpec] = Vector.empty,
                      ttlDuration: Option[Long] = None,
                      ttlCol: Option[String] = None,
                      comment: Option[String] = None) extends DStmt
  /** CREATE SPACE (registry for DESC/SHOW CREATE SPACE output). */
  case class CreateSpace(name: String, vidType: String,
                         comment: Option[String],
                         ifNotExists: Boolean) extends DStmt
  case class DescSpace(name: String) extends DStmt
  case class ShowCreateSpace(name: String) extends DStmt
  /** SHOW CREATE TAG/EDGE — the schema rendered back as its CREATE
    * statement (meta toCreate output shape). */
  case class ShowCreate(isTag: Boolean, name: String) extends DStmt
  /** CREATE TAG/EDGE INDEX — index DDL is a planning no-op here
    * (LOOKUP needs no index) but the column types still validate
    * (duration columns reject, InsertDurationType.feature) and the
    * definition registers for SHOW CREATE ... INDEX. */
  case class CreateIndex(isTag: Boolean, index: String, schema: String,
                         cols: Vector[(String, Option[Long])],
                         withOpts: Vector[(String, String)],
                         comment: Option[String],
                         ifNotExists: Boolean = false) extends DStmt
  case class ShowCreateIndex(isTag: Boolean, index: String) extends DStmt
  /** SHOW TAGS / SHOW EDGES — one Name row per schema. */
  case class ShowSchemas(isTag: Boolean) extends DStmt
  /** USE <space> — switches the SHOW-listing scope. */
  case class UseSpace(name: String) extends DStmt
  case class DropSpace(name: String, ifExists: Boolean) extends DStmt
  /** CLEAR SPACE [IF EXISTS] — drop the data, keep the schema. */
  case class ClearSpace(name: String, ifExists: Boolean) extends DStmt
  /** SHOW STATS — per-schema + space row counts (stats job output). */
  case object ShowStats extends DStmt
  /** DESC TAG/EDGE INDEX — (Field, Type) listing of indexed columns. */
  case class DescIndex(isTag: Boolean, index: String) extends DStmt
  case class DropIndex(isTag: Boolean, index: String,
                       ifExists: Boolean) extends DStmt
  /** REBUILD TAG/EDGE INDEX a, b — validates the names (SemanticError
    * on unknown, TagEdgeIndex.feature) and records a FINISHED job for
    * SHOW ... INDEX STATUS; no physical index to build (LOOKUP scans). */
  case class RebuildIndex(isTag: Boolean, names: Vector[String]) extends DStmt
  case class ShowIndexes(isTag: Boolean, by: Option[String]) extends DStmt
  case class ShowIndexStatus(isTag: Boolean) extends DStmt
  /** CREATE FULLTEXT TAG|EDGE INDEX name ON schema(cols) — native
    * fulltext (graft.nql.Fulltext), no external search cluster. */
  case class CreateFulltext(isTag: Boolean, index: String, schema: String,
                            cols: Vector[String]) extends DStmt
  case class DropFulltext(index: String) extends DStmt
  case object ShowFulltext extends DStmt
  case object ShowSpaces extends DStmt
  /** SHOW HOSTS — the read-only admin listing
    * (ShowHostsExecutor.cpp): a library has exactly one "host", the
    * local Spark session, reported ONLINE. Schema matches the
    * reference's 7 columns so parser/Example.feature's regex golden
    * binds. */
  case object ShowHosts extends DStmt
  /** CREATE SPACE / USE / CREATE INDEX / REBUILD / SHOW ... — parsed
    * and ignored (no cluster to administer; LOOKUP needs no index). */
  case class AdminNoop(kind: String) extends DStmt
  case class InsertVertex(tags: Vector[(String, Option[Vector[String]])],
                          rows: Vector[(Any, Vector[Expr.E])],
                          ifNotExists: Boolean,
                          ignoreIndex: Boolean = false) extends DStmt
  case class InsertEdge(etype: String, props: Option[Vector[String]],
                        rows: Vector[(Any, Any, Long, Vector[Expr.E])],
                        ifNotExists: Boolean,
                        ignoreIndex: Boolean = false) extends DStmt
  /** UPDATE / UPSERT in either form, as the one keyed write both map
    * onto (UpdateExecutor.cpp:40): a target tag or edge type, and its
    * key set — literal key tuples (`vid`, or `src, dst, rank`) or the
    * piped refs that name those columns. */
  sealed trait Update extends DStmt {
    def isTag: Boolean
    def target: String
    def keyRows: Seq[Seq[Any]]
    def keyRefs: Option[Seq[InRef]]
    def sets: Vector[(String, Expr.E)]
    def when: Option[Expr.E]
    def yields: Option[Seq[Item]]
    def upsert: Boolean
    def sentence: String = if (isTag) "UPDATE VERTEX" else "UPDATE EDGE"
  }
  case class UpdateVertex(tag: String, vids: Seq[Any],
                          sets: Vector[(String, Expr.E)],
                          when: Option[Expr.E], yields: Option[Seq[Item]],
                          upsert: Boolean,
                          /** piped vid set: `UPDATE VERTEX ON t $-.id
                            * SET ...` (lookup/LookUpUpdate.feature). */
                          ref: Option[InRef] = None) extends Update {
    def isTag = true
    def target: String = tag
    def keyRows: Seq[Seq[Any]] = vids.map(Seq(_))
    def keyRefs: Option[Seq[InRef]] = ref.map(Seq(_))
  }
  case class UpdateEdge(etype: String, keys: Seq[(Any, Any, Long)],
                        sets: Vector[(String, Expr.E)],
                        when: Option[Expr.E], yields: Option[Seq[Item]],
                        upsert: Boolean,
                        /** piped edge keys: `UPDATE EDGE ON e
                          * $-.src -> $-.dst @ $-.rank SET ...`. */
                        refKeys: Option[(InRef, InRef, Option[InRef])] =
                          None) extends Update {
    def isTag = false
    def target: String = etype
    def keyRows: Seq[Seq[Any]] = keys.map { case (s, d, r) => Seq(s, d, r) }
    def keyRefs: Option[Seq[InRef]] = refKeys.map(edgeRefs)
  }
  /** An edge's piped key refs in key-column order: src, dst [, rank]. */
  private def edgeRefs(k: (InRef, InRef, Option[InRef])): Seq[InRef] =
    Seq(k._1, k._2) ++ k._3
  case class DeleteVertex(vids: Seq[Any], ref: Option[InRef],
                          withEdge: Boolean) extends DStmt
  case class DeleteEdge(etype: String,
                        keys: Seq[(Any, Any, Long)],
                        refKeys: Option[(InRef, InRef, Option[InRef])])
      extends DStmt
  case class DeleteTag(tags: Seq[String], vids: Seq[Any],
                       ref: Option[InRef] = None) extends DStmt
  /** DESCRIBE TAG/EDGE — schema listing (Field/Type/Null/Default/
    * Comment rows, meta DESC output shape). */
  case class Describe(isTag: Boolean, name: String) extends DStmt

  // ---------- parser ----------
  private val dmlHeads = Set("insert", "update", "upsert", "delete",
    "create", "drop", "alter", "rebuild", "use", "show", "describe", "desc",
    "grant", "revoke", "clear", "submit")

  def startsDml(p: P): Boolean = p.peek match {
    case Some(Word(w)) => dmlHeads.contains(w.toLowerCase)
    case _ => false
  }

  /** Consume tokens to end of statement (`;` or EOF) — used for admin
    * sentences we accept-and-ignore. */
  private def skipStatement(p: P): Unit =
    while (p.ts.nonEmpty && !p.peek.contains(Sym(";"))) p.next()

  /** One parsed prop spec of CREATE/ALTER TAG|EDGE. */
  case class PropSpec(name: String, tpe: String, notNull: Boolean,
                      default: Option[Expr.E], comment: Option[String])

  /** A wall-clock DEFAULT (`DEFAULT time()`): stored as the expression,
    * evaluated per INSERT; DESC/SHOW CREATE print the expression TEXT
    * (meta keeps defaults as exprs, Ddl.feature golden "time()"). */
  case class DynDefault(text: String, e: Expr.E) {
    override def toString: String = text
  }

  private def isDynDefault(e: Expr.E): Boolean = {
    var dyn = false
    Expr.collect(e) {
      case Expr.FnCall(n, Nil, _)
          if Set("time", "datetime", "date", "now", "uuid", "timestamp")
            .contains(n.toLowerCase) => dyn = true
    }
    dyn
  }

  /** Unreserved keywords (parser.yy:477 unreserved_keyword): usable as
    * identifiers, but the grammar yields their canonical LOWERCASE
    * spelling — `CREATE TAG t(ACCOUNT string)` stores prop `account`
    * (Schema.feature `unreserved keyword`). */
  private val unreservedKw: Set[String] = Set(
    "space", "value", "values", "host", "hosts", "spaces", "user",
    "users", "password", "role", "roles", "god", "admin", "dba",
    "guest", "group", "data", "leader", "uuid", "job", "jobs",
    "bidirect", "force", "part", "parts", "default", "configs",
    "account", "hdfs", "partition_num", "replica_factor", "charset",
    "collate", "collation", "atomic_edge", "ttl_duration", "ttl_col",
    "snapshot", "snapshots", "graph", "meta", "storage", "agent",
    "all", "any", "single", "none", "reduce", "shortest",
    "shortestpath", "allshortestpaths", "noloop", "contains",
    "starts", "ends", "vid_type", "limit", "skip", "optional",
    "offset", "format", "profile", "both", "out", "subgraph", "then",
    "else", "end", "into", "new", "groups", "zone", "zones",
    "listener", "elasticsearch", "fulltext", "stats", "status",
    "auto", "es_query", "text", "search", "clients", "sign",
    "service", "text_search", "reset", "plan", "comment",
    "s2_max_level", "s2_max_cells", "session", "sessions", "local",
    "sample", "queries", "query", "kill", "top", "point",
    "linestring", "polygon", "http", "https", "merge", "divide",
    "rename", "clear", "analyzer")
  private def foldKw(n: String): String =
    if (unreservedKw(n.toLowerCase)) n.toLowerCase else n

  private def parsePropDefs(p: P): Vector[PropSpec] = {
    val out = mutable.ListBuffer.empty[PropSpec]
    if (p.sym("(")) {
      var go = !p.sym(")")
      while (go) {
        val name = foldKw(p.word())
        var tpe = p.word().toLowerCase
        if (tpe == "fixed_string" && p.sym("(")) {
          val n = p.intLit(); p.expectSym(")")
          require(n > 0, "fixed_string length must be positive")
          tpe = s"fixed_string($n)"
        }
        if (tpe == "geography" && p.sym("(")) {
          tpe = s"geography(${p.word().toLowerCase})"
          p.expectSym(")")
        }
        if ((tpe == "list" || tpe == "set" || tpe == "map") && p.sym("<")) {
          val inner = p.word().toLowerCase
          p.expectSym(">")
          tpe = s"$tpe<$inner>"
        }
        var notNull = false
        var default: Option[Expr.E] = None
        var comment: Option[String] = None
        var opts = true
        while (opts) {
          if (p.kw("NOT")) { p.expectKw("NULL"); notNull = true }
          else if (p.kw("NULL")) ()
          else if (p.kw("DEFAULT")) default = Some(Expr.parse(p))
          else if (p.kw("COMMENT")) p.next() match {
            case Str(s) => comment = Some(s)
            case _ => ()
          }
          else opts = false
        }
        out += PropSpec(name, tpe, notNull, default, comment)
        if (!p.sym(",")) { p.expectSym(")"); go = false }
      }
    }
    out.toVector
  }

  /** Trailing schema options: ttl_duration = n, ttl_col = "c",
    * comment = "..." — all captured. */
  private def parseSchemaOptions(p: P)
      : (Option[Long], Option[String], Option[String]) = {
    var dur: Option[Long] = None
    var col: Option[String] = None
    var comment: Option[String] = None
    var go = true
    while (go && p.ts.nonEmpty && !p.peek.contains(Sym(";"))) {
      if (p.kw("TTL_DURATION")) {
        p.expectSym("=")
        // grammar: unsigned_integer only — `-1` is "syntax error near
        // `-1'", and 2^63 is the scanner's "Out of range" (TTL2)
        if (p.sym("-")) throw new IllegalArgumentException(
          "syntax error near `-': ttl_duration is unsigned")
        val n = p.next() match {
          case Num(_, raw) => raw.toLongOption.getOrElse(
            throw new IllegalArgumentException(
              s"integer literal out of range: $raw"))
          case t => throw new IllegalArgumentException(s"ttl_duration = $t")
        }
        dur = Some(n)
      } else if (p.kw("TTL_COL")) {
        p.expectSym("=")
        col = Some(p.next() match {
          case Str(s) => s
          case t => throw new IllegalArgumentException(s"ttl_col = $t")
        })
      } else if (p.kw("COMMENT")) {
        p.sym("=")
        p.next() match {
          case Str(s) => comment = Some(s)
          case _ => ()
        }
      } else if (p.sym(",")) ()
      else go = false
    }
    // anything unrecognized: consume to end of statement (other
    // options are storage-level knobs with no semantic effect here)
    while (p.ts.nonEmpty && !p.peek.contains(Sym(";"))) p.next()
    (dur, col, comment)
  }

  /** A vid literal: string, [-]int, or hash("...") — token-level so
    * the `->` in edge keys never reaches the expression parser. */
  private def vidExpr(p: P): Any = constVid(p)

  def parseSentence(p: P): Stmt = {
    if (p.kw("INSERT")) {
      if (p.kw("VERTEX")) parseInsertVertex(p)
      else if (p.kw("EDGE")) parseInsertEdge(p)
      else throw new IllegalArgumentException("INSERT expects VERTEX|EDGE")
    } else if (p.kw("UPDATE")) parseUpdate(p, upsert = false)
    else if (p.kw("UPSERT")) parseUpdate(p, upsert = true)
    else if (p.kw("DELETE")) parseDelete(p)
    else if (p.kw("SUBMIT")) {
      // SUBMIT JOB STATS — counts are always current here (no async
      // meta job), so submitting is a no-op success
      p.expectKw("JOB"); skipStatement(p); AdminNoop("submit job")
    }
    else if (p.kw("CLEAR")) {
      p.expectKw("SPACE")
      val ifExists =
        if (p.kw("IF")) { p.expectKw("EXISTS"); true } else false
      ClearSpace(p.word(), ifExists)
    }
    else if (p.kw("CREATE")) {
      if (p.kw("FULLTEXT")) {
        // CREATE FULLTEXT TAG|EDGE INDEX name ON schema(col, ...)
        val ftTag = p.kw("TAG")
        if (!ftTag) p.expectKw("EDGE")
        p.expectKw("INDEX")
        val idx = p.word()
        p.expectKw("ON")
        val schema = p.word()
        val cols = mutable.ListBuffer.empty[String]
        p.expectSym("(")
        var go = true
        while (go) {
          cols += p.word()
          if (!p.sym(",")) { p.expectSym(")"); go = false }
        }
        // optional ANALYZER="..." suffix accepted and ignored (the
        // native analyzer is the default standard one)
        if (p.kw("ANALYZER")) { p.sym("="); p.next() }
        CreateFulltext(ftTag, idx, schema, cols.toVector)
      } else {
      val isTag = p.kw("TAG")
      val isEdge = !isTag && p.kw("EDGE")
      if ((isTag || isEdge) && !p.kwPeek("INDEX")) {
        val ifNotExists =
          if (p.kw("IF")) { p.expectKw("NOT"); p.expectKw("EXISTS"); true }
          else false
        val name = p.word()
        require(!name.contains('.'), s"bad schema name $name")
        val props = parsePropDefs(p)
        val (ttlDur, ttlCol, comment) = parseSchemaOptions(p)
        CreateSchema(isTag, name, props, ifNotExists, ttlDur, ttlCol, comment)
      } else if ((isTag || isEdge) && p.kw("INDEX")) {
        // CREATE TAG|EDGE INDEX [IF NOT EXISTS] idx ON schema(col[(n)]...)
        val idxIfNotExists =
          if (p.kw("IF")) { p.expectKw("NOT"); p.expectKw("EXISTS"); true }
          else false
        val idx = p.word()
        p.expectKw("ON")
        val schema = p.word()
        val cols = mutable.ListBuffer.empty[(String, Option[Long])]
        if (p.sym("(")) {
          var go = !p.sym(")")
          while (go) {
            val c = p.word()
            val len = if (p.sym("(")) {
              val n = p.intLit(); p.expectSym(")"); Some(n.toLong)
            } else None
            cols += ((c, len))
            if (!p.sym(",")) { p.expectSym(")"); go = false }
          }
        }
        // WITH (s2_max_level=30, ...) — geo index tuning knobs, kept
        // verbatim for SHOW CREATE output (no S2 index to tune here)
        val withOpts = mutable.ListBuffer.empty[(String, String)]
        if (p.kw("WITH") && p.sym("(")) {
          var go = !p.sym(")")
          while (go) {
            val k = p.word(); p.expectSym("=")
            val v = p.next() match {
              case Word(w) => w; case Num(_, raw) => raw
              case Str(s2) => s2; case Sym(s2) => s2
            }
            withOpts += ((k, v))
            if (!p.sym(",")) { p.expectSym(")"); go = false }
          }
        }
        val (_, _, comment) = parseSchemaOptions(p)
        CreateIndex(isTag, idx, schema, cols.toVector, withOpts.toVector,
          comment, idxIfNotExists)
      } else if (p.kw("SPACE")) {
        val ifNotExists =
          if (p.kw("IF")) { p.expectKw("NOT"); p.expectKw("EXISTS"); true }
          else false
        val name = p.word()
        if (p.kw("AS")) {
          // CREATE SPACE clone AS origin — schema-clone registration
          val origin = p.word()
          skipStatement(p)
          CreateSpace(name, s"AS:$origin", None, ifNotExists)
        } else {
          var vidType = "FIXED_STRING(8)"
          if (p.sym("(")) {
            var go = !p.sym(")")
            while (go) {
              val k = p.word().toLowerCase
              p.expectSym("=")
              val sb = new StringBuilder
              var depth = 0
              var take = true
              while (take) p.peek match {
                case Some(Sym(",")) if depth == 0 => take = false
                case Some(Sym(")")) if depth == 0 => take = false
                case Some(t) =>
                  if (t == Sym("(")) depth += 1
                  if (t == Sym(")")) depth -= 1
                  sb ++= (t match {
                    case Word(w) => w; case Sym(s2) => s2
                    case Num(_, raw) => raw; case Str(s2) => s2
                  })
                  p.next()
                case None => take = false
              }
              if (k == "vid_type") vidType = sb.toString
              if (!p.sym(",")) { p.expectSym(")"); go = false }
            }
          }
          val (_, _, comment) = parseSchemaOptions(p)
          CreateSpace(name, vidType, comment, ifNotExists)
        }
      } else {
        // only real nGQL CREATE objects are admin no-ops; anything
        // else (CREATE TABLE ...) is a syntax error like the reference
        require(
          p.kwPeek("USER") || p.kwPeek("SNAPSHOT"),
          s"unknown CREATE object at ${p.ts.take(2)}")
        skipStatement(p); AdminNoop("create")
      }
      }
    } else if (p.kw("DROP")) {
      if (p.kw("FULLTEXT")) {
        p.expectKw("INDEX")
        DropFulltext(p.word())
      } else {
      val isTag = p.kw("TAG")
      val isEdge = !isTag && p.kw("EDGE")
      if ((isTag || isEdge) && p.kw("INDEX")) {
        val ifExists =
          if (p.kw("IF")) { p.expectKw("EXISTS"); true } else false
        DropIndex(isTag, p.word(), ifExists)
      } else if (isTag || isEdge) {
        val ifExists =
          if (p.kw("IF")) { p.expectKw("EXISTS"); true } else false
        DropSchema(isTag, p.word(), ifExists)
      } else if (p.kw("USER")) {
        if (p.kw("IF")) p.expectKw("EXISTS")
        val u = p.word()
        // the root account is undroppable (PermissionManager check,
        // DropRootUser.feature #4879)
        if (u == "root") throw new DmlError("Can't drop root user.")
        AdminNoop("drop user")
      } else if (p.kw("SPACE")) {
        val ifExists =
          if (p.kw("IF")) { p.expectKw("EXISTS"); true } else false
        DropSpace(p.word(), ifExists)
      } else {
        require(p.kwPeek("INDEX") || p.kwPeek("SNAPSHOT"),
          s"unknown DROP object at ${p.ts.take(2)}")
        skipStatement(p); AdminNoop("drop")
      }
      }
    } else if (p.kw("ALTER")) {
      val isTag = p.kw("TAG")
      if (!isTag) p.expectKw("EDGE")
      val name = p.word()
      val adds = mutable.ListBuffer.empty[PropSpec]
      val drops = mutable.ListBuffer.empty[String]
      val changes = mutable.ListBuffer.empty[PropSpec]
      var go = true
      while (go) {
        if (p.kw("ADD")) adds ++= parsePropDefs(p)
        else if (p.kw("DROP")) {
          p.expectSym("(")
          drops += p.word()
          while (p.sym(",")) drops += p.word()
          p.expectSym(")")
        } else if (p.kw("CHANGE")) changes ++= parsePropDefs(p)
        else go = false
        if (!p.sym(",")) go = false
      }
      // AlterSchemaValidator parity: a column may appear in at most
      // one ADD/DROP/CHANGE item across the whole sentence
      val mentioned = adds.map(_.name) ++ drops ++ changes.map(_.name)
      mentioned.diff(mentioned.distinct).headOption.foreach { dup =>
        throw new IllegalArgumentException(
          s"SemanticError: Duplicate column name `$dup'")
      }
      val (ttlDur, ttlCol, comment) = parseSchemaOptions(p)
      AlterAdd(isTag, name, adds.toVector, drops.toVector,
        changes.toVector, ttlDur, ttlCol, comment)
    } else if (p.kw("DESCRIBE") || p.kw("DESC")) {
      val isTag = p.kw("TAG")
      val isEdge = !isTag && p.kw("EDGE")
      if ((isTag || isEdge) && p.kw("INDEX")) DescIndex(isTag, p.word())
      else if (isTag || isEdge) Describe(isTag, p.word())
      else if (p.kw("SPACE")) DescSpace(p.word())
      else { skipStatement(p); AdminNoop("describe") }
    } else if (p.kw("GRANT") || p.kw("REVOKE")) {
      // role grants: no auth layer here — accepted, no-op
      skipStatement(p); AdminNoop("role")
    } else if (p.kw("REBUILD")) {
      val isTag = p.kw("TAG")
      val isEdge = !isTag && p.kw("EDGE")
      if ((isTag || isEdge) && p.kw("INDEX")) {
        // bare `REBUILD TAG INDEX` (no names) backfills every index
        val names = mutable.ListBuffer.empty[String]
        if (p.peek.exists(_.isInstanceOf[Word])) {
          names += p.word()
          while (p.sym(",")) names += p.word()
        }
        RebuildIndex(isTag, names.toVector)
      } else { skipStatement(p); AdminNoop("admin") }
    } else if (p.kw("USE")) {
      UseSpace(p.word())
    } else if (p.kwPeek("SHOW")) {
      if (p.ts.lift(1).contains(Word("CREATE")) ||
          p.ts.lift(1).exists { case Word(w) =>
            w.equalsIgnoreCase("create"); case _ => false }) {
        p.next(); p.next()
        if (p.kw("SPACE")) ShowCreateSpace(p.word())
        else {
          val isTag = p.kw("TAG")
          if (!isTag) p.expectKw("EDGE")
          if (p.kw("INDEX")) ShowCreateIndex(isTag, p.word())
          else ShowCreate(isTag, p.word())
        }
      } else if (p.ts.lift(1).exists {
            case Word(w) => w.equalsIgnoreCase("spaces")
            case _ => false
          }) {
        p.next(); p.next()
        ShowSpaces
      } else if (p.ts.lift(1).exists {
            case Word(w) => w.equalsIgnoreCase("stats")
            case _ => false
          }) {
        p.next(); p.next()
        ShowStats
      } else if (p.ts.lift(1).exists {
            case Word(w) => w.equalsIgnoreCase("tags") ||
              w.equalsIgnoreCase("edges")
            case _ => false
          }) {
        p.next()
        val isTag = p.next() match {
          case Word(w) => w.equalsIgnoreCase("tags")
          case _ => false
        }
        ShowSchemas(isTag)
      } else if (p.ts.lift(1).exists {
            case Word(w) => w.equalsIgnoreCase("tag") ||
              w.equalsIgnoreCase("edge")
            case _ => false
          } && p.ts.lift(2).exists {
            case Word(w) => w.equalsIgnoreCase("indexes") ||
              w.equalsIgnoreCase("index")
            case _ => false
          }) {
        p.next() // SHOW
        val isTag = p.kw("TAG")
        if (!isTag) p.expectKw("EDGE")
        if (p.kw("INDEXES")) {
          val by = if (p.kw("BY")) Some(p.word()) else None
          ShowIndexes(isTag, by)
        } else {
          p.expectKw("INDEX"); p.expectKw("STATUS")
          ShowIndexStatus(isTag)
        }
      } else if (p.ts.lift(1).exists {
            case Word(w) => w.equalsIgnoreCase("fulltext")
            case _ => false
          }) {
        p.next(); p.next()
        p.expectKw("INDEXES")
        ShowFulltext
      } else if (p.ts.lift(1).exists {
            case Word(w) => w.equalsIgnoreCase("hosts")
            case _ => false
          }) {
        p.next(); p.next()
        ShowHosts
      } else
        // other SHOW output shapes (meta listings) are out of surface —
        // unsupported, so golden-bearing SHOW steps skip instead of
        // comparing against an empty frame
        throw new IllegalArgumentException("SHOW is unsupported")
    } else throw new IllegalArgumentException(
      s"unknown DML sentence at ${p.ts.take(3)}")
  }

  private def parseInsertVertex(p: P): InsertVertex = {
    val ifNotExists =
      if (p.kw("IF")) { p.expectKw("NOT"); p.expectKw("EXISTS"); true }
      else false
    // IGNORE_EXISTED_INDEX = write data without index maintenance:
    // a pre-existing index entry for the key keeps its OLD prop
    // values (ScenarioCatalog.staleIndexRows; Insert.feature:608-653)
    val ignoreIndex = p.kw("IGNORE_EXISTED_INDEX")
    val tags = mutable.ListBuffer.empty[(String, Option[Vector[String]])]
    var go = true
    while (go) {
      val name = p.word()
      val props = if (p.sym("(")) {
        val ps = mutable.ListBuffer.empty[String]
        if (!p.sym(")")) {
          ps += p.word()
          while (p.sym(",")) ps += p.word()
          p.expectSym(")")
        }
        Some(ps.toVector)
      } else None
      tags += (name -> props)
      if (!p.sym(",")) go = false
    }
    p.expectKw("VALUES")
    val rows = mutable.ListBuffer.empty[(Any, Vector[Expr.E])]
    go = true
    while (go) {
      val vid = vidExpr(p)
      p.expectSym(":")
      p.expectSym("(")
      val vals = mutable.ListBuffer.empty[Expr.E]
      if (!p.sym(")")) {
        vals += Expr.parse(p)
        while (p.sym(",")) vals += Expr.parse(p)
        p.expectSym(")")
      }
      rows += (vid -> vals.toVector)
      if (!p.sym(",")) go = false
    }
    InsertVertex(tags.toVector, rows.toVector, ifNotExists, ignoreIndex)
  }

  private def parseInsertEdge(p: P): InsertEdge = {
    val ifNotExists =
      if (p.kw("IF")) { p.expectKw("NOT"); p.expectKw("EXISTS"); true }
      else false
    val ignoreIndex = p.kw("IGNORE_EXISTED_INDEX")
    val etype = p.word()
    val props = if (p.sym("(")) {
      val ps = mutable.ListBuffer.empty[String]
      if (!p.sym(")")) {
        ps += p.word()
        while (p.sym(",")) ps += p.word()
        p.expectSym(")")
      }
      Some(ps.toVector)
    } else None
    p.expectKw("VALUES")
    val rows = mutable.ListBuffer.empty[(Any, Any, Long, Vector[Expr.E])]
    var go = true
    while (go) {
      val src = vidExpr(p)
      p.expectSym("-"); p.expectSym(">")
      val dst = vidExpr(p)
      val rank = if (p.sym("@")) parseRank(p) else 0L
      p.expectSym(":")
      p.expectSym("(")
      val vals = mutable.ListBuffer.empty[Expr.E]
      if (!p.sym(")")) {
        vals += Expr.parse(p)
        while (p.sym(",")) vals += Expr.parse(p)
        p.expectSym(")")
      }
      rows += ((src, dst, rank, vals.toVector))
      if (!p.sym(",")) go = false
    }
    InsertEdge(etype, props, rows.toVector, ifNotExists, ignoreIndex)
  }

  private def parseRank(p: P): Long = {
    val neg = p.sym("-")
    p.next() match {
      case Num(v, _) => if (neg) -v.toLong else v.toLong
      case t => throw new IllegalArgumentException(s"expected rank, got $t")
    }
  }

  private def parseSets(p: P): Vector[(String, Expr.E)] = {
    p.expectKw("SET")
    val out = mutable.ListBuffer.empty[(String, Expr.E)]
    var go = true
    while (go) {
      // prop name, possibly written tag.prop (legacy form)
      var name = p.word()
      while (p.sym(".")) name = p.word()
      p.expectSym("=")
      out += (name -> Expr.parse(p))
      if (!p.sym(",")) go = false
    }
    out.toVector
  }

  /** `$-.col` / `$var.col` reference in a DML key position. */
  private def inRef(p: P): InRef = {
    p.expectSym("$")
    p.peek match {
      case Some(Sym("-")) =>
        p.next(); p.expectSym("."); InRef(None, p.word())
      case Some(Word(v)) =>
        p.next(); p.expectSym("."); InRef(Some(v), p.word())
      case t => throw new IllegalArgumentException(s"bad ref $t")
    }
  }

  private def parseUpdate(p: P, upsert: Boolean): DStmt = {
    if (p.kw("VERTEX")) {
      if (p.kw("ON")) {
        val tag = p.word()
        if (p.peek.contains(Sym("$"))) {
          // piped vid set (LookUpUpdate.feature)
          val r = inRef(p)
          val sets = parseSets(p)
          val when = if (p.kw("WHEN")) Some(Expr.parse(p)) else None
          val yields = if (p.kw("YIELD")) Some(Gql.parseItems(p)) else None
          UpdateVertex(tag, Seq.empty, sets, when, yields, upsert, Some(r))
        } else {
        val vids = mutable.ListBuffer[Any](vidExpr(p))
        while (p.sym(",")) vids += vidExpr(p)
        val sets = parseSets(p)
        val when = if (p.kw("WHEN")) Some(Expr.parse(p)) else None
        val yields = if (p.kw("YIELD")) Some(Gql.parseItems(p)) else None
        UpdateVertex(tag, vids.toSeq, sets, when, yields, upsert)
        }
      } else {
        // legacy: UPDATE VERTEX "vid" SET tag.prop = ... (v1 syntax);
        // the tag comes from the SET refs
        val vid = vidExpr(p)
        p.expectKw("SET")
        val sets = mutable.ListBuffer.empty[(String, Expr.E)]
        var tag: Option[String] = None
        var go = true
        while (go) {
          val t = p.word(); p.expectSym(".")
          val prop = p.word()
          require(tag.forall(_ == t), "legacy UPDATE mixes tags")
          tag = Some(t)
          p.expectSym("=")
          sets += (prop -> Expr.parse(p))
          if (!p.sym(",")) go = false
        }
        val when = if (p.kw("WHEN")) Some(Expr.parse(p)) else None
        val yields = if (p.kw("YIELD")) Some(Gql.parseItems(p)) else None
        UpdateVertex(tag.get, Seq(vid), sets.toVector, when, yields, upsert)
      }
    } else if (p.kw("EDGE")) {
      if (p.kw("ON")) {
        val etype = p.word()
        if (p.peek.contains(Sym("$"))) {
          // piped edge keys: $-.src -> $-.dst [@ $-.rank]
          val s = inRef(p)
          p.expectSym("-"); p.expectSym(">")
          val d2 = inRef(p)
          val r = if (p.sym("@")) Some(inRef(p)) else None
          val sets = parseSets(p)
          val when = if (p.kw("WHEN")) Some(Expr.parse(p)) else None
          val yields = if (p.kw("YIELD")) Some(Gql.parseItems(p)) else None
          UpdateEdge(etype, Seq.empty, sets, when, yields, upsert,
            Some((s, d2, r)))
        } else {
        def key(): (Any, Any, Long) = {
          val src = vidExpr(p)
          p.expectSym("-"); p.expectSym(">")
          val dst = vidExpr(p)
          val rank = if (p.sym("@")) parseRank(p) else 0L
          (src, dst, rank)
        }
        val keys = mutable.ListBuffer[(Any, Any, Long)](key())
        while (p.sym(",")) keys += key()
        val sets = parseSets(p)
        val when = if (p.kw("WHEN")) Some(Expr.parse(p)) else None
        val yields = if (p.kw("YIELD")) Some(Gql.parseItems(p)) else None
        UpdateEdge(etype, keys.toSeq, sets, when, yields, upsert)
        }
      } else {
        // legacy: UPDATE EDGE "a"->"b"@r OF type SET ...
        val src = vidExpr(p)
        p.expectSym("-"); p.expectSym(">")
        val dst = vidExpr(p)
        val rank = if (p.sym("@")) parseRank(p) else 0L
        p.expectKw("OF")
        val etype = p.word()
        val sets = parseSets(p)
        val when = if (p.kw("WHEN")) Some(Expr.parse(p)) else None
        val yields = if (p.kw("YIELD")) Some(Gql.parseItems(p)) else None
        UpdateEdge(etype, Seq((src, dst, rank)), sets, when, yields, upsert)
      }
    } else throw new IllegalArgumentException("UPDATE expects VERTEX|EDGE")
  }

  private def parseDelete(p: P): DStmt = {
    if (p.kw("VERTEX")) {
      val (vids, ref) = Gql.vidsOrRefPub(p)
      val withEdge = if (p.kw("WITH")) { p.expectKw("EDGE"); true } else false
      DeleteVertex(vids, ref, withEdge)
    } else if (p.kw("EDGE")) {
      val etype = p.word()
      // ref form: DELETE EDGE t $-.src -> $-.dst [@$-.rank]
      if (p.peek.contains(Sym("$"))) {
        val s = inRef(p); p.expectSym("-"); p.expectSym(">")
        val d = inRef(p)
        val r = if (p.sym("@")) Some(inRef(p)) else None
        DeleteEdge(etype, Seq.empty, Some((s, d, r)))
      } else {
        val keys = mutable.ListBuffer.empty[(Any, Any, Long)]
        var go = true
        while (go) {
          val s = constVid(p)
          p.expectSym("-"); p.expectSym(">")
          val d = constVid(p)
          val r = if (p.sym("@")) parseRank(p) else 0L
          keys += ((s, d, r))
          if (!p.sym(",")) go = false
        }
        DeleteEdge(etype, keys.toSeq, None)
      }
    } else if (p.kw("TAG")) {
      val tags = mutable.ListBuffer.empty[String]
      if (p.sym("*")) tags += "*"
      else { tags += p.word(); while (p.sym(",")) tags += p.word() }
      p.expectKw("FROM")
      // literal vids, or a piped/$var id set (DeleteTag.feature pipe
      // scenarios): DELETE TAG t FROM $-.id / $var.id
      val (vids, ref) = Gql.vidsOrRefPub(p)
      DeleteTag(tags.toSeq, vids, ref)
    } else throw new IllegalArgumentException("DELETE expects VERTEX|EDGE|TAG")
  }

  private def constVid(p: P): Any = p.next() match {
    case Str(s) => s
    case Num(v, raw) => raw.toLongOption.getOrElse(v.toLong)
    case Sym("-") => p.next() match {
      case Num(v, _) => -v.toLong
      case t => throw new IllegalArgumentException(s"bad vid $t")
    }
    case Word(w) if w.equalsIgnoreCase("hash") =>
      p.expectSym("(")
      val s = p.next() match {
        case Str(x) => x
        case t => throw new IllegalArgumentException(s"hash() arg $t")
      }
      p.expectSym(")")
      graft.functions.NebulaHash.hash64(s)
    case t => throw new IllegalArgumentException(s"expected vid, got $t")
  }

  /** A geography VALUE (WKT + shape kind) — distinct from a plain
    * string so geography-typed props reject strings and vice versa
    * (Geography.h:39-43 shape kinds; storage is canonical WKT). */
  final case class GeoVal(wkt: String, kind: String)

  /** A SET-literal value — distinct from a plain Seq (list literal) so
    * container-typed inserts enforce the declared collection kind
    * (Insert.feature: a LIST value into a Set<> column is a storage
    * type error). Unwrapped to its element Seq at coercion. */
  final case class SetVal(items: Seq[Any])
  /** A LIST-literal value — the dual marker (see SetVal). Function
    * results and stored values stay plain Seqs: kind-agnostic. */
  final case class ListVal(items: Seq[Any])

  /** A TIME value — distinct from a plain string so time-typed props
    * reject raw strings the way the reference's storage does
    * (InsertWithTimeType: "10:0:0" without time() is a type error).
    * `s` is normalized "HH:mm:ss.SSSSSS" in UTC. */
  final case class TimeVal(s: String)

  /** A DURATION value (Duration.h: months / seconds / microseconds). */
  final case class DurVal(months: Long, seconds: Long, micros: Long) {
    /** Duration.h:128 toString: P{}MT{}.{:0>6}000S */
    override def toString: String =
      f"P${months}MT${seconds + micros / 1000000}.${micros % 1000000}%06d000S"
  }

  /** Split a temporal literal's optional `±HH:MM` offset and
    * `[Zone/Name]` suffix (Time.cpp parse), returning the core text
    * and the resolved UTC offset. A zone name with a MISMATCHED
    * explicit offset is the reference's "Wrong value type" reject. */
  private def splitZone(s0: String, at: Option[java.time.LocalDateTime])
      : (String, Int) = {
    var s = s0.trim
    var zone: Option[java.time.ZoneId] = None
    val zm = "\\[([^\\]]+)\\]$".r.findFirstMatchIn(s)
    zm.foreach { m =>
      zone = Some(
        try java.time.ZoneId.of(m.group(1))
        catch { case _: Exception =>
          throw new DmlError(s"unknown time zone ${m.group(1)}") })
      s = s.substring(0, m.start)
    }
    var off: Option[Int] = None
    val om = "([+-])(\\d{2}):(\\d{2})$".r.findFirstMatchIn(s)
    om.foreach { m =>
      val sec = (m.group(2).toInt * 3600 + m.group(3).toInt * 60) *
        (if (m.group(1) == "-") -1 else 1)
      off = Some(sec)
      s = s.substring(0, m.start)
    }
    val zoneOff = zone.map { z =>
      val instant = at
        .map(_.toInstant(java.time.ZoneOffset.UTC))
        .getOrElse(java.time.Instant.now())
      z.getRules.getOffset(instant).getTotalSeconds
    }
    (off, zoneOff) match {
      case (Some(a), Some(b)) if a != b =>
        throw new DmlError(s"Wrong value type: $s0")
      case _ => ()
    }
    (s, off.orElse(zoneOff).getOrElse(0))
  }

  private def timeFromString(s0: String): TimeVal = {
    val (core, off) = splitZone(s0, None)
    val lt =
      try java.time.LocalTime.parse(core)
      catch { case _: Exception => throw new DmlError(
        "Storage Error: The data type does not meet the requirements. " +
          "Use the correct type of data.") }
    val utc = lt.minusSeconds(off)
    TimeVal(f"${utc.getHour}%02d:${utc.getMinute}%02d:" +
      f"${utc.getSecond}%02d.${utc.getNano / 1000}%06d")
  }

  private def datetimeFromString(s0: String): java.sql.Timestamp = {
    val core0 = s0.trim
    val ldt0 =
      try java.time.LocalDateTime.parse(splitZone(core0, None)._1)
      catch { case e: DmlError => throw e
        case _: Exception => throw new DmlError(
          "Storage Error: The data type does not meet the requirements. " +
            "Use the correct type of data.") }
    val (_, off) = splitZone(core0, Some(ldt0))
    java.sql.Timestamp.valueOf(ldt0.minusSeconds(off))
  }

  private def mapLong(m: collection.Map[String, Any], k: String,
                      default: Long = 0L): Long =
    m.get(k) match {
      case Some(n: Long) => n
      case Some(n: Int) => n.toLong
      case None => default
      case Some(other) => throw new DmlError(s"bad $k: $other")
    }

  private val wktRe =
    ("(?i)^\\s*(POINT\\s*\\(\\s*-?[0-9.]+\\s+-?[0-9.]+\\s*\\)|" +
     "LINESTRING\\s*\\(\\s*(-?[0-9.]+\\s+-?[0-9.]+\\s*,\\s*)+-?[0-9.]+\\s+-?[0-9.]+\\s*\\)|" +
     "POLYGON\\s*\\(\\s*(\\(\\s*(-?[0-9.]+\\s+-?[0-9.]+\\s*,\\s*)*-?[0-9.]+\\s+-?[0-9.]+\\s*\\)\\s*,?\\s*)+\\))\\s*$").r

  /** Parse + normalize a WKT literal; DmlError on malformed text
    * (GeoFunction wktToGeography error path). */
  def geogFromText(wkt: String): GeoVal = {
    if (wktRe.findFirstIn(wkt).isEmpty)
      throw new DmlError(s"Invalid WKT: $wkt")
    val upper = wkt.trim
    val kind =
      if (upper.toUpperCase.startsWith("POINT")) "point"
      else if (upper.toUpperCase.startsWith("LINESTRING")) "linestring"
      else "polygon"
    // canonical rendering: upper-case keyword, normalized spacing,
    // numbers printed the way the reference prints Values (integral
    // doubles drop the trailing .0: "1.0 1.0" -> "1 1")
    val body = upper.substring(upper.indexOf('('))
      .replaceAll("\\s*\\(\\s*", "(").replaceAll("\\s*\\)\\s*", ")")
      .replaceAll("\\s*,\\s*", ", ")
    val canon = "-?[0-9.]+".r.replaceAllIn(body, m => {
      val d = m.group(0).toDouble
      if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15)
        d.toLong.toString
      else m.group(0)
    })
    GeoVal(kind.toUpperCase + canon, kind)
  }

  // ---------- driver-side constant/row-context evaluation ----------
  /** Evaluate an expression against a prop-name environment: the
    * `Expr.fold` with the row's props as refs and `fncall` as its calls.
    * Throws IllegalArgumentException for surface outside the fold and
    * DmlError for semantic violations (unknown prop, operand types,
    * integer overflow). */
  def eval(e: Expr.E, env: String => Option[Any]): Any = {
    def prop(r: Expr.E): Any = r match {
      case Expr.Ref(parts) => env(parts.last).getOrElse(
        throw new DmlError(s"unknown prop ${parts.mkString(".")}"))
      case Expr.Param(_, _, parts) if parts.nonEmpty => env(parts.last).getOrElse(
        throw new DmlError(s"unknown prop ${parts.mkString(".")}"))
      case other => throw new IllegalArgumentException(
        s"unsupported DML expr ${Expr.text(other)}")
    }
    try Expr.fold(e, prop, fncall)
    catch {
      case n: Expr.NoFold =>
        throw (if (n.unsupported) new IllegalArgumentException(n.getMessage)
               else new DmlError(n.getMessage))
      case o: Expr.IntOverflow => throw new DmlError(o.getMessage)
    }
  }

  /** `eval` for a value headed for prop coercion: a top-level LIST or
    * SET literal keeps its kind (ListVal / SetVal), which coercion
    * checks against the declared container. */
  private def evalProp(e: Expr.E, env: String => Option[Any]): Any = e match {
    case Expr.ParamLit(_, v) => evalProp(v, env)
    case Expr.SetLit(_) => SetVal(eval(e, env).asInstanceOf[Seq[Any]])
    case Expr.ListLit(_) => ListVal(eval(e, env).asInstanceOf[Seq[Any]])
    case _ => eval(e, env)
  }

  private def fncall(name: String, args: List[Any]): Any = name match {
    case "timestamp" => args match {
      case Nil => System.currentTimeMillis() / 1000
      case List(s: String) =>
        val ts = java.time.LocalDateTime.parse(s)
          .toEpochSecond(java.time.ZoneOffset.UTC)
        // TimeUtils::isValidTimestamp: [0, max_int64 / 1e9]
        if (ts < 0 || ts > 9223372036L)
          throw new DmlError(
            "Storage Error: The data type does not meet the requirements. " +
              "Use the correct type of data.")
        ts
      case List(n: Long) => n
      case _ => throw new DmlError(s"timestamp($args)")
    }
    case "date" => args match {
      case List(s: String) =>
        try java.sql.Date.valueOf(s)
        catch { case _: Exception => throw new DmlError(
          "Storage Error: The data type does not meet the requirements. " +
            "Use the correct type of data.") }
      case List(m: collection.Map[String @unchecked, Any @unchecked]) =>
        java.sql.Date.valueOf(java.time.LocalDate.of(
          mapLong(m, "year", 1970).toInt, mapLong(m, "month", 1).toInt,
          mapLong(m, "day", 1).toInt))
      case Nil => new java.sql.Date(System.currentTimeMillis())
      case _ => throw new DmlError(s"date($args)")
    }
    case "datetime" => args match {
      case List(s: String) => datetimeFromString(s)
      case List(m: collection.Map[String @unchecked, Any @unchecked]) =>
        java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(
          mapLong(m, "year", 1970).toInt, mapLong(m, "month", 1).toInt,
          mapLong(m, "day", 1).toInt, mapLong(m, "hour").toInt,
          mapLong(m, "minute").toInt, mapLong(m, "second").toInt,
          (mapLong(m, "millisecond") * 1000000 +
            mapLong(m, "microsecond") * 1000).toInt))
      case Nil => new java.sql.Timestamp(System.currentTimeMillis())
      case _ => throw new DmlError(s"datetime($args)")
    }
    case "time" => args match {
      case List(s: String) => timeFromString(s)
      case List(m: collection.Map[String @unchecked, Any @unchecked]) =>
        TimeVal(f"${mapLong(m, "hour")}%02d:${mapLong(m, "minute")}%02d:" +
          f"${mapLong(m, "second")}%02d." +
          f"${mapLong(m, "millisecond") * 1000 + mapLong(m, "microsecond")}%06d")
      case Nil =>
        // zero-arg time(): current UTC wall-clock (DEFAULT exprs)
        TimeVal(java.time.LocalTime.now(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("HH:mm:ss.SSSSSS")))
      case _ => throw new DmlError(s"time($args)")
    }
    case "duration" => args match {
      case List(m: collection.Map[String @unchecked, Any @unchecked]) =>
        val bad = m.keySet.diff(Set("years", "months", "days", "hours",
          "minutes", "seconds", "milliseconds", "microseconds"))
        if (bad.nonEmpty) throw new DmlError(s"duration: unknown $bad")
        DurVal(
          months = mapLong(m, "years") * 12 + mapLong(m, "months"),
          seconds = mapLong(m, "days") * 86400 + mapLong(m, "hours") * 3600 +
            mapLong(m, "minutes") * 60 + mapLong(m, "seconds"),
          micros = mapLong(m, "milliseconds") * 1000 +
            mapLong(m, "microseconds"))
      case _ => throw new DmlError(s"duration($args)")
    }
    case "json_extract" => args.head match {
      case s: String =>
        // FunctionManager json_extract: JSON object string → MAP
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
            if (n.isIntegralNumber) n.asLong()
            else if (n.isNumber) n.asDouble()
            else if (n.isBoolean) n.asBoolean()
            else if (n.isTextual) n.asText()
            else if (n.isNull) null
            else if (n.isObject) {
              val b = scala.collection.immutable.ListMap
                .newBuilder[String, Any]
              n.properties().forEach(e2 => b += e2.getKey -> conv(e2.getValue))
              b.result()
            } else if (n.isArray) {
              val b = List.newBuilder[Any]
              n.elements().forEachRemaining(x => b += conv(x))
              b.result()
            } else null
          conv(om.readTree(s)) match {
            case m: collection.Map[_, _] => m
            case _ => null // non-object top level → BAD_DATA/NULL
          }
        } catch { case _: Exception => null }
      case null => null
      case other => throw new DmlError(s"json_extract($other)")
    }
    case "now" => System.currentTimeMillis() / 1000
    case "hash" => graft.functions.NebulaHash.hashValue(args.head)
    case "abs" => args.head match {
      case n: Long => math.abs(n)
      case d: Double => math.abs(d)
      case other => throw new DmlError(s"abs($other)")
    }
    case "tointeger" => args.head match {
      case n: Long => n
      case d: Double => d.toLong
      case s: String => s.trim.toLongOption.orNull
      case _ => null
    }
    case "tofloat" => args.head match {
      case n: Long => n.toDouble
      case d: Double => d
      case s: String => s.trim.toDoubleOption.orNull
      case _ => null
    }
    case "tostring" => args.head match {
      case null => null
      case d: Double => graft.tck.TckRunner.norm(d)
      case v => v.toString
    }
    case "replace" => args match {
      case List(s0: String, o: String, n0: String) => s0.replace(o, n0)
      case List(xs: Seq[_], o, n0) => xs.map(x => if (x == o) n0 else x)
      case _ => throw new DmlError(s"replace($args)")
    }
    case "erase" => args match {
      case List(xs: Seq[_], v) => xs.filterNot(_ == v)
      case _ => throw new DmlError(s"erase($args)")
    }
    case "setadd" => args match {
      case List(xs: Seq[_], v) => if (xs.contains(v)) xs else xs :+ v
      case _ => throw new DmlError(s"setadd($args)")
    }
    case "setdel" => args match {
      case List(xs: Seq[_], v) => xs.filterNot(_ == v)
      case _ => throw new DmlError(s"setdel($args)")
    }
    case "st_geogfromtext" => args match {
      case List(w: String) => geogFromText(w)
      case _ => throw new DmlError(s"st_geogfromtext($args)")
    }
    case "st_point" => args match {
      case List(x, y) =>
        def n(v: Any): String = v match {
          case l: Long => l.toString
          case d: Double => graft.tck.TckRunner.norm(d)
          case other => other.toString
        }
        GeoVal(s"POINT(${n(x)} ${n(y)})", "point")
      case _ => throw new DmlError(s"st_point($args)")
    }
    case "st_astext" => args.head match {
      case GeoVal(w, _) => w
      case s0: String => s0
      case null => null
      case other => throw new DmlError(s"st_astext($other)")
    }
    case "lower" | "tolower" => args.head match {
      case s: String => s.toLowerCase; case _ => null
    }
    case "upper" | "toupper" => args.head match {
      case s: String => s.toUpperCase; case _ => null
    }
    case other =>
      throw new IllegalArgumentException(s"unsupported DML function $other")
  }

  // ---------- execution ----------
  private def cat(g: GraphCatalog): ScenarioCatalog = g match {
    case s: ScenarioCatalog => s
    case _ => throw new IllegalArgumentException(
      "DML needs a mutable (scenario) catalog")
  }

  /** DESCRIBE's rendering of a declared type (meta DESC output):
    * int aliases widen to int64; containers print list_/set_ prefix. */
  /** TTL config validation (meta SchemaUtil): the column must exist
    * and be int/timestamp; a duration without a column is rejected. */
  private def validateTtl(defs: Vector[ScenarioCatalog.PropDef],
                          ttlDur: Option[Long],
                          ttlCol: Option[String]): Unit = {
    ttlCol match {
      case Some(c) if c.nonEmpty =>
        val d = defs.find(_.name == c).getOrElse(
          throw new DmlError(s"ttl_col $c does not exist"))
        if (d.dt != LongType)
          throw new DmlError("Ttl column type illegal")
      case _ =>
        if (ttlDur.exists(_ > 0))
          throw new DmlError("Implicit ttl_col not support")
    }
  }

  private def sparkTypeName(dt: DataType): String = dt match {
    case LongType => "int64"
    case DoubleType => "double"
    case BooleanType => "bool"
    case StringType => "string"
    case DateType => "date"
    case TimestampType => "datetime"
    case other => other.simpleString
  }

  /** Render a stored default value the way SHOW CREATE prints it. */
  private def renderValue(v: Any): String = v match {
    case null => "NULL"
    case s: String => "\"" + s + "\""
    case d: Double => graft.tck.TckRunner.norm(d)
    case other => other.toString
  }

  private def describeTypeName(tpe: String): String = tpe match {
    case "int" => "int64"
    // container element types print their RAW name (list_int, not
    // list_int64 — meta DESC keeps the declared alias inside containers)
    case l if l.startsWith("list<") =>
      "list_" + l.substring(5, l.length - 1)
    case l if l.startsWith("set<") =>
      "set_" + l.substring(4, l.length - 1)
    case other => other
  }

  private def dataTypeOf(tpe: String): DataType = tpe match {
    // set-ness is encoded in containsNull=false: a schema-level SET
    // renders with {...} braces (Value.cpp Set::toString) while LIST
    // renders [...] — the only place the distinction surfaces
    case l if l.startsWith("list<") =>
      ArrayType(dataTypeOf(l.substring(5, l.length - 1)), containsNull = true)
    case l if l.startsWith("set<") =>
      ArrayType(dataTypeOf(l.substring(4, l.length - 1)), containsNull = false)
    case "int" | "int64" | "int32" | "int16" | "int8" | "timestamp" => LongType
    case "double" | "float" => DoubleType
    case "bool" => BooleanType
    case "string" | "fixed_string" => StringType
    case f if f.startsWith("fixed_string(") => StringType
    case "date" => DateType
    case "datetime" => TimestampType
    case "time" => StringType
    case "duration" => StringType
    case g2 if g2.startsWith("geography") => StringType
    case other =>
      throw new IllegalArgumentException(s"unsupported prop type $other")
  }

  /** PropDef-aware coercion: geography props accept only GeoVal (with
    * a matching shape when the schema narrows it); everything else
    * falls through to the type-based rules. */
  private def coerceDef(v: Any, d: ScenarioCatalog.PropDef): Any =
    if (d.typeName.startsWith("geography")) v match {
      case null =>
        if (d.notNull) throw new DmlError(s"prop ${d.name} is NOT NULL")
        else null
      case GeoVal(w, kind) =>
        val want = d.typeName match {
          case "geography" => None
          case t => Some(t.substring(10, t.length - 1))
        }
        if (want.exists(_ != kind))
          throw new DmlError(s"shape $kind does not match ${d.typeName}")
        w
      case other =>
        throw new DmlError(s"wrong type for ${d.name}: $other is not geography")
    }
    else if (d.typeName == "time") v match {
      case null =>
        if (d.notNull) throw new DmlError(s"prop ${d.name} is NOT NULL")
        else null
      case TimeVal(s) => s
      case _ => throw new DmlError(
        "Storage Error: The data type does not meet the requirements. " +
          "Use the correct type of data.")
    }
    else if (d.typeName == "duration") v match {
      case null =>
        if (d.notNull) throw new DmlError(s"prop ${d.name} is NOT NULL")
        else null
      case dv: DurVal => dv.toString
      case _ => throw new DmlError(
        "Storage Error: The data type does not meet the requirements. " +
          "Use the correct type of data.")
    }
    else v match {
      case GeoVal(_, _) =>
        throw new DmlError(s"wrong type for ${d.name}: geography value")
      case _ =>
        val c0 = coerce(v, d.dt, d.name)
        // sized integer columns enforce their storage range (reference
        // "Storage Error: Out of range value." — bugfix/RoundFloat)
        val c = {
          val (lo, hi) = d.typeName match {
            case "int8" => (-128L, 127L)
            case "int16" => (-32768L, 32767L)
            case "int32" => (Int.MinValue.toLong, Int.MaxValue.toLong)
            case _ => (Long.MinValue, Long.MaxValue)
          }
          // the raw double is range-checked BEFORE rounding
          // (2147483647.1 into int32 errors even though it rounds to
          // the max — reference WriteVertexProps)
          v match {
            case dv: Double if d.dt == LongType &&
                (dv < lo.toDouble || dv > hi.toDouble) =>
              throw new DmlError("Storage Error: Out of range value.")
            case _ => ()
          }
          c0 match {
            case n: Long if n < lo || n > hi =>
              throw new DmlError("Storage Error: Out of range value.")
            case other => other
          }
        }
        // fixed_string(N) writes truncate to N BYTES, keeping only
        // complete UTF-8 chars (storage FIXED_STRING semantics,
        // Insert.feature "out of fixed_string's size")
        if (d.typeName.startsWith("fixed_string(")) c match {
          case s: String =>
            val n = d.typeName.substring(13, d.typeName.length - 1).toInt
            truncUtf8Bytes(s, n)
          case other => other
        } else c
    }

  private def truncUtf8Bytes(s: String, n: Int): String = {
    if (s.getBytes("UTF-8").length <= n) return s
    val out = new java.lang.StringBuilder
    var used = 0
    var i = 0
    var stop = false
    while (i < s.length && !stop) {
      val cp = s.codePointAt(i)
      val w = if (cp < 0x80) 1 else if (cp < 0x800) 2
              else if (cp < 0x10000) 3 else 4
      if (used + w > n) stop = true
      else { out.appendCodePoint(cp); used += w; i += Character.charCount(cp) }
    }
    out.toString
  }

  /** Type-check one INSERT/UPDATE value against the declared type —
    * the reference's ExecutionError on wrong-typed writes. Ints widen
    * to double; everything else must match exactly. */
  private def coerce(v: Any, dt: DataType, prop: String): Any = (v, dt) match {
    case (null, _) => null
    case (n: Long, LongType) => n
    case (n: Int, LongType) => n.toLong
    // float/double into an integer column ROUNDS half away from zero
    // (reference issue #3473: WriteVertexProps lround semantics)
    case (d: Double, LongType) =>
      if (d >= 0) math.floor(d + 0.5).toLong else math.ceil(d - 0.5).toLong
    case (n: Long, DoubleType) => n.toDouble
    case (d: Double, DoubleType) => d
    case (s: String, StringType) => s
    // typed temporal values landing in untyped (fixture) string props
    case (t: TimeVal, StringType) => t.s
    case (d2: DurVal, StringType) => d2.toString
    case (b: Boolean, BooleanType) => b
    case (d: java.sql.Date, DateType) => d
    case (t: java.sql.Timestamp, TimestampType) => t
    // collection kind must match the declared container: set props
    // store ArrayType(containsNull = false), list props true; a plain
    // Seq (function result, stored value) is kind-agnostic. Inside
    // LITERAL containers the element type is STRICT (no float→int
    // rounding) — Insert.feature rejects {40.5} into Set<int>.
    case (SetVal(xs), ArrayType(et, false)) =>
      xs.map(x => coerceElem(x, et, prop))
    case (ListVal(xs), ArrayType(et, true)) =>
      xs.map(x => coerceElem(x, et, prop))
    case (SetVal(_), ArrayType(_, true)) |
         (ListVal(_), ArrayType(_, false)) =>
      throw new DmlError(
        "Storage Error: The data type does not meet the requirements. " +
          "Use the correct type of data.")
    case (xs: Seq[_], ArrayType(et, _)) =>
      xs.map(x => coerce(x, et, prop))
    case (other, _) =>
      throw new DmlError(s"wrong type for $prop: $other is not $dt")
  }

  /** Element coercion inside containers: like `coerce` but strict on
    * numeric narrowing (a Double into an int element is a type error,
    * not a round). */
  private def coerceElem(v: Any, dt: DataType, prop: String): Any =
    (v, dt) match {
      case (_: Double, LongType) =>
        throw new DmlError(
          "Storage Error: The data type does not meet the requirements. " +
            "Use the correct type of data.")
      case _ => coerce(v, dt, prop)
    }

  /** A CREATE TAG/EDGE prop spec as a catalog PropDef. A wall-clock
    * default stays an expression (evaluated per write); any other
    * default is evaluated and coerced once, here. */
  private def propDef(spec: PropSpec): ScenarioCatalog.PropDef = {
    val proto = ScenarioCatalog.PropDef(spec.name, dataTypeOf(spec.tpe),
      spec.notNull, typeName = describeTypeName(spec.tpe),
      comment = spec.comment)
    spec.default match {
      case Some(e) if isDynDefault(e) =>
        proto.copy(hasDefault = true, default = DynDefault(Expr.text(e), e))
      case Some(e) =>
        proto.copy(hasDefault = true, default = coerceDef(evalConst(e), proto))
      case None => proto
    }
  }

  private def propDefs(g: ScenarioCatalog, isTag: Boolean, name: String) =
    (if (isTag) g.tagDefs else g.edgeDefs).getOrElse(name,
      throw new DmlError(
        s"${if (isTag) "tag" else "edge"} $name does not exist"))

  /** Build the full prop-value array for one insert row: named props
    * from values, the rest from defaults / NULL; strict arity and
    * name checks (SemanticError), type checks (ExecutionError). */
  /** One prop row built entirely from schema defaults / NULLs — an
    * UPSERT seeding a missing key (reference UpdateExecutor
    * insertable path). */
  private def defaultRow(defs: Vector[ScenarioCatalog.PropDef]): Seq[Any] =
    defs.map { d =>
      if (d.hasDefault) d.default match {
        case DynDefault(_, e) => coerceDef(evalConst(e), d)
        case v => v
      }
      else if (!d.notNull) null
      else throw new DmlError(s"prop ${d.name} has no default")
    }

  private def buildRow(defs: Vector[ScenarioCatalog.PropDef],
                       names: Option[Vector[String]],
                       vals: Vector[Any]): Array[Any] = {
    val given = names.getOrElse(defs.map(_.name))
    if (given.size != vals.size)
      throw new DmlError(
        s"value count ${vals.size} != prop count ${given.size}")
    val byName = given.zip(vals).toMap
    given.foreach { n =>
      if (!defs.exists(_.name == n)) throw new DmlError(s"unknown prop $n")
    }
    defs.map { d =>
      byName.get(d.name) match {
        case Some(v) =>
          val c = coerceDef(v, d)
          if (c == null && d.notNull)
            throw new DmlError(s"prop ${d.name} is NOT NULL")
          c
        case None =>
          if (d.hasDefault) d.default match {
            case DynDefault(_, e) => coerceDef(evalConst(e), d)
            case v => v
          }
          else if (!d.notNull) null
          else throw new DmlError(s"prop ${d.name} has no default")
      }
    }.toArray
  }

  private def evalConst(e: Expr.E): Any = evalProp(e, _ => None)

  private def evalVid(g: ScenarioCatalog, v: Any): Any =
    (v, g.vidIsInt) match {
      case (s: String, false) =>
        // FIXED_STRING(N) space: overlong vids are a storage reject
        // (reference issue #4397, VidInvalidLength.feature)
        g.vidLen.filter(_ < s.getBytes("UTF-8").length).foreach { n =>
          throw new DmlError("Storage Error: The VID must be a 64-bit " +
            "integer or a string fitting space vertex id length limit.")
        }
        s
      case (n: Long, true) => n
      case (n: Int, true) => n.toLong
      case (other, _) =>
        throw new DmlError(s"vid $other does not match the space vid type")
    }

  /** One-row result frame for UPDATE ... YIELD. */
  private def yieldFrame(spark: SparkSession, items: Seq[Item],
                         env: String => Option[Any]): DataFrame = {
    val vals = items.map(i => i.alias -> eval(i.e, env))
    def dtOf(v: Any): DataType = v match {
      case _: Long => LongType
      case _: Int => LongType
      case _: Double => DoubleType
      case _: Boolean => BooleanType
      case _: java.sql.Date => DateType
      case _: java.sql.Timestamp => TimestampType
      case xs: Seq[_] =>
        ArrayType(xs.headOption.map(dtOf).getOrElse(StringType))
      case _ => StringType
    }
    val fields = vals.map { case (n, v) => StructField(n, dtOf(v)) }
    val row = Row.fromSeq(vals.map {
      case (_, i: Int) => i.toLong
      case (_, v) => v
    })
    spark.createDataFrame(Seq(row).asJava, StructType(fields))
  }

  private def emptyOk(spark: SparkSession): DataFrame =
    spark.emptyDataFrame

  /** Shared UPDATE/UPSERT row engine. All mutations stage on a COPY
    * and commit only when the whole statement (SETs + YIELD) evaluates
    * — the reference validates the full statement before writing, so a
    * bad YIELD ref must not half-apply the SETs (Update.feature: the
    * SemanticError "Has wrong expr" statements leave state untouched).
    * SET items evaluate SEQUENTIALLY (each sees the previous item's
    * result — UpdateExecutor applies props in order). On a missing key
    * UPSERT inserts regardless of WHEN (UpdateExecutor insertable
    * path), starting from schema defaults.
    * Returns (rowToCommit?, yieldFrame). */
  private def applyUpdate(spark: SparkSession,
                          defs: Vector[ScenarioCatalog.PropDef],
                          existing: Option[Array[Any]],
                          sets: Vector[(String, Expr.E)],
                          when: Option[Expr.E], yields: Option[Seq[Item]],
                          upsert: Boolean,
                          what: String): (Option[Array[Any]], DataFrame) = {
    sets.foreach { case (n, _) =>
      if (!defs.exists(_.name == n)) throw new DmlError(s"unknown prop $n")
    }
    def envOf(arr: Array[Any]): String => Option[Any] = n =>
      defs.indexWhere(_.name == n) match {
        case -1 => None
        case i => Some(arr(i))
      }
    def applySets(work: Array[Any]): Unit =
      sets.foreach { case (n, e) =>
        val i = defs.indexWhere(_.name == n)
        work(i) = coerceDef(evalProp(e, envOf(work)), defs(i))
      }
    existing match {
      case Some(arr) =>
        val work = arr.clone()
        // WHEN must be boolean-typed — the reference raises
        // SemanticError "expected Boolean, but was `INT'" for e.g.
        // `WHEN 123` / `WHEN credits` (Update.feature:241-255)
        val pass = when.forall { w =>
          eval(w, envOf(arr)) match {
            case b: java.lang.Boolean => b.booleanValue
            case null => false
            case other => throw new DmlError(
              s"`${Expr.text(w)}', expected Boolean, but was ${other.getClass.getSimpleName}")
          }
        }
        if (pass) applySets(work)
        val out = yields.map(items => yieldFrame(spark, items, envOf(work)))
          .getOrElse(emptyOk(spark))
        (if (pass) Some(work) else None, out)
      case None if upsert =>
        val work = defs.map(d2 =>
          if (d2.hasDefault) d2.default else null).toArray[Any]
        applySets(work)
        defs.zipWithIndex.foreach { case (d2, i) =>
          if (d2.notNull && work(i) == null)
            throw new DmlError(s"NOT NULL prop ${d2.name} unset in UPSERT")
        }
        val out = yields.map(items => yieldFrame(spark, items, envOf(work)))
          .getOrElse(emptyOk(spark))
        (Some(work), out)
      case None =>
        throw new DmlError(s"$what not found")
    }
  }

  def exec(g0: GraphCatalog, d: DStmt,
           env: Map[String, DataFrame],
           input: Option[DataFrame]): DataFrame = g0 match {
    case tc: graft.graph.TableCatalog => execTable(tc, d, env, input)
    case _ => execScenario(g0, d, env, input)
  }

  /** The key frame of a piped DML sentence, for both executors: one
    * `$-.c` / `$var.c` ref gives a `vid` column, an edge's
    * `$-.s -> $-.d [@ $-.r]` gives `src, dst, rank` (rank cast to
    * bigint, 0 when absent). The rows come from the first ref's frame:
    * the pipe input or the named variable. Vids are left as they come;
    * the table space casts them to its vid type, the scenario space
    * type-checks the collected values (evalVid). */
  private def pipedKeys(sentence: String, refs: Seq[InRef],
                        env: Map[String, DataFrame],
                        input: Option[DataFrame]): DataFrame = {
    val frame = refs.head.varName match {
      case None => input.getOrElse(throw new IllegalArgumentException(
        s"$sentence $$-. needs a pipe"))
      case Some(v) => env.getOrElse(v, throw new IllegalArgumentException(
        s"undefined $$$v"))
    }
    val keyCols = refs match {
      case Seq(id) => Seq(col(id.colName).as("vid"))
      case Seq(s, d, rank @ _*) => Seq(col(s.colName).as("src"),
        col(d.colName).as("dst"),
        rank.headOption.fold(lit(0L))(r => col(r.colName).cast(LongType))
          .as("rank"))
    }
    frame.select(keyCols: _*)
  }

  /** DML against a parquet-backed TableCatalog — the AT-SCALE path.
    * Each sentence is a keyed write through Mutations.KeyedTable
    * (staged-commit anti/semi joins) on the target's key columns: `vid`
    * for a tag, `src, dst, rank` for an edge type. Vertex and edge
    * forms share the INSERT and UPDATE/UPSERT code. Literal rows become
    * DataFrames with one row per key; piped `$-`/`$var` key sets
    * (pipedKeys) STAY DataFrames end to end — a `LOOKUP ... | DELETE
    * VERTEX $-.id` plans one anti join per table, never a driver
    * collect. Sentence subset = what a bulk pipeline issues (schema DDL
    * + INSERT/UPDATE/UPSERT/DELETE); scenario-only surfaces
    * (UPDATE...YIELD, multi-tag INSERT, TTL DDL) stay on
    * ScenarioCatalog. */
  private def execTable(tc: graft.graph.TableCatalog, d: DStmt,
                        env: Map[String, DataFrame],
                        input: Option[DataFrame]): DataFrame = {
    val spark = tc.spark
    def vid(v: Any): Any = (v, tc.vidIsInt) match {
      case (s: String, false) => s
      case (n: Long, true) => n
      case (n: Int, true) => n.toLong
      case (other, _) =>
        throw new DmlError(s"vid $other does not match the space vid type")
    }
    def vidDt: DataType = if (tc.vidIsInt) LongType else StringType
    // a literal key tuple in the space's types: vids checked, rank kept
    def key(k: Seq[Any]): Seq[Any] = k match {
      case Seq(s, d2, r) => Seq(vid(s), vid(d2), r)
      case vs => vs.map(vid)
    }
    // literal keys, one row per distinct key: a frame the driver holds,
    // which KeyedTable applies as a key predicate
    def literalKeys(cols: Seq[String], keys: Seq[Seq[Any]]): DataFrame =
      spark.createDataFrame(keys.map(key).distinct.map(Row.fromSeq).asJava,
        StructType(cols.map(c =>
          StructField(c, if (c == "rank") LongType else vidDt))))
    // a piped key set with vids cast to the space's vid type,
    // materialized (a block-store checkpoint, not a collect) before the
    // first table swap: it may read the very files the write replaces
    def pipedKeySet(sentence: String, refs: Seq[InRef]): DataFrame = {
      val ks = pipedKeys(sentence, refs, env, input)
      ks.select(ks.columns.toSeq.map(c =>
        if (c == "rank") col(c) else col(c).cast(vidDt).as(c)): _*).mat()
    }
    // typed scenario values flatten to their storage rendering
    def plain(v: Any): Any = v match {
      case GeoVal(w, _) => w
      case t: TimeVal => t.s
      case dv: DurVal => dv.toString
      case other => other
    }
    // one literal row per key, as the scenario space applies them: the
    // last INSERT row for a key wins, the first under IF NOT EXISTS
    def insertRows(kt: graft.operators.Mutations.KeyedTable,
                   schema: StructType, defs: Vector[ScenarioCatalog.PropDef],
                   names: Option[Vector[String]],
                   rows: Seq[(Seq[Any], Vector[Expr.E])],
                   ifNotExists: Boolean): DataFrame = {
      val byKey = mutable.LinkedHashMap.empty[Seq[Any], Row]
      rows.foreach { case (k0, vals) =>
        val k = key(k0)
        val props =
          buildRow(defs, names, vals.map(evalConst)).toSeq.map(plain)
        if (!(ifNotExists && byKey.contains(k)))
          byKey(k) = Row.fromSeq(k ++ props)
      }
      val df = spark.createDataFrame(byKey.values.toSeq.asJava, schema)
      if (ifNotExists) kt.insertIfNotExists(df) else kt.insert(df)
      emptyOk(spark)
    }
    // SET / WHEN read the target's props bare or as `<target>.<prop>`
    def setResolver(u: Update, schema: StructType): Expr.Resolver =
      (if (u.isTag) Binding(vertices = Map("vertex" -> Binding.Vertex(col("vid"),
        Seq(u.target), _ => schema.fields.toSeq.filter(_.name != "vid"))))
      else Binding(edges = Map("edge" -> Binding.stored(Seq(new Binding.EdgeType(
        u.target, 0, Binding.edgeProps(schema.fields.toSeq))))))).resolver
    d match {
      case CreateSchema(isTag, name, props, ifNotExists, ttlDur, ttlCol, _) =>
        require(ttlDur.isEmpty && ttlCol.isEmpty,
          "unsupported TTL on a table space")
        val defs = props.map(propDef)
        val m = if (isTag) tc.tagDefs else tc.edgeDefs
        if (m.contains(name)) {
          if (!ifNotExists) throw new DmlError(s"Existed schema $name")
        } else m(name) = defs
        emptyOk(spark)
      case InsertVertex(tags, rows, ifNotExists, _) =>
        require(tags.size == 1,
          "unsupported multi-tag INSERT on a table space")
        val (t, names) = tags.head
        val defs = tc.tagDefs.getOrElse(t,
          throw new DmlError(s"unknown tag $t"))
        insertRows(tc.tagTable(t), tc.tagSchema(t), defs, names,
          rows.map { case (v, vals) => (Seq(v), vals) }, ifNotExists)
      case InsertEdge(etype, names, rows, ifNotExists, _) =>
        val defs = tc.edgeDefs.getOrElse(etype,
          throw new DmlError(s"unknown edge $etype"))
        insertRows(tc.edgeTable(etype), tc.edgeSchema(etype), defs, names,
          rows.map { case (s, d2, r, vals) => (Seq(s, d2, r), vals) },
          ifNotExists)
      case u: Update =>
        require(u.yields.forall(_.isEmpty),
          "unsupported UPDATE...YIELD on a table space")
        val (kt, schema, defs) =
          if (u.isTag) (tc.tagTable(u.target), tc.tagSchema(u.target),
            tc.tagDefs(u.target))
          else (tc.edgeTable(u.target), tc.edgeSchema(u.target),
            tc.edgeDefs(u.target))
        val whenC = u.when.map(w => Expr.compile(w, setResolver(u, schema)))
        // each SET value is cast to its prop's declared type, rounding
        // a fractional value into an int prop half away from zero, as
        // `coerce` does: the column keeps its type
        val assigns = u.sets.map { case (p, e) =>
          val v = Expr.compile(e, setResolver(u, schema))
          p -> (defs.find(_.name == p).map(_.dt) match {
            case Some(LongType) => round(v).cast(LongType)
            case Some(dt) => v.cast(dt)
            case None => throw new DmlError(s"unknown prop $p")
          })
        }
        // literal keys are a frame the driver holds (a key predicate in
        // KeyedTable), piped keys a key-set join, never a collect
        val seed = u.keyRefs match {
          case None if u.upsert =>
            // missing keys are seeded with schema defaults, then the
            // SET applies over the merged frame — one staged write
            val seedProps = defaultRow(defs).map(plain)
            spark.createDataFrame(u.keyRows.map(key).distinct
              .map(k => Row.fromSeq(k ++ seedProps)).asJava, schema)
          case None => literalKeys(kt.keys, u.keyRows)
          case Some(refs) =>
            val ks = pipedKeySet(u.sentence, refs)
            if (!u.upsert) ks
            else ks.select(ks.columns.toSeq.map(col) ++
              schema.fields.toSeq.drop(kt.keys.size)
                .zip(defaultRow(defs).map(plain)).map { case (f2, v) =>
                  lit(v).cast(f2.dataType).as(f2.name) }: _*)
        }
        // a literal key the table lacks fails the statement, as on the
        // scenario space, and no key applies
        try kt.updateByKeys(seed, insertMissing = u.upsert, whenC, assigns: _*)
        catch {
          case graft.operators.Mutations.KeyNotFound(k) =>
            throw new DmlError(
              if (u.isTag) s"vertex ${k.head} on tag ${u.target} not found"
              else s"edge ${(k(0), k(1), k(2))} on ${u.target} not found")
        }
        emptyOk(spark)
      case DeleteVertex(vids, ref, withEdge) =>
        val ids = ref match {
          case Some(r) => pipedKeySet("DELETE VERTEX", Seq(r))
          case None => literalKeys(Seq("vid"), vids.map(Seq(_)))
        }
        tc.tagNames.foreach { t =>
          val tb = tc.tagTable(t); if (tb.exists) tb.delete(ids)
        }
        if (withEdge) tc.edgeTypeNames.foreach { e =>
          val tb = tc.edgeTable(e)
          if (tb.exists) tb.deleteTouching(ids, Seq("src", "dst"))
        }
        emptyOk(spark)
      case DeleteEdge(etype, keys, refKeys) =>
        val tb = tc.edgeTable(etype)
        val keyDf = refKeys match {
          case Some(k) => pipedKeySet("DELETE EDGE", edgeRefs(k))
          case None => literalKeys(tb.keys,
            keys.map { case (s, d2, r) => Seq(s, d2, r) })
        }
        if (tb.exists) tb.delete(keyDf)
        emptyOk(spark)
      case other =>
        throw new IllegalArgumentException(
          "unsupported sentence for a table-backed space: " +
            other.getClass.getSimpleName)
    }
  }

  private def execScenario(g0: GraphCatalog, d: DStmt,
                           env: Map[String, DataFrame],
                           input: Option[DataFrame]): DataFrame = {
    val spark = g0.session
    // a piped key set collects: scenario spaces are driver-sized (tens
    // of rows); the at-scale DML route is TableCatalog / execTable
    def collectKeys(sentence: String, refs: Seq[InRef]): Seq[Seq[Any]] =
      pipedKeys(sentence, refs, env, input).collect().toSeq.map(_.toSeq)
    d match {
      case AdminNoop(_) => emptyOk(spark)
      case CreateSchema(isTag, name, props, ifNotExists, ttlDur, ttlCol,
          comment) =>
        val g = cat(g0)
        // repeated prop name is a conflict (meta SchemaUtil check)
        if (props.map(_.name).distinct.size != props.size)
          throw new DmlError(s"duplicate prop in $name")
        val defs = props.map(propDef)
        validateTtl(defs, ttlDur, ttlCol)
        if (isTag) g.createTag(name, defs, ifNotExists)
        else g.createEdge(name, defs, ifNotExists)
        if (ttlCol.isDefined || ttlDur.exists(_ != 0)) {
          val m = if (isTag) g.tagTtl else g.edgeTtl
          m(name) = (ttlCol.getOrElse(""), math.max(ttlDur.getOrElse(0L), 0L))
        }
        comment.foreach { c =>
          (if (isTag) g.tagComment else g.edgeComment)(name) = c
        }
        emptyOk(spark)
      case CreateSpace(name, vidType, comment, ifNotExists) =>
        val g = cat(g0)
        if (g.spaceDefs.contains(name)) {
          if (!ifNotExists)
            throw new DmlError(s"Existed space $name")
        } else {
          val vt =
            if (vidType.startsWith("AS:")) {
              val origin = vidType.substring(3)
              g.spaceDefs.getOrElse(origin,
                throw new DmlError(s"space $origin not found"))._1
            } else vidType
          g.spaceDefs(name) = (vt, comment)
          // the scenario's data catalog adopts the FIRST created
          // space's vid type while still empty (CREATE SPACE + USE
          // + INSERT scripts, With.feature `condition on nonexist
          // prop`): int vids must key as longs
          if (g.tagRows.values.forall(_.isEmpty) &&
              g.edgeRows.values.forall(_.isEmpty)) {
            val up = vt.toUpperCase
            if (up.contains("INT")) { g.vidIsInt = true; g.vidLen = None }
            else "FIXED_STRING\\((\\d+)\\)".r.findFirstMatchIn(up)
              .foreach { m =>
                g.vidIsInt = false; g.vidLen = Some(m.group(1).toInt)
              }
          }
        }
        emptyOk(spark)
      case DescSpace(name) =>
        val g = cat(g0)
        val (vt, comment) = g.spaceDefs.getOrElse(name,
          throw new DmlError(s"space $name not found"))
        val id = g.spaceDefs.keys.toSeq.indexOf(name) + 1
        val schema2 = StructType(Seq(
          StructField("ID", LongType), StructField("Name", StringType),
          StructField("Partition Number", LongType),
          StructField("Replica Factor", LongType),
          StructField("Charset", StringType),
          StructField("Collate", StringType),
          StructField("Vid Type", StringType),
          StructField("Comment", StringType)))
        spark.createDataFrame(java.util.List.of(
          Row(id.toLong, name, 1L, 1L, "utf8", "utf8_bin",
            vt.toUpperCase.replace("FIXED_STRING(", "FIXED_STRING(").trim,
            // comment = '' prints as empty; never-set prints NULL
            comment.orNull)), schema2)
      case ShowCreateSpace(name) =>
        val g = cat(g0)
        val (vt, comment) = g.spaceDefs.getOrElse(name,
          throw new DmlError(s"space $name not found"))
        val stmt = s"CREATE SPACE `$name` (partition_num = 1, " +
          "replica_factor = 1, charset = utf8, collate = utf8_bin, " +
          s"vid_type = $vt, atomic_edge = false) ON default" +
          comment.map(c => s" comment = '$c'").getOrElse("")
        val schema2 = StructType(Seq(StructField("Space", StringType),
          StructField("Create Space", StringType)))
        spark.createDataFrame(java.util.List.of(Row(name, stmt)), schema2)
      case CreateIndex(isTag, index, schema, cols, withOpts, comment,
                       ifNotExists) =>
        val g = cat(g0)
        val defs = (if (isTag) g.tagDefs else g.edgeDefs).getOrElse(schema,
          throw new DmlError(s"unknown ${if (isTag) "tag" else "edge"} $schema"))
        // meta-side validation (IndexProcessor::checkIndexFields):
        // the name, the exact column sequence (an empty list — index
        // on the tag itself — is legal), each column's existence, and
        // no repeated column. IF NOT EXISTS tolerates both duplicate
        // forms (Index.feature:22).
        val dupName = g.indexDefs.contains(index)
        val dupCols = g.indexDefs.values.exists { case (t, s, cs, _, _) =>
          t == isTag && s == schema && cs.map(_._1) == cols.map(_._1) }
        if ((dupName || dupCols) && ifNotExists) emptyOk(spark)
        else {
          if (dupName) throw new DmlError(s"index $index existed")
          if (cols.map(_._1).distinct.size != cols.size)
            throw new DmlError("duplicate column")
          // MAX_INDEX_FIELD_NUM = 16 (IndexProcessor)
          if (cols.size > 16)
            throw new DmlError("Invalid param! Too many index fields.")
          // (the inverse — ALTER configuring TTL on an indexed schema —
          // rejects; creating an index on a TTL schema is allowed,
          // TTL2.feature `ttl base`)
          cols.foreach { case (c, len) =>
            val d = defs.find(_.name == c).getOrElse(
              throw new DmlError(s"column $c not found in $schema"))
            if (len.exists(_ <= 0))
              throw new IllegalArgumentException(
                "syntax error: string prefix length must be positive")
            if (len.exists(_ > 256))
              throw new DmlError("Invalid param!") // MAX_INDEX_TYPE_LENGTH
            if (d.typeName == "duration" ||
                d.typeName.startsWith("list") ||
                d.typeName.startsWith("set") ||
                d.typeName.startsWith("map"))
              throw new DmlError("Invalid param!")
            // a variable-length string index needs an explicit prefix
            // length (IndexProcessor: string col without length)
            if (d.typeName == "string" && len.isEmpty)
              throw new DmlError(s"string column $c needs a length")
            // ...and a FIXED_STRING column must NOT specify one — its
            // index length IS the fixed size (Index.feature:2212)
            if (d.typeName.startsWith("fixed_string(") && len.isDefined)
              throw new DmlError(
                "Invalid param! Fixed string column takes no index length.")
          }
          if (dupCols)
            throw new DmlError("duplicate index on the same columns")
          g.indexDefs(index) = (isTag, schema, cols, withOpts, comment)
          // stale-index visibility: rows already stored are NOT in the
          // new index until REBUILD (Index.feature rebuild scenarios)
          g.indexVisible.getOrElseUpdate((isTag, schema),
            scala.collection.mutable.Set.empty[Any])
          emptyOk(spark)
        }
      case DescIndex(isTag, index) =>
        val g = cat(g0)
        val (kindTag, schema0, cols, _, _) = g.indexDefs.getOrElse(index,
          throw new DmlError(s"unknown index $index"))
        if (kindTag != isTag) throw new DmlError("index kind mismatch")
        val defs = (if (isTag) g.tagDefs else g.edgeDefs)(schema0)
        val schema2 = StructType(Seq(StructField("Field", StringType),
          StructField("Type", StringType)))
        val rows = cols.map { case (c, _) =>
          Row(c, describeTypeName(
            defs.find(_.name == c).map(_.typeName).getOrElse("string")))
        }
        spark.createDataFrame(rows.asJava, schema2)
      case DropIndex(isTag, index, ifExists) =>
        val g = cat(g0)
        g.indexDefs.get(index) match {
          case Some((kindTag, schema0, _, _, _)) if kindTag == isTag =>
            g.indexDefs -= index
            if (!g.indexDefs.values.exists(v =>
                  v._1 == isTag && v._2 == schema0)) {
              g.indexVisible -= ((isTag, schema0))
              g.staleIndexRows -= ((isTag, schema0))
            }
          case Some(_) =>
            throw new DmlError("index kind mismatch")
          case None if ifExists => ()
          case None => throw new DmlError(s"unknown index $index")
        }
        emptyOk(spark)
      case RebuildIndex(isTag, names) =>
        val g = cat(g0)
        names.foreach { n =>
          if (!g.indexDefs.get(n).exists(_._1 == isTag))
            throw new DmlError(s"unknown index $n")
        }
        // bare REBUILD TAG/EDGE INDEX; backfills every index of the
        // kind; a name list backfills just those indexes' schemas
        val schemas =
          if (names.isEmpty)
            g.indexDefs.values.collect {
              case (t, s, _, _, _) if t == isTag => s }.toSet
          else names.flatMap(n => g.indexDefs.get(n).map(_._2)).toSet
        schemas.foreach { s =>
          val all: Iterable[Any] =
            if (isTag) g.tagRows.get(s).map(_.keys).getOrElse(Nil)
            else g.edgeRows.get(s).map(_.keys).getOrElse(Nil)
          g.indexVisible((isTag, s)) =
            scala.collection.mutable.Set.empty[Any] ++ all
          g.staleIndexRows -= ((isTag, s)) // rebuild repairs the index
        }
        // a bare rebuild reports under the meta job's catch-all name
        val jobName =
          if (names.nonEmpty) names.mkString(",")
          else if (isTag) "all_tag_indexes" else "all_edge_indexes"
        g.rebuiltJobs += (isTag -> jobName)
        emptyOk(spark)
      case ShowSchemas(isTag) =>
        val names = g0 match {
          case sc: ScenarioCatalog =>
            (if (isTag) sc.tagDefs else sc.edgeDefs).keys.toSeq.filter {
              n => sc.schemaSpace.getOrElse((isTag, n), None) ==
                sc.currentSpace
            }
          case other =>
            if (isTag) other.tagNames else other.edgeTypeNames
        }
        val schema2 = StructType(Seq(StructField("Name", StringType)))
        spark.createDataFrame(names.map(Row(_)).asJava, schema2)
      case UseSpace(name) =>
        g0 match {
          case sc: ScenarioCatalog => sc.currentSpace = Some(name)
          case _ => ()
        }
        emptyOk(spark)
      case ShowStats =>
        val g = cat(g0)
        val schema2 = StructType(Seq(StructField("Type", StringType),
          StructField("Name", StringType), StructField("Count", LongType)))
        val tagRows2 = g.tagDefs.keys.toSeq.map(t =>
          Row("Tag", t, g.tagRows.get(t).map(_.size.toLong).getOrElse(0L)))
        val edgeRows2 = g.edgeDefs.keys.toSeq.map(e2 =>
          Row("Edge", e2,
            g.edgeRows.get(e2).map(_.size.toLong).getOrElse(0L)))
        val verts = g.tagRows.values.flatMap(_.keys).toSet.size.toLong
        val edges2 = g.edgeRows.values.map(_.size.toLong).sum
        val spaceRows = Seq(Row("Space", "vertices", verts),
          Row("Space", "edges", edges2))
        spark.createDataFrame(
          (tagRows2 ++ edgeRows2 ++ spaceRows).asJava, schema2)
      case ClearSpace(name, ifExists) =>
        val g = cat(g0)
        if (!g.spaceDefs.contains(name)) {
          if (!ifExists)
            throw new DmlError("SpaceNotFound: Space not existed!")
        } else {
          g.tagRows.values.foreach(_.clear())
          g.edgeRows.values.foreach(_.clear())
          g.indexVisible.values.foreach(_.clear())
          g.staleIndexRows.clear()
        }
        emptyOk(spark)
      case DropSpace(name, _) =>
        // lenient on unknown names: the scenario's background space is
        // registry-less, and no golden asserts a DROP SPACE error
        val g = cat(g0)
        g.spaceDefs -= name
        // the space's schemas leave the listings with it
        val gone = g.schemaSpace.collect {
          case (k, Some(sp)) if sp == name => k }.toSeq
        gone.foreach { case (isTag2, n) =>
          if (isTag2) g.dropTag(n) else g.dropEdge(n)
          g.schemaSpace -= ((isTag2, n))
        }
        if (g.currentSpace.contains(name)) g.currentSpace = None
        emptyOk(spark)
      case ShowHosts =>
        // one static row: the library's "cluster" is this Spark
        // session. Host/port render from the driver; the partition
        // columns are meaningless without storaged and render the
        // reference's empty-distribution string.
        val schemaH = StructType(Seq(
          StructField("Host", StringType), StructField("Port", LongType),
          StructField("Status", StringType),
          StructField("Leader count", LongType),
          StructField("Leader distribution", StringType),
          StructField("Partition distribution", StringType),
          StructField("Version", StringType)))
        spark.createDataFrame(Seq(Row("localhost", 9669L, "ONLINE", 0L,
          "No valid partition", "No valid partition",
          org.apache.spark.SPARK_VERSION)).asJava, schemaH)
      case ShowSpaces =>
        // fixture spaces have no registry; the scenario catalog lists
        // its CREATE SPACE entries (listing only — success assertion)
        val names = g0 match {
          case sc: ScenarioCatalog => sc.spaceDefs.keys.toSeq
          case _ => Seq("nba")
        }
        val schema2 = StructType(Seq(StructField("Name", StringType)))
        spark.createDataFrame(names.map(Row(_)).asJava, schema2)
      case ShowIndexStatus(isTag) =>
        val g = cat(g0)
        val schema2 = StructType(Seq(StructField("Name", StringType),
          StructField("Index Status", StringType)))
        val rows = g.rebuiltJobs.filter(_._1 == isTag)
          .map { case (_, n) => Row(n, "FINISHED") }
        spark.createDataFrame(rows.asJava, schema2)
      case ShowIndexes(isTag, by) =>
        val g = cat(g0)
        val withBy = by.isEmpty
        val fields =
          (if (withBy) Seq(StructField("Index Name", StringType),
            StructField(s"By ${if (isTag) "Tag" else "Edge"}", StringType))
           else Seq(StructField("Index Name", StringType))) :+
            StructField("Columns", ArrayType(StringType))
        val rows = g.indexDefs.toSeq.collect {
          case (n, (t, s, cs, _, _))
              if t == isTag && by.forall(_ == s) =>
            if (withBy) Row(n, s, cs.map(_._1))
            else Row(n, cs.map(_._1))
        }
        spark.createDataFrame(rows.asJava, StructType(fields))
      case ShowCreateIndex(isTag, index) =>
        val g = cat(g0)
        val (kindTag0, schema0, cols, withOpts, comment) =
          g.indexDefs.getOrElse(index,
            throw new DmlError(s"unknown index $index"))
        if (kindTag0 != isTag) throw new DmlError("index kind mismatch")
        val kind = if (isTag) "TAG" else "EDGE"
        val colList = cols.map { case (c, len) =>
          s" `$c`" + len.map(n => s"($n)").getOrElse("")
        }.mkString(",\n")
        val withPart =
          if (withOpts.isEmpty) ""
          else withOpts.map { case (k, v) => s"$k = $v" }
            .mkString(" WITH (", ", ", ")")
        val stmt = s"CREATE $kind INDEX `$index` ON `$schema0` (\n" +
          colList + "\n)" + withPart +
          comment.map(c => s""" comment "$c"""").getOrElse("")
        val title = if (isTag) "Tag" else "Edge"
        val schema2 = StructType(Seq(
          StructField(s"$title Index Name", StringType),
          StructField(s"Create $title Index", StringType)))
        spark.createDataFrame(java.util.List.of(Row(index, stmt)), schema2)
      case ShowCreate(isTag, name) =>
        val g = cat(g0)
        val defs = (if (isTag) g.tagDefs else g.edgeDefs).getOrElse(name,
          throw new DmlError(s"unknown ${if (isTag) "tag" else "edge"} $name"))
        val (ttlCol, ttlDur) =
          (if (isTag) g.tagTtl else g.edgeTtl).getOrElse(name, ("", 0L))
        val kind = if (isTag) "TAG" else "EDGE"
        val fields = defs.map { d2 =>
          val base = s" `${d2.name}` ${d2.typeName match {
            case "" => sparkTypeName(d2.dt); case t => t
          }} ${if (d2.notNull) "NOT NULL" else "NULL"}"
          val withDef =
            if (d2.hasDefault) s"$base DEFAULT ${renderValue(d2.default)}"
            else base
          d2.comment.map(c => s"""$withDef COMMENT "$c"""").getOrElse(withDef)
        }
        val schemaComment =
          (if (isTag) g.tagComment else g.edgeComment).get(name)
            .map(c => s""", comment = "$c"""").getOrElse("")
        val stmt = s"CREATE $kind `$name` (\n" +
          fields.mkString(",\n") +
          s"\n) ttl_duration = $ttlDur, ttl_col = " + "\"" + ttlCol + "\"" +
          schemaComment
        val title = if (isTag) "Tag" else "Edge"
        val schema2 = StructType(Seq(StructField(title, StringType),
          StructField(s"Create $title", StringType)))
        spark.createDataFrame(
          java.util.List.of(Row(name, stmt)), schema2)
      case CreateFulltext(isTag, index, schema, cols) =>
        val g = cat(g0)
        val defs = (if (isTag) g.tagDefs else g.edgeDefs).getOrElse(schema,
          throw new DmlError(s"unknown ${if (isTag) "tag" else "edge"} $schema"))
        if (g.fulltextDefs.contains(index))
          throw new DmlError(s"fulltext index $index existed")
        // only text props are analyzable — anything else is the
        // reference's "Unsupported!" ExecutionError
        // (FultextIndexDDL.feature prop3 int)
        cols.foreach { c =>
          val d = defs.find(_.name == c).getOrElse(
            throw new DmlError(s"column $c not found in $schema"))
          if (!(d.typeName == "string" || d.typeName.startsWith("fixed_string") ||
                d.dt == StringType))
            throw new DmlError("Unsupported!")
        }
        g.fulltextDefs(index) = (isTag, schema, cols)
        emptyOk(spark)
      case DropFulltext(index) =>
        val g = cat(g0)
        if (!g.fulltextDefs.contains(index))
          throw new DmlError(s"unknown fulltext index $index")
        g.fulltextDefs -= index
        emptyOk(spark)
      case ShowFulltext =>
        val g = cat(g0)
        val schema2 = StructType(Seq(StructField("Name", StringType),
          StructField("Schema Type", StringType),
          StructField("Schema Name", StringType),
          StructField("Fields", StringType),
          StructField("Analyzer", StringType)))
        val rows = g.fulltextDefs.toSeq.map { case (n, (t, s, cs)) =>
          Row(n, if (t) "Tag" else "Edge", s, cs.mkString(", "), "default")
        }
        spark.createDataFrame(rows.asJava, schema2)
      case DropSchema(isTag, name, ifExists) =>
        val g = cat(g0)
        val known =
          if (isTag) g.tagDefs.contains(name) else g.edgeDefs.contains(name)
        if (!known && !ifExists)
          throw new DmlError(s"not existed ${if (isTag) "tag" else "edge"}")
        // a schema with a live fulltext index is undroppable
        // (FultextIndexDDL.feature "Related index exists")
        if (g.fulltextDefs.values.exists(v => v._1 == isTag && v._2 == name))
          throw new DmlError(
            "Related index exists, please drop index first")
        if (isTag) g.dropTag(name) else g.dropEdge(name)
        emptyOk(spark)
      case AlterAdd(isTag, name, adds, drops, changes, ttlDur, ttlCol,
          comment) =>
        val g = cat(g0)
        val defsMap = if (isTag) g.tagDefs else g.edgeDefs
        val rowsMap: mutable.Map[String, _ <: mutable.LinkedHashMap[_, Array[Any]]] =
          if (isTag) g.tagRows else g.edgeRows
        val ttlMap = if (isTag) g.tagTtl else g.edgeTtl
        val cur0 = defsMap.getOrElse(name, throw new DmlError(s"unknown $name"))
        val curTtl = ttlMap.get(name)
        // ADD of an existing prop is a conflict; a NOT NULL column
        // without a default cannot backfill existing rows (meta
        // AlterSchema checks); TTL cannot be configured while the
        // schema has an index (index/TTL mutual exclusion)
        adds.foreach { spec =>
          if (cur0.exists(_.name == spec.name))
            throw new DmlError(s"prop ${spec.name} already exists")
          // a DROPPED prop name stays reserved in the schema history —
          // re-ADD is "Schema exisited before!" (Ddl.feature:311)
          if (g.droppedProps.get((isTag, name)).exists(_.contains(spec.name)))
            throw new DmlError("Schema exisited before!")
          if (spec.notNull && spec.default.isEmpty)
            throw new DmlError(
              s"NOT NULL column ${spec.name} needs a default")
        }
        if ((ttlDur.isDefined || ttlCol.isDefined) &&
            g.indexDefs.values.exists(v => v._1 == isTag && v._2 == name))
          throw new DmlError(s"$name has an index; TTL not allowed")
        // DROP of a prop the schema doesn't carry is an error
        // ("Not existed!", Schema.feature:133 re-drop of gender)
        drops.foreach { d2 =>
          if (!cur0.exists(_.name == d2))
            throw new DmlError(s"prop $d2 not existed")
          // an indexed prop cannot be dropped while the index lives
          // (Index.feature: DROP (age) with person_ttl_2_index_age)
          if (g.indexDefs.values.exists { case (t2, sch, cs2, _, _) =>
                t2 == isTag && sch == name && cs2.exists(_._1 == d2) })
            throw new DmlError(s"prop $d2 is attached to an index")
          if (g.fulltextDefs.values.exists { case (t2, sch, cs2) =>
                t2 == isTag && sch == name && cs2.contains(d2) })
            throw new DmlError(
              "Related fulltext index exists, please drop it first")
        }
        // CHANGE: the ttl column is immutable while configured, and a
        // prop cannot change its data type (meta AlterSchema checks);
        // same-type CHANGE updates nullability/default/comment
        changes.foreach { spec =>
          if (curTtl.exists(_._1 == spec.name))
            throw new DmlError(s"ttl column ${spec.name} cannot be changed")
          if (g.fulltextDefs.values.exists { case (t2, sch, cs2) =>
                t2 == isTag && sch == name && cs2.contains(spec.name) })
            throw new DmlError(
              "Related fulltext index exists, please drop it first")
          // CHANGE to NOT NULL needs a default, same as ADD
          // (Schema.feature:517 "must have a default value")
          if (spec.notNull && spec.default.isEmpty)
            throw new DmlError(s"Column `${spec.name}' must have a " +
              "default value if it's not nullable")
          val old = cur0.find(_.name == spec.name).getOrElse(
            throw new DmlError(s"unknown prop ${spec.name}"))
          if (old.dt != dataTypeOf(spec.tpe))
            throw new DmlError(s"prop ${spec.name} cannot change type")
        }
        val cur = cur0.map { d2 =>
          changes.find(_.name == d2.name) match {
            case Some(spec) =>
              val withDef = spec.default match {
                case Some(e) => d2.copy(hasDefault = true,
                  default = coerce(evalConst(e), d2.dt, d2.name))
                case None => d2.copy(hasDefault = false, default = null)
              }
              withDef.copy(notNull = spec.notNull, comment = spec.comment)
            case None => d2
          }
        }
        val added = adds.map { spec =>
          val dt = dataTypeOf(spec.tpe)
          spec.default match {
            case Some(e) =>
              // ALTER ADD validates the default STRICTLY against the
              // declared type — no int→float promotion, and timestamps
              // are epoch-seconds >= 0 ("Invalid param!",
              // Schema.feature:657-662 / :517)
              if (!isDynDefault(e)) {
                val raw = evalConst(e)
                val tn = describeTypeName(spec.tpe)
                val bad = (raw, tn) match {
                  case (n: Long, "timestamp") => n < 0
                  case (n: Long, "int8") => n < -128 || n > 127
                  case (n: Long, "int16") => n < -32768 || n > 32767
                  case (n: Long, "int32") =>
                    n < Int.MinValue || n > Int.MaxValue
                  case (_: Long | _: Int, "float" | "double") => true
                  case (_: Double, "int64" | "int32" | "int16" | "int8" |
                      "timestamp") => true
                  case (_: Boolean, t) => t != "bool"
                  case (_: String, t) =>
                    !(t == "string" || t.startsWith("fixed_string"))
                  case _ => false
                }
                if (bad) throw new DmlError("Invalid param!")
              }
              val dv =
                (if (isDynDefault(e)) DynDefault(Expr.text(e), e)
                 else coerce(evalConst(e), dt, spec.name)) match {
                  // fixed_string(N) truncates the default on write
                  case s2: String =>
                    "fixed_string\\((\\d+)\\)".r
                      .findFirstMatchIn(describeTypeName(spec.tpe))
                      .map(m => s2.take(m.group(1).toInt)).getOrElse(s2)
                  case other => other
                }
              ScenarioCatalog.PropDef(spec.name, dt, spec.notNull,
                hasDefault = true, default = dv,
                typeName = describeTypeName(spec.tpe), comment = spec.comment)
            case None => propDef(spec)
          }
        }
        val keepIdx = cur.zipWithIndex.filterNot { case (d2, _) =>
          drops.contains(d2.name) }.map(_._2)
        if (drops.nonEmpty)
          g.droppedProps.getOrElseUpdate((isTag, name),
            mutable.Set.empty) ++= drops
        val next = keepIdx.map(cur) ++ added
        comment.foreach { c =>
          (if (isTag) g.tagComment else g.edgeComment)(name) = c
        }
        // new ttl settings validate against the POST-alter schema
        if (ttlCol.contains("")) ttlMap -= name // ttl_col = "" disables
        else ttlCol.orElse(ttlDur.map(_ => "")) match {
          case Some(_) =>
            val effCol = ttlCol.orElse(curTtl.map(_._1)).getOrElse("")
            val effDur = ttlDur.orElse(curTtl.map(_._2)).getOrElse(0L)
            validateTtl(next, Some(effDur),
              Some(effCol).filter(_.nonEmpty))
            if (effCol.isEmpty && effDur == 0) ttlMap -= name
            else ttlMap(name) = (effCol, math.max(effDur, 0L))
          case None =>
            // dropping the configured ttl column resets the config
            if (curTtl.exists(t => drops.contains(t._1)))
              ttlMap -= name
        }
        defsMap(name) = next
        rowsMap(name).asInstanceOf[mutable.LinkedHashMap[Any, Array[Any]]]
          .mapValuesInPlace { (_, arr) =>
            keepIdx.map(arr).toArray ++ added.map(d2 =>
              if (d2.hasDefault) d2.default match {
                case DynDefault(_, e) => coerceDef(evalConst(e), d2)
                case v => v
              }
              else null)
          }
        emptyOk(spark)
      case InsertVertex(tags, rows, ifNotExists, ignoreIdx) =>
        val g = cat(g0)
        // per-tag prop slices: values are flattened across tags
        val perTag = tags.map { case (t, names) =>
          val defs = propDefs(g, isTag = true, t)
          val n = names.map(_.size).getOrElse(defs.size)
          (t, names, defs, n)
        }
        rows.foreach { case (vidE, vals0) =>
          val vid = evalVid(g, vidE)
          val vals = vals0.map(evalConst)
          val total = perTag.map(_._4).sum
          if (vals.size != total)
            throw new DmlError(s"value count ${vals.size} != $total")
          var off = 0
          // validate all tags BEFORE writing any (a failed insert
          // must not half-apply)
          val staged = perTag.map { case (t, names, defs, n) =>
            val slice = vals.slice(off, off + n); off += n
            (t, buildRow(defs, names, slice))
          }
          staged.foreach { case (t, arr) =>
            val m = g.tagRows(t)
            if (!(ifNotExists && m.contains(vid))) {
              // IGNORE_EXISTED_INDEX: the overwritten row's index
              // entry is left behind with its old values
              if (ignoreIdx)
                m.get(vid).foreach(old =>
                  g.noteStale(isTag = true, t, vid, old))
              m(vid) = arr
              g.noteWrite(isTag = true, t, vid) // index sees new writes
            }
          }
        }
        emptyOk(spark)
      case InsertEdge(etype, names, rows, ifNotExists, ignoreIdx) =>
        val g = cat(g0)
        val defs = propDefs(g, isTag = false, etype)
        rows.foreach { case (srcE, dstE, rank, vals0) =>
          val src = evalVid(g, srcE)
          val dst = evalVid(g, dstE)
          val arr = buildRow(defs, names, vals0.map(evalConst))
          val m = g.edgeRows(etype)
          val key = (src, dst, rank)
          if (!(ifNotExists && m.contains(key))) {
            if (ignoreIdx)
              m.get(key).foreach(old =>
                g.noteStale(isTag = false, etype, key, old))
            m(key) = arr
            g.noteWrite(isTag = false, etype, key)
          }
        }
        emptyOk(spark)
      case u: Update =>
        val g = cat(g0)
        val keys = u.keyRefs.fold(u.keyRows)(collectKeys(u.sentence, _))
        (u.sets.map(_._2) ++ u.when.toList ++
            u.yields.toList.flatten.map(_.e)).foreach { e =>
          Expr.collect(e) {
            // $$ (destination) is a GO-pipeline reference; invalid in
            // UPDATE VERTEX ($^ legally names the updated vertex itself)
            case Expr.Param("dst", _, _) if u.isTag =>
              throw new DmlError("$$ reference not allowed in UPDATE")
            // vertex-prop refs ($^ / $$) are invalid anywhere in UPDATE
            // EDGE — storage updates one edge row and has no vertex at
            // hand (Update.IntVid.feature:393 "Has wrong expr")
            case p @ Expr.Param("src" | "dst", _, _) if !u.isTag =>
              throw new DmlError(s"Has wrong expr in `${Expr.text(p)}'")
          }
        }
        val defs = propDefs(g, u.isTag, u.target)
        // one per-key loop for both forms: every key applies to a
        // staged copy (a repeated key sees its earlier result), and the
        // copies commit only once every key has applied, so a missing
        // key or a bad value leaves the whole statement unapplied; the
        // YIELD frames union
        def updateEach[K](m: mutable.Map[K, Array[Any]],
                          keyOf: Seq[Any] => K,
                          what: K => String): Seq[DataFrame] = {
          val staged = mutable.LinkedHashMap.empty[K, Array[Any]]
          val outs = keys.map { k0 =>
            val k = keyOf(k0)
            val (work, out) = applyUpdate(spark, defs,
              staged.get(k).orElse(m.get(k)), u.sets, u.when, u.yields,
              u.upsert, what(k))
            work.foreach(staged(k) = _)
            out
          }
          staged.foreach { case (k, work) =>
            m(k) = work; g.noteWrite(u.isTag, u.target, k)
          }
          outs
        }
        val outs =
          if (u.isTag) updateEach[Any](g.tagRows(u.target),
            k => evalVid(g, k.head), v => s"vertex $v on tag ${u.target}")
          else updateEach[(Any, Any, Long)](g.edgeRows(u.target),
            { case Seq(s, d2, r) =>
              (evalVid(g, s), evalVid(g, d2), r.asInstanceOf[Long]) },
            k => s"edge $k on ${u.target}")
        if (outs.isEmpty) emptyOk(spark)
        else outs.reduceLeft((a, b) =>
          if (a.columns.isEmpty) b
          else if (b.columns.isEmpty) a
          else a.unionByName(b))
      case DeleteVertex(vids, ref, withEdge) =>
        val g = cat(g0)
        val targets = ref.fold(vids)(r =>
          collectKeys("DELETE VERTEX", Seq(r)).map(_.head))
        targets.foreach(v => g.deleteVertex(evalVid(g, v), withEdge))
        emptyOk(spark)
      case DeleteEdge(etype, keys, refKeys) =>
        val g = cat(g0)
        val m = g.edgeRows.getOrElse(etype,
          throw new DmlError(s"unknown edge $etype"))
        val resolved = refKeys.fold(keys)(k =>
          collectKeys("DELETE EDGE", edgeRefs(k)).map { case Seq(s, d2, r) =>
            (s, d2, r.asInstanceOf[Long]) })
        // endpoint vids go through the same storage-side validation
        // as inserts (overlong FIXED_STRING vid → ExecutionError)
        resolved.foreach { case (s2, d2, _) =>
          evalVid(g, s2); evalVid(g, d2)
        }
        resolved.foreach(m -= _)
        emptyOk(spark)
      case Describe(isTag, name) =>
        val g = cat(g0)
        val defs = propDefs(g, isTag = isTag, name)
        val schema = StructType(Seq(
          StructField("Field", StringType), StructField("Type", StringType),
          StructField("Null", StringType), StructField("Default", StringType),
          StructField("Comment", StringType)))
        val rows = defs.map { d2 =>
          Row(d2.name, d2.typeName,
            if (d2.notNull) "NO" else "YES",
            if (d2.hasDefault) String.valueOf(d2.default) else null,
            d2.comment.orNull)
        }
        spark.createDataFrame(rows.asJava, schema)
      case DeleteTag(tags, vids, ref) =>
        val g = cat(g0)
        val targets = ref.fold(vids)(r =>
          collectKeys("DELETE TAG", Seq(r)).map(_.head))
        val ts = if (tags == Seq("*")) g.tagNames else tags
        ts.foreach { t =>
          val m = g.tagRows.getOrElse(t,
            throw new DmlError(s"unknown tag $t"))
          targets.foreach(v => m -= evalVid(g, v))
        }
        emptyOk(spark)
    }
  }
}
