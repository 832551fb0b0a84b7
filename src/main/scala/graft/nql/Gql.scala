package graft.nql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.GraphCatalog
import graft.algo.PathFinder
import graft.traverse.Traverse
import graft.traverse.Traverse.{Both, Direction, In, Out}

/** nGQL sentence front door (SURVEY.md §3 entry points 2/3; reference
  * grammar src/parser/parser.yy: GO :1424, LOOKUP :2201, FETCH :2312,
  * FIND PATH :2317, GET SUBGRAPH :2426, set sentences :3031-3045,
  * assignment :3040). A hand-rolled recursive-descent parser over a
  * small token stream — no parser-generator dependency — compiling
  * straight onto the Traverse/PathFinder/GraphModel operators, so every
  * sentence inherits their scale posture (materialized frontiers,
  * pushdown, gated broadcasts).
  *
  * Supported surface:
  *   GO [m [TO n] STEPS] FROM <vids|$-.col|$var.col> OVER <e1[,e2..]|*>
  *      [REVERSELY|BIDIRECT] [WHERE <bool-expr>] [YIELD [DISTINCT] items]
  *   LOOKUP ON <tag|etype> [WHERE <bool-expr>] [YIELD [DISTINCT] items]
  *   FETCH PROP ON <tag> <vids> [YIELD items]
  *   FETCH PROP ON <etype> "s" -> "d" [@rank], ... [YIELD items]
  *   FIND {SHORTEST|ALL|NOLOOP} PATH FROM <vids> TO <vids>
  *      [OVER <e1[,e2..]|*>] [REVERSELY|BIDIRECT] [UPTO n STEPS]
  *   GET SUBGRAPH [WITH PROP] [n STEPS] FROM <vids> [IN|OUT|BOTH e1,..]
  *      [YIELD VERTICES AS v [, EDGES AS e]]
  *   UNWIND <list-expr> AS <name>
  *   YIELD [DISTINCT] items [WHERE <bool-expr>]
  *   <sentence> | <pipe>...    (pipes: GO FROM $-.col, YIELD, ORDER BY,
  *                              LIMIT [off,]n, GROUP BY..YIELD)
  *   <piped> UNION [ALL] | INTERSECT | MINUS <piped>
  *   $var = <sentence>; <sentence using $var>    (script form)
  *
  * WHERE/YIELD item expressions are full boolean/arithmetic trees with
  * functions — see [[Expr]].
  */
object Gql {

  // ---------- tokenizer ----------
  sealed trait Tok
  case class Word(s: String) extends Tok       // keyword / identifier
  case class Str(s: String) extends Tok        // "quoted"
  case class Num(v: Double, raw: String) extends Tok
  case class Sym(s: String) extends Tok        // punctuation / operators

  /** 2^63 — max literal magnitude (GraphScanner.h MAX_ABS_INTEGER). */
  val MaxAbsInteger: BigInt = BigInt("9223372036854775808")

  /** Token list plus the indices of tokens GLUED to their predecessor
    * (no whitespace between). scanner.lex maximal-munches adjacent
    * `--` / `-[` / `]-` into MATCH-pattern tokens, so unspaced
    * arithmetic like `1--1` is a reference SyntaxError while `1- -1`
    * parses — the glue set lets the expression parser reproduce that
    * without compound tokens (yield/return.feature). */
  case class Lexed(toks: List[Tok], glued: Set[Int])

  def tokenize(q: String): List[Tok] = lex(q).toks

  def lex(q: String): Lexed = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    val starts = scala.collection.mutable.ListBuffer.empty[Int]
    val ends = scala.collection.mutable.ListBuffer.empty[Int]
    var i = 0
    while (i < q.length) {
      val tokStart = i
      val sizeBefore = out.length
      val c = q(i)
      // isSpaceChar catches U+00A0/U+2007/... which isWhitespace does
      // not (basic/Parser.feature "special white space character")
      if (c.isWhitespace || Character.isSpaceChar(c)) i += 1
      else if (c == '"' || c == '\'') {
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < q.length && !closed) {
          val ch = q(j)
          if (ch == '\\' && j + 1 < q.length) {
            q(j + 1) match {
              case 'n' => sb.append('\n'); j += 2
              case 't' => sb.append('\t'); j += 2
              case 'u' if j + 5 < q.length =>
                sb.append(Integer.parseInt(q.substring(j + 2, j + 6), 16).toChar)
                j += 6
              case 'x' =>
                // C-style hex escape, greedy digits (scanner.lex):
                // `\x70EB` is one char U+70EB
                var k = j + 2
                while (k < q.length && k - (j + 2) < 4 &&
                  Character.digit(q(k), 16) >= 0) k += 1
                if (k > j + 2) {
                  sb.append(Integer.parseInt(q.substring(j + 2, k), 16).toChar)
                  j = k
                } else { sb.append('x'); j += 2 }
              case other => sb.append(other); j += 2
            }
          } else if (ch == c) { closed = true; j += 1 }
          else { sb.append(ch); j += 1 }
        }
        require(closed, s"unterminated string at $i")
        out += Str(sb.toString); i = j
      } else if (c == '0' && i + 1 < q.length &&
          (q(i + 1) == 'x' || q(i + 1) == 'X') && i + 2 < q.length &&
          Character.digit(q(i + 2), 16) >= 0) {
        // hex integer literal (scanner.lex 0[xX][0-9a-fA-F]+).
        // GraphScanner.h parseHex: magnitude > 2^63 is "Out of range";
        // exactly 2^63 survives only under a folding unary minus — the
        // raw decimal magnitude is emitted and the parser's unE/atom
        // enforce the sign rule (BoundCheck.feature)
        var j = i + 2
        while (j < q.length && Character.digit(q(j), 16) >= 0) j += 1
        val raw = q.substring(i, j)
        val mag = BigInt(raw.substring(2), 16)
        require(mag <= MaxAbsInteger,
          s"integer literal out of range: $raw")
        out += Num(mag.toDouble, mag.toString); i = j
      } else if (c == '0' && i + 1 < q.length && q(i + 1) >= '0' &&
          q(i + 1) <= '7' && {
            // octal literal (scanner.lex 0{OCT}+) — only when the whole
            // digit run is octal and it isn't the head of a double
            var j = i + 1
            while (j < q.length && q(j) >= '0' && q(j) <= '7') j += 1
            val allOct = !(j < q.length && (q(j) == '8' || q(j) == '9'))
            val isDouble = j < q.length && ((q(j) == '.' &&
              !(j + 1 < q.length && q(j + 1) == '.')) ||
              q(j) == 'e' || q(j) == 'E')
            allOct && !isDouble
          }) {
        var j = i + 1
        while (j < q.length && q(j) >= '0' && q(j) <= '7') j += 1
        val raw = q.substring(i, j)
        val mag = BigInt(raw.substring(1), 8)
        require(mag <= MaxAbsInteger,
          s"integer literal out of range: $raw")
        out += Num(mag.toDouble, mag.toString); i = j
      } else if (c.isDigit ||
          (c == '.' && i + 1 < q.length && q(i + 1).isDigit)) {
        // number: digits [ '.' digits* ] [ (e|E) [+|-] digits ] — the
        // dot binds only when NOT the `..` range/slice operator, and a
        // leading-dot form (.3e4) is a number (scanner.lex DOUBLE)
        var j = i
        while (j < q.length && q(j).isDigit) j += 1
        if (j < q.length && q(j) == '.' &&
            !(j + 1 < q.length && q(j + 1) == '.')) {
          val k = j + 1
          val expNext = k < q.length && (q(k) == 'e' || q(k) == 'E') &&
            k + 1 < q.length &&
            (q(k + 1).isDigit || q(k + 1) == '+' || q(k + 1) == '-')
          if (k < q.length && (q(k).isDigit || expNext)) {
            j = k
            while (j < q.length && q(j).isDigit) j += 1
          }
        }
        if (j < q.length && (q(j) == 'e' || q(j) == 'E')) {
          var k = j + 1
          if (k < q.length && (q(k) == '+' || q(k) == '-')) k += 1
          if (k < q.length && q(k).isDigit) {
            while (k < q.length && q(k).isDigit) k += 1
            j = k
          }
        }
        val raw = q.substring(i, j)
        out += Num(raw.toDouble, raw); i = j
      } else if (c == '.' && i + 1 < q.length && q(i + 1) == '.') {
        out += Sym(".."); i += 2
      } else if (c == '`') {
        // backquoted identifier (scanner.lex LABEL_FULL_WIDTH):
        // escapes reserved words as identifiers/function names
        val j = q.indexOf('`', i + 1)
        require(j > i, s"unterminated backquote at $i")
        out += Word(q.substring(i + 1, j)); i = j + 1
      } else if (c.isLetter || c == '_') {
        val j = q.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i)
        val end = if (j < 0) q.length else j
        out += Word(q.substring(i, end)); i = end
      } else if ((c == '&' || c == '|') && i + 1 < q.length && q(i + 1) == c) {
        out += Sym(s"$c$c"); i += 2
      } else if (c == '=' && i + 1 < q.length && q(i + 1) == '~') {
        out += Sym("=~"); i += 2
      } else if ("<>=!".contains(c) && i + 1 < q.length && q(i + 1) == '=') {
        out += Sym(q.substring(i, i + 2)); i += 2
      } else if (c == '<' && i + 1 < q.length && q(i + 1) == '>') {
        out += Sym("<>"); i += 2
      } else { out += Sym(c.toString); i += 1 }
      if (out.length > sizeBefore) { starts += tokStart; ends += i }
    }
    val glued = (1 until out.length).filter(k => starts(k) == ends(k - 1))
    Lexed(out.toList, glued.toSet)
  }

  // ---------- token cursor ----------
  private[nql] class P(var ts: List[Tok]) {
    /** Session parameters (name -> nGQL literal text) — `$name` in
      * expression position inlines the parsed literal (Expr.ParamLit);
      * vid/step/sample positions reject like the reference's
      * "Parameter is not supported in ..." SemanticErrors. */
    var params: Map[String, String] = Map.empty
    /** Glued-token indices from [[lex]] (tokens with no whitespace
      * before them) — empty when the caller used plain tokenize, in
      * which case [[gluedAt]] is always false. */
    private var glueSet: Set[Int] = Set.empty
    private var glueTotal: Int = 0
    /** Most recently consumed token (for `]-` adjacency checks). */
    var lastConsumed: Tok = null
    def setGlue(l: Lexed): Unit = { glueSet = l.glued; glueTotal = l.toks.length }
    /** Is the token at offset k from the head glued to its source
      * predecessor? k=0: head vs the last consumed token. */
    def gluedAt(k: Int): Boolean = glueSet.contains(glueTotal - ts.length + k)
    def peek: Option[Tok] = ts.headOption
    def peek2: Option[Tok] = ts.drop(1).headOption
    def next(): Tok = { val h = ts.head; ts = ts.tail; lastConsumed = h; h }
    def kw(s: String): Boolean = ts.headOption match {
      case Some(Word(w)) if w.equalsIgnoreCase(s) =>
        lastConsumed = ts.head; ts = ts.tail; true
      case _ => false
    }
    def kwPeek(s: String): Boolean = ts.headOption match {
      case Some(Word(w)) => w.equalsIgnoreCase(s)
      case _ => false
    }
    def expectKw(s: String): Unit =
      require(kw(s), s"expected $s at ${ts.take(3)}")
    def sym(s: String): Boolean = ts.headOption match {
      case Some(Sym(x)) if x == s =>
        lastConsumed = ts.head; ts = ts.tail; true
      case _ => false
    }
    def expectSym(s: String): Unit =
      require(sym(s), s"expected $s at ${ts.take(3)}")
    def word(): String = next() match {
      case Word(w) => w
      case t => throw new IllegalArgumentException(s"expected word, got $t")
    }
    def intLit(): Int = next() match {
      case Num(v, _) => v.toInt
      case t => throw new IllegalArgumentException(s"expected int, got $t")
    }
    /** Bracketed int list `[n, n, ...]` (GO step sample/limit). */
    def intList(): Seq[Int] = {
      expectSym("[")
      val out = scala.collection.mutable.ListBuffer(intLit())
      while (sym(",")) out += intLit()
      expectSym("]")
      out.toSeq
    }
    /** Comma list of vids — string or int (int-vid spaces). */
    def vidList(): Seq[Any] = {
      val out = scala.collection.mutable.ListBuffer.empty[Any]
      var go = true
      while (go) {
        next() match {
          case Str(s) => out += s
          case Num(v, raw) =>
            // a float vid is a parse reject (vid is int64 or string)
            require(!raw.exists(ch => ch == '.' || ch == 'e' || ch == 'E'),
              s"syntax error: float vid $raw")
            out += raw.toLongOption.getOrElse(v.toLong)
          case Sym("-") => out += -intLit().toLong
          case Word(w) if w.equalsIgnoreCase("hash") =>
            // int-vid seed form `hash("Tim Duncan")` (GO.IntVid.feature)
            expectSym("("); val s = next() match {
              case Str(x) => x
              case t => throw new IllegalArgumentException(s"hash() vid arg $t")
            }; expectSym(")")
            out += graft.functions.NebulaHash.hash64(s)
          case t => throw new IllegalArgumentException(s"expected vid, got $t")
        }
        if (peek.contains(Sym(","))) next() else go = false
      }
      out.toSeq
    }
  }

  /** One literal vid: string, [-]int, or `hash("...")` (int-vid
    * fixture convention). */
  private def oneVid(p: P): Any = p.next() match {
    case Str(s) => s
    case Num(v, raw) => raw.toLongOption.getOrElse(v.toLong)
    case Sym("-") => -p.intLit().toLong
    case Word(w) if w.equalsIgnoreCase("hash") =>
      p.expectSym("("); val x = p.next() match {
        case Str(x0) => x0
        case t => throw new IllegalArgumentException(s"hash() vid arg $t")
      }; p.expectSym(")")
      graft.functions.NebulaHash.hash64(x)
    case t => throw new IllegalArgumentException(s"expected vid, got $t")
  }

  // ---------- AST ----------
  /** Not sealed: MatchSeg.MStmt extends it from its own file. */
  trait Stmt
  case class Item(e: Expr.E, alias: String)
  sealed trait Pipe
  case class PYield(items: Seq[Item], distinct: Boolean,
                    where: Option[Expr.E]) extends Pipe
  /** Explicit `GROUP BY keys YIELD items`: one output row per key
    * group even when no item aggregates (GroupByValidator.cpp). */
  case class PGroup(keys: Seq[Expr.E], items: Seq[Item],
                    distinct: Boolean) extends Pipe
  case class POrderBy(keys: Seq[(Expr.E, Boolean)],
                      tiebreak: Boolean = false) extends Pipe
  case class PLimit(offset: Int, n: Int) extends Pipe
  case class PGo(go: Go) extends Pipe
  /** `| UNWIND $-.col AS a` — explode a list column (scalars pass
    * through, cypher UNWIND semantics), keeping the input columns. */
  case class PUnwind(e: Expr.E, alias: String) extends Pipe
  /** Piped FETCH seeded from $-.col (Output.feature). */
  case class PFetch(f: Stmt) extends Pipe
  /** Piped DML (`GO ... | DELETE VERTEX $-.id WITH EDGE`). */
  case class PDml(d: Dml.DStmt) extends Pipe
  /** Piped FIND PATH with $-.col endpoint sets (ShortestPath.feature). */
  case class PFind(f: Stmt) extends Pipe
  case class Piped(head: Stmt, pipes: Seq[Pipe]) extends Stmt
  /** UNION [ALL] / INTERSECT / MINUS over piped sentences
    * (parser.yy:3031-3045). */
  case class SetOp(op: String, all: Boolean, l: Stmt, r: Stmt) extends Stmt

  case class Go(m: Int, n: Int, seeds: Seq[Any], seedsCol: Option[String],
                seedsVar: Option[(String, String)], etypes: Seq[String],
                dir: Direction, where: Option[Expr.E],
                yields: Option[Seq[Item]], distinct: Boolean,
                stepCaps: Option[(String, Seq[Int])] = None) extends Stmt
  case class Lookup(tag: String, where: Option[Expr.E], yields: Seq[Item],
                    distinct: Boolean) extends Stmt
  /** Input ref for FETCH seeds: $-.col (pipe) or $var.col. */
  case class InRef(varName: Option[String], colName: String)
  case class Fetch(tags: Seq[String], vids: Seq[Any], vidsRef: Option[InRef],
                   yields: Seq[Item], distinct: Boolean) extends Stmt
  /** FETCH PROP ON <etype> "src" -> "dst" [@rank] (parser.yy:2312),
    * or ref form `$-.src->$-.dst`. */
  case class FetchEdge(etype: String, keys: Seq[(Any, Any, Option[Long])],
                       keysRef: Option[(InRef, InRef)],
                       yields: Seq[Item], distinct: Boolean,
                       rankRef: Option[InRef] = None) extends Stmt
  /** mode ∈ shortest | all | noloop. `yieldPath` = Some(alias) for the
    * `YIELD path AS p` form (whole-path rows); None keeps the library
    * (src, dst, path, hops) shape. Endpoint sets come from literal vid
    * lists or from `$-.col` / `$var.col` refs. */
  case class FindPath(mode: String, srcs: Seq[Any], dsts: Seq[Any],
                      etypes: Seq[String], dir: Direction, upto: Int,
                      yieldPath: Option[String] = None,
                      srcRef: Option[InRef] = None,
                      dstRef: Option[InRef] = None,
                      where: Option[Expr.E] = None) extends Stmt
  case class Subgraph(steps: Int, seeds: Seq[Any], etypes: Seq[String],
                      dir: Direction) extends Stmt
  /** GET SUBGRAPH with an explicit YIELD — the reference's step-row
    * output: row i = (vertices first reached at step i, edges walked
    * expanding step i), as rendered lists. `specs` = the
    * [IN e1,e2 OUT e3 BOTH e4] direction-typed edge lists
    * (parser.yy:2426); empty = all types, both directions. `yields` =
    * (what ∈ vertices|edges, alias) in written order. */
  case class SubgraphY(steps: Int, seeds: Seq[Any], seedsRef: Option[InRef],
                       specs: Seq[(Direction, Seq[String])],
                       yields: Seq[(String, String)],
                       where: Option[Expr.E] = None) extends Stmt
  case class GroupStmt(keys: Seq[Expr.E], items: Seq[Item],
                       distinct: Boolean) extends Stmt
  /** `YIELD ... FROM $a INNER JOIN $b ON cond` (joins: kind, var,
    * condition — only one inner join is executable, matching the
    * reference's validator). */
  case class YieldFrom(items: Seq[Item], distinct: Boolean,
                       where: Option[Expr.E], base: String,
                       joins: Seq[(String, String, Expr.E)]) extends Stmt
  case class YieldStmt(items: Seq[Item], distinct: Boolean,
                       where: Option[Expr.E]) extends Stmt
  case class Unwind(e: Expr.E, alias: String) extends Stmt
  /** Standalone `ORDER BY $var.col [ASC|DESC], ...` sentence sorting a
    * user-defined variable's frame (OrderByValidator.cpp: factors must
    * be input/var props; anything else is a SemanticError). */
  case class OrderByStmt(keys: Seq[(Expr.E, Boolean)]) extends Stmt
  /** `RETURN $var IF $cond IS [NOT] NULL` — conditional EARLY RETURN
    * from a script: when the condition holds the script stops and
    * yields `$var`, otherwise execution continues (parser.yy
    * return_sentence; GO.feature "return test"). */
  case class ReturnIf(v: String, cond: String, notNull: Boolean) extends Stmt

  // ---------- parser ----------
  /** Parse a single statement (no trailing tokens allowed). */
  def parse(q: String): Stmt = parse(q, Map.empty)

  def parse(q: String, params: Map[String, String]): Stmt = {
    val lx = lex(q)
    val p = new P(lx.toks)
    p.setGlue(lx)
    p.params = params
    val s = parseSet(p)
    require(p.ts.isEmpty, s"trailing tokens: ${p.ts.take(3)}")
    s
  }

  /** Parse a `;`-separated script with optional `$var =` assignments;
    * returns (varName?, stmt) in order. */
  def parseScript(q: String): Seq[(Option[String], Stmt)] =
    parseScript(q, Map.empty)

  def parseScript(q: String,
                  params: Map[String, String]): Seq[(Option[String], Stmt)] = {
    // EXPLAIN/PROFILE prefix (parser.yy explain_sentence): validate
    // the FORMAT option and execute the underlying sentence(s) — the
    // plan rendering itself is Catalyst's (`df.explain`), so the
    // sentence's execution IS the assertion (ExplainAndProfile TCK)
    val expl = "(?is)^\\s*(EXPLAIN|PROFILE)\\b(.*)$".r
    q match {
      case expl(_, rest0) =>
        var rest = rest0.trim
        val fmt = "(?is)^FORMAT\\s*=\\s*\"([^\"]*)\"(.*)$".r
        rest match {
          case fmt(f, r2) =>
            require(Set("row", "dot", "dot:struct", "tck")
              .contains(f.toLowerCase), s"unknown explain format $f")
            rest = r2.trim
          case _ => ()
        }
        if (rest.startsWith("{") && rest.endsWith("}"))
          rest = rest.substring(1, rest.length - 1)
        // the grammar's explain_sentence wraps a plain sentence — a
        // second EXPLAIN/PROFILE cannot nest (ExplainAndProfile TCK)
        if ("(?is)^\\s*(EXPLAIN|PROFILE)\\b.*$".r.matches(rest))
          throw new IllegalArgumentException(
            "SyntaxError: explain/profile sentence cannot be nested")
        return parseScript(rest, params)
      case _ => ()
    }
    val lx = lex(q)
    val p = new P(lx.toks)
    p.setGlue(lx)
    p.params = params
    val out = scala.collection.mutable.ListBuffer.empty[(Option[String], Stmt)]
    var go = true
    while (go) {
      val varName =
        if (p.peek.contains(Sym("$")) &&
            p.peek2.exists(_.isInstanceOf[Word])) {
          // lookahead for `$name =` (not $var.col used as a sentence)
          p.ts.drop(2).headOption match {
            case Some(Sym("=")) =>
              p.next(); val n = p.word(); p.next()
              // assigning to a session parameter is the reference's
              // SyntaxError (parameter names shadow nothing)
              if (p.params.contains(n))
                throw new IllegalArgumentException(
                  s"syntax error: Parameter is not supported in assignment near `$$$n'")
              Some(n)
            case _ => None
          }
        } else None
      out += (varName -> parseSet(p))
      if (p.sym(";")) { if (p.ts.isEmpty) go = false } else {
        require(p.ts.isEmpty, s"trailing tokens: ${p.ts.take(3)}")
        go = false
      }
    }
    out.toSeq
  }

  private def parseSet(p: P): Stmt = {
    var l =
      if (p.peek.contains(Sym("(")) &&
          p.peek2.exists { case Word(w) =>
            Set("go", "fetch", "lookup", "find", "get", "yield",
              "unwind").contains(w.toLowerCase); case _ => false }) {
        p.next(); val inner = parseSet(p); p.expectSym(")")
        val tail = parsePipeTail(p)
        if (tail.isEmpty) inner else Piped(inner, tail)
      } else parsePiped(p)
    var go = true
    while (go) {
      def operand(): Stmt =
        if (p.peek.contains(Sym("("))) {
          p.next(); val inner = parseSet(p); p.expectSym(")")
          val tail = parsePipeTail(p)
          if (tail.isEmpty) inner else Piped(inner, tail)
        } else parsePiped(p)
      if (p.kw("UNION")) {
        val all = p.kw("ALL") || { p.kw("DISTINCT"); false }
        l = SetOp("union", all, l, operand())
      } else if (p.kw("INTERSECT")) l = SetOp("intersect", false, l, operand())
      else if (p.kw("MINUS")) l = SetOp("minus", false, l, operand())
      else go = false
    }
    l
  }

  /** Constant integer position (LIMIT/SKIP/OFFSET): a literal OR a
    * foldable constant expression (`LIMIT 1+1`, MultiQueryParts). */
  private[nql] def constInt(p: P): Int = {
    val e = Expr.parse(p)
    Expr.tryConst(e) match {
      case Some(n: Long) => n.toInt
      case other => throw new IllegalArgumentException(
        s"expected a constant integer, got ${Expr.text(e)}")
    }
  }

  private def parsePiped(p: P): Stmt = {
    val head = parseSentence(p)
    val pipes = parsePipeTail(p)
    // MATCH output cannot feed a pipe — the reference grammar has no
    // `match_sentence PIPE` production (PipeAndVariable SyntaxError)
    if (pipes.nonEmpty && head.isInstanceOf[MatchSeg.MStmt])
      throw new IllegalArgumentException(
        "syntax error: MATCH cannot be piped")
    if (pipes.isEmpty) head else Piped(head, pipes)
  }

  /** `| <sentence-or-clause>`* — the pipe continuation after a head
    * statement (also used after a parenthesized set operation:
    * `(GO ... UNION GO ...) | YIELD ...`, InsertEdgeOnDiffParts). */
  private def parsePipeTail(p: P): Seq[Pipe] = {
    val pipes = scala.collection.mutable.ListBuffer.empty[Pipe]
    var parenDepth = 0
    while (p.peek.contains(Sym("|")) || parenDepth > 0) {
      if (p.peek.contains(Sym("|"))) p.next()
      while (p.sym("(")) parenDepth += 1
      if (p.kwPeek("GO")) {
        parseSentence(p) match {
          case g2: Go =>
            require(g2.seedsCol.isDefined, "piped GO must seed FROM $-.col")
            pipes += PGo(g2)
          case other =>
            throw new IllegalArgumentException(s"bad piped sentence $other")
        }
      } else if (p.kwPeek("FETCH")) {
        parseSentence(p) match {
          case f: Fetch if f.vidsRef.exists(_.varName.isEmpty) =>
            pipes += PFetch(f)
          case fe: FetchEdge if fe.keysRef.exists(_._1.varName.isEmpty) =>
            pipes += PFetch(fe)
          case _ =>
            throw new IllegalArgumentException("piped FETCH must seed from $-.")
        }
      } else if (p.kwPeek("FIND")) {
        parseSentence(p) match {
          case fp: FindPath if fp.srcRef.exists(_.varName.isEmpty) ||
              fp.dstRef.exists(_.varName.isEmpty) =>
            pipes += PFind(fp)
          case _ =>
            throw new IllegalArgumentException("piped FIND must seed from $-.")
        }
      } else if (p.kwPeek("GET")) {
        parseSentence(p) match {
          case sg: SubgraphY if sg.seedsRef.exists(_.varName.isEmpty) =>
            pipes += PFind(sg)
          case _ =>
            throw new IllegalArgumentException("piped GET must seed from $-.")
        }
      } else if (p.kwPeek("DELETE")) {
        // GO ... | DELETE VERTEX $-.id WITH EDGE (DeleteVertex.feature)
        parseSentence(p) match {
          case d: Dml.DeleteVertex if d.ref.exists(_.varName.isEmpty) =>
            pipes += PDml(d)
          case d: Dml.DeleteEdge
              if d.refKeys.exists(_._1.varName.isEmpty) =>
            pipes += PDml(d)
          case d: Dml.DeleteTag if d.ref.exists(_.varName.isEmpty) =>
            pipes += PDml(d)
          case _ => throw new IllegalArgumentException(
            "piped DELETE must seed from $-.")
        }
      } else if (p.kwPeek("UPDATE") || p.kwPeek("UPSERT")) {
        // LOOKUP ... | UPDATE VERTEX ON t $-.id SET ...
        // (lookup/LookUpUpdate.feature)
        parseSentence(p) match {
          case d: Dml.UpdateVertex if d.ref.exists(_.varName.isEmpty) =>
            pipes += PDml(d)
          case d: Dml.UpdateEdge
              if d.refKeys.exists(_._1.varName.isEmpty) =>
            pipes += PDml(d)
          case _ => throw new IllegalArgumentException(
            "piped UPDATE must seed from $-.")
        }
      } else if (p.kw("UNWIND")) {
        val e2 = Expr.parse(p)
        p.expectKw("AS")
        pipes += PUnwind(e2, p.word())
      } else if (p.kw("YIELD") || p.kw("RETURN")) {
        // `| RETURN ...` is the same pipe stage as `| YIELD ...`
        // (parser.yy return_sentence over piped input;
        // yield/return.feature base)
        val distinct = p.kw("DISTINCT")
        val items = parseItems(p)
        val where = if (p.kw("WHERE")) Some(Expr.parse(p)) else None
        pipes += PYield(items, distinct, where)
      } else if (p.kw("GROUP")) {
        p.expectKw("BY")
        val keys = scala.collection.mutable.ListBuffer(Expr.parse(p))
        while (p.sym(",")) keys += Expr.parse(p)
        p.expectKw("YIELD")
        val distinct = p.kw("DISTINCT")
        pipes += PGroup(keys.toSeq, parseItems(p), distinct)
      } else if (p.kw("ORDER")) {
        p.expectKw("BY")
        val keys = scala.collection.mutable.ListBuffer.empty[(Expr.E, Boolean)]
        var go2 = true
        while (go2) {
          val e = Expr.parse(p)
          val desc = if (p.kw("DESC")) true else { p.kw("ASC"); false }
          keys += (e -> desc)
          if (p.sym(",")) () else go2 = false
        }
        pipes += POrderBy(keys.toSeq)
        if (p.kw("LIMIT")) {
          val a = constInt(p)
          if (p.sym(",")) pipes += PLimit(a, constInt(p))
          else if (p.kw("OFFSET")) pipes += PLimit(constInt(p), a)
          else pipes += PLimit(0, a)
        }
      } else if (p.kw("LIMIT")) {
        val a = constInt(p)
        if (p.sym(",")) pipes += PLimit(a, constInt(p))
        else if (p.kw("OFFSET")) pipes += PLimit(constInt(p), a)
        else pipes += PLimit(0, a)
      } else if (p.kw("OFFSET")) {
        // `| OFFSET m [LIMIT n]` (parser.yy limit_sentence accepts
        // both orders; GO.feature:1848)
        val m = constInt(p)
        if (p.kw("LIMIT")) pipes += PLimit(m, constInt(p))
        else pipes += PLimit(m, Int.MaxValue)
      } else if (p.kwPeek("LOOKUP")) {
        // LOOKUP is a start sentence: it cannot consume piped input —
        // any `$-.x` inside it "is not an evaluable expression"
        // (LookupValidator; lookup/LookUpLimit.feature:151-185)
        throw new IllegalArgumentException(
          "SemanticError: '$-' is not an evaluable expression" +
            " in a piped LOOKUP")
      } else throw new IllegalArgumentException(s"bad pipe at ${p.ts.take(3)}")
      while (parenDepth > 0 && p.sym(")")) parenDepth -= 1
      require(parenDepth == 0 || p.peek.contains(Sym("|")),
        s"unbalanced pipe parens at ${p.ts.take(3)}")
    }
    pipes.toSeq
  }

  private[nql] def parseItems(p: P): Seq[Item] = {
    val out = scala.collection.mutable.ListBuffer.empty[Item]
    var go = true
    while (go) {
      val e = Expr.parse(p)
      val alias = if (p.kw("AS")) p.word() else Expr.text(e)
      out += Item(e, alias)
      if (p.sym(",")) () else go = false
    }
    out.toSeq
  }

  private def parseEtypes(p: P): Seq[String] = {
    if (p.sym("*")) Seq("*")
    else {
      val out = scala.collection.mutable.ListBuffer(p.word())
      while (p.sym(",")) out += p.word()
      out.toSeq
    }
  }

  /** The corpus writes both `STEPS` and `STEP` (go/SimpleCase). */
  private def expectSteps(p: P): Unit =
    require(p.kw("STEPS") || p.kw("STEP"), s"expected STEPS at ${p.ts.take(3)}")

  /** Literal vid list OR a `$-.col` / `$var.col` endpoint-set ref. */
  private def vidsOrRef(p: P): (Seq[Any], Option[InRef]) = p.peek match {
    case Some(Sym("$")) =>
      p.next()
      p.peek match {
        case Some(Sym("-")) =>
          p.next(); p.expectSym(".")
          (Seq.empty[Any], Some(InRef(None, p.word())))
        case Some(Word(v)) =>
          p.next(); p.expectSym(".")
          (Seq.empty[Any], Some(InRef(Some(v), p.word())))
        case t => throw new IllegalArgumentException(s"bad seed ref $t")
      }
    case _ => (p.vidList(), None)
  }

  /** Literal vid list OR `$-.col` / `$var.col` ref — public form for
    * the DML parser (DELETE VERTEX seeds). */
  private[nql] def vidsOrRefPub(p: P): (Seq[Any], Option[InRef]) =
    vidsOrRef(p)

  private def parseSentence(p: P): Stmt = {
    if (Dml.startsDml(p)) Dml.parseSentence(p)
    else if (p.kw("MATCH")) MatchSeg.parse(p)
    else if (p.kwPeek("OPTIONAL")) {
      p.kw("OPTIONAL"); p.expectKw("MATCH")
      MatchSeg.parseFromOptional(p)
    }
    else if (p.kw("GO")) {
      val (m, n) = p.peek match {
        case Some(Num(v, _)) =>
          p.next()
          val hi = if (p.kw("TO")) p.intLit() else v.toInt
          expectSteps(p); (v.toInt, hi)
        case _ => (1, 1)
      }
      p.expectKw("FROM")
      // `id($-.node)` seeds from the hidden vid twin of a rendered
      // whole-vertex column (FetchVertices pipe scenarios)
      val idWrap = p.peek.exists {
        case Word(w) => w.equalsIgnoreCase("id"); case _ => false } &&
        p.peek2.contains(Sym("("))
      if (idWrap) { p.next(); p.next() }
      def vidTwin(c2: String): String = if (idWrap) s"__vid_$c2" else c2
      val (seeds, seedsCol, seedsVar) = p.peek match {
        case Some(Sym("$")) =>
          p.next()
          p.peek match {
            case Some(Sym("-")) =>
              p.next(); p.expectSym(".")
              (Seq.empty[Any], Some(vidTwin(p.word())), None)
            case Some(Word(v)) =>
              p.next(); p.expectSym(".")
              (Seq.empty[Any], None, Some(v -> vidTwin(p.word())))
            case t => throw new IllegalArgumentException(s"bad seed ref $t")
          }
        case _ =>
          require(!idWrap, "id() seed needs a $-/$var ref")
          (p.vidList(), None, None)
      }
      if (idWrap) p.expectSym(")")
      p.expectKw("OVER")
      val etypes = parseEtypes(p)
      val dir = if (p.kw("REVERSELY")) In
        else if (p.kw("BIDIRECT")) Both else Out
      val where = if (p.kw("WHERE")) Some(Expr.parse(p)) else None
      val (ys, dist) = if (p.kw("YIELD")) {
        val d = p.kw("DISTINCT")
        (Some(parseItems(p)), d)
      } else (None, false)
      // per-step caps: `SAMPLE [n1,..]` (random pick) / `LIMIT [n1,..]`
      // (first-n) — one entry per step (parser.yy go_sentence
      // sample_clause/limit_clause; GO.feature "go step sample/limit")
      val caps =
        if (p.kw("SAMPLE")) Some("sample" -> p.intList())
        else if (p.kwPeek("LIMIT") && p.peek2.contains(Sym("["))) {
          p.kw("LIMIT"); Some("limit" -> p.intList())
        } else None
      caps.foreach { case (_, ns) =>
        // GoValidator::validateTruncate: the list length must equal the
        // GO step size n (even for `m TO n`), and elements are >= 0
        require(ns.size == math.max(n, 1),
          "Invalid sample/limit clause: length must be equal to GO step size")
        require(ns.forall(_ >= 0),
          "Invalid sample/limit clause: Limit/Sample element must be nonnegative")
      }
      // GoValidator: a $var in WHERE/YIELD must be the FROM variable
      (ys.toSeq.flatten.map(_.e) ++ where.toList).foreach(Expr.collect(_) {
        case Expr.Param("var", n2, _) if !seedsVar.exists(_._1 == n2) =>
          throw new IllegalArgumentException(
            "SemanticError: A variable must be referred in FROM before used in WHERE or YIELD")
      })
      // aggregates never belong in a GO's own clauses (parser.yy
      // rejects at parse; aggregate/Agg.feature error goldens) —
      // `GO ... | YIELD count(*)` is the supported piped form
      ys.toSeq.flatten.foreach { i =>
        if (Expr.hasAgg(i.e)) throw new IllegalArgumentException(
          "syntax error: Invalid use of aggregating function in yield " +
            s"clause. near `${Expr.text(i.e)}'")
      }
      where.foreach { w =>
        if (Expr.hasAgg(w)) throw new IllegalArgumentException(
          "syntax error: Invalid use of aggregating function in where " +
            s"clause. near `${Expr.text(w)}'")
      }
      Go(m, n, seeds, seedsCol, seedsVar, etypes, dir, where, ys, dist, caps)
    } else if (p.kw("LOOKUP")) {
      p.expectKw("ON")
      val tag = p.word()
      val where = if (p.kw("WHERE")) Some(Expr.parse(p)) else None
      val (ys, dist) = if (p.kw("YIELD")) {
        val d = p.kw("DISTINCT")
        (parseItems(p), d)
      } else (Seq.empty[Item], false)
      Lookup(tag, where, ys, dist)
    } else if (p.kw("FETCH")) {
      p.expectKw("PROP"); p.expectKw("ON")
      // vertex form takes a tag LIST or `*` (parser.yy:2312); the edge
      // form names exactly one edge type — a following `,Word` only
      // occurs in the tag-list form (edge keys are quoted/numeric)
      val tags = if (p.sym("*")) List("*") else {
        val ts = scala.collection.mutable.ListBuffer(p.word())
        while (p.peek.contains(Sym(",")) &&
            p.peek2.exists(_.isInstanceOf[Word])) {
          p.next(); ts += p.word()
        }
        ts.toList
      }
      val tag = tags.head
      // ref-seeded forms: $-.col / $var.col (Output.feature pipes)
      if (p.peek.contains(Sym("$"))) {
        def inRef(): InRef = {
          p.expectSym("$")
          p.peek match {
            case Some(Sym("-")) =>
              p.next(); p.expectSym(".")
              InRef(None, p.word())
            case Some(Word(v)) =>
              p.next(); p.expectSym(".")
              InRef(Some(v), p.word())
            case t => throw new IllegalArgumentException(s"bad fetch ref $t")
          }
        }
        val first = inRef()
        val edgeForm = p.peek.contains(Sym("-")) && p.peek2.contains(Sym(">"))
        val keysRef = if (edgeForm) {
          p.expectSym("-"); p.expectSym(">")
          Some(first -> inRef())
        } else None
        // `@$-.rank` — rank from the pipe too (GO.feature max-rank
        // pipeline: FETCH PROP ON like $-.src -> $-.dst@$-.maxRank)
        val rankRef =
          if (edgeForm && p.sym("@")) Some(inRef()) else None
        val (ys, dist) = if (p.kw("YIELD")) {
          val d = p.kw("DISTINCT")
          (parseItems(p), d)
        } else (Seq.empty[Item], false)
        keysRef match {
          case Some(kr) => FetchEdge(tag, Seq.empty, Some(kr), ys, dist, rankRef)
          case None => Fetch(tags, Seq.empty, Some(first), ys, dist)
        }
      } else {
        // literal vid forms: edge `"s" -> "d" [@rank], ...` or vid list
        val firstVid = oneVid(p)
        if (p.peek.contains(Sym("-")) && p.peek2.contains(Sym(">"))) {
          val keys = scala.collection.mutable.ListBuffer.empty[(Any, Any, Option[Long])]
          var src: Any = firstVid
          var go = true
          while (go) {
            p.expectSym("-"); p.expectSym(">")
            val dst = oneVid(p)
            val rank = if (p.sym("@")) Some(p.intLit().toLong) else None
            keys += ((src, dst, rank))
            if (p.sym(",")) {
              src = oneVid(p)
            } else go = false
          }
          val (ys, dist) = if (p.kw("YIELD")) {
            val d = p.kw("DISTINCT")
            (parseItems(p), d)
          } else (Seq.empty[Item], false)
          FetchEdge(tag, keys.toSeq, None, ys, dist)
        } else {
          val vids = scala.collection.mutable.ListBuffer[Any](firstVid)
          while (p.sym(",")) {
            vids += oneVid(p)
          }
          val (ys, dist) = if (p.kw("YIELD")) {
            val d = p.kw("DISTINCT")
            (parseItems(p), d)
          } else (Seq.empty[Item], false)
          Fetch(tags, vids.toSeq, None, ys, dist)
        }
      }
    } else if (p.kw("FIND")) {
      val mode =
        if (p.kw("SINGLE")) { p.expectKw("SHORTEST"); "single" }
        else if (p.kw("SHORTEST")) "shortest"
        else if (p.kw("NOLOOP")) "noloop"
        else { p.expectKw("ALL"); "all" }
      p.expectKw("PATH")
      if (p.kw("WITH")) p.expectKw("PROP") // props render in DataCollect; accepted
      p.expectKw("FROM")
      val (srcs, srcRef) = vidsOrRef(p)
      p.expectKw("TO")
      val (dsts, dstRef) = vidsOrRef(p)
      val etypes = if (p.kw("OVER")) parseEtypes(p) else Seq("*")
      val dir = if (p.kw("REVERSELY")) In
        else if (p.kw("BIDIRECT")) Both else Out
      val fpWhere = if (p.kw("WHERE")) Some(Expr.parse(p)) else None
      val upto = if (p.kw("UPTO")) { val k = p.intLit(); expectSteps(p); k }
        else 5
      val yieldPath = if (p.kw("YIELD")) {
        p.expectKw("PATH")
        Some(if (p.kw("AS")) p.word() else "PATH")
      } else None
      FindPath(mode, srcs, dsts, etypes, dir, upto, yieldPath, srcRef,
        dstRef, fpWhere)
    } else if (p.kw("GET")) {
      p.expectKw("SUBGRAPH")
      if (p.kw("WITH")) p.expectKw("PROP")
      val steps = p.peek match {
        case Some(Num(v, _)) => p.next(); expectSteps(p); v.toInt
        case _ => 1
      }
      p.expectKw("FROM")
      val (seeds, seedsRef) = vidsOrRef(p)
      val specs = scala.collection.mutable.ListBuffer.empty[(Direction, Seq[String])]
      var goSpecs = true
      while (goSpecs) {
        if (p.kw("IN")) specs += ((In, parseEtypes(p)))
        else if (p.kw("OUT")) specs += ((Out, parseEtypes(p)))
        else if (p.kw("BOTH")) specs += ((Both, parseEtypes(p)))
        else goSpecs = false
      }
      val sgWhere = if (p.kw("WHERE")) Some(Expr.parse(p)) else None
      if (p.kw("YIELD")) {
        val yields = scala.collection.mutable.ListBuffer.empty[(String, String)]
        var go = true
        while (go) {
          val what =
            if (p.kw("VERTICES")) "vertices"
            else if (p.kw("EDGES")) "edges"
            else throw new IllegalArgumentException(
              s"bad subgraph yield at ${p.ts.take(3)}")
          p.expectKw("AS") // alias required (subgraph.feature SyntaxError)
          yields += ((what, p.word()))
          if (p.sym(",")) () else go = false
        }
        SubgraphY(steps, seeds, seedsRef, specs.toSeq, yields.toSeq, sgWhere)
      } else {
        require(sgWhere.isEmpty, "GET SUBGRAPH WHERE needs the YIELD form")
        require(seedsRef.isEmpty, "GET SUBGRAPH $-. seeds need YIELD")
        specs.toSeq match {
          case Seq((d, ets)) => Subgraph(steps, seeds, ets, d)
          case Seq() => Subgraph(steps, seeds, Seq("*"), Both)
          case mixed =>
            // per-direction edge lists without YIELD output the
            // default columns (SubgraphBeforePipe `OUT serve BOTH
            // like | LIMIT 2`) — same engine as the YIELD form
            SubgraphY(steps, seeds, seedsRef, mixed,
              Seq(("vertices", "_vertices"), ("edges", "_edges")), sgWhere)
        }
      }
    } else if (p.kw("UNWIND")) {
      val e = Expr.parse(p)
      p.expectKw("AS")
      val alias = p.word()
      // `UNWIND ... MATCH/WITH/RETURN ...` is a cypher pipeline head
      if (p.kwPeek("MATCH") || p.kwPeek("OPTIONAL") || p.kwPeek("WITH") ||
          p.kwPeek("UNWIND") || p.kwPeek("RETURN"))
        MatchSeg.parseFromUnwind(p, e, alias)
      else Unwind(e, alias)
    } else if (p.kwPeek("WITH")) {
      p.kw("WITH")
      MatchSeg.parseFromWith(p)
    } else if (p.kwPeek("RETURN") && p.peek2.contains(Sym("$")) &&
        p.ts.drop(2).headOption.exists(_.isInstanceOf[Word]) &&
        p.ts.drop(3).headOption.exists {
          case Word(w) => w.equalsIgnoreCase("IF"); case _ => false }) {
      p.kw("RETURN"); p.expectSym("$"); val v = p.word()
      p.expectKw("IF"); p.expectSym("$"); val v2 = p.word()
      p.expectKw("IS")
      val notNull = p.kw("NOT")
      p.expectKw("NULL")
      ReturnIf(v, v2, notNull)
    } else if (p.kw("YIELD") || p.kw("RETURN")) {
      // standalone RETURN is openCypher's expression-only query form
      // (Null.feature etc) — same semantics as a YIELD sentence
      val distinct = p.kw("DISTINCT")
      val items = parseItems(p)
      val where = if (p.kw("WHERE")) Some(Expr.parse(p)) else None
      if (p.kw("FROM")) {
        // `YIELD ... FROM $a INNER JOIN $b ON $a.x == $b.y`
        // (parser.yy yield_sentence join_clause; yield/join.feature)
        def joinVar(): String = {
          p.expectSym("$")
          p.next() match {
            case Word(w) => w
            case t => throw new IllegalArgumentException(
              s"syntax error near `$$' join variable, got $t")
          }
        }
        val base = joinVar()
        val joins = scala.collection.mutable.ListBuffer
          .empty[(String, String, Expr.E)]
        var go2 = true
        while (go2) {
          val kind =
            if (p.kw("INNER")) "inner"
            else if (p.kw("LEFT")) "left"
            else if (p.kw("RIGHT")) "right"
            else if (p.kw("OUTER")) "outer"
            else if (p.kw("SEMI")) "semi"
            else ""
          if (kind.isEmpty) go2 = false
          else {
            p.expectKw("JOIN")
            val other = joinVar()
            p.expectKw("ON")
            joins += ((kind, other, Expr.parse(p)))
          }
        }
        YieldFrom(items, distinct, where, base, joins.toSeq)
      } else YieldStmt(items, distinct, where)
    } else if (p.kwPeek("ORDER")) {
      p.kw("ORDER"); p.expectKw("BY")
      val keys = scala.collection.mutable.ListBuffer.empty[(Expr.E, Boolean)]
      var go2 = true
      while (go2) {
        val e = Expr.parse(p)
        val desc = if (p.kw("DESC")) true else { p.kw("ASC"); false }
        keys += (e -> desc)
        if (p.sym(",")) () else go2 = false
      }
      OrderByStmt(keys.toSeq)
    } else if (p.kw("GROUP")) {
      // GROUP BY sentence over one $var source (GroupByValidator)
      p.expectKw("BY")
      val keys = scala.collection.mutable.ListBuffer(Expr.parse(p))
      while (p.sym(",")) keys += Expr.parse(p)
      p.expectKw("YIELD")
      val distinct = p.kw("DISTINCT")
      GroupStmt(keys.toSeq, parseItems(p), distinct)
    } else throw new IllegalArgumentException(
      s"unknown sentence at ${p.ts.take(4)}")
  }

  // ---------- executor: AST → DataFrame plan ----------
  def run(g: GraphCatalog, query: String): DataFrame = runScript(g, query)

  /** Execute a (possibly multi-statement) script; the last statement's
    * frame is the result. `$var = stmt` binds the frame in the script
    * environment (AssignmentValidator / UnionAllVersionVar). */
  def runScript(g: GraphCatalog, query: String): DataFrame =
    runScript(g, query, Map.empty)

  def runScript(g: GraphCatalog, query: String,
                params: Map[String, String]): DataFrame = {
    val last = runRaw(g, query, params)
    // internal twins (`__path_*`, `__vid_*`, `__edges_*`, `__edge_*`)
    // never surface to the user
    val hidden = last.columns.filter(c2 =>
      c2.startsWith("__path_") || c2.startsWith("__vid_") ||
        c2.startsWith("__edges_") || c2.startsWith("__edge_"))
    if (hidden.isEmpty) last else last.drop(hidden: _*)
  }

  /** Like runScript but KEEPS the hidden structured twins — for
    * library callers that want the structured columns (e.g. the
    * subgraph edge list as (src,dst,etype,rank) structs) without
    * re-parsing the rendered strings. */
  private[graft] def runRaw(g: GraphCatalog, query: String,
                            params: Map[String, String] = Map.empty): DataFrame = {
    val env = scala.collection.mutable.Map.empty[String, DataFrame]
    var last: DataFrame = null
    var returned = false
    parseScript(query, params).foreach { case (varName, stmt) =>
      if (!returned) stmt match {
        case ReturnIf(v, c, notNull) =>
          // conditional early return: $c IS [NOT] NULL over the var's
          // frame (empty frame = NULL); when it fires the script
          // stops and yields $v
          val condFrame = env.getOrElse(c,
            throw new IllegalArgumentException(s"undefined $$$c"))
          val nonEmpty = !condFrame.head(1).isEmpty
          if (nonEmpty == notNull) {
            last = env.getOrElse(v,
              throw new IllegalArgumentException(s"undefined $$$v"))
            returned = true
          }
        case _ =>
          // a $var is single-assignment (reference SymbolTable:
          // "variable ... already exists", PipeAndVariable.feature)
          varName.filter(env.contains).foreach(v =>
            throw new IllegalArgumentException(s"variable `$v' already exists"))
          val df = exec(g, stmt, env.toMap)
          varName.foreach(env(_) = df)
          last = df
      }
    }
    require(last != null, "empty script")
    last
  }

  /** Reference-graphd batch semantics for the TCK's `try to execute
    * query`: statements run sequentially, execution stops at the FIRST
    * failing statement, and the successful prefix KEEPS its effects —
    * the harness swallows the error. Genuine execution rejects
    * (DmlError, semantic IllegalArgumentException) halt-and-swallow;
    * unsupported-surface rejects and schema gaps RETHROW so the runner
    * can mark the scenario dead instead of faking the effect.
    * Returns the last successful statement's frame (None when the
    * first already failed). */
  private[graft] def runScriptPrefix(g: GraphCatalog, query: String,
      params: Map[String, String]): Option[DataFrame] = {
    val stmts = parseScript(query, params)
    val env = scala.collection.mutable.Map.empty[String, DataFrame]
    var last: Option[DataFrame] = None
    var halted = false
    stmts.foreach { case (varName, stmt) =>
      if (!halted) {
        try {
          varName.filter(env.contains).foreach(v =>
            throw new IllegalArgumentException(s"variable `$v' already exists"))
          val df = exec(g, stmt, env.toMap)
          varName.foreach(env(_) = df)
          last = Some(df)
        } catch {
          case _: DmlError => halted = true
          case e: IllegalArgumentException =>
            val msg = String.valueOf(e.getMessage)
            if (msg.contains("unsupported") || msg.contains("unknown sentence") ||
                msg.contains("bad pipe")) throw e
            halted = true
        }
      }
    }
    last
  }

  def exec(g: GraphCatalog, stmt: Stmt): DataFrame = exec(g, stmt, Map.empty)

  def exec(g: GraphCatalog, stmt: Stmt, env: Map[String, DataFrame]): DataFrame = {
    val spark = g.session
    stmt match {
      case m: MatchSeg.MStmt => MatchSeg.exec(g, m)
      case d: Dml.DStmt => Dml.exec(g, d, env, None)
      case Piped(head, pipes0) =>
        // ORDER BY immediately followed by LIMIT: tiebreak the cut
        val pipes = pipes0.zip(pipes0.drop(1) ++ Seq(null)).map {
          case (ob: POrderBy, _: PLimit) => ob.copy(tiebreak = true)
          case (pp, _) => pp
        }
        pipes.foldLeft {
          val df = exec(g, head, env)
          // duplicate aliases are legal in OUTPUT but not as pipe
          // input — $-.col would be ambiguous (GO.feature `AS year,
          // ... AS year | GO FROM $-.id` SemanticError)
          val dup = df.columns.groupBy(identity).collectFirst {
            case (a, cs) if cs.length > 1 => a }
          dup.foreach(a => throw new IllegalArgumentException(
            s"Duplicate columns: $a"))
          df
        }((df, pp) => applyPipe(g, df, pp, env))
      case SetOp(op, all, l, r) =>
        val (a, b) = (exec(g, l, env), exec(g, r, env))
        // set sentences require IDENTICAL column-name lists
        // (SetValidator.cpp; Set.feature SemanticError goldens)
        if (a.columns.toSeq != b.columns.toSeq)
          throw new IllegalArgumentException(
            s"different column names to UNION/INTERSECT/MINUS are not " +
              s"supported: ${a.columns.mkString(",")} vs " +
              b.columns.mkString(","))
        val bAligned = b.toDF(a.columns: _*)
        op match {
          case "union" => if (all) a.unionByName(bAligned)
                          else a.unionByName(bAligned).distinct()
          case "intersect" => a.intersect(bAligned)
          case "minus" => a.except(bAligned)
        }
      case go: Go =>
        val (seeds, input) = go match {
          case Go(_, _, _, _, Some((v, c0)), _, _, _, _, _, _) =>
            val src = env.getOrElse(v,
              throw new IllegalArgumentException(s"undefined $$$v"))
            // `id($var.vertices_)` names the reference's implicit
            // no-YIELD FETCH output column; our raw frame carries the
            // vid itself
            val c = if (!src.columns.contains(c0) &&
                (c0 == "vertices_" || c0 == "__vid_vertices_") &&
                src.columns.contains("vid")) "vid" else c0
            (src.select(colByName(c).as("vid")), Some((src, c)))
          case Go(_, _, s, None, None, _, _, _, _, _, _) =>
            // the reference treats the FROM vid list as a set (dup
            // seeds yield once — GO.feature); piped GO keeps bag rows
            (seedsDf(spark, s.distinct), None)
          case _ =>
            throw new IllegalArgumentException("top-level GO needs literal seeds")
        }
        execGo(g, go, seeds, input)
      case Lookup(tag, Some(Expr.FnCall("es_query", esArgs, _)), ys, dist) =>
        execEsLookup(g, tag, esArgs, ys, dist)
      case Lookup(tag, where, ys, dist) =>
        // LOOKUP targets a tag OR an edge type (LookupEdge TCK)
        where.foreach(validateGeoIndexFilter)
        val (tbl0, isEdge) =
          try (g.vertexTable(tag), false)
          catch { case _: IllegalArgumentException => (g.edgesByType(tag), true) }
        // the reference is an INDEX scan: the predicate must be
        // index-usable — reference a prop, compare prop vs CONSTANT
        // (not prop vs prop), bool props only against bool literals,
        // no regex/suffix/infix/NOT-IN forms (LookUp/TagIndexFullScan
        // validator scenarios). ES_QUERY (fulltext) is out of scope
        // and skips first.
        where.foreach(w => Expr.collect(w) {
          case Expr.FnCall("es_query", _, _) =>
            throw new IllegalArgumentException(
              "unsupported fulltext ES_QUERY")
        })
        // a scenario space with no index on the schema can't LOOKUP
        g match {
          case sc: graft.graph.ScenarioCatalog =>
            if (!sc.indexDefs.values.exists(v =>
                  v._1 == !isEdge && v._2 == tag))
              throw new graft.nql.DmlError(
                "There is no index to use at runtime")
          case _ => ()
        }
        locally {
          val entity = Set("vertex", "edge")
          def hasProp(x: Expr.E): Boolean = {
            var f = false
            Expr.collect(x) {
              case Expr.Ref(parts)
                  if !entity(parts.last.toLowerCase) => f = true
            }
            f
          }
          val cmps = Set("==", "!=", "<", ">", "<=", ">=")
          def boolProp(parts: List[String]): Boolean =
            tbl0.columns.contains(parts.last) &&
              tbl0.schema(parts.last).dataType ==
                org.apache.spark.sql.types.BooleanType
          where.foreach { w =>
            if (!hasProp(w))
              throw new IllegalArgumentException(
                "LOOKUP filter must reference an indexed property")
            Expr.collect(w) {
              case Expr.Bin(op, l2, r2)
                  if cmps(op) && hasProp(l2) && hasProp(r2) =>
                throw new IllegalArgumentException(
                  s"Expression ${Expr.text(l2)} $op ${Expr.text(r2)}" +
                    " not supported yet")
              // props must be referenced `tag.prop` — a bare column
              // word is the reference's `(col1==200) not supported
              // yet` SemanticError (LookupTag2.feature)
              case Expr.Ref(List(one))
                  if !entity(one.toLowerCase) && !one.startsWith("$") =>
                throw new IllegalArgumentException(
                  s"Expression ($one) not supported yet")
              // a function call OVER a property can't drive an index
              // scan (udf_is_in(tag.col, ...) → SemanticError); geo
              // predicates (ST_*) are the indexed exception and are
              // validated separately by validateGeoIndexFilter
              case Expr.FnCall(fn, args, _)
                  if !fn.toLowerCase.startsWith("st_") &&
                    args.exists(hasProp) =>
                throw new IllegalArgumentException(
                  s"Expression $fn(...) over an indexed property" +
                    " not supported yet")
              // no regex / suffix / infix matching on an index scan;
              // STARTS WITH needs a CONSTANT-evaluable prefix (a
              // prop-free expression: toUpper("r") is fine)
              case Expr.Bin("=~", _, _) =>
                throw new IllegalArgumentException(
                  "Expression =~ not supported yet")
              case Expr.Bin(op2 @ ("ends" | "contains"), _, _) =>
                throw new IllegalArgumentException(
                  s"Expression $op2 with not supported yet")
              case Expr.Bin("starts", _, r2) if hasProp(r2) =>
                throw new IllegalArgumentException(
                  "Expression starts with a non-constant prefix" +
                    " not supported yet")
              // NOT STARTS WITH has no index strategy (the reference's
              // "please use full-text index" SemanticError); the
              // relational NOT IN [consts] IS supported (IndexFullScan
              // + Filter) while generic unary `NOT (...)` is not
              case Expr.Un("not" | "notrel", Expr.Bin("starts", _, _)) =>
                throw new IllegalArgumentException(
                  "Expression NOT STARTS WITH not supported," +
                    " please use full-text index as an optimal solution")
              case Expr.Un("not", Expr.Bin("in", _, _)) =>
                throw new IllegalArgumentException(
                  "Expression !(IN) not supported yet")
              case Expr.Bin(op, Expr.Ref(parts), Expr.Lit(v))
                  if cmps(op) && boolProp(parts) &&
                    v != null && !v.isInstanceOf[Boolean] =>
                throw new IllegalArgumentException(
                  "Column type of BOOL does not match the literal")
              case Expr.Bin(op, Expr.Lit(v), Expr.Ref(parts))
                  if cmps(op) && boolProp(parts) &&
                    v != null && !v.isInstanceOf[Boolean] =>
                throw new IllegalArgumentException(
                  "Column type of BOOL does not match the literal")
            }
          }
        }
        // stale-index reads (scenario spaces): rows stored before
        // CREATE INDEX are invisible to LOOKUP until REBUILD
        val tbl = g match {
          case sc: graft.graph.ScenarioCatalog =>
            sc.lookupVisible(!isEdge, tag) match {
              case Some(vis) if !isEdge =>
                val keys = vis.toSeq
                if (keys.isEmpty) tbl0.limit(0)
                else tbl0.filter(col("vid").isin(keys: _*))
              case Some(vis) =>
                val keys = vis.toSeq.collect {
                  case (s: Any, d: Any, r: Long) => (s, d, r) }
                if (keys.isEmpty) tbl0.limit(0)
                else {
                  import org.apache.spark.sql.types.{LongType, StructField, StructType}
                  import scala.jdk.CollectionConverters._
                  val kdf = spark.createDataFrame(keys.map {
                    case (s, d, r) =>
                      org.apache.spark.sql.Row(s, d, r) }.asJava,
                    StructType(Seq(
                      StructField("src", tbl0.schema("src").dataType),
                      StructField("dst", tbl0.schema("dst").dataType),
                      StructField("rank", LongType))))
                  tbl0.join(broadcast(kdf), Seq("src", "dst", "rank"),
                    "left_semi")
                }
              case None => tbl0
            }
          case _ => tbl0
        }
        // stale index entries (IGNORE_EXISTED_INDEX) still surface
        // through LOOKUP with their pre-overwrite prop values; exact
        // duplicates of live rows collapse (one index entry each)
        val tblS = g match {
          case sc: graft.graph.ScenarioCatalog =>
            sc.staleFrame(!isEdge, tag) match {
              case Some(st) => tbl.unionByName(st).distinct()
              case None => tbl
            }
          case _ => tbl
        }
        val lkStrVid = tbl0.schema(if (isEdge) "src" else "vid")
          .dataType == org.apache.spark.sql.types.StringType
        val resolver: Expr.Resolver = {
          // whole-entity yields (`YIELD vertex AS node` / `YIELD edge
          // AS e`) render the serialized node/edge value
          case Expr.Ref(List(k)) if !isEdge && k.equalsIgnoreCase("vertex") =>
            Some(renderNode(col("vid"), lkStrVid))
          case Expr.Ref(List(k)) if isEdge && k.equalsIgnoreCase("edge") =>
            Some(renderEdge(lit(tag), col("src"), col("dst"), col("rank"),
              lkStrVid))
          case Expr.Ref(List(c)) => Some(col(c))
          case Expr.Ref(List(t, prop)) if t == tag => Some(col(prop))
          case Expr.FnCall("id", List(Expr.Ref(List("vertex"))), _) if !isEdge =>
            Some(col("vid"))
          case Expr.FnCall("src", List(Expr.Ref(List("edge"))), _) if isEdge =>
            Some(col("src"))
          case Expr.FnCall("dst", List(Expr.Ref(List("edge"))), _) if isEdge =>
            Some(col("dst"))
          case Expr.FnCall("rank", List(Expr.Ref(List("edge"))), _) if isEdge =>
            Some(col("rank"))
          // properties(vertex|edge): all schema props in declaration
          // order (Schema.feature LOOKUP yields)
          case Expr.FnCall("properties", List(Expr.Ref(List(k))), _)
              if (!isEdge && k.equalsIgnoreCase("vertex")) ||
                (isEdge && k.equalsIgnoreCase("edge")) =>
            val exclude =
              if (isEdge) Set("src", "dst", "rank") else Set("vid")
            val cs = tbl.columns.filterNot(exclude.contains)
            Some(struct(cs.map(c0 => col(c0).as(c0)).toSeq: _*))
          case _ => None
        }
        val filtered = where match {
          case Some(w) => tblS.filter(Expr.compile(w, resolver))
          case None => tblS
        }
        val out =
          if (ys.isEmpty) filtered
          else selectItems(filtered, ys, resolver)
        if (dist) out.distinct() else out
      case f @ Fetch(_, vids, vidsRef, _, _) =>
        // vid list keeps multiplicity (dup vids yield dup rows unless
        // DISTINCT — FetchVertices TCK); bag semantics via join
        val bag = vidsRef match {
          case Some(InRef(Some(v), c)) =>
            env.getOrElse(v, throw new IllegalArgumentException(s"undefined $$$v"))
              .select(col(c).as("vid"))
          case Some(InRef(None, _)) =>
            throw new IllegalArgumentException("FETCH $-. needs a pipe")
          case None => seedsDf(spark, vids)
        }
        execFetch(g, f, bag)
      case fe @ FetchEdge(_, keys, keysRef, _, _, rankRef) =>
        val pairs = keysRef match {
          case Some((InRef(Some(v), sc), InRef(_, dc))) =>
            val rc = rankRef match {
              case Some(rr) => col(rr.colName).cast("long").as("__r")
              case None => lit(0L).as("__r")
            }
            env.getOrElse(v, throw new IllegalArgumentException(s"undefined $$$v"))
              .select(col(sc).as("__s"), col(dc).as("__d"), rc)
          case Some((InRef(None, _), _)) =>
            throw new IllegalArgumentException("FETCH $-. needs a pipe")
          case None => edgeKeysDf(spark, keys)
        }
        execFetchEdge(g, fe, pairs)
      case fp: FindPath => execFindPath(g, fp, None, env)
      case sg: SubgraphY => execSubgraphY(g, sg, None, env)
      case Subgraph(steps, seeds, etypes, dir) =>
        Traverse.subgraph(seedsDf(spark, seeds), simpleEdges(g, etypes),
          steps, dir).select(col("vid"), col("step").as("depth"))
      case Unwind(e, alias) =>
        spark.range(1).select(
          explode(Expr.compile(e, Expr.noResolver)).as(alias))
      case OrderByStmt(keys) =>
        // OrderByValidator.cpp: factors must be $-.col / $var.col; a
        // standalone sentence has no pipe input, so $-.col has no prop
        // and only ONE user-defined var may be referenced. Output is
        // the var's full frame, sorted.
        keys.foreach {
          case (Expr.Param("var", _, List(_)), _) => ()
          case (Expr.Param("input", _, parts), _) =>
            val c2 = parts.mkString(".")
            throw new IllegalArgumentException(
              s"SemanticError: `$$-.$c2', not exist prop `$c2'")
          case (other, _) =>
            throw new IllegalArgumentException(
              s"SemanticError: Order by with invalid expression `${Expr.text(other)}'")
        }
        val ovars = keys.map(_._1).collect {
          case Expr.Param("var", v, _) => v }.distinct
        if (ovars.size > 1) throw new IllegalArgumentException(
          "SemanticError: Multiple user defined vars are not supported yet.")
        val obase = env.getOrElse(ovars.head,
          throw new IllegalArgumentException(
            s"variable: `${ovars.head}' not exist"))
        val sorts = keys.map { case (Expr.Param("var", v, List(c2)), desc) =>
          if (!obase.columns.contains(c2))
            throw new IllegalArgumentException(
              s"SemanticError: `$$$v.$c2', not exist prop `$c2'")
          if (desc) colByName(c2).desc else colByName(c2).asc
        }
        obase.orderBy(sorts: _*)
      case GroupStmt(keys, items, distinct) =>
        // same single-$var source rule as a standalone YIELD
        var vars = Set.empty[String]
        (keys ++ items.map(_.e)).foreach(Expr.collect(_) {
          case Expr.Param("var", n, _) => vars += n
        })
        require(vars.size == 1, "GROUP BY sentence needs one $var source")
        val base = env.getOrElse(vars.head,
          throw new IllegalArgumentException(s"undefined $${vars.head}"))
        val resolver: Expr.Resolver = {
          case Expr.Param("var", _, List(c)) => Some(colByName(c))
          case _ => None
        }
        val keyCols = keys.zipWithIndex.map { case (k, i2) =>
          Expr.compile(k, resolver).as(s"__gk$i2") }
        val aggs = items.map { i =>
          val c = Expr.compile(i.e, resolver)
          (if (Expr.hasAgg(i.e)) c else first(c)).as(i.alias)
        }
        val out = base.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
          .select(items.map(i => colByName(i.alias)): _*)
        if (distinct) out.distinct() else out
      case YieldFrom(items, distinct, where, base, joins) =>
        // validator parity (yield/join.feature error goldens)
        items.foreach { i =>
          if (Expr.hasAgg(i.e)) throw new IllegalArgumentException(
            "Invalid use of aggregating function in yield clause.")
        }
        joins.foreach { case (kind, other, _) =>
          if (kind != "inner")
            throw new IllegalArgumentException("only support inner join.")
          if (other == base)
            throw new IllegalArgumentException("do not support self-join.")
        }
        def frame(v: String): DataFrame = env.getOrElse(v,
          throw new IllegalArgumentException(s"variable: `$v' not exist"))
        val frames = (base +: joins.map(_._2)).map(v => v -> frame(v))
        // YieldValidator::validateJoin duplicate-column rule: a name
        // shared by both sides is an error UNLESS it is that side's
        // join-condition column (join-key dedup — yield/join.feature
        // "join fetch" joins $a.src == $b.src with `src' on both)
        joins.foreach { case (_, other, cond) =>
          cond match {
            case Expr.Bin("==", Expr.Param("var", lv, List(lc)),
                               Expr.Param("var", rv, List(rc))) =>
              for ((flv, ffr) <- frames.find(_._1 == lv);
                   (frv, ffr2) <- frames.find(_._1 == rv)
                   if flv != frv) {
                val dups = ffr.columns.filterNot(_.startsWith("__"))
                  .filterNot(_ == lc).toSet
                  .intersect(ffr2.columns.filterNot(_.startsWith("__"))
                    .filterNot(_ == rc).toSet)
                dups.headOption.foreach { c2 =>
                  throw new IllegalArgumentException(
                    s"column name `$c2' of $$$flv and column name `$c2' " +
                      s"of $$$frv are the same, please rename it to a " +
                      "non-duplicate column name.")
                }
              }
            case _ => ()
          }
        }
        def prefixed(v: String, df: DataFrame): DataFrame =
          df.columns.foldLeft(df)((d, c2) =>
            d.withColumnRenamed(c2, s"__jv_${v}_$c2"))
        val jres: Expr.Resolver = {
          case Expr.Param("var", v, List(c2)) =>
            Some(colByName(s"__jv_${v}_$c2"))
          case _ => None
        }
        var joined = prefixed(base, frames.head._2)
        joins.foreach { case (_, other, cond) =>
          // the condition must bind exactly the joined variables and
          // existing props (SemanticError parity)
          var vars = Set.empty[String]
          Expr.collect(cond) {
            case Expr.Param("var", v, List(c2)) =>
              vars += v
              val f2 = frames.find(_._1 == v).getOrElse(
                throw new IllegalArgumentException(
                  s"variable: `$v' not exist"))._2
              if (!f2.columns.contains(c2))
                throw new IllegalArgumentException(
                  s"`$$$v.$c2', not exist prop `$c2'")
          }
          if (!vars.contains(other))
            throw new IllegalArgumentException(
              s"`$other' should be consistent with join condition variable")
          joined = joined.join(prefixed(other, frame(other)),
            Expr.compile(cond, jres), "inner")
        }
        val filtered = where match {
          case Some(w) => joined.filter(Expr.compile(w, jres))
          case None => joined
        }
        val out = selectItems(filtered, items, jres)
        if (distinct) out.distinct() else out
      case YieldStmt(items, distinct, where) =>
        // standalone YIELD: constants, or projections over one $var
        var vars = Set.empty[String]
        (items.map(_.e) ++ where.toList).foreach(Expr.collect(_) {
          case Expr.Param("var", n, _) => vars += n
        })
        require(vars.size <= 1, "YIELD supports at most one $var source")
        // note: `YIELD COUNT(*), 1+1` aggregates over the single
        // constant row (legal — yield.feature:553); the bare
        // `YIELD count(*)` SemanticError scenario is @skip-tagged
        // (a reference TODO), so no agg guard here
        (items.map(_.e) ++ where.toList).foreach(Expr.collect(_) {
          // uuid() is only legal inside graph-pattern filters; a
          // standalone YIELD rejects it (YieldValidator "Not supported
          // expression `uuid()' for props deduction")
          case Expr.FnCall("uuid", Nil, _) =>
            throw new IllegalArgumentException(
              "SemanticError: Not supported expression `uuid()' for props deduction.")
        })
        val base = vars.headOption match {
          case Some(v) => env.getOrElse(v,
            throw new IllegalArgumentException(s"undefined $$$v"))
          case None => spark.range(1).drop("id")
        }
        val resolver: Expr.Resolver = {
          case Expr.Param("var", _, List(c)) => Some(colByName(c))
          case _ => None
        }
        val filtered = where match {
          case Some(w) => base.filter(Expr.compile(w, resolver))
          case None => base
        }
        val out = selectItems(filtered, items, resolver)
        if (distinct) out.distinct() else out
    }
  }

  /** GET SUBGRAPH ... YIELD — step rows of rendered vertex/edge lists
    * (SubgraphExecutor.cpp; DataCollect kSubgraph). */
  private def execSubgraphY(g: GraphCatalog, sg: SubgraphY,
                            input: Option[DataFrame],
                            env: Map[String, DataFrame]): DataFrame = {
    val spark = g.session
    val SubgraphY(steps, seeds, seedsRef, specs0, yields, where) = sg
    val seedFrame = seedsRef match {
      case Some(InRef(None, c)) =>
        input.getOrElse(throw new IllegalArgumentException(
          "GET SUBGRAPH $-. needs a pipe")).select(colByName(c).as("vid"))
      case Some(InRef(Some(v), c)) =>
        env.getOrElse(v, throw new IllegalArgumentException(s"undefined $$$v"))
          .select(colByName(c).as("vid"))
      case None => seedsDf(spark, seeds)
    }
    // SubgraphValidator parity: ref-seeded src column must match the
    // space's vid type (`the srcs should be type of FIXED_STRING…`)
    if (seedsRef.isDefined) {
      val got = seedFrame.schema.fields.head.dataType
      val want = g.allVertices.schema("vid").dataType
      if (got != want)
        throw new IllegalArgumentException(
          s"SemanticError: the srcs should be type of " +
            s"${want.simpleString}, but was `${got.simpleString}'")
    }
    val specs = if (specs0.isEmpty) Seq((Both: Direction, Seq("*"))) else specs0
    // every named edge type must exist (reference ExecutionError:
    // `EdgeNotFound: EdgeName `noexist`` — subgraph.feature)
    specs.foreach { case (_, list) =>
      if (list != Seq("*")) {
        val known = g.edgeTypeNames.toSet
        list.filterNot(known).foreach { miss =>
          throw new DmlError(s"EdgeNotFound: EdgeName `$miss` not existed")
        }
      }
    }
    // a WHERE clause filters edges on their props (and $$ dst-tag
    // props) during expansion — needs the property-carrying edge view
    val needProps = where.isDefined
    val allTypes = specs.flatMap { case (_, l) =>
      if (l == Seq("*")) g.edgeTypeNames else l }.distinct
    val oriented0 = specs.map { case (d, list) =>
      val ets = if (list == Seq("*")) g.edgeTypeNames else list
      val base =
        if (needProps) g.edgesWithProps(ets).withColumnRenamed("__etype", "etype")
        else if (list == Seq("*")) g.allEdges
        else g.allEdges.filter(col("etype").isin(list: _*))
      Traverse.orientCols(base, d)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val oriented = where match {
      case Some(w) =>
        var frame = oriented0
        // $$ tag-prop predicates join the dst tag table per referenced tag
        var dstTags = Set.empty[String]
        Expr.collect(w) {
          case Expr.Param("dst", _, List(tag, _)) => dstTags += tag
        }
        dstTags.foreach { tag =>
          frame = Traverse.appendVertices(frame, g.vertexTable(tag),
            vidCol = "dst", prefix = s"__dst_${tag}_")
        }
        val resolver: Expr.Resolver = {
          case Expr.Ref(List(et, p)) if allTypes.contains(et) =>
            Some(p match {
              case "_src" => when(col("etype") === et, col("ss"))
              case "_dst" => when(col("etype") === et, col("sd"))
              case "_rank" => when(col("etype") === et, col("rank"))
              case prop => when(col("etype") === et, col(prop))
            })
          case Expr.Param("dst", _, List(tag, prop)) =>
            Some(col(s"__dst_${tag}_$prop"))
          case _ => None
        }
        frame.filter(Expr.compile(w, resolver))
          .select("src", "dst", "etype", "rank", "ss", "sd")
      case None => oriented0
    }
    val verts = Traverse.subgraph(seedFrame, oriented, steps, Out)
    val strVid = seedFrame.schema("vid").dataType ==
      org.apache.spark.sql.types.StringType
    val vRows = verts.groupBy("step")
      .agg(collect_list(renderNode(col("vid"), strVid)).as("__v"))
    lazy val eRows = {
      val edges = Traverse.inducedEdges(verts, oriented)
      (if (steps == 0) edges.limit(0) else edges) // 0 STEPS: vertices only
        .groupBy("step")
        .agg(
          collect_list(
            renderEdge(col("etype"), col("ss"), col("sd"), col("rank"), strVid))
            .as("__e"),
          // structured twin of the rendered edge list: downstream
          // consumers (q_nql_subgraph_edges) read (src,dst,etype,rank)
          // columns directly instead of regex-reparsing the rendering
          // (round-4 VERDICT #1: render-then-regex anti-pattern)
          collect_list(struct(col("ss").as("src"), col("sd").as("dst"),
            col("etype"), col("rank"))).as("__estruct"))
    }
    // a vertices-only YIELD never reads the induced edges: skip the pass
    val joined =
      if (!yields.exists(_._1 == "edges")) vRows
      else vRows.join(eRows, Seq("step"), "left")
        .withColumn("__e", coalesce(col("__e"), array().cast("array<string>")))
        .withColumn("__estruct", coalesce(col("__estruct"),
          array().cast(eRows.schema("__estruct").dataType)))
    joined.select(yields.flatMap { case (what, alias) =>
      if (what == "vertices") Seq(col("__v").as(alias))
      else Seq(col("__e").as(alias), col("__estruct").as(s"__edges_$alias"))
    }: _*)
  }

  /** FIND PATH execution; endpoint sets from literals, the pipe input
    * (`$-.col`), or a script variable (`$var.col`) — the reference
    * treats ref-seeded endpoint lists as sets (PathValidator dedups). */
  private def execFindPath(g: GraphCatalog, fp: FindPath,
                           input: Option[DataFrame],
                           env: Map[String, DataFrame]): DataFrame = {
    val spark = g.session
    val FindPath(mode, srcs, dsts, etypes, dir, upto, yieldPath,
      srcRef, dstRef, fpWhere) = fp
    // PathValidator parity: every named edge type must exist
    if (etypes != Seq("*")) {
      val known = g.edgeTypeNames.toSet
      etypes.filterNot(known).foreach { miss =>
        throw new IllegalArgumentException(
          s"SemanticError: $miss not found in space.")
      }
    }
    def seedSet(vids: Seq[Any], ref: Option[InRef]): DataFrame = ref match {
      case Some(InRef(None, c)) =>
        input.getOrElse(throw new IllegalArgumentException(
          "FIND PATH $-. needs a pipe")).select(colByName(c).as("vid"))
          .distinct()
      case Some(InRef(Some(v), c)) =>
        env.getOrElse(v, throw new IllegalArgumentException(s"undefined $$$v"))
          .select(colByName(c).as("vid")).distinct()
      case None => seedsDf(spark, vids)
    }
    val (sSet, dSet) = (seedSet(srcs, srcRef), seedSet(dsts, dstRef))
    // WHERE = an edge filter: only edges whose props satisfy it are
    // walkable (FindPathValidator edge filter; path WHERE scenarios).
    // Filter the keyed prop frame once, then restrict the walk frames
    // to the surviving (src,dst,etype,rank) keys.
    val allowed: Option[DataFrame] = fpWhere.map { w =>
      val names = if (etypes == Seq("*")) g.edgeTypeNames else etypes
      val ep = g.edgesWithProps(names)
      val resolver: Expr.Resolver = {
        case Expr.Ref(List(et, prop))
            if names.contains(et) && ep.columns.contains(prop) =>
          Some(when(col("__etype") === et, col(prop)))
        case Expr.Ref(List(et, _)) if names.contains(et) =>
          Some(lit(null))
        case _ => None
      }
      w match {
        // container literal in boolean position: truthiness false
        case Expr.ListLit(_) | Expr.SetLit(_) | Expr.MapLit(_) =>
          ep.limit(0)
        case _ => ep.filter(Expr.compile(w, resolver) === lit(true))
      }
    }
    val te0 = if (etypes == Seq("*")) g.allEdges
      else g.allEdges.filter(col("etype").isin(etypes: _*))
    val te = allowed match {
      case Some(ok) => te0.join(
        ok.select(col("src"), col("dst"),
          col("__etype").as("etype")).distinct(),
        Seq("src", "dst", "etype"), "left_semi")
      case None => te0
    }
    // the typed payload (each hop's stored identity) renders YIELD path
    // and keeps ALL PATH a trail — no repeated stored edge
    // (AllPathsExecutor.cpp:334-366); SHORTEST and NOLOOP without YIELD
    // keep the lean untyped walk
    val typed = yieldPath.isDefined || mode == "all"
    val single = mode == "single"
    val walked = PathFinder.walk(sSet, dSet, te, upto,
      if (single) "shortest" else mode, dir, typed)
    yieldPath match {
      case Some(alias) => PathFinder.yieldPaths(walked, alias, single)
      case None => PathFinder.vidPaths(walked, single)
    }
  }

  /** The reference's geo-index planner only accepts predicates it can
    * turn into an S2 cell scan: one side of ST_Intersects/Covers/
    * CoveredBy/DWithin must be a CONSTANT geography, and ST_Distance
    * may only appear as an upper bound (dist < c / dist <= c /
    * c > dist / c >= dist) with a numeric bound. Anything else raises
    * a SemanticError ("not supported yet" — GeoIndex.cpp) rather than
    * silently full-scanning; we mirror the reject so LOOKUP behavior
    * matches (GeoBase.feature error scenarios). */
  private def validateGeoIndexFilter(w: Expr.E): Unit = {
    import Expr.{Bin, E, FnCall, Lit}
    def constGeo(e: E): Boolean = e match {
      case FnCall(n, args, _)
        if n == "st_geogfromtext" || n == "st_point" =>
        var refs = false
        args.foreach(Expr.collect(_) {
          case Expr.Ref(_) => refs = true
          case Expr.Param(_, _, _) => refs = true
        })
        !refs
      case _ => false
    }
    def reject(what: String): Nothing =
      throw new DmlError(s"Expression $what not supported yet")
    def isDist(e: E): Boolean = e match {
      case FnCall("st_distance", _, _) => true
      case _ => false
    }
    // a bound is definitely-bad only when it is a non-numeric literal;
    // non-literal bounds (params/refs) fall through to execution
    def badBound(e: E): Boolean = e match {
      case Lit(_: Boolean) => true
      case Lit(_: String) => true
      case _ => false
    }
    def walk(e: E): Unit = e match {
      case Bin(op, l, r) if isDist(l) || isDist(r) =>
        val ok =
          if (isDist(l)) Set("<", "<=").contains(op) && !badBound(r)
          else Set(">", ">=").contains(op) && !badBound(l)
        if (!ok) reject("(ST_Distance comparison)")
      case FnCall(n, args, _)
        if n == "st_intersects" || n == "st_covers" || n == "st_coveredby" =>
        if (!args.exists(constGeo)) reject(s"$n(non-constant args)")
      case FnCall("st_dwithin", args, _) =>
        if (!args.take(2).exists(constGeo) ||
            args.lift(2).exists(badBound)) reject("ST_DWithin(bad distance)")
      case Bin(_, l, r) => walk(l); walk(r)
      case Expr.Un(_, x) => walk(x)
      case _ => ()
    }
    walk(w)
  }

  private def edgeKeysDf(spark: SparkSession,
                         keys: Seq[(Any, Any, Option[Long])]): DataFrame = {
    import spark.implicits._
    if (keys.forall(_._1.isInstanceOf[Long]))
      keys.map(k => (k._1.asInstanceOf[Long], k._2.asInstanceOf[Long],
        k._3.getOrElse(0L))).toDF("__s", "__d", "__r")
    else
      keys.map(k => (k._1.toString, k._2.toString, k._3.getOrElse(0L)))
        .toDF("__s", "__d", "__r")
  }

  private def execFetch(g: GraphCatalog, f: Fetch, bag: DataFrame): DataFrame = {
    val Fetch(tags0, _, _, ys0, dist) = f
    rejectBareLabels(ys0)
    rejectUnaliasedEntity(ys0)
    val ys = withVidTwins(ys0)
    val star = tags0 == Seq("*")
    val tags = if (star) g.tagNames else tags0
    // ON * over a space with no tags yet (fresh scenario space):
    // nothing can match — empty frame, not a crash
    if (tags.isEmpty) return bag.limit(0)
    // single-tag fast path keeps the bare prop columns (library callers
    // and no-YIELD output rely on the natural schema)
    if (tags.size == 1 && !star) return execFetchOne(g, tags.head, f, bag)
    // multi-tag / ON *: left-join every tag table (prefixed), keep
    // vertices carrying at least one of the requested tags
    // (GetPropProcessor merges tag prop maps per vertex)
    var rows = bag
    tags.foreach { t =>
      val vt = g.vertexTable(t).withColumn("__has", lit(true))
      rows = Traverse.appendVertices(rows, vt, vidCol = "vid",
        prefix = s"__t_${t}_")
    }
    rows = rows.filter(tags.map(t => col(s"__t_${t}___has").isNotNull)
      .reduce(_ || _))
    val strVid = rows.schema("vid").dataType ==
      org.apache.spark.sql.types.StringType
    // merged vertex prop view: first-listed tag wins a name collision
    // (same merge order as the reference's per-tag DataSet columns)
    val propTags: Map[String, Seq[String]] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
      tags.foreach { t =>
        g.vertexTable(t).columns.filter(_ != "vid").foreach { c2 =>
          m(c2) = m.getOrElse(c2, Seq.empty) :+ t
        }
      }
      m.toMap
    }
    def propCol(prop: String): Column = propTags.get(prop) match {
      case Some(ts) => coalesce(ts.map(t => col(s"__t_${t}_$prop")): _*)
      case None => lit(null)
    }
    def fields: Seq[(String, Column, org.apache.spark.sql.types.DataType)] =
      propTags.toSeq.map { case (prop, ts) =>
        (prop, propCol(prop),
          g.vertexTable(ts.head).schema(prop).dataType)
      }
    val resolver: Expr.Resolver = {
      case Expr.FnCall("id", List(Expr.Ref(List("vertex"))), _) =>
        Some(col("vid"))
      // edge-entity functions over a vertex fetch are a semantic
      // reject, not missing surface (GetPropValidator)
      case Expr.FnCall(fnE @ ("src" | "dst" | "rank" | "type"),
          List(Expr.Ref(List("edge"))), _) =>
        throw new IllegalArgumentException(
          s"Invalid expression $fnE(EDGE) over a vertex fetch")
      case Expr.Ref(List("vertex")) => Some(renderNode(col("vid"), strVid))
      case Expr.FnCall("properties", List(Expr.Ref(List("vertex"))), _) =>
        Some(renderPropsMap(fields))
      case Expr.Attr(Expr.FnCall("properties",
          List(Expr.Ref(List("vertex"))), _), prop) => Some(propCol(prop))
      case Expr.FnCall("keys", List(Expr.Ref(List("vertex"))), _) =>
        Some(presentKeys(fields))
      case Expr.FnCall("tags" | "labels", List(Expr.Ref(List("vertex"))), _) =>
        Some(array_compact(array(tags.sorted.map(t =>
          when(col(s"__t_${t}___has").isNotNull, lit(t))): _*)))
      case Expr.Ref(List(t, prop)) if tags.contains(t) =>
        Some(col(s"__t_${t}_$prop"))
      case Expr.Ref(List(c)) => Some(col(c))
      case _ => None
    }
    val out =
      if (ys.isEmpty)
        rows.select(col("vid") +: tags.flatMap(t =>
          g.vertexTable(t).columns.filter(_ != "vid").map(c2 =>
            col(s"__t_${t}_$c2").as(s"$t.$c2"))): _*)
      else selectItems(rows, ys, resolver)
    if (dist) out.distinct() else out
  }

  /** Extend FETCH yields with hidden `__vid_<alias>` twins for every
    * whole-vertex item, so downstream `id($-.alias)` / `GO FROM
    * id($-.alias)` resolve without re-parsing the rendered node. */
  private def withVidTwins(ys: Seq[Item]): Seq[Item] =
    ys ++ ys.collect { case Item(Expr.Ref(List("vertex")), a2) =>
      Item(Expr.FnCall("id", List(Expr.Ref(List("vertex")))), s"__vid_$a2") }

  private def execFetchOne(g: GraphCatalog, tag: String, f: Fetch,
                           bag: DataFrame): DataFrame = {
    val ys = withVidTwins(f.yields); val dist = f.distinct
    // GetPropProcessor semantics: a vid that EXISTS (under any tag)
    // but lacks this tag yields a row of NULL props; a vid absent
    // from the space yields no row (DeleteTag.feature goldens). A semi
    // join keeps each left row once however often its vid repeats on
    // the right, so the union of tag tables needs no distinct.
    val rows = fetchOnDriver(g, tag, bag).getOrElse(bag
      .join(g.allVertices.select(col("vid")), Seq("vid"), "left_semi")
      .join(g.vertexTable(tag), Seq("vid"), "left"))
    val strVid = rows.schema("vid").dataType ==
      org.apache.spark.sql.types.StringType
    def fields: Seq[(String, Column, org.apache.spark.sql.types.DataType)] =
      g.vertexTable(tag).schema.filter(_.name != "vid").map(sf =>
        (sf.name, col(sf.name), sf.dataType))
    val resolver: Expr.Resolver = {
      case Expr.FnCall("id", List(Expr.Ref(List("vertex"))), _) =>
        Some(col("vid"))
      // edge-entity functions over a vertex fetch are a semantic
      // reject, not missing surface (GetPropValidator)
      case Expr.FnCall(fnE @ ("src" | "dst" | "rank" | "type"),
          List(Expr.Ref(List("edge"))), _) =>
        throw new IllegalArgumentException(
          s"Invalid expression $fnE(EDGE) over a vertex fetch")
      case Expr.Ref(List("vertex")) => Some(renderNode(col("vid"), strVid))
      case Expr.FnCall("properties", List(Expr.Ref(List("vertex"))), _) =>
        Some(renderPropsMap(fields))
      case Expr.Attr(Expr.FnCall("properties",
          List(Expr.Ref(List("vertex"))), _), prop) =>
        Some(if (fields.exists(_._1 == prop)) col(prop) else lit(null))
      case Expr.FnCall("keys", List(Expr.Ref(List("vertex"))), _) =>
        Some(presentKeys(fields))
      case Expr.FnCall("tags" | "labels", List(Expr.Ref(List("vertex"))), _) =>
        Some(array(lit(tag)))
      case Expr.Ref(List(c)) => Some(col(c))
      case Expr.Ref(List(t, prop)) if t == tag => Some(col(prop))
      case _ => None
    }
    val out =
      if (ys.isEmpty) rows
      else selectItems(rows, ys, resolver)
    if (dist) out.distinct() else out
  }

  /** [[execFetchOne]]'s rows read on the driver, the reference's
    * GetVertices (GetVerticesExecutor.cpp:14), when the bag holds at
    * most `Adjacency.DriverRows` vids of the tag table's vid type: one
    * `vid IN (keys)` read of the tag table, and one of `allVertices`
    * only for the keys the tag table lacks. The rows equal the joins':
    * per bag row (its multiplicity kept), one per matching tag row, a
    * NULL-props row for a vid that exists without the tag, none for an
    * absent or NULL vid; columns (vid, tag props...). None when the
    * driver does not hold the bag (a Spark plan's bag would be computed
    * twice once it passes the bound), when the vid types differ (the
    * joins would coerce them) or when the bag or the rows read pass
    * the bound. */
  private def fetchOnDriver(g: GraphCatalog, tag: String,
                            bag: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.types.StructType
    import graft.algo.Adjacency
    val bound = Adjacency.DriverRows
    val table = g.vertexTable(tag)
    val vt = bag.schema("vid").dataType
    if (!Adjacency.held(bag) || table.schema("vid").dataType != vt ||
        g.allVertices.schema("vid").dataType != vt) return None
    val vids = Adjacency.collectUpTo(bag, bound).getOrElse(return None)
      .map(_.get(0)).filter(_ != null)
    val props = table.columns.toSeq.filter(_ != "vid")
    val found = (if (vids.isEmpty) Array.empty[Row]
      else Adjacency.collectUpTo(Adjacency.keyRead(table, "vid", vids)
        .select((col("vid") +: props.map(col)): _*), bound)
        .getOrElse(return None)).groupBy(_.get(0))
    val missing = vids.toSet -- found.keySet
    val exists = if (missing.isEmpty) Set.empty[Any]
      else Adjacency.collectUpTo(Adjacency.keyRead(
          g.allVertices.select("vid"), "vid", missing), bound)
        .getOrElse(return None).map(_.get(0)).toSet
    val rows = vids.iterator.flatMap { v =>
      found.get(v) match {
        case Some(rs) => rs.iterator
        case None if exists(v) => Iterator(Row.fromSeq(v +: props.map(_ => null)))
        case None => Iterator.empty
      }
    }
    Some(bag.sparkSession.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*),
      StructType(bag.schema("vid") +:
        table.schema.filter(_.name != "vid").map(_.copy(nullable = true)))))
  }

  /** Render a property map `{k: v, ...}` the way the reference prints
    * a Value::Map (sorted keys, absent props skipped, strings quoted —
    * src/common/datatypes/Value.cpp toString). */
  private[nql] def renderPropsMap(
      fields: Seq[(String, Column, org.apache.spark.sql.types.DataType)]): Column = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    def render(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
      dt match {
        case StringType => concat(lit("\""), c, lit("\""))
        case ArrayType(et, nullable) =>
          // list → [..]; schema-level SET (containsNull=false) → {..}
          val (open, close) = if (nullable) ("[", "]") else ("{", "}")
          concat(lit(open),
            array_join(transform(c, x => render(x, et)), ", "), lit(close))
        case _ => c.cast("string")
      }
    val parts = fields.sortBy(_._1).map { case (n, c, dt) =>
      when(c.isNotNull, concat(lit(n + ": "), render(c, dt)))
    }
    concat(lit("{"), concat_ws(", ", parts: _*), lit("}"))
  }

  /** Sorted list of property names present (non-null) on this row. */
  private[nql] def presentKeys(
      fields: Seq[(String, Column, org.apache.spark.sql.types.DataType)]): Column =
    array_compact(array(fields.sortBy(_._1).map { case (n, c, _) =>
      when(c.isNotNull, lit(n))
    }: _*))

  /** Extend FETCH edge yields with a hidden `__edge_<alias>` twin for
    * every whole-edge item — (src, dst, rank, etype, rendered props)
    * — so piped `startNode($-.e)` / `endNode($-.e)` /
    * `properties($-.e)` resolve without re-parsing the rendering
    * (FetchEdges.feature pipe scenarios). */
  private def withEdgeTwins(ys: Seq[Item]): Seq[Item] =
    ys ++ ys.collect { case Item(Expr.Ref(List("edge")), a2) =>
      Item(Expr.FnCall("__edge_twin", List(Expr.Ref(List("edge")))),
        s"__edge_$a2") }

  private def execFetchEdge(g: GraphCatalog, fe: FetchEdge,
                            pairs: DataFrame): DataFrame = {
    val FetchEdge(etype, _, _, ys0, dist, _) = fe
    rejectBareLabels(ys0)
    rejectUnaliasedEntity(ys0)
    val ys = withEdgeTwins(ys0)
    val e = g.edgesByType(etype)
    // rank is part of edge identity (NebulaKeyUtils.h:61); an
    // unranked fetch matches rank 0, the insert default
    val rows = pairs.join(e,
      pairs("__s") === e("src") && pairs("__d") === e("dst") &&
        pairs("__r") === e("rank"))
      .drop("__s", "__d", "__r")
    val strVid = rows.schema("src").dataType ==
      org.apache.spark.sql.types.StringType
    def eFields: Seq[(String, Column, org.apache.spark.sql.types.DataType)] =
      e.schema.filterNot(f => Set("src", "dst", "rank")(f.name))
        .map(sf => (sf.name, col(sf.name), sf.dataType))
    val resolver: Expr.Resolver = {
      case Expr.FnCall("src", List(Expr.Ref(List("edge"))), _) => Some(col("src"))
      case Expr.FnCall("dst", List(Expr.Ref(List("edge"))), _) => Some(col("dst"))
      case Expr.FnCall("rank", List(Expr.Ref(List("edge"))), _) => Some(col("rank"))
      case Expr.FnCall("type", List(Expr.Ref(List("edge"))), _) => Some(lit(etype))
      case Expr.FnCall("properties", List(Expr.Ref(List("edge"))), _) =>
        Some(renderPropsMap(eFields))
      case Expr.Attr(Expr.FnCall("properties",
          List(Expr.Ref(List("edge"))), _), prop) =>
        Some(if (eFields.exists(_._1 == prop)) col(prop) else lit(null))
      case Expr.FnCall("keys", List(Expr.Ref(List("edge"))), _) =>
        Some(presentKeys(eFields))
      // vertex-entity functions over an edge fetch are a semantic
      // reject, not missing surface (GetPropValidator)
      case Expr.FnCall(f @ ("id" | "tags" | "labels"),
          List(Expr.Ref(List("vertex"))), _) =>
        throw new IllegalArgumentException(
          s"Invalid expression $f(VERTEX) over an edge fetch")
      case Expr.FnCall("__edge_twin", _, _) =>
        Some(struct(col("src").as("src"), col("dst").as("dst"),
          col("rank").as("rank"), lit(etype).as("etype"),
          renderPropsMap(eFields).as("props")))
      case Expr.Ref(List("edge")) =>
        Some(renderEdge(lit(etype), col("src"), col("dst"), col("rank"), strVid))
      case Expr.Ref(List(t, "_src")) if t == etype => Some(col("src"))
      case Expr.Ref(List(t, "_dst")) if t == etype => Some(col("dst"))
      case Expr.Ref(List(t, "_rank")) if t == etype => Some(col("rank"))
      case Expr.Ref(List(t, prop)) if t == etype => Some(col(prop))
      case Expr.Ref(List(c)) => Some(col(c))
      case _ => None
    }
    val out = if (ys.isEmpty) rows else selectItems(rows, ys, resolver)
    if (dist) out.distinct() else out
  }

  /** Typed-or-star edge view WITHOUT property columns (hop joins,
    * path finding, subgraphs): `OVER *` is the pre-unioned allEdges
    * scan; a type list is a pushed-down filter over it. */
  private def simpleEdges(g: GraphCatalog, etypes: Seq[String]): DataFrame =
    if (etypes == Seq("*")) g.allEdges
    else if (etypes.size == 1) g.edgesByType(etypes.head)
    else g.allEdges.filter(col("etype").isin(etypes: _*))

  private[nql] def seedsDf(spark: SparkSession, vids: Seq[Any]): DataFrame = {
    import spark.implicits._
    if (vids.nonEmpty && vids.forall(_.isInstanceOf[Long]))
      vids.map(_.asInstanceOf[Long]).toDF("vid")
    else vids.map(_.toString).toDF("vid")
  }

  /** Sortable as an ORDER BY tiebreaker (atomic, not map/struct). */
  private[nql] def orderableType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | BooleanType | DateType | TimestampType |
          TimestampNTZType => true
      case _: NumericType => true
      case _ => false
    }
  }

  /** col() by EXACT name — default aliases like `count(vid)` or
    * `like._dst` contain dots/parens that col() would misparse as
    * nested-field paths. */
  private[nql] def colByName(n: String): Column =
    if (n.matches("[A-Za-z0-9_]+")) col(n) else col(s"`$n`")

  /** Render a whole-vertex value in the reference's serialized node
    * form `("vid")` / `(100)` (src/common/datatypes/Vertex.cpp
    * toString, minus tags — relax comparison matches on vid). */
  private[nql] def renderNode(vid: Column, strVid: Boolean): Column =
    if (strVid) concat(lit("(\""), vid, lit("\")"))
    else concat(lit("("), vid.cast("string"), lit(")"))

  /** Render a whole-edge value `[:type "src"->"dst" @rank]`
    * (Edge.cpp toString, minus props). */
  private[nql] def renderEdge(etype: Column, src: Column, dst: Column,
                              rank: Column, strVid: Boolean): Column = {
    def v(c: Column) =
      if (strVid) concat(lit("\""), c, lit("\"")) else c.cast("string")
    concat(lit("[:"), etype, lit(" "), v(src), lit("->"), v(dst),
      lit(" @"), rank.cast("string"), lit("]"))
  }

  /** Compile+select items; aggregate-bearing items trigger the
    * reference's implicit grouping (AggregateExecutor.cpp:12-99):
    * aggregate-free items become the group keys. */
  /** LOOKUP ... WHERE ES_QUERY(index, "query") — the reference's
    * FulltextIndexScan (LookupValidator routes a fulltext WHERE to
    * its ES adapter; tests/tck/features/fulltext_index/). Native: the
    * schema's live rows are scored with graft.nql.Fulltext (BM25) and
    * come back score-desc then insertion order — the order ES returns
    * and the `| LIMIT` goldens cut. `score()` in YIELD reads the
    * match score. Scenario-space surface; the at-scale DataFrame twin
    * is graft.pipeline.FulltextSearch. */
  private def execEsLookup(g: GraphCatalog, tag: String,
                           esArgs: List[Expr.E], ys: Seq[Item],
                           dist: Boolean): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{FloatType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val sc = g match {
      case s: graft.graph.ScenarioCatalog => s
      case _ => throw new DmlError(
        "fulltext LOOKUP runs on a scenario space; use " +
          "graft.pipeline.FulltextSearch for table spaces")
    }
    val (idxName, query) = esArgs match {
      case List(Expr.Ref(List(n)), Expr.Lit(q: String)) => (n, q)
      case _ => throw new IllegalArgumentException(
        "ES_QUERY takes (index_name, \"query\")")
    }
    val spark = sc.spark
    val (isTag, schema, fields) = sc.fulltextDefs.getOrElse(idxName,
      throw new DmlError(s"unknown fulltext index $idxName"))
    if (schema != tag)
      throw new DmlError(
        s"fulltext index $idxName is not on ${if (isTag) "tag" else "edge"} $tag")
    val defs = if (isTag) sc.tagDefs(schema) else sc.edgeDefs(schema)
    val fieldIdx = fields.map { f =>
      val i = defs.indexWhere(_.name == f)
      if (i < 0) throw new DmlError(s"column $f not found in $schema")
      i
    }
    if (isTag) {
      val docsSeq = sc.tagRows(schema).toVector
      val docs = docsSeq.map { case (_, ps) =>
        fieldIdx.map(i => Option(ps(i)).map(_.toString)) }
      val matches = Fulltext.search(docs, query)
      val schemaT = StructType((StructField("vid", sc.vidType) +:
        defs.map(d => StructField(d.name, d.dt))) :+
        StructField("__ft_score", FloatType))
      val rows = matches.map { case (d, s) =>
        val (vid, ps) = docsSeq(d)
        Row.fromSeq((vid +: ps.toSeq) :+ s)
      }
      finishEsLookup(spark.createDataFrame(rows.asJava, schemaT),
        tag, isEdge = false, ys, dist)
    } else {
      val docsSeq = sc.edgeRows(schema).toVector
      val docs = docsSeq.map { case (_, ps) =>
        fieldIdx.map(i => Option(ps(i)).map(_.toString)) }
      val matches = Fulltext.search(docs, query)
      // a user prop named `rank` shadows the built-in ranking column
      // (same convention as ScenarioCatalog.edgesByType)
      val keyRank =
        if (defs.exists(_.name == "rank")) Nil
        else Seq(StructField("rank", LongType))
      val schemaT = StructType((StructField("src", sc.vidType) +:
        StructField("dst", sc.vidType) +:
        (keyRank ++ defs.map(d => StructField(d.name, d.dt)))) :+
        StructField("__ft_score", FloatType))
      val rows = matches.map { case (d, s) =>
        val ((src, dst, rank), ps) = docsSeq(d)
        Row.fromSeq((src +: dst +:
          (if (keyRank.isEmpty) ps.toSeq
           else rank.asInstanceOf[Any] +: ps.toSeq)) :+ s)
      }
      finishEsLookup(spark.createDataFrame(rows.asJava, schemaT),
        tag, isEdge = true, ys, dist)
    }
  }

  private def finishEsLookup(frame: DataFrame, tag: String, isEdge: Boolean,
                             ys: Seq[Item], dist: Boolean): DataFrame = {
    val strVid = frame.schema(if (isEdge) "src" else "vid")
      .dataType == org.apache.spark.sql.types.StringType
    val resolver: Expr.Resolver = {
      case Expr.FnCall("score", Nil, _) => Some(col("__ft_score"))
      case Expr.Ref(List(k)) if !isEdge && k.equalsIgnoreCase("vertex") =>
        Some(renderNode(col("vid"), strVid))
      case Expr.Ref(List(k)) if isEdge && k.equalsIgnoreCase("edge") =>
        Some(renderEdge(lit(tag), col("src"), col("dst"), col("rank"),
          strVid))
      case Expr.Ref(List(c)) => Some(col(c))
      case Expr.Ref(List(t, prop)) if t == tag => Some(col(prop))
      case Expr.FnCall("id", List(Expr.Ref(List("vertex"))), _) if !isEdge =>
        Some(col("vid"))
      case Expr.FnCall("src", List(Expr.Ref(List("edge"))), _) if isEdge =>
        Some(col("src"))
      case Expr.FnCall("dst", List(Expr.Ref(List("edge"))), _) if isEdge =>
        Some(col("dst"))
      case Expr.FnCall("rank", List(Expr.Ref(List("edge"))), _) if isEdge =>
        Some(col("rank"))
      case Expr.FnCall("properties", List(Expr.Ref(List(k))), _)
          if (!isEdge && k.equalsIgnoreCase("vertex")) ||
            (isEdge && k.equalsIgnoreCase("edge")) =>
        val exclude =
          if (isEdge) Set("src", "dst", "rank", "__ft_score")
          else Set("vid", "__ft_score")
        val cs = frame.columns.filterNot(exclude.contains)
        Some(struct(cs.map(c0 => col(c0).as(c0)).toSeq: _*))
      case _ => None
    }
    val out =
      if (ys.isEmpty) frame.drop("__ft_score")
      else selectItems(frame, ys, resolver)
    if (dist) out.distinct() else out
  }

  private[nql] def selectItems(df: DataFrame, items0: Seq[Item],
                          resolver: Expr.Resolver): DataFrame = {
    // `$-.*` / `$var.*` expand to every visible input column, aliased
    // by its own (possibly dotted) name (parser.yy yield_item `*`)
    val items = items0.flatMap { i => i.e match {
      case Expr.Param(k, n, List("*")) =>
        df.columns.filterNot(_.startsWith("__"))
          .map(c2 => Item(Expr.Param(k, n, List(c2)), c2)).toSeq
      case _ => Seq(i)
    } }
    val hasAgg = items.exists(i => Expr.hasAgg(i.e))
    if (!hasAgg)
      df.select(items.map(i => Expr.compile(i.e, resolver).as(i.alias)): _*)
    else {
      val keys = items.filter(i => !Expr.hasAgg(i.e))
      val aggs = items.filter(i => Expr.hasAgg(i.e))
        .map(i => Expr.compile(firstWrapNonAgg(i.e), resolver).as(i.alias))
      val grouped =
        if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
        else df.groupBy(keys.map(i => Expr.compile(i.e, resolver).as(i.alias)): _*)
          .agg(aggs.head, aggs.tail: _*)
      grouped.select(items.map(i => colByName(i.alias)): _*)
    }
  }

  /** GO execution against a prepared seed frame (literal set for a
    * top-level sentence; the previous pipe stage's column, with bag
    * multiplicity, for a chained `| GO FROM $-.col`). `input` carries
    * the full source frame when seeds came from a pipe/$var, so items
    * can reference its columns ($-.col / $var.col yields). */
  /** Inside an aggregate-bearing item, naked column subtrees outside
    * any aggregate call (e.g. `{name1: m.p.name, name2: collect(..)}`,
    * Agg.feature collect-in-map) compile as `first(...)` — the
    * reference's per-group evaluation of the non-agg parts. Only used
    * on items where hasAgg holds, so pure-agg items are unchanged. */
  private def isAggCall(e: Expr.E): Boolean = e match {
    case Expr.FnCall(n, args, _) =>
      Expr.aggNames(n.toLowerCase) &&
        !(n.toLowerCase.startsWith("bit_") && args.size == 2)
    case _ => false
  }
  private[nql] def firstWrapNonAgg(e: Expr.E): Expr.E =
    if (!Expr.hasAgg(e)) {
      var hasRef = false
      Expr.collect(e) {
        case Expr.Ref(_) => hasRef = true
        case Expr.Param(_, _, _) => hasRef = true
      }
      if (hasRef) Expr.FnCall("__first", List(e)) else e
    } else e match {
      case f if isAggCall(f) => f
      case Expr.FnCall(n, args, d) =>
        Expr.FnCall(n, args.map(firstWrapNonAgg), d)
      case Expr.Bin(op, l, r) =>
        Expr.Bin(op, firstWrapNonAgg(l), firstWrapNonAgg(r))
      case Expr.Un(op, x) => Expr.Un(op, firstWrapNonAgg(x))
      case Expr.CaseW(sj, bs, els) =>
        Expr.CaseW(sj.map(firstWrapNonAgg),
          bs.map { case (a, b) => (firstWrapNonAgg(a), firstWrapNonAgg(b)) },
          els.map(firstWrapNonAgg))
      case Expr.ListLit(xs) => Expr.ListLit(xs.map(firstWrapNonAgg))
      case Expr.MapLit(es) =>
        Expr.MapLit(es.map { case (k, v) => (k, firstWrapNonAgg(v)) })
      case Expr.Subscript(x, i) =>
        Expr.Subscript(firstWrapNonAgg(x), firstWrapNonAgg(i))
      case Expr.Attr(x, n) => Expr.Attr(firstWrapNonAgg(x), n)
      case Expr.Slice(x, f2, t2) =>
        Expr.Slice(firstWrapNonAgg(x), f2.map(firstWrapNonAgg),
          t2.map(firstWrapNonAgg))
      case other => other
    }

  /** GO/FETCH YIELD items must qualify props (tag.prop / etype.prop /
    * $^.tag.prop) — a bare single-word ref is "Invalid label
    * identifiers" (reference YieldValidator; LabelExpr.feature).
    * Entity words (vertex/edge/path, incl. as function args) and
    * lambda-bound vars stay legal. */
  private[nql] def rejectBareLabels(items: Seq[Item]): Unit = {
    // vertex/edge/path: entity words; origin/vid/step: this library's
    // frontier-column extension (documented; no TCK golden names them)
    val entity = Set("vertex", "edge", "path", "edges",
      "origin", "vid", "step")
    def walk(e: Expr.E, bound: Set[String]): Unit = e match {
      case Expr.Ref(List(w))
          if !entity.contains(w.toLowerCase) && !bound.contains(w) =>
        throw new IllegalArgumentException(s"Invalid label identifiers: $w")
      case Expr.Ref(_) => ()
      case Expr.FnCall(_, args, _) =>
        args.foreach {
          case Expr.Ref(List(_)) => () // entity / label arg to a fn
          case a => walk(a, bound)
        }
      case Expr.Bin(_, l, r) => walk(l, bound); walk(r, bound)
      case Expr.Un(_, x) => walk(x, bound)
      case Expr.CaseW(s, bs, els) =>
        s.foreach(walk(_, bound))
        bs.foreach { case (a, b) => walk(a, bound); walk(b, bound) }
        els.foreach(walk(_, bound))
      case Expr.ListLit(xs) => xs.foreach(walk(_, bound))
      case Expr.SetLit(xs) => xs.foreach(walk(_, bound))
      case Expr.MapLit(es) => es.foreach(kv => walk(kv._2, bound))
      case Expr.Quant(_, v, list, pred) =>
        walk(list, bound); walk(pred, bound + v)
      case Expr.Compr(v, list, pred, map) =>
        walk(list, bound)
        pred.foreach(walk(_, bound + v)); map.foreach(walk(_, bound + v))
      case Expr.ReduceE(acc, init, v, list, step) =>
        walk(init, bound); walk(list, bound)
        walk(step, bound + acc + v)
      case Expr.Subscript(x, i) => walk(x, bound); walk(i, bound)
      case Expr.Attr(x, _) => walk(x, bound)
      case Expr.Slice(x, f2, t2) =>
        walk(x, bound); f2.foreach(walk(_, bound)); t2.foreach(walk(_, bound))
      case _ => ()
    }
    items.foreach(i => walk(i.e, Set.empty))
  }

  /** `YIELD vertex` / `YIELD edge` must carry an alias — the bare form
    * is a parse reject in the reference (FetchVertices "YIELD vertex"
    * SyntaxError golden: "please add alias when using vertex."). */
  private def rejectUnaliasedEntity(items: Seq[Item]): Unit =
    items.foreach { i =>
      if (i.e == Expr.Ref(List(i.alias)) &&
          Set("vertex", "edge", "path").contains(i.alias.toLowerCase))
        throw new IllegalArgumentException(
          s"please add alias when using ${i.alias}.")
    }

  /** `seeds`' distinct vids. Seeds the driver holds are deduped there
    * into a local relation, which GO's driver walk can take; any other
    * is a distributed distinct. */
  private def distinctVids(seeds: DataFrame): DataFrame = {
    val vids = seeds.select(col("vid"))
    if (!graft.algo.Adjacency.held(vids)) vids.distinct()
    else seeds.sparkSession.createDataFrame(
      java.util.Arrays.asList(vids.collect().distinct: _*), vids.schema)
  }

  private def execGo(g: GraphCatalog, goAst: Go, seedsDF: DataFrame,
                     input: Option[(DataFrame, String)]): DataFrame = {
    val Go(m0, n, _, _, _, rawEtypes, dir, where, yieldsOpt, dist, stepCaps) = goAst
    // GO 0 STEPS is empty; GO 0 TO n behaves as 1 TO n (GO.feature)
    val m = math.max(m0, 1)
    val zeroOnly = n == 0
    val nEff = math.max(n, 1)
    val etypes =
      if (rawEtypes == Seq("*")) g.edgeTypeNames else rawEtypes
    val single = etypes.size == 1
    // default yields: the reference's `<etype>._dst` per OVER type
    // (GoValidator default yield columns)
    val items: Seq[Item] = yieldsOpt.getOrElse(
      etypes.map(et => Item(Expr.Ref(List(et, "_dst")), s"${et}._dst")))
    yieldsOpt.foreach(rejectBareLabels)
    val exprs = items.map(_.e) ++ where.toList

    // classify references to pick the plan shape
    var needsEdge = false
    var dstTags = Set.empty[String]
    var srcTags = Set.empty[String]
    var inputRefs = false
    var frontierOnly = true
    val frontierCols = Set("origin", "vid", "step")
    exprs.foreach(Expr.collect(_) {
      case Expr.Ref(List(c)) => if (!frontierCols(c)) frontierOnly = false
      case Expr.Ref(List(et, _)) =>
        needsEdge = true
        if (!etypes.contains(et))
          throw new IllegalArgumentException(s"edge ref $et needs OVER $et")
      case Expr.Ref(parts) if parts.size > 2 => frontierOnly = false
      case Expr.Param("dst", _, List(tag, _)) => dstTags += tag
      case Expr.Param("src", _, List(tag, _)) => srcTags += tag
      // whole-vertex prop functions need every tag joined (the
      // reference merges all tag prop maps: GetPropProcessor)
      case Expr.FnCall("properties" | "tags" | "labels",
          List(Expr.Param("dst", _, Nil)), _) => dstTags ++= g.tagNames
      case Expr.FnCall("properties" | "tags" | "labels",
          List(Expr.Param("src", _, Nil)), _) => srcTags ++= g.tagNames
      case Expr.Param("dst" | "src", _, Nil) => needsEdge = true
      case Expr.FnCall("src" | "dst" | "rank" | "type" | "typeid" |
          "properties", List(Expr.Ref(List("edge"))), _) => needsEdge = true
      case Expr.Param("input" | "var", _, _) =>
        require(input.isDefined, "$-/$var ref needs a pipe or $var source")
        inputRefs = true
    })
    val simple = !needsEdge && dstTags.isEmpty && srcTags.isEmpty &&
      frontierOnly && !inputRefs && stepCaps.isEmpty

    def finish(df: DataFrame): DataFrame = if (zeroOnly) df.limit(0) else df

    if (simple) {
      // ExpandAll frontier semantics: deduped (origin,vid) rows
      val base = Traverse.go(seedsDF, simpleEdges(g, rawEtypes), m, nEff, dir)
      val resolver: Expr.Resolver = {
        case Expr.Ref(List(c)) if frontierCols(c) => Some(col(c))
        case _ => None
      }
      val filtered = where match {
        case Some(w) => base.filter(Expr.compile(w, resolver))
        case None => base
      }
      val out = selectItems(filtered, items, resolver)
      finish(if (dist) out.distinct() else out)
    } else {
      // per-edge yield rows with property columns
      val eframe = g.edgesWithProps(etypes)
      val strVid = eframe.schema("src").dataType ==
        org.apache.spark.sql.types.StringType
      var out =
        if (!inputRefs) {
          val base = Traverse.goYield(
            if (input.isDefined) distinctVids(seedsDF) else seedsDF,
            eframe, m, nEff, dir, stepCaps.map(_._2).getOrElse(Nil))
          input match {
            case Some((in, seedCol)) if in.columns.contains(seedCol) =>
              // runtime-var / piped seeds are a BAG: a vid appearing
              // twice in the source frame expands twice
              // (yield/join.feature "multiple join" GO 4 STEPS FROM
              // $b.vid — every output row ×|seed rows|). Expand from
              // the distinct set, then join back on the seed column.
              in.select(colByName(seedCol).as("__seedbag"))
                .join(base, col("__seedbag") === col("origin"))
                .drop("__seedbag")
            case _ => base
          }
        } else {
          // items reference the source frame's columns: expand from the
          // DISTINCT seed set, then join back on origin — restores the
          // input's bag multiplicity AND carries its columns (prefixed)
          val (in, seedCol) = input.get
          val renamed = in.columns.foldLeft(in)((d, c2) =>
            d.withColumnRenamed(c2, s"__in_$c2"))
          val expanded = Traverse.goYield(
            distinctVids(seedsDF), eframe, m, nEff, dir,
            stepCaps.map(_._2).getOrElse(Nil))
          renamed.join(expanded,
            col(s"__in_$seedCol") === col("origin"))
        }
      // vertex-prop refs join the tag tables on dst/src
      dstTags.foreach { tag =>
        out = Traverse.appendVertices(out,
          g.vertexTable(tag).withColumn("__has", lit(true)),
          vidCol = "dst", prefix = s"__dst_${tag}_")
      }
      srcTags.foreach { tag =>
        out = Traverse.appendVertices(out,
          g.vertexTable(tag).withColumn("__has", lit(true)),
          vidCol = "src", prefix = s"__src_${tag}_")
      }
      def guarded(et: String, c: Column): Column =
        if (single) c else when(col("__etype") === et, c)
      // deterministic integer edge-type id (the reference's meta-
      // assigned EdgeType; any stable int — goldens regex-match it)
      def typeId(et: String): Int = g.edgeTypeNames.indexOf(et) + 2
      // whole-edge values print the STORED direction (Edge.cpp
      // toString): under REVERSELY the stored src is the traversal dst
      val (storedSrc, storedDst) = dir match {
        case Traverse.In => (col("dst"), col("src"))
        case Traverse.Both =>
          (when(col("__rev"), col("dst")).otherwise(col("src")),
           when(col("__rev"), col("src")).otherwise(col("dst")))
        case _ => (col("src"), col("dst"))
      }
      val etypeName: Column =
        if (single) lit(etypes.head) else col("__etype")
      // per-edge-type prop fields (props of OTHER types are NULL on a
      // row — edgesWithProps unions by name)
      def edgeFields(et: String) =
        g.edgesByType(et).schema
          .filter(f2 => !Set("src", "dst", "rank").contains(f2.name))
          .map(f2 => (f2.name, guarded(et, col(f2.name)), f2.dataType))
      def edgePropCol(prop: String): Column = {
        val having = etypes.filter(et =>
          g.edgesByType(et).columns.contains(prop))
        if (having.isEmpty) lit(null)
        else coalesce(having.map(et => guarded(et, col(prop))): _*)
      }
      def vertexPropCol(side: String, joined: Set[String],
                        prop: String): Column = {
        val having = joined.toSeq.sorted.filter(t =>
          g.vertexTable(t).columns.contains(prop))
        if (having.isEmpty) lit(null)
        else coalesce(having.map(t => col(s"__${side}_${t}_$prop")): _*)
      }
      def vertexFields(side: String, joined: Set[String]) = {
        val m = scala.collection.mutable.LinkedHashMap
          .empty[String, org.apache.spark.sql.types.DataType]
        joined.toSeq.sorted.foreach { t =>
          g.vertexTable(t).schema.filter(_.name != "vid").foreach { f2 =>
            if (!m.contains(f2.name)) m(f2.name) = f2.dataType
          }
        }
        m.toSeq.map { case (n, dt) =>
          (n, vertexPropCol(side, joined, n), dt) }
      }
      def tagList(side: String, joined: Set[String]): Column =
        array_compact(array(joined.toSeq.sorted.map(t =>
          when(col(s"__${side}_${t}___has").isNotNull, lit(t))): _*))
      def propType(x: Expr.E) = x match {
        case Expr.Param("dst" | "src", _, List(tag, prop))
            if g.tagNames.contains(tag) =>
          g.vertexTable(tag).schema.find(_.name == prop).map(_.dataType)
        case Expr.Ref(List(et, p)) if etypes.contains(et) &&
            !p.startsWith("_") =>
          g.edgesByType(et).schema.find(_.name == p).map(_.dataType)
        case _ => None
      }
      val resolver: Expr.Resolver = {
        case x if Expr.crossFamilyOrder(x, propType) =>
          Some(lit(null).cast("boolean"))
        case Expr.Ref(List("origin")) => Some(col("origin"))
        // GO context: `vid` is the hop destination (GO default output)
        case Expr.Ref(List("vid")) => Some(col("dst"))
        case Expr.Ref(List("step")) => Some(col("step"))
        // entity functions over the current edge (FunctionManager src/
        // dst/rank/type; type() returns the NAME, typeid() the int id)
        case Expr.FnCall("src", List(Expr.Ref(List("edge"))), _) =>
          Some(storedSrc)
        case Expr.FnCall("dst", List(Expr.Ref(List("edge"))), _) =>
          Some(storedDst)
        case Expr.FnCall("rank", List(Expr.Ref(List("edge"))), _) =>
          Some(col("rank"))
        case Expr.FnCall("type", List(Expr.Ref(List("edge"))), _) =>
          Some(etypeName)
        case Expr.FnCall("typeid", List(Expr.Ref(List("edge"))), _) =>
          Some(if (single) lit(typeId(etypes.head))
               else etypes.tail.foldLeft(
                 when(col("__etype") === etypes.head, typeId(etypes.head))) {
                   (acc, et) => acc.when(col("__etype") === et, typeId(et)) })
        case Expr.Attr(Expr.FnCall("properties",
            List(Expr.Ref(List("edge"))), _), prop) =>
          Some(edgePropCol(prop))
        case Expr.FnCall("properties", List(Expr.Ref(List("edge"))), _) =>
          Some(if (single) renderPropsMap(edgeFields(etypes.head))
               else etypes.tail.foldLeft(
                 when(col("__etype") === etypes.head,
                   renderPropsMap(edgeFields(etypes.head)))) { (acc, et) =>
                     acc.when(col("__etype") === et,
                       renderPropsMap(edgeFields(et))) })
        case Expr.Attr(Expr.FnCall("properties",
            List(Expr.Param("dst", _, Nil)), _), prop) =>
          Some(vertexPropCol("dst", dstTags, prop))
        case Expr.Attr(Expr.FnCall("properties",
            List(Expr.Param("src", _, Nil)), _), prop) =>
          Some(vertexPropCol("src", srcTags, prop))
        case Expr.FnCall("properties", List(Expr.Param("dst", _, Nil)), _) =>
          Some(renderPropsMap(vertexFields("dst", dstTags)))
        case Expr.FnCall("properties", List(Expr.Param("src", _, Nil)), _) =>
          Some(renderPropsMap(vertexFields("src", srcTags)))
        case Expr.FnCall("tags" | "labels",
            List(Expr.Param("dst", _, Nil)), _) =>
          Some(tagList("dst", dstTags))
        case Expr.FnCall("tags" | "labels",
            List(Expr.Param("src", _, Nil)), _) =>
          Some(tagList("src", srcTags))
        case Expr.Ref(List(et, p)) if etypes.contains(et) =>
          Some(p match {
            case "_dst" => guarded(et, col("dst"))
            case "_src" => guarded(et, col("src"))
            case "_rank" => guarded(et, col("rank"))
            case "_type" => guarded(et, lit(typeId(et)))
            case prop => guarded(et, col(prop))
          })
        case Expr.Param("dst", _, List(tag, prop)) =>
          Some(col(s"__dst_${tag}_$prop"))
        case Expr.Param("src", _, List(tag, prop)) =>
          Some(col(s"__src_${tag}_$prop"))
        case Expr.FnCall("id", List(Expr.Param("dst", _, Nil)), _) =>
          Some(col("dst"))
        case Expr.FnCall("id", List(Expr.Param("src", _, Nil)), _) =>
          Some(col("src"))
        // whole-value yields, reference serialization forms; goYield
        // orients columns to traversal direction, but a whole-edge
        // value prints the STORED direction (Edge.cpp toString) — under
        // REVERSELY the stored src is the traversal dst
        case Expr.Ref(List("edge")) =>
          val (es, ed) = dir match {
            case Traverse.In => (col("dst"), col("src"))
            case Traverse.Both =>
              (when(col("__rev"), col("dst")).otherwise(col("src")),
               when(col("__rev"), col("src")).otherwise(col("dst")))
            case _ => (col("src"), col("dst"))
          }
          Some(renderEdge(
            if (single) lit(etypes.head) else col("__etype"),
            es, ed, col("rank"), strVid))
        case Expr.Param("dst", _, Nil) => Some(renderNode(col("dst"), strVid))
        case Expr.Param("src", _, Nil) => Some(renderNode(col("src"), strVid))
        // source-frame refs from a pipe/$var seed (join-back columns)
        case Expr.Param("input" | "var", _, List(c)) if inputRefs =>
          Some(colByName(s"__in_$c"))
        case _ => None
      }
      // Multi-edge EMPTY semantics: a prop ref of edge type A evaluated
      // on a type-B row is __EMPTY__ in the reference — equality against
      // it is DEFINITE (`!=` true, `==` false), not null-propagating
      // (Value.cpp operator==; SimpleCase.feature `WHERE serve._dst !=
      // "abc"` keeps the like-rows). Our guarded columns are NULL on
      // other types' rows, so rewrite equality leaves to carry the
      // type guard explicitly.
      def edgeRefType(x: Expr.E): Option[String] = x match {
        case Expr.Ref(List(et, _)) if etypes.contains(et) => Some(et)
        case _ => None
      }
      def rwEmpty(e: Expr.E): Expr.E = e match {
        case Expr.Bin(op @ ("and" | "or" | "xor"), l, r) =>
          Expr.Bin(op, rwEmpty(l), rwEmpty(r))
        case Expr.Un("not", x) => Expr.Un("not", rwEmpty(x))
        case cmp @ Expr.Bin(op @ ("==" | "!="), l, r) if !single =>
          edgeRefType(l).orElse(edgeRefType(r)) match {
            case Some(et) =>
              val typeCmp = Expr.Bin(op, Expr.Ref(List("__raw_etype")),
                Expr.Lit(et))
              if (op == "==") Expr.Bin("and", typeCmp, cmp)
              else Expr.Bin("or", typeCmp, cmp)
            case None => cmp
          }
        case other => other
      }
      val fullResolver: Expr.Resolver = {
        case Expr.Ref(List("__raw_etype")) => Some(col("__etype"))
        case other => resolver(other)
      }
      val filtered = where match {
        // a container literal is not a boolean — truthiness filters
        // everything (BAD_TYPE; GO.feature `WHERE [like._dst == ...]`)
        case Some(Expr.ListLit(_) | Expr.SetLit(_) | Expr.MapLit(_)) =>
          out.limit(0)
        case Some(w) => out.filter(Expr.compile(rwEmpty(w), fullResolver))
        case None => out
      }
      // `$-.*` / `$var.*` in a piped GO expands to the SOURCE frame's
      // columns minus the seed column (the goldens show the seed —
      // already consumed as the expansion's FROM — is not re-yielded)
      val items2 = items.flatMap { i => i.e match {
        case Expr.Param(k @ ("input" | "var"), nm, List("*"))
            if inputRefs && input.isDefined =>
          input.get._1.columns.filterNot(_.startsWith("__"))
            .filterNot(_ == input.get._2).toSeq
            .map(c2 => Item(Expr.Param(k, nm, List(c2)), i.alias))
        case _ => Seq(i)
      } }
      val sel = selectItems(filtered, items2, fullResolver)
      finish(if (dist) sel.distinct() else sel)
    }
  }

  /** Pipe application over the previous stage's DataFrame ($- input). */
  private def applyPipe(g: GraphCatalog, df: DataFrame, pipe: Pipe,
                        env: Map[String, DataFrame] = Map.empty): DataFrame = pipe match {
    case PFind(fp: FindPath) => execFindPath(g, fp, Some(df), env)
    case PFind(sg: SubgraphY) => execSubgraphY(g, sg, Some(df), env)
    case PDml(d) => Dml.exec(g, d, env, Some(df))
    case PFind(other) =>
      throw new IllegalArgumentException(s"bad piped FIND $other")
    case PGo(goAst) =>
      // chained GO: previous stage's column seeds the expansion WITH
      // multiplicity (GO.feature pipe goldens keep duplicate rows)
      val seeds = df.select(colByName(goAst.seedsCol.get).as("vid"))
      execGo(g, goAst, seeds, Some((df, goAst.seedsCol.get)))
    case PFetch(f: Fetch) =>
      execFetch(g, f, df.select(colByName(f.vidsRef.get.colName).as("vid")))
    case PFetch(fe: FetchEdge) =>
      val (s, d) = fe.keysRef.get
      val rankCol = fe.rankRef match {
        case Some(rr) => colByName(rr.colName).cast("long").as("__r")
        case None => lit(0L).as("__r")
      }
      execFetchEdge(g, fe, df.select(colByName(s.colName).as("__s"),
        colByName(d.colName).as("__d"), rankCol))
    case PFetch(other) =>
      throw new IllegalArgumentException(s"bad piped FETCH $other")
    case PLimit(off, nn) =>
      if (off == 0) df.limit(nn)
      else df.offset(off).limit(nn)
    case POrderBy(keys, tiebreak) =>
      val resolver = pipeResolverFor(df)
      // NULL sorts as the largest value (OrderByExecutor comparator);
      // a path column sorts by its structured twin: src vertex, then
      // the (dst, type, rank) step sequence (Path.h:211 operator<)
      df.orderBy(keys.map { case (e, desc) =>
        val c = pathTwin(df, e) match {
          // Step::operator< keys on the TRAVERSAL dst (the path's next
          // vertex), then edge type, then rank (Path.h:86)
          case Some(h) => struct(element_at(h("vids"), 1),
            zip_with(h("steps"),
              slice(h("vids"), lit(2),
                greatest(size(h("vids")) - 1, lit(0))),
              (st, v) => struct(v, st("t"), st("r"))))
          case None => Expr.compile(e, resolver)
        }
        if (desc) c.desc_nulls_first else c.asc_nulls_last
      } ++ (if (!tiebreak) Nil
            else df.schema.fields.toSeq.filter(f =>
              !f.name.startsWith("__") && orderableType(f.dataType))
              .map(f => colByName(f.name).asc_nulls_last)): _*)
    case PUnwind(e, alias) =>
      // UnwindValidator: aggregates are illegal in UNWIND, and the
      // pipe's output schema is {alias} ONLY — downstream `$-.col`
      // may not reach through to the input's columns
      if (Expr.hasAgg(e)) throw new IllegalArgumentException(
        "SemanticError: can't use aggregating function in unwind clause")
      val resolver = pipeResolverFor(df)
      val c = Expr.compile(e, resolver)
      val unwound = df.select(c).schema.head.dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          df.withColumn(alias, explode(c))
        case _ => df.withColumn(alias, c)
      }
      unwound.select(col(alias))
    case PYield(items, distinct, where) =>
      val resolver = pipeResolverFor(df)
      val filtered = where match {
        case Some(w) => df.filter(Expr.compile(w, resolver))
        case None => df
      }
      val out = selectItems(filtered, items, resolver)
      if (distinct) out.distinct() else out
    case PGroup(keys, items, distinct) =>
      // aggregate-free items evaluate once per group (`first`): the
      // reference emits one row per key group regardless. Group keys
      // get hidden aliases so an item alias matching an input column
      // name is never ambiguous in the output select.
      val resolver = pipeResolverFor(df)
      // a yield item must be a group key or aggregate-bearing — the
      // reference's GroupByValidator rejects a dangling column
      // (Agg.feature: GROUP BY $-.age YIELD ..., $-.dst AS dst)
      items.foreach { i =>
        val bareRef = i.e match {
          case Expr.Param("input" | "var", _, _) => true
          case Expr.Ref(_) => true
          case _ => false
        }
        if (bareRef && !Expr.hasAgg(i.e) && !keys.contains(i.e))
          throw new IllegalArgumentException(
            s"Yield non-agg expression must be functionally dependent" +
              s" on items in GROUP BY clause: ${Expr.text(i.e)}")
      }
      val keyCols = keys.zipWithIndex.map { case (k, i2) =>
        Expr.compile(k, resolver).as(s"__gk$i2") }
      // BIT_AND/OR/XOR over a non-integral input is BAD_TYPE
      // (AggData::bitOp) — carried as an ErrVal sentinel per group
      def bitBadType(e: Expr.E): Boolean = e match {
        case Expr.FnCall(n, List(arg), _)
            if Set("bit_and", "bit_or", "bit_xor")(n.toLowerCase) &&
              !Expr.hasAgg(arg) =>
          try {
            import org.apache.spark.sql.types._
            df.select(Expr.compile(arg, resolver)).schema.head.dataType match {
              case LongType | IntegerType | ShortType | ByteType |
                  NullType => false
              case _ => true
            }
          } catch { case _: Exception => false }
        case _ => false
      }
      val aggs = items.map { i =>
        if (bitBadType(i.e))
          first(lit(graft.functions.ErrVal.BadType)).as(i.alias)
        else if (Expr.hasAgg(i.e))
          Expr.compile(firstWrapNonAgg(i.e), resolver).as(i.alias)
        else first(Expr.compile(i.e, resolver)).as(i.alias)
      }
      val out = df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
        .select(items.map(i => colByName(i.alias)): _*)
      if (distinct) out.distinct() else out
  }

  /** The hidden structured twin of a `$-.p` path reference, when the
    * input frame carries one. */
  private def pathTwin(df: DataFrame, e: Expr.E): Option[Column] = {
    val name = e match {
      case Expr.Param("input", _, List(c)) => Some(c)
      case Expr.Ref(List(c)) => Some(c)
      case _ => None
    }
    name.filter(c => df.columns.contains(s"__path_$c"))
      .map(c => col(s"__path_$c"))
  }

  /** In pipes, `$-.col` and bare `col` both address the input frame;
    * dotted forms ($-.like._dst) address columns whose NAME contains
    * the dot (the default aliases of the previous stage). */
  private val pipeResolver: Expr.Resolver = {
    case Expr.Param("input", _, parts) if parts.nonEmpty =>
      Some(colByName(parts.mkString(".")))
    case Expr.Ref(parts) if parts.nonEmpty =>
      Some(colByName(parts.mkString(".")))
    case _ => None
  }

  /** pipeResolver plus path-aware functions over `$-.p` columns that
    * carry a `__path_p` structured twin (length/nodes/relationships/
    * startNode/endNode — FunctionManager.cpp path registry). */
  private def pipeResolverFor(df: DataFrame): Expr.Resolver = {
    val cols = df.columns.toSet
    def twin(e: Expr.E): Option[Column] = e match {
      case Expr.Param("input", _, List(c)) if cols(s"__path_$c") =>
        Some(col(s"__path_$c"))
      case Expr.Ref(List(c)) if cols(s"__path_$c") => Some(col(s"__path_$c"))
      case _ => None
    }
    def strVidOf(name: String): Boolean = {
      val t = df.schema(name).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      t("vids").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType == org.apache.spark.sql.types.StringType
    }
    def twinName(e: Expr.E): Option[String] = e match {
      case Expr.Param("input", _, List(c)) if cols(s"__path_$c") =>
        Some(s"__path_$c")
      case Expr.Ref(List(c)) if cols(s"__path_$c") => Some(s"__path_$c")
      case _ => None
    }
    // whole-edge column twins (FETCH ... YIELD edge AS e → __edge_e)
    def etwinName(e: Expr.E): Option[String] = e match {
      case Expr.Param("input", _, List(c)) if cols(s"__edge_$c") =>
        Some(s"__edge_$c")
      case Expr.Ref(List(c)) if cols(s"__edge_$c") => Some(s"__edge_$c")
      case _ => None
    }
    def etwin(e: Expr.E): Option[Column] = etwinName(e).map(col)
    def strVidOfEdge(name: String): Boolean =
      df.schema(name).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]("src")
        .dataType == org.apache.spark.sql.types.StringType
    def nodeR(v: Column, strVid: Boolean): Column =
      if (strVid) concat(lit("(\""), v, lit("\")"))
      else concat(lit("("), v.cast("string"), lit(")"))

    {
      // id() over a rendered whole-vertex column: hidden vid twin
      case Expr.FnCall("id", List(Expr.Param("input", _, List(c2))), _)
          if cols(s"__vid_$c2") => Some(col(s"__vid_$c2"))
      case Expr.FnCall("id", List(Expr.Ref(List(c2))), _)
          if cols(s"__vid_$c2") => Some(col(s"__vid_$c2"))
      case Expr.FnCall("length", List(arg), _) if twin(arg).isDefined =>
        Some(size(twin(arg).get("steps")).cast("long"))
      case Expr.FnCall("nodes", List(arg), _) if twin(arg).isDefined =>
        val s = strVidOf(twinName(arg).get)
        Some(transform(twin(arg).get("vids"), v => nodeR(v, s)))
      // id() over a path endpoint is the raw vid, not the rendered
      // node (yield/join.feature `id(startNode($-.p)) AS src`)
      case Expr.FnCall("id",
          List(Expr.FnCall("startnode", List(arg), _)), _)
          if twin(arg).isDefined =>
        Some(element_at(twin(arg).get("vids"), 1))
      case Expr.FnCall("id",
          List(Expr.FnCall("endnode", List(arg), _)), _)
          if twin(arg).isDefined =>
        Some(element_at(twin(arg).get("vids"), -1))
      case Expr.FnCall("startnode", List(arg), _) if twin(arg).isDefined =>
        val s = strVidOf(twinName(arg).get)
        Some(nodeR(element_at(twin(arg).get("vids"), 1), s))
      case Expr.FnCall("endnode", List(arg), _) if twin(arg).isDefined =>
        val s = strVidOf(twinName(arg).get)
        Some(nodeR(element_at(twin(arg).get("vids"), -1), s))
      case Expr.FnCall("relationships", List(arg), _) if twin(arg).isDefined =>
        val s = strVidOf(twinName(arg).get)
        Some(transform(twin(arg).get("steps"), st =>
          renderEdge(st("t"), st("s"), st("d"), st("r"), s)))
      // whole-edge columns (FETCH ... YIELD edge AS e) carry an
      // `__edge_<alias>` twin: startNode/endNode render the endpoint
      // nodes, properties() the pre-rendered prop map
      case Expr.FnCall("startnode", List(arg), _) if etwin(arg).isDefined =>
        Some(nodeR(etwin(arg).get("src"), strVidOfEdge(etwinName(arg).get)))
      case Expr.FnCall("endnode", List(arg), _) if etwin(arg).isDefined =>
        Some(nodeR(etwin(arg).get("dst"), strVidOfEdge(etwinName(arg).get)))
      case Expr.FnCall("properties", List(arg), _) if etwin(arg).isDefined =>
        Some(etwin(arg).get("props"))
      case Expr.FnCall("type", List(arg), _) if etwin(arg).isDefined =>
        Some(etwin(arg).get("etype"))
      case Expr.FnCall("src", List(arg), _) if etwin(arg).isDefined =>
        Some(etwin(arg).get("src"))
      case Expr.FnCall("dst", List(arg), _) if etwin(arg).isDefined =>
        Some(etwin(arg).get("dst"))
      case Expr.FnCall("rank", List(arg), _) if etwin(arg).isDefined =>
        Some(etwin(arg).get("rank"))
      case Expr.Param("input", _, parts) if parts.nonEmpty =>
        // a literally-dotted column name (`like._dst`) wins; when only
        // the head exists, descend struct fields (`$-.a.b` over a
        // map-literal column — PipeAndVariable.feature)
        if (cols(parts.mkString("."))) Some(colByName(parts.mkString(".")))
        else parts match {
          case a :: rest if rest.nonEmpty && cols(a) =>
            Some(rest.foldLeft(colByName(a))(_.getField(_)))
          case _ => Some(colByName(parts.mkString(".")))
        }
      case Expr.Ref(parts) if parts.nonEmpty =>
        Some(colByName(parts.mkString(".")))
      case _ => None
    }
  }
}
