package graft.nql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression layer for the nGQL / openCypher text surface (reference:
  * src/common/expression/Expression.h:66-176 kind list, parser.yy
  * expression productions). A Pratt parser over Gql's token stream
  * producing a small AST, plus a compiler from AST to a Spark `Column`
  * with a pluggable domain resolver — the same tree compiles against a
  * GO hop frame, a LOOKUP tag table, or a MATCH binding table by
  * swapping the resolver. Everything lands on built-in Spark
  * expressions (codegen'd, no UDFs).
  *
  * Precedence (low→high), mirroring parser.yy's %left chain:
  *   OR/XOR < AND < NOT < comparison/IN/IS < +,- < *,/,% < unary-.
  */
object Expr {
  import Gql.{P, Num, Str, Sym, Word}

  // ---------- AST ----------
  sealed trait E
  final case class Lit(v: Any) extends E
  /** Dotted name: a | a.b | a.b.c (bare column, edge.prop, var.tag.prop). */
  final case class Ref(parts: List[String]) extends E
  /** $-family reference. kind ∈ input ($-.col) | var ($name.col) |
    * src ($^.tag.prop) | dst ($$.tag.prop); src/dst with empty parts are
    * the bare $^ / $$ inside id()/properties(). */
  final case class Param(kind: String, name: String, parts: List[String]) extends E
  /** A session parameter inlined at parse time: `value` is the parsed
    * literal (possibly a list/map), `name` keeps the `$name` source
    * text for default column aliases (yield/parameter.feature). */
  final case class ParamLit(name: String, value: E) extends E
  final case class FnCall(name: String, args: List[E], distinct: Boolean = false) extends E
  final case class Bin(op: String, l: E, r: E) extends E
  /** op ∈ not | neg | isnull | isnotnull. */
  final case class Un(op: String, e: E) extends E
  final case class CaseW(subject: Option[E], branches: List[(E, E)], els: Option[E]) extends E
  final case class ListLit(items: List[E]) extends E
  /** Map literal {k: v, ...} → struct column with named fields. */
  final case class MapLit(entries: List[(String, E)]) extends E
  /** `{e1, e2, ...}` / `set{...}` — a SET literal: distinct elements
    * (reference set_expression). */
  final case class SetLit(items: List[E]) extends E
  /** all/any/none/single(v IN list WHERE pred). */
  final case class Quant(kind: String, v: String, list: E, pred: E) extends E
  /** [v IN list WHERE pred | map]. */
  final case class Compr(v: String, list: E, pred: Option[E], map: Option[E]) extends E
  /** reduce(acc = init, v IN list | step). */
  final case class ReduceE(acc: String, init: E, v: String, list: E, step: E) extends E
  /** Pattern expression as a VALUE — `(v)-[:like]->()` in RETURN /
    * WITH / aggregate / comprehension position, evaluating to the list
    * of matching paths (reference: MatchPathPatternExpression.h,
    * rewritten to RollUpApply in SegmentsConnector.cpp:71-92). Parsed
    * here; validated + rewritten to a prepared rollup column by
    * MatchSeg before compile — reaching compile unrewritten means the
    * surface (GO/LOOKUP/...) doesn't support pattern expressions. */
  final case class PatternE(part: MatchSeg.Part) extends E
  final case class Subscript(e: E, idx: E) extends E
  /** Postfix attribute access on a non-Ref base: properties(e).age,
    * date("...").month, {k: 1}.k (AttributeExpression.cpp). */
  final case class Attr(e: E, name: String) extends E
  /** list[from..to] — from inclusive, to exclusive, negatives from end. */
  final case class Slice(e: E, from: Option[E], to: Option[E]) extends E
  /** `*` (count(*), RETURN *). */
  case object Star extends E

  /** Words that cannot start a bare reference (clause heads and literal
    * keywords) — the parser stops cleanly at clause boundaries. */
  private val reserved = Set("and", "or", "xor", "not", "in", "is", "null",
    "true", "false", "case", "when", "then", "else", "end", "starts", "ends",
    "contains", "as", "where", "yield", "over", "from", "to", "steps", "upto",
    "reversely", "bidirect", "distinct", "order", "by", "limit", "skip",
    "return", "match", "optional", "unwind", "with", "union", "intersect",
    "minus", "asc", "desc", "sample", "offset")

  /** 1-arg bit_and/bit_or/bit_xor are AGGREGATES (AggFunctionManager);
    * the 2-arg forms are scalar bitwise ops, special-cased in fnCol. */
  val aggNames: Set[String] = Set("count", "sum", "avg", "min", "max", "std",
    "collect", "collect_set", "bit_and", "bit_or", "bit_xor")

  /** True if the tree contains an aggregate call — drives the
    * reference's implicit-grouping rule (AggregateExecutor.cpp:12-99):
    * any aggregate in a YIELD/RETURN item makes every aggregate-free
    * item a group key. */
  def hasAgg(e: E): Boolean = e match {
    case FnCall(n, args, _) =>
      (aggNames(n) && !(n.startsWith("bit_") && args.size == 2)) ||
        args.exists(hasAgg)
    case Bin(_, a, b) => hasAgg(a) || hasAgg(b)
    case Un(_, x) => hasAgg(x)
    case CaseW(s, brs, els) =>
      s.exists(hasAgg) || brs.exists(b => hasAgg(b._1) || hasAgg(b._2)) ||
        els.exists(hasAgg)
    case ListLit(items) => items.exists(hasAgg)
    case SetLit(items) => items.exists(hasAgg)
    case MapLit(entries) => entries.exists(e2 => hasAgg(e2._2))
    case Quant(_, _, list, pred) => hasAgg(list) || hasAgg(pred)
    case Compr(_, list, pred, map) =>
      hasAgg(list) || pred.exists(hasAgg) || map.exists(hasAgg)
    case ReduceE(_, init, _, list, step) =>
      hasAgg(init) || hasAgg(list) || hasAgg(step)
    case Subscript(x, i) => hasAgg(x) || hasAgg(i)
    case ParamLit(_, v) => hasAgg(v)
    case Attr(x, _) => hasAgg(x)
    case Slice(x, f2, t2) => hasAgg(x) || f2.exists(hasAgg) || t2.exists(hasAgg)
    case _ => false
  }

  /** Collect every node matching a predicate (resolver planning: which
    * $$-tags need a join, which vars are referenced, ...). */
  def collect(e: E)(pf: PartialFunction[E, Unit]): Unit = {
    pf.lift(e)
    e match {
      case FnCall(_, args, _) => args.foreach(collect(_)(pf))
      case Bin(_, a, b) => collect(a)(pf); collect(b)(pf)
      case Un(_, x) => collect(x)(pf)
      case CaseW(s, brs, els) =>
        s.foreach(collect(_)(pf))
        brs.foreach { case (c, v) => collect(c)(pf); collect(v)(pf) }
        els.foreach(collect(_)(pf))
      case ListLit(items) => items.foreach(collect(_)(pf))
      case SetLit(items) => items.foreach(collect(_)(pf))
      case MapLit(entries) => entries.foreach(e2 => collect(e2._2)(pf))
      case Quant(_, _, list, pred) => collect(list)(pf); collect(pred)(pf)
      case Compr(_, list, pred, map) =>
        collect(list)(pf); pred.foreach(collect(_)(pf)); map.foreach(collect(_)(pf))
      case ReduceE(_, init, _, list, step) =>
        collect(init)(pf); collect(list)(pf); collect(step)(pf)
      case Subscript(x, i) => collect(x)(pf); collect(i)(pf)
      case ParamLit(_, v) => collect(v)(pf)
      case Attr(x, _) => collect(x)(pf)
      case Slice(x, f2, t2) =>
        collect(x)(pf); f2.foreach(collect(_)(pf)); t2.foreach(collect(_)(pf))
      case _ => ()
    }
  }

  /** Render the tree back to (approximate) source text — default column
    * aliases, error messages. */
  def text(e: E): String = e match {
    case Lit(null) => "NULL"
    case Lit(s: String) => "\"" + s + "\""
    case Lit(v) => v.toString
    case Ref(parts) => parts.mkString(".")
    case ParamLit(n, _) => "$" + n
    case PatternE(_) => "(pattern expression)"
    case Param("input", _, parts) => "$-." + parts.mkString(".")
    case Param("var", n, parts) => "$" + (n +: parts).mkString(".")
    case Param("src", _, parts) => ("$^" +: parts).mkString(".")
    case Param("dst", _, parts) => ("$$" +: parts).mkString(".")
    case Param(k, n, parts) => s"$$$k:$n." + parts.mkString(".")
    case FnCall(n, args, d) =>
      s"$n(${if (d) "distinct " else ""}${args.map(text).mkString(",")})"
    case Bin(op, l, r) => s"(${text(l)} $op ${text(r)})"
    case Un("neg", x) => s"-${text(x)}"
    case Un("not", x) => s"!(${text(x)})"
    case Un("notrel", Bin(op, l, r)) =>
      val w = op match {
        case "in" => "NOT IN"; case "starts" => "NOT STARTS WITH"
        case "ends" => "NOT ENDS WITH"; case _ => "NOT CONTAINS"
      }
      s"(${text(l)} $w ${text(r)})"
    case Un(op, x) => s"$op(${text(x)})"
    case CaseW(_, _, _) => "CASE"
    case ListLit(items) => items.map(text).mkString("[", ",", "]")
    case SetLit(items) => items.map(text).mkString("{", ",", "}")
    case MapLit(entries) =>
      entries.map { case (k, v) => s"$k: ${text(v)}" }.mkString("{", ", ", "}")
    case Quant(k, v, l, p2) => s"$k($v IN ${text(l)} WHERE ${text(p2)})"
    case Compr(v, l, p2, m2) =>
      s"[$v IN ${text(l)}${p2.map(x => " WHERE " + text(x)).getOrElse("")}" +
        s"${m2.map(x => " | " + text(x)).getOrElse("")}]"
    case ReduceE(a, i2, v, l, s2) =>
      s"reduce($a = ${text(i2)}, $v IN ${text(l)} | ${text(s2)})"
    case Subscript(x, i2) => s"${text(x)}[${text(i2)}]"
    case Attr(x, n) => s"${text(x)}.$n"
    case Slice(x, f2, t2) =>
      s"${text(x)}[${f2.map(text).getOrElse("")}..${t2.map(text).getOrElse("")}]"
    case Star => "*"
  }

  // ---------- parser ----------
  def parse(p: P): E = {
    // conditional `c ? t : f` — lowest precedence, right-assoc
    // (parser.yy expression_conditional; Case.feature ternaries)
    val c = orE(p)
    if (p.sym("?")) {
      val t = parse(p)
      p.expectSym(":")
      val f = parse(p)
      CaseW(None, List((c, t)), Some(f))
    } else c
  }

  /** Parse a standalone expression string (tests, library callers). */
  def parseText(s: String): E = {
    val p = new P(Gql.tokenize(s))
    val e = parse(p)
    require(p.ts.isEmpty, s"trailing tokens: ${p.ts.take(3)}")
    e
  }

  private def orE(p: P): E = {
    var l = andE(p)
    var go = true
    while (go) {
      if (p.kw("OR") || p.sym("||")) l = Bin("or", l, andE(p))
      else if (p.kw("XOR")) l = Bin("xor", l, andE(p))
      else go = false
    }
    l
  }

  private def andE(p: P): E = {
    var l = notE(p)
    while (p.kw("AND") || p.sym("&&")) l = Bin("and", l, notE(p))
    l
  }

  private def notE(p: P): E =
    if (p.kw("NOT") || p.sym("!")) Un("not", notE(p)) else cmpE(p)

  private val cmpOps = Set("==", "=", "!=", "<>", "<", "<=", ">", ">=", "=~")

  private def cmpE(p: P): E = {
    var l = addE(p)
    var go = true
    while (go) {
      p.peek match {
        case Some(Sym(op)) if cmpOps(op) =>
          p.next(); l = Bin(if (op == "=") "==" else if (op == "<>") "!=" else op, l, addE(p))
        case Some(Word(w)) if w.equalsIgnoreCase("STARTS") =>
          p.next(); p.expectKw("WITH"); l = Bin("starts", l, addE(p))
        case Some(Word(w)) if w.equalsIgnoreCase("ENDS") =>
          p.next(); p.expectKw("WITH"); l = Bin("ends", l, addE(p))
        case Some(Word(w)) if w.equalsIgnoreCase("CONTAINS") =>
          p.next(); l = Bin("contains", l, addE(p))
        case Some(Word(w)) if w.equalsIgnoreCase("IN") =>
          p.next(); l = Bin("in", l, addE(p))
        case Some(Word(w)) if w.equalsIgnoreCase("NOT") &&
            p.peek2.exists { case Word(w2) => w2.equalsIgnoreCase("IN"); case _ => false } =>
          // RELATIONAL `x NOT IN y` — distinct from unary `NOT (x IN
          // y)`: LOOKUP index validation accepts the former (Index-
          // FullScan + Filter) but rejects the latter (generic `!`)
          p.next(); p.next(); l = Un("notrel", Bin("in", l, addE(p)))
        case Some(Word(w)) if w.equalsIgnoreCase("NOT") &&
            p.peek2.exists { case Word(w2) => w2.equalsIgnoreCase("STARTS") ||
              w2.equalsIgnoreCase("ENDS") || w2.equalsIgnoreCase("CONTAINS")
              case _ => false } =>
          p.next()
          val op = p.word().toLowerCase match {
            case "starts" => p.expectKw("WITH"); "starts"
            case "ends" => p.expectKw("WITH"); "ends"
            case _ => "contains"
          }
          l = Un("notrel", Bin(op, l, addE(p)))
        case Some(Word(w)) if w.equalsIgnoreCase("IS") =>
          p.next()
          val not = p.kw("NOT")
          // EMPTY folds to NULL in our value model (conftest relax
          // comparison folds EMPTY/NULL the same way)
          if (!p.kw("NULL")) p.expectKw("EMPTY")
          l = Un(if (not) "isnotnull" else "isnull", l)
        case _ => go = false
      }
    }
    l
  }

  /** scanner.lex maximal-munches adjacent `]-` / `--` / `-[` into
    * MATCH-pattern tokens, so unspaced arithmetic like `1--1` or
    * `[2,3]-[3]` is a reference SyntaxError while the spaced forms
    * parse (yield/return.feature). The glue set from Gql.lex tells us
    * which minus signs were adjacent. */
  private def gluedEdgeTokenGuard(p: P, binary: Boolean): Unit = {
    if (binary && p.gluedAt(0) && p.lastConsumed == Gql.Sym("]"))
      throw new IllegalArgumentException("syntax error near `]-'")
    if (p.gluedAt(1)) p.peek2 match {
      case Some(Sym("-")) =>
        throw new IllegalArgumentException("syntax error near `--'")
      case Some(Sym("[")) =>
        throw new IllegalArgumentException("syntax error near `-['")
      case _ => ()
    }
  }

  private def addE(p: P): E = {
    var l = mulE(p)
    var go = true
    while (go) {
      p.peek match {
        case Some(Sym("+")) => p.next(); l = Bin("+", l, mulE(p))
        case Some(Sym("-")) =>
          gluedEdgeTokenGuard(p, binary = true)
          p.next(); l = Bin("-", l, mulE(p))
        case _ => go = false
      }
    }
    l
  }

  private def mulE(p: P): E = {
    var l = unE(p)
    var go = true
    while (go) {
      p.peek match {
        case Some(Sym("*")) => p.next(); l = Bin("*", l, unE(p))
        case Some(Sym("/")) => p.next(); l = Bin("/", l, unE(p))
        case Some(Sym("%")) => p.next(); l = Bin("%", l, unE(p))
        case _ => go = false
      }
    }
    l
  }

  private def unE(p: P): E = p.peek match {
    case Some(Sym("-")) =>
      gluedEdgeTokenGuard(p, binary = false)
      p.next()
      // a 2^63-magnitude literal is valid ONLY when a unary minus
      // folds it to Long.MinValue (GraphScanner.h setIsIntMin)
      p.peek match {
        case Some(Num(_, raw)) if raw == "9223372036854775808" =>
          p.next(); Lit(Long.MinValue)
        case _ => unE(p) match {
          // fold the sign into numeric literals so constant arithmetic
          // range checks see them (-9223372036854775807-2 overflow);
          // negating Long.MinValue itself cannot be represented
          case Lit(n: Long) if n == Long.MinValue =>
            throw new IntOverflow("-(-9223372036854775808)", "SemanticError: ")
          case Lit(n: Long) => Lit(-n)
          case Lit(d: Double) => Lit(-d)
          case other => Un("neg", other)
        }
      }
    case Some(Sym("+")) => p.next(); unE(p)
    case _ => postfix(p, atom(p))
  }

  /** Postfix subscript `x[i]` and slice `x[a..b]` / `x[..b]` / `x[a..]`. */
  private def postfix(p: P, base: E): E = {
    var e = base
    var go = true
    while (go) {
      if (p.sym("[")) {
        val from =
          if (p.peek.contains(Sym("..")) || p.peek.contains(Sym("]"))) None
          else Some(parse(p))
        if (p.sym("..")) {
          val to = if (p.peek.contains(Sym("]"))) None else Some(parse(p))
          p.expectSym("]")
          e = Slice(e, from, to)
        } else {
          p.expectSym("]")
          e = Subscript(e, from.getOrElse(
            throw new IllegalArgumentException("empty subscript")))
        }
      } else if (p.peek.contains(Sym(".")) &&
          p.peek2.exists(_.isInstanceOf[Word])) {
        // postfix attribute: properties(x).age, date(d).month, map.k —
        // reference kAttribute (AttributeExpression.cpp); dotted Refs
        // consume their own parts in atom(), so this only fires on
        // non-Ref bases (function calls, literals, subscripts). On a
        // $-/$var base the dots extend the (dot-containing) column
        // NAME — fold into the Param so resolvers see one ref.
        p.next()
        e = e match {
          case Param(k, n, parts) => Param(k, n, parts :+ p.word())
          case other => Attr(other, p.word())
        }
      } else go = false
    }
    e
  }

  /** `(TYPE)` cast-prefix type words → to* conversion function. */
  private val castTypes = Map(
    "int" -> "tointeger", "int8" -> "tointeger", "int16" -> "tointeger",
    "int32" -> "tointeger", "int64" -> "tointeger",
    "integer" -> "tointeger",
    "float" -> "tofloat", "double" -> "tofloat",
    "string" -> "tostring", "bool" -> "toboolean")

  private val quantNames = Set("all", "any", "none", "single")

  /** `all(` really heads a quantifier only when followed by `v IN`. */
  private def quantAhead(p: P): Boolean = p.ts.drop(2) match {
    case Word(_) :: Word(in) :: _ => in.equalsIgnoreCase("IN")
    case _ => false
  }

  private def atom(p: P): E = p.peek match {
    case Some(Num(v, raw)) =>
      p.next()
      Lit(if (raw.exists(ch => ch == '.' || ch == 'e' || ch == 'E')) v
          else raw.toLongOption.getOrElse(throw new IllegalArgumentException(
            s"integer literal out of range: $raw")))
    case Some(Str(s)) => p.next(); Lit(s)
    case Some(Sym("(")) if patternAhead(p) =>
      // pattern expression `(v)-[:like]->()` in value position: try a
      // full pattern parse, backtracking to an ordinary parenthesized
      // expression when the pattern shape doesn't hold (e.g. `(a)<-b`
      // is a comparison against a negation)
      val saved = p.mark
      try PatternE(MatchSeg.parsePatternExprPart(p))
      catch {
        case scala.util.control.NonFatal(_) => p.reset(saved); parenAtom(p)
      }
    case Some(Sym("(")) => parenAtom(p)
    case Some(Sym("[")) =>
      p.next()
      // list comprehension: `[v IN list ...]`
      val isCompr = (p.peek, p.peek2) match {
        case (Some(Word(_)), Some(Word(in))) => in.equalsIgnoreCase("IN")
        case _ => false
      }
      if (isCompr) {
        val v = p.word(); p.expectKw("IN")
        val list = parse(p)
        val pred = if (p.kw("WHERE")) Some(parse(p)) else None
        val map = if (p.sym("|")) Some(parse(p)) else None
        p.expectSym("]")
        Compr(v, list, pred, map)
      } else {
        val items = scala.collection.mutable.ListBuffer.empty[E]
        if (!p.sym("]")) {
          items += parse(p)
          while (p.sym(",")) items += parse(p)
          p.expectSym("]")
        }
        ListLit(items.toList)
      }
    case other => atomRest(p, other)
  }

  /** A `(` heads a pattern expression when the parenthesized group
    * looks like a pattern NODE and the token after its matching `)`
    * starts a relationship (`-[`, `--`, `<-`). Cheap token lookahead;
    * the actual parse still backtracks on failure. */
  private def patternAhead(p: P): Boolean = {
    p.ts.drop(1) match {
      case Sym(")") :: _ => ()
      case Word(_) :: (Sym(")") | Sym(":") | Sym("{")) :: _ => ()
      case Sym(":") :: Word(_) :: _ => ()
      case Sym("{") :: _ => ()
      case _ => return false
    }
    var depth = 0
    var rest = p.ts
    while (rest.nonEmpty) {
      rest.head match {
        case Sym("(") => depth += 1
        case Sym(")") =>
          depth -= 1
          if (depth == 0)
            return rest.tail match {
              case Sym("-") :: Sym("[") :: _ => true
              case Sym("-") :: Sym("-") :: _ => true
              case Sym("<") :: Sym("-") :: _ => true
              case _ => false
            }
        case _ => ()
      }
      rest = rest.tail
    }
    false
  }

  private def parenAtom(p: P): E = {
      p.next()
      // type-cast prefix `(INT)expr` (parser.yy type_cast): a known
      // type word immediately closed by `)` and followed by an
      // expression start is a cast, not a parenthesized column ref
      val castFn = p.peek match {
        case Some(Word(w)) if castTypes.contains(w.toLowerCase) &&
            p.peek2.contains(Sym(")")) && p.ts.drop(2).headOption.exists {
              case Word(x) => !reserved(x.toLowerCase) || x.equalsIgnoreCase("true") ||
                x.equalsIgnoreCase("false") || x.equalsIgnoreCase("null")
              case Str(_) | Num(_, _) => true
              case Sym("(") | Sym("$") | Sym("-") | Sym("[") => true
              case _ => false
            } =>
          Some(castTypes(w.toLowerCase))
        case _ => None
      }
      castFn match {
        case Some(fn) =>
          p.next(); p.next() // type )
          FnCall(fn, List(unE(p)))
        case None =>
          val e = parse(p); p.expectSym(")"); e
      }
  }

  private def atomRest(p: P, head: Option[Gql.Tok]): E = head match {
    case Some(Sym("{")) =>
      p.next()
      // `{k: v, ...}` is a map literal; `{e1, e2, ...}` is a SET
      // literal (reference set_expression) — distinguished by whether
      // a word+colon follows. A set keeps distinct elements.
      val isMap = p.peek.contains(Sym("}")) ||
        ((p.peek.exists(_.isInstanceOf[Word]) ||
          p.peek.exists(_.isInstanceOf[Str])) && p.peek2.contains(Sym(":")))
      if (isMap) {
        // the reference grammar's map_expression requires ≥1 entry —
        // bare `{}` is a SyntaxError (basic/data.feature)
        if (p.peek.contains(Sym("}")))
          throw new IllegalArgumentException(
            "SyntaxError: empty map literal")
        val entries = scala.collection.mutable.ListBuffer.empty[(String, E)]
        if (!p.sym("}")) {
          var go = true
          while (go) {
            // JSON-style quoted keys appear via `Given parameters`
            // substitution ({"a":3,...})
            val k = p.peek match {
              case Some(Str(s)) => p.next(); s
              case _ => p.word()
            }
            p.expectSym(":")
            entries += (k -> parse(p))
            if (p.sym(",")) () else go = false
          }
          p.expectSym("}")
        }
        MapLit(entries.toList)
      } else {
        val items = scala.collection.mutable.ListBuffer.empty[E]
        items += parse(p)
        while (p.sym(",")) items += parse(p)
        p.expectSym("}")
        SetLit(items.toList)
      }
    case Some(Word(w)) if w.equalsIgnoreCase("set") &&
        p.peek2.contains(Sym("{")) =>
      // `set{...}` prefix form (Insert.feature container scenarios)
      p.next(); p.next()
      val items = scala.collection.mutable.ListBuffer.empty[E]
      if (!p.sym("}")) {
        items += parse(p)
        while (p.sym(",")) items += parse(p)
        p.expectSym("}")
      }
      SetLit(items.toList)
    case Some(Word(w)) if w.equalsIgnoreCase("list") &&
        p.peek2.contains(Sym("[")) =>
      p.next(); p.next()
      val items = scala.collection.mutable.ListBuffer.empty[E]
      if (!p.sym("]")) {
        items += parse(p)
        while (p.sym(",")) items += parse(p)
        p.expectSym("]")
      }
      ListLit(items.toList)
    case Some(Word(w)) if w.equalsIgnoreCase("map") &&
        p.peek2.contains(Sym("{")) =>
      // `MAP{k: v, ...}` prefix form (basic/data.feature)
      p.next(); p.next()
      val entries = scala.collection.mutable.ListBuffer.empty[(String, E)]
      if (!p.sym("}")) {
        var go = true
        while (go) {
          val k = p.peek match {
            case Some(Str(s)) => p.next(); s
            case _ => p.word()
          }
          p.expectSym(":")
          entries += (k -> parse(p))
          if (p.sym(",")) () else go = false
        }
        p.expectSym("}")
      }
      MapLit(entries.toList)
    case Some(Sym("*")) => p.next(); Star
    case Some(Sym("$")) => p.next(); param(p)
    case Some(Word(w)) if w.equalsIgnoreCase("true") => p.next(); Lit(true)
    case Some(Word(w)) if w.equalsIgnoreCase("false") => p.next(); Lit(false)
    case Some(Word(w)) if w.equalsIgnoreCase("null") ||
        w.equalsIgnoreCase("empty") => p.next(); Lit(null)
    case Some(Word(w)) if w.equalsIgnoreCase("case") => p.next(); caseE(p)
    case Some(Word(w)) if quantNames(w.toLowerCase) &&
        p.peek2.contains(Sym("(")) && quantAhead(p) =>
      // all/any/none/single(v IN list WHERE pred)
      p.next(); p.next()
      val v = p.word(); p.expectKw("IN")
      val list = parse(p)
      p.expectKw("WHERE")
      val pred = parse(p)
      p.expectSym(")")
      Quant(w.toLowerCase, v, list, pred)
    case Some(Word(w)) if w.equalsIgnoreCase("reduce") &&
        p.peek2.contains(Sym("(")) =>
      p.next(); p.next()
      val acc = p.word(); p.expectSym("=")
      val init = parse(p)
      p.expectSym(",")
      val v = p.word(); p.expectKw("IN")
      val list = parse(p)
      require(p.sym("|"), "reduce needs | step")
      val step = parse(p)
      p.expectSym(")")
      ReduceE(acc, init, v, list, step)
    case Some(Word(w)) if p.peek2.contains(Sym("(")) =>
      p.next(); p.next() // name (
      val distinct = p.kw("DISTINCT")
      val args = scala.collection.mutable.ListBuffer.empty[E]
      if (!p.sym(")")) {
        args += parse(p)
        while (p.sym(",")) args += parse(p)
        p.expectSym(")")
      }
      // entity-word args are case-insensitive: properties(Vertex)
      // ≡ properties(vertex) (PipeAndVariable.feature)
      val normArgs = args.toList.map {
        case Ref(List(one))
            if Set("vertex", "edge").contains(one.toLowerCase) =>
          Ref(List(one.toLowerCase))
        case other => other
      }
      FnCall(w.toLowerCase, normArgs, distinct)
    case Some(Word(w)) if !reserved(w.toLowerCase) =>
      p.next()
      val parts = scala.collection.mutable.ListBuffer(w)
      while (p.peek.contains(Sym(".")) && parts.size < 3 &&
          p.peek2.exists(_.isInstanceOf[Word])) {
        p.next(); parts += p.word()
      }
      // bare VERTEX/EDGE are reserved entity words, case-insensitive
      // (`YIELD VERTEX as node` ≡ `YIELD vertex as node`)
      parts.toList match {
        case List(one) if Set("vertex", "edge")(one.toLowerCase) =>
          Ref(List(one.toLowerCase))
        case l => Ref(l)
      }
    case t => throw new IllegalArgumentException(s"bad expression at $t")
  }

  /** After a consumed `$`: $$ (dst), $^ (src), $- (pipe input), $var. */
  private def param(p: P): E = p.peek match {
    case Some(Sym("$")) =>
      p.next()
      Param("dst", "", dottedTail(p))
    case Some(Sym("^")) =>
      p.next()
      Param("src", "", dottedTail(p))
    case Some(Sym("-")) =>
      p.next(); p.expectSym(".")
      if (p.sym("*")) Param("input", "", List("*"))
      else Param("input", "", List(p.word()))
    case Some(Word(name)) if p.params.contains(name) =>
      // session parameter: inline the parsed literal; a dotted tail
      // walks nested map values ($p7.a.b.c)
      p.next()
      var base: E = ParamLit(name, parseText(p.params(name)))
      while (p.peek.contains(Sym(".")) &&
          p.peek2.exists(_.isInstanceOf[Word])) {
        p.next(); base = Attr(base, p.word())
      }
      base
    case Some(Word(name)) =>
      p.next()
      Param("var", name, dottedTail(p))
    case t => throw new IllegalArgumentException(s"bad $$-ref at $t")
  }

  private def dottedTail(p: P): List[String] = {
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    if (p.peek.contains(Sym(".")) && p.peek2.contains(Sym("*"))) {
      p.next(); p.next(); parts += "*"
    } else while (p.peek.contains(Sym(".")) && parts.size < 2 &&
        p.peek2.exists(_.isInstanceOf[Word])) {
      p.next(); parts += p.word()
    }
    parts.toList
  }

  private def caseE(p: P): E = {
    val subject =
      if (p.peek.exists { case Word(w) => w.equalsIgnoreCase("WHEN"); case _ => false }) None
      else Some(parse(p))
    val branches = scala.collection.mutable.ListBuffer.empty[(E, E)]
    while (p.kw("WHEN")) {
      val c = parse(p); p.expectKw("THEN"); branches += (c -> parse(p))
    }
    require(branches.nonEmpty, "CASE needs at least one WHEN")
    val els = if (p.kw("ELSE")) Some(parse(p)) else None
    p.expectKw("END")
    CaseW(subject, branches.toList, els)
  }

  // ---------- compiler ----------
  /** Domain resolver: tried first on every node; return None to fall
    * through to the generic compilation. */
  type Resolver = E => Option[Column]
  val noResolver: Resolver = _ => None

  def compile(e: E, r: Resolver): Column = {
    // an expression over literals compiles to its fold's value, the
    // value DML computes too: the reference's constant folder rejects
    // 9223372036854775807+1 rather than wrap (GO.feature), and
    // mixed-family and list comparisons can't even be typed as Spark
    // columns (RelationalExpr.feature)
    def c(e: E): Column = r(e).orElse(foldedLit(e)).getOrElse(e match {
      case Lit(v) => lit(v)
      case Ref(one :: Nil) => col(one)
      case Bin("and", a, b) => c(a) && c(b)
      // a constant-true operand decides the OR no matter how ill-typed
      // the siblings are (Value OR semantics: `x or true or y` is true
      // even when x/y are INT/STRING — IndexScanRule.feature)
      case Bin("or", a, b)
          if tryConst(a).contains(true) || tryConst(b).contains(true) =>
        lit(true)
      case Bin("or", a, b) => c(a) || c(b)
      case Bin("xor", a, b) => c(a) =!= c(b)
      // ORDERING against a constant bool/list is the reference's
      // cross-family NULL whenever the other side is a non-bool,
      // non-list value — schema props are always scalars, so a
      // column side can only be bool when the constant is too
      // (`$$.player.age >= true`, `$$.player.name < [2,3,4]` —
      // RelationalExpr.feature "in GO clause")
      case Bin("<" | "<=" | ">" | ">=", a, b)
          if (tryConst(a).isEmpty &&
              tryConst(b).exists(v2 => v2.isInstanceOf[List[_]])) ||
             (tryConst(b).isEmpty &&
              tryConst(a).exists(v2 => v2.isInstanceOf[List[_]])) =>
        lit(null).cast("boolean")
      // NOTE: ordering vs a constant BOOL is NOT folded here — bool
      // columns order for real (Index.feature `t1.col3 > false`); the
      // cross-family NULL for `age >= true` needs the schema and lives
      // in the schema-aware resolvers (MatchSeg / Gql).
      // float comparisons are epsilon-approximate (the reference's
      // Value comparator, kEpsilon 1e-8: 2.0 == 2.000000009 is true,
      // and >=/<= hold under approximate equality). EXCEPT around
      // ST_Distance: the geo predicate path compares raw doubles
      // (GeoBase.feature discriminates thresholds 2e-9 apart).
      case Bin(op @ ("==" | "!=" | "<" | ">" | "<=" | ">="), a, b)
          if (isFloatLit(a) || isFloatLit(b)) && !isGeoDist(a) && !isGeoDist(b) =>
        val (l, r) = (c(a), c(b))
        val eq = approxEq(l, r)
        op match {
          case "==" => eq; case "!=" => !eq
          case "<" => l < r && !eq; case ">" => l > r && !eq
          case "<=" => l < r || eq; case _ => l > r || eq
        }
      // ==/!= across value types is DEFINITE in the reference
      // (Value.cpp operator==: different types are simply "not
      // equal"), while Spark's implicit cross-type cast yields NULL
      // (ANSI off: `src(e) != 0` on a string vid). Wrap only the
      // shapes that can actually cross-cast — a numeric/bool literal
      // against a non-literal — so the common string/column equality
      // stays a bare EqualTo and KEEPS scan pushdown (PlanSpec).
      case Bin(op @ ("==" | "!="), a, b) if mayTypeMismatch(a, b) =>
        val (l, r) = (c(a), c(b))
        when(l.isNull || r.isNull, lit(null)).otherwise(
          coalesce(if (op == "==") l === r else l =!= r, lit(op == "!=")))
      case Bin("==", a, b) => c(a) === c(b)
      case Bin("!=", a, b) => c(a) =!= c(b)
      case Bin("<", a, b) => c(a) < c(b)
      case Bin("<=", a, b) => c(a) <= c(b)
      case Bin(">", a, b) => c(a) > c(b)
      case Bin(">=", a, b) => c(a) >= c(b)
      // temporal ± a plain number/bool/string is a static type error
      // (`time("10:00:00") + 3` — FunctionCall.feature:228)
      case Bin(op @ ("+" | "-"), a, b)
          if (tempKind(a) != "other" &&
              tryConst(b).exists(v2 => v2 != null)) ||
             (tempKind(b) != "other" &&
              tryConst(a).exists(v2 => v2 != null)) =>
        val (t, o) = if (tempKind(a) != "other") (a, b) else (b, a)
        throw new IllegalArgumentException(
          s"SemanticError: `(${text(a)}$op${text(b)})' is not a valid " +
            s"expression, can not apply `$op' to " +
            s"`${tempKind(t).toUpperCase}' and `${tryConst(o).get match {
              case _: Long => "INT"; case _: Double => "FLOAT"
              case _: String => "STRING"; case _: Boolean => "BOOL"
              case _ => "VALUE" }}'.")
      // temporal ± duration: statically-typed operands (literal
      // date()/time()/datetime() calls) dispatch here; WITH-aliased
      // operands dispatch in MatchSeg's schema-aware resolver
      case Bin(op @ ("+" | "-"), a, b)
          if isDurCall(a) || isDurCall(b) =>
        if (isDurCall(a) && isDurCall(b)) {
          val (l, r) = (c(a), c(b)); val s2 = if (op == "-") -1 else 1
          struct(
            (l.getField("__dmon") + r.getField("__dmon") * s2).as("__dmon"),
            (l.getField("__dsec") + r.getField("__dsec") * s2).as("__dsec"),
            (l.getField("__dmic") + r.getField("__dmic") * s2).as("__dmic"))
        } else {
          val (temp, dur, sign) =
            if (isDurCall(b)) (a, b, if (op == "-") -1 else 1)
            else (b, a, 1) // duration + temporal commutes
          if (!isDurCall(b) && op == "-") lit(null) // duration - temporal
          else DurationOps.arith(tempKind(temp), c(temp), c(dur), sign)
        }
      // `+` on a string literal operand is concatenation (the
      // reference's Arithmetic + on strings, ArithmeticExpression.cpp)
      case Bin("+", a, b) if isStr(a) || isStr(b) => concat(c(a), c(b))
      case Bin("+", a, b) =>
        // string-typed COLUMNS also concatenate (Value.cpp operator+:
        // `$-.id + 1` → "...1") — type dispatch happens at analysis
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.column(graft.functions.NebulaAdd(
          ColumnBridge.expression(c(a)), ColumnBridge.expression(c(b))))
      // -,*,/,% with a STRING operand is the reference's static type
      // error (`v.player.name-'n'` — Base.feature:1598); only `+`
      // concatenates
      case Bin(op @ ("-" | "*" | "/" | "%"), a, b)
          if tryConst(a).exists(_.isInstanceOf[String]) ||
             tryConst(b).exists(_.isInstanceOf[String]) =>
        throw new IllegalArgumentException(
          s"SemanticError: `(${text(a)}$op${text(b)})' is not a valid " +
            s"expression, can not apply `$op' to `__EMPTY__' and `STRING'.")
      case Bin("-", a, b) => c(a) - c(b)
      case Bin("*", a, b) => c(a) * c(b)
      case Bin(op @ ("/" | "%"), a, b) =>
        // int/int divides INTEGRALLY (C++ semantics) with NULL-on-zero
        // (DIV_BY_ZERO); constant double divisions fold above, IEEE
        // like the reference's (0/0.0 → NaN, 1/0.0 → inf, issue #3473)
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.column(graft.functions.NebulaDivide(
          ColumnBridge.expression(c(a)), ColumnBridge.expression(c(b)),
          remainder = op == "%"))
      // =~ is a FULL match (std::regex_match, not search)
      case Bin("=~", a, Lit(p: String)) => c(a).rlike("^(?:" + p + ")$")
      case Bin(op @ ("starts" | "ends"), a, b) =>
        // a non-string constant operand is the reference's static
        // type error (`123 STARTS WITH 1` — Starts/EndsWith.feature)
        Seq(a, b).foreach(e2 => tryConst(e2) match {
          case Some(v2) if v2 != null && !v2.isInstanceOf[String] =>
            throw new IllegalArgumentException(
              s"SemanticError: Type error `(${text(a)} ${op.toUpperCase} WITH ${text(b)})'")
          case _ => ()
        })
        if (op == "starts") c(a).startsWith(c(b))
        else c(a).endsWith(c(b))
      case Bin("contains", a, b) => c(a).contains(c(b))
      case Bin("in", a, ListLit(items))
          if items.forall(it => tryConst(it).isDefined) =>
        // constant list elements (literals or bound session params)
        val vals = items.map(it => tryConst(it).get)
        def famOf(v: Any): String = v match {
          case _: Long | _: Int | _: Double | _: Float => "n"
          case _: Boolean => "b"
          case _: Seq[_] | _: Map[_, _] => "c" // container param value
          case _ => "s"
        }
        val nonNull = vals.filter(_ != null)
        if (nonNull.map(famOf).distinct.size <= 1 &&
            !nonNull.exists(v => famOf(v) == "c")) c(a).isin(vals: _*)
        else {
          // heterogeneous literal list: the reference compares
          // Value-wise — equal only within a type family, numerics
          // numerically ('Tony Parker' IN ['Tony Parker', 123] is
          // true). A typeof-guarded key comparison; a plain isin()
          // would ANSI-cast the operand to BIGINT and throw.
          val ac = c(a)
          val tf = call_function("typeof", ac)
          val isNum = tf.isin("tinyint", "smallint", "int", "bigint",
            "float", "double") || tf.startsWith("decimal")
          val akey = when(isNum,
              concat(lit("n:"), ac.cast("double").cast("string")))
            .when(tf === "boolean", concat(lit("b:"), ac.cast("string")))
            .otherwise(concat(lit("s:"), ac.cast("string")))
          // container-valued elements (a list/map session param) can
          // never equal a SCALAR operand — they contribute no keys
          // (yield/parameter.feature `name in [$p1,...,$p5,$p6]`)
          val keys = nonNull.filter(v => famOf(v) != "c").map {
            case v: Long => "n:" + v.toDouble.toString
            case v: Int => "n:" + v.toDouble.toString
            case v: Float => "n:" + v.toDouble.toString
            case v: Double => "n:" + v.toString
            case v: Boolean => "b:" + v.toString
            case v => "s:" + String.valueOf(v)
          }
          val matched = akey.isin(keys: _*)
          // a NULL list element keeps openCypher 3-valued IN: no
          // match → NULL, not false
          if (vals.contains(null)) when(matched, lit(true)) else matched
        }
      // membership over container literals (basic/data.feature):
      // `x IN SET{...}` tests the distinct elements, `x IN MAP{...}`
      // tests the KEYS (Value.cpp: map containment is key lookup)
      case Bin("in", a, SetLit(items)) if items.forall(_.isInstanceOf[Lit]) =>
        if (items.isEmpty) lit(false)
        else c(a).isin(items.collect { case Lit(v) => v }.distinct: _*)
      case Bin("in", a, s @ SetLit(_)) =>
        array_contains(c(s).getField("__set"), c(a))
      case Bin("in", a, MapLit(entries)) =>
        if (entries.isEmpty) lit(false)
        else c(a).isin(entries.map(_._1): _*)
      // a literal list with NON-constant elements: compile as an
      // equality OR-chain so mixed element types stay Value-wise
      // comparisons instead of an un-typable array literal
      // (`id(v) IN [hash('x'), v.player.name]` — SeekById.intVid)
      case Bin("in", a, ListLit(items)) if items.nonEmpty =>
        items.map(it => c(Bin("==", a, it))).reduce(_ || _)
      case Bin("in", a, b) => array_contains(c(b), c(a))
      case Un("not" | "notrel", x) => !c(x)
      case Un("neg", x) => negate(c(x))
      case Un("isnull", x) => c(x).isNull
      case Un("isnotnull", x) => c(x).isNotNull
      case CaseW(None, branches, els) =>
        // a NULL-literal condition is falsy, not a type error
        // (`CASE WHEN null THEN 0 ELSE 1 END` → 1, Case.feature)
        def cond(e2: E): Column = e2 match {
          case Lit(null) => lit(false)
          case other => c(other)
        }
        val base = branches.tail.foldLeft(when(cond(branches.head._1), c(branches.head._2))) {
          case (acc, (cv, v)) => acc.when(cond(cv), c(v))
        }
        els.map(e2 => base.otherwise(c(e2))).getOrElse(base)
      case CaseW(Some(subj), branches, els) =>
        val s = c(subj)
        val base = branches.tail.foldLeft(when(s === c(branches.head._1), c(branches.head._2))) {
          case (acc, (cond, v)) => acc.when(s === c(cond), c(v))
        }
        els.map(e2 => base.otherwise(c(e2))).getOrElse(base)
      case ListLit(items) =>
        // the reference's List is heterogeneous (Value union); Spark
        // arrays are not — a literal list mixing booleans/strings/
        // numbers falls back to the string rendering so construction
        // doesn't ANSI-cast (UNWIND [true, "3.14"] in TypeConversion
        // .feature); downstream to*() conversions parse from string
        val kinds = items.collect { case Lit(v) if v != null => v match {
          case _: Long | _: Double => "num"
          case _: String => "str"
          case _: Boolean => "bool"
          case _ => "other"
        } }.toSet
        if (kinds.size > 1 && items.forall {
          case Lit(_) => true; case _ => false })
          array(items.map(x => c(x).cast("string")): _*)
        else array(items.map(c): _*)
      case SetLit(items) =>
        // marked single-field struct so the renderer can distinguish a
        // SET value (braced, unordered) from a LIST ([...], ordered)
        struct(array_distinct(array(items.map(c): _*)).as("__set"))
      case MapLit(Nil) =>
        // empty struct() is unusable downstream (size/IN); a typed
        // empty map keeps both well-defined
        map_from_arrays(array().cast("array<string>"),
          array().cast("array<string>"))
      case MapLit(entries) =>
        struct(entries.map { case (k, v2) => c(v2).as(k) }: _*)
      // lambda forms → Spark higher-order functions; the bound var
      // shadows the outer resolver inside the body
      case ParamLit(_, v2) => c(v2)
      case PatternE(_) =>
        throw new IllegalArgumentException(
          "SemanticError: pattern expression not allowed in this context")
      // lambdas whose body reads FIELDS of the bound var compile the
      // list through a `__rawlist` wrapper: a domain resolver (MATCH)
      // can then supply raw edge STRUCTS where the plain reference
      // would render display strings ([i in e | i.likeness] over a
      // var-length edge list). Resolvers that don't intercept it see
      // the unchanged list (the generic __rawlist case below).
      // a constant-NULL list short-circuits every list form to NULL
      // (the reference's BAD_TYPE-free null propagation; Spark can't
      // even type a lambda over an untyped NULL)
      case Quant(_, _, list, _) if tryConst(list).contains(null) =>
        lit(null).cast("boolean")
      case Compr(_, list, _, _) if tryConst(list).contains(null) =>
        lit(null)
      case ReduceE(_, _, _, list, _) if tryConst(list).contains(null) =>
        lit(null)
      case Quant(kind, v, list, pred) =>
        val lc = c(rawIfFieldAccess(v, List(pred), list))
        val lam: Column => Column = x => compile(pred, bindVar(v, x, r))
        kind match {
          case "all" => forall(lc, lam)
          case "any" => exists(lc, lam)
          case "none" => !exists(lc, lam)
          case "single" =>
            // 3-valued: >=2 trues → false; else any NULL pred → NULL
            // (the null could flip the count); else exactly one true
            val trueCnt = size(filter(lc, x => coalesce(lam(x), lit(false))))
            val anyNull = exists(lc, x => lam(x).isNull)
            when(trueCnt >= 2, lit(false))
              .when(anyNull, lit(null))
              .otherwise(trueCnt === 1)
        }
      case Compr(v, list, pred, map) =>
        var lc = c(rawIfFieldAccess(v, pred.toList ++ map.toList, list))
        pred.foreach(p2 => lc = filter(lc, x => compile(p2, bindVar(v, x, r))))
        map.foreach(m2 => lc = transform(lc, x => compile(m2, bindVar(v, x, r))))
        lc
      case FnCall("__rawlist", List(x), _) => c(x)
      case ReduceE(acc, init, v, list, step) =>
        aggregate(c(list), c(init),
          (a2, x) => compile(step, bindVar(acc, a2, bindVar(v, x, r))))
      // string subscript over a map literal → key lookup on the
      // backing struct (MAP{...}["b"], basic/data.feature)
      case Subscript(m: MapLit, Lit(k: String)) =>
        m.entries.find(_._1 == k).map(kv => c(kv._2)).getOrElse(lit(null))
      case Subscript(x, i) =>
        val ec = c(x)
        val ic = c(i).cast("int")
        // non-negative: 0-based; negative: from the end (both match
        // the reference's List subscript)
        when(ic >= 0, try_element_at(ec, ic + lit(1)))
          .otherwise(try_element_at(ec, ic))
      case Slice(x, f2, t2) =>
        val ec = c(x)
        val sz = size(ec)
        val f0 = f2.map(e2 => c(e2).cast("int")).getOrElse(lit(0))
        val t0 = t2.map(e2 => c(e2).cast("int")).getOrElse(sz)
        // out-of-range bounds CLAMP (openCypher List2: [1,2,3][-5..5]
        // is the whole list), they don't wrap or error
        val fN = greatest(least(
          when(f0 < 0, sz + f0).otherwise(f0), sz), lit(0))
        val tN = greatest(least(
          when(t0 < 0, sz + t0).otherwise(t0), sz), lit(0))
        // a NULL bound nulls the whole slice (reference: BAD_TYPE
        // range operand → NULL, bugfix/ListSlicingWithNull); `when`
        // without otherwise yields NULL of the array type
        when(f0.isNotNull && t0.isNotNull,
          slice(ec, fN + lit(1), greatest(tN - fN, lit(0))))
      case Attr(x, name) => x match {
        // map-key access is case-SENSITIVE (Map std::map keys); a
        // missing key is UNKNOWN_PROP -> plain NULL (SURVEY 7.4)
        case MapLit(entries) =>
          entries.find(_._1 == name).map(kv => c(kv._2)).getOrElse(lit(null))
        // temporal attribute extraction (Date.h fields); unknown
        // attribute → UNKNOWN_PROP typed null (not an exception)
        case FnCall(fn @ ("date" | "datetime" | "time"), _, _) =>
          temporalAttr(fn, c(x), name.toLowerCase)
        case _ =>
          // struct field (case-insensitive under Spark's resolver) or
          // map key — both via UnresolvedExtractValue
          c(x).getItem(name)
      }
      // size() over container literals: a MAP literal compiles to a
      // struct (heterogeneous values), so count its entries statically;
      // a SET literal counts its distinct elements
      case FnCall(n, List(m: MapLit), _)
          if n.equalsIgnoreCase("size") && m.entries.nonEmpty =>
        lit(m.entries.map(_._1).distinct.size.toLong)
      case FnCall(n, List(s: SetLit), _) if n.equalsIgnoreCase("size") =>
        size(c(s).getField("__set")).cast("long")
      // size(<string>): nebula size() is generic (container size OR
      // string length, Value.h). Spark's size() is container-only, so
      // dispatch statically where the arg is knowably a string —
      // an element of a string-array producer (GO.feature
      // `size(labels($$)[0])`) or a string literal
      case FnCall(n, List(sub @ Subscript(FnCall(inner, _, _), _)), _)
          if n.equalsIgnoreCase("size") &&
            Set("labels", "tags", "split").contains(inner.toLowerCase) =>
        length(c(sub)).cast("long")
      case FnCall(n, List(s @ Lit(_: String)), _)
          if n.equalsIgnoreCase("size") =>
        length(c(s)).cast("long")
      // exists() takes a property locator, not a literal
      // (Predicate.feature `EXISTS("abc")` SyntaxError)
      case FnCall(n, List(Lit(_)), _) if n.equalsIgnoreCase("exists") =>
        throw new IllegalArgumentException(
          "syntax error: exists() requires a property reference")
      case FnCall(name, args, distinct) => fnCol(name, args, distinct, c)
      case other =>
        throw new IllegalArgumentException(s"unresolvable expression ${text(other)}")
    })
    c(e)
  }

  /** Attribute on a temporal value. `date(s)` compiles to DateType,
    * `datetime(s)` to TimestampType, `time(s)` to a "HH:mm:ss.SSSSSS"
    * string (Spark has no time-of-day type). */
  private def temporalAttr(fn: String, base: Column, attr: String): Column =
    (fn, attr) match {
      case ("date" | "datetime", "year") => year(base)
      case ("date" | "datetime", "month") => month(base)
      case ("date" | "datetime", "day") => dayofmonth(base)
      case ("datetime", "hour") => hour(base)
      case ("datetime", "minute") => minute(base)
      case ("datetime", "second") => second(base)
      case ("datetime", "microsec") =>
        (unix_micros(base) % 1000000L).cast("long")
      case ("time", "hour") => substring(base, 1, 2).cast("long")
      case ("time", "minute") => substring(base, 4, 2).cast("long")
      case ("time", "second") => substring(base, 7, 2).cast("long")
      case ("time", "microsec") => substring(base, 10, 6).cast("long")
      case _ => lit(graft.functions.ErrVal.UnknownProp)
    }

  /** Wrap a lambda's list in `__rawlist` when any body expression
    * dereferences fields of the bound variable (`i.likeness`). */
  private def rawIfFieldAccess(v: String, bodies: List[E], list: E): E = {
    var found = false
    bodies.foreach(collect(_) {
      case Ref(n :: rest) if n == v && rest.nonEmpty => found = true
      case Subscript(Ref(List(n)), Lit(_: String)) if n == v => found = true
      case FnCall("rank" | "src" | "dst" | "type",
          List(Ref(List(n))), _) if n == v => found = true
    })
    if (found) FnCall("__rawlist", List(list)) else list
  }

  private def bindVar(name: String, x: Column, r: Resolver): Resolver = {
    case Ref(List(n)) if n == name => Some(x)
    // id() over the lambda var: node-list lambdas iterate RAW vids
    // (`[n IN pathNodes | id(n)]`, bugfix/AliasTypeDeduce), so the
    // id of an element is the element itself
    case FnCall("id", List(Ref(List(n))), _) if n == name => Some(x)
    // dotted access on the lambda var: struct-element field lookup
    // (i.likeness over a var-length edge list)
    case Ref(n :: rest) if n == name && rest.nonEmpty =>
      Some(rest.foldLeft(x)(_.getItem(_)))
    // string subscript on the lambda var: struct-field lookup, same
    // as dotted access (`ALL(e IN e WHERE EXISTS(e['likeness']))` —
    // expression/Predicate); positional try_element_at would not type
    case Subscript(Ref(List(n)), Lit(k: String)) if n == name =>
      Some(x.getItem(k))
    // edge-meta functions over the lambda var iterate edge STRUCTS
    // (`all(i in e where rank(i)==0)` — MultiQueryParts); fields per
    // the __vl edge-struct convention
    case FnCall("rank", List(Ref(List(n))), _) if n == name =>
      Some(x.getItem("__r"))
    case FnCall("src", List(Ref(List(n))), _) if n == name =>
      Some(x.getItem("__s"))
    case FnCall("dst", List(Ref(List(n))), _) if n == name =>
      Some(x.getItem("__d"))
    case FnCall("type", List(Ref(List(n))), _) if n == name =>
      Some(x.getItem("__t"))
    case other => r(other)
  }

  /** Ordering a schema prop against a literal of another type family
    * is the reference's NULL (`$$.player.age >= true`, `e.likeness >=
    * "12"` — RelationalExpr.feature), where Spark would cast and
    * compare. Same-family orderings stay real comparisons: string
    * props vs string literals, bool props vs bool literals
    * (Index.feature `t1.col3 > false`). `propType` is the caller's
    * schema type of a prop reference. */
  def crossFamilyOrder(e: E,
      propType: E => Option[org.apache.spark.sql.types.DataType]): Boolean = {
    import org.apache.spark.sql.types.{BooleanType, NumericType, StringType}
    def propFam(x: E) = propType(x).collect {
      case _: NumericType => 'n'; case StringType => 's'; case BooleanType => 'b'
    }
    def litFam(x: E) = x match {
      case Lit(_: Long | _: Double) => Some('n')
      case Lit(_: String) => Some('s')
      case Lit(_: Boolean) => Some('b')
      case _ => None
    }
    def mism(p: E, l: E) = (propFam(p), litFam(l)) match {
      case (Some(a), Some(b)) => a != b
      case _ => false
    }
    e match {
      case Bin("<" | "<=" | ">" | ">=", l, r) => mism(l, r) || mism(r, l)
      case _ => false
    }
  }

  /** A comparison that Spark would resolve via a lossy implicit cast:
    * a numeric/bool literal vs an expression of unknown type (two
    * literals fold through the Value comparator). */
  private def mayTypeMismatch(a: E, b: E): Boolean = Seq(a, b).exists {
    case Lit(_: Long | _: Double | _: Boolean) => true
    case _ => false
  }

  private def isStr(e: E): Boolean = e match {
    case Lit(_: String) => true
    case Bin("+", a, b) => isStr(a) || isStr(b)
    case ParamLit(_, v) => isStr(v) // session param bound to a string
    case _ => false
  }

  private def isFloatLit(e: E): Boolean = e match {
    case Lit(_: Double) => true
    case _ => false
  }

  private def isGeoDist(e: E): Boolean = e match {
    case FnCall("st_distance", _, _) => true
    case _ => false
  }

  private def isDurCall(e: E): Boolean = e match {
    case FnCall("duration", _, _) => true
    case _ => false
  }

  /** Static temporal kind of a literal constructor call (for the
    * duration-arithmetic dispatch when no schema is available). */
  private def tempKind(e: E): String = e match {
    case FnCall("date", _, _) => "date"
    case FnCall("datetime", _, _) => "datetime"
    case FnCall("time", _, _) => "time"
    case _ => "other"
  }

  private def approxEq(x: Column, y: Column): Column =
    abs(x - y) < lit(1e-8)

  /** Rewrite references whose HEAD is `from` to head `to` — used to
    * statically instantiate a lambda body once per fixed-path node
    * (`[n IN nodes(p) | n.player.age]` → one expr per node alias).
    * Inner binders that shadow `from` stop the substitution. */
  private[nql] def substRefHead(e: E, from: String, to: String): E = {
    def s(x: E): E = x match {
      case Ref(h :: rest) if h == from => Ref(to :: rest)
      case FnCall(n, args, d) => FnCall(n, args.map(s), d)
      case Bin(op, l, r2) => Bin(op, s(l), s(r2))
      case Un(op, v2) => Un(op, s(v2))
      case CaseW(subj, branches, els) =>
        CaseW(subj.map(s),
          branches.map { case (a, b) => (s(a), s(b)) }, els.map(s))
      case ListLit(items) => ListLit(items.map(s))
      case SetLit(items) => SetLit(items.map(s))
      case MapLit(entries) =>
        MapLit(entries.map { case (k, v2) => (k, s(v2)) })
      case Quant(k, v2, l, p2) =>
        if (v2 == from) Quant(k, v2, s(l), p2)
        else Quant(k, v2, s(l), s(p2))
      case Compr(v2, l, p2, m2) =>
        if (v2 == from) Compr(v2, s(l), p2, m2)
        else Compr(v2, s(l), p2.map(s), m2.map(s))
      case ReduceE(acc, init, v2, l, step) =>
        if (acc == from || v2 == from) ReduceE(acc, s(init), v2, s(l), step)
        else ReduceE(acc, s(init), v2, s(l), s(step))
      case Subscript(x2, i2) => Subscript(s(x2), s(i2))
      case Attr(x2, n2) => Attr(s(x2), n2)
      case Slice(x2, f2, t2) => Slice(s(x2), f2.map(s), t2.map(s))
      case other => other
    }
    s(e)
  }

  // ---- constant Value comparator (Value.cpp lessThan:1779 /
  // equals:2719, kEpsilon 1e-8) ----
  // Cross-family ORDERING is NULL while cross-family EQUALITY is
  // definite false; numerics compare epsilon-approximate; lists are
  // lexicographic with structural element equality (null==null is
  // true INSIDE a list but poisons at top level). Folded at compile
  // time for constant operands — RelationalExpr.feature's mixed/list
  // tests can't even be typed as Spark columns.
  private def cmpFamily(v: Any): Int = v match {
    case null => 0
    case _: Long | _: Int | _: Double | _: Float => 1
    case _: String => 2
    case _: Boolean => 3
    case _: Seq[_] => 4
    case _ => -1 // typed scenario values (time/geo/map): not folded
  }
  private def toD(v: Any): Double = v match {
    case l: Long => l.toDouble; case i: Int => i.toDouble
    case d: Double => d; case f: Float => f.toDouble
  }
  private def epsNumEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x == y
    case _ => math.abs(toD(a) - toD(b)) < 1e-8
  }
  /** List::operator== — structural, epsilon numerics, null==null. */
  private def structEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length &&
        x.zip(y).forall { case (p, q) => structEq(p, q) }
    case _ if cmpFamily(a) == 1 && cmpFamily(b) == 1 => epsNumEq(a, b)
    case _ => a == b
  }
  /** Top-level ==: a null operand is NULL, cross-family is false. */
  private def eqConst(a: Any, b: Any): Any =
    if (a == null || b == null) null
    else if (cmpFamily(a) != cmpFamily(b)) false
    else structEq(a, b)
  /** lessThan: NULL on null operands / non-numeric cross-family. */
  private def ltConst(a: Any, b: Any): Any = {
    if (a == null || b == null) return null
    val (fa, fb) = (cmpFamily(a), cmpFamily(b))
    if (fa != fb) return null
    fa match {
      case 1 => (a, b) match {
        case (x: Long, y: Long) => x < y
        case _ => !epsNumEq(a, b) && toD(a) < toD(b)
      }
      case 2 => a.asInstanceOf[String] < b.asInstanceOf[String]
      case 3 => !a.asInstanceOf[Boolean] && b.asInstanceOf[Boolean]
      case 4 =>
        val (x, y) = (a.asInstanceOf[Seq[Any]], b.asInstanceOf[Seq[Any]])
        var i = 0
        while (i < x.length && i < y.length) {
          if (!structEq(x(i), y(i))) return ltConst(x(i), y(i))
          i += 1
        }
        x.length < y.length
      // typed values: dates and datetimes order within their own type
      case _ => (a, b) match {
        case (x: java.util.Date, y: java.util.Date)
            if x.getClass == y.getClass => x.before(y)
        case _ => null
      }
    }
  }
  private[nql] def foldCmp(op: String, a: Any, b: Any): Any = op match {
    case "==" => eqConst(a, b)
    case "!=" => eqConst(a, b) match {
      case null => null; case x: Boolean => !x }
    case "<" => ltConst(a, b)
    case ">" => ltConst(b, a)
    case "<=" | ">=" =>
      (if (op == "<=") ltConst(a, b) else ltConst(b, a), eqConst(a, b)) match {
        case (true, _) => true; case (_, true) => true
        case (null, _) => null; case (_, null) => null
        case _ => false
      }
  }
  /** IN over a constant list: found → true; else NULL if any element
    * comparison was NULL (null element or null needle). */
  private[nql] def foldIn(x: Any, items: List[Any]): Any = {
    var sawNull = false
    items.foreach { el =>
      eqConst(x, el) match {
        case true => return true
        case null => sawNull = true
        case _ => ()
      }
    }
    if (sawNull) null else false
  }

  /** Generic function → Spark Column. Domain functions (id, type,
    * properties, src/dst/rank over graph values) are expected to be
    * intercepted by the resolver; what remains is the portable scalar /
    * aggregate library (reference src/common/function/FunctionManager
    * .cpp builtins). */
  private def fnCol(name: String, args: List[E], distinct: Boolean,
                    c: E => Column): Column = {
    def a(i: Int): Column = c(args(i))
    lazy val cs = args.map(c)
    name match {
      // aggregates (pipe YIELD / RETURN implicit grouping)
      case "count" if args.isEmpty || args == List(Star) =>
        if (distinct) throw new IllegalArgumentException("count(distinct *)")
        else count(lit(1))
      case "count" if args.size > 1 =>
        // parser.yy: aggregates take exactly one argument
        throw new IllegalArgumentException(
          "syntax error: count() takes one argument near `count'")
      case "count" => if (distinct) count_distinct(a(0)) else count(a(0))
      // sum over an empty/all-null group is 0, not NULL
      // (AggData initial value, AggregateExpression.cpp)
      case "sum" =>
        coalesce(if (distinct) sum_distinct(a(0)) else sum(a(0)), lit(0L))
      case "avg" =>
        if (distinct) sum_distinct(a(0)) / count_distinct(a(0)) else avg(a(0))
      case "min" => min(a(0))
      case "max" => max(a(0))
      case "std" => stddev_pop(a(0))
      case "collect" => if (distinct) collect_set(a(0)) else collect_list(a(0))
      // internal: per-group value of a non-agg subtree inside an
      // agg-bearing item (Gql.firstWrapNonAgg)
      case "__first" => first(a(0))
      case "collect_set" => collect_set(a(0))
      // math — a statically-string operand (a string literal, or a
      // `+` that concatenated one: `abs($-.age + $p3)` with a string
      // param) is the reference's BAD_TYPE (FunctionManager numeric
      // fns type-check their Value argument at runtime)
      case "abs" | "floor" | "ceil" | "ceiling" | "sqrt" | "cbrt" |
           "exp" | "exp2" | "log" | "log2" | "log10" | "sin" | "cos" |
           "tan" | "asin" | "acos" | "atan" | "sign"
          if args.size == 1 && isStr(args.head) =>
        lit(graft.functions.ErrVal.BadType)
      case "abs" => abs(a(0))
      case "floor" => floor(a(0))
      case "ceil" | "ceiling" => ceil(a(0))
      case "round" if args.nonEmpty && isStr(args.head) =>
        // FunctionManager round: numeric input only — a constant
        // string is a validation-time type error (function/round TCK)
        throw new IllegalArgumentException(
          "SemanticError: `round(" + args.map(text).mkString(",") +
            ")' is not a valid expression : Parameter's type error")
      case "round" if args.size == 3 =>
        // round(x, scale, mode) — FunctionManager round modes
        val scale = intArg(args, 1)
        val f = pow(lit(10.0), lit(scale))
        val y = a(0) * f
        strArg(args, 2).toLowerCase match {
          case "half_even" => bround(a(0), scale)
          case mode =>
            val r = mode match {
              case "up" => signum(y) * ceil(abs(y))
              case "down" => signum(y) * floor(abs(y))
              case "ceiling" => ceil(y)
              case "floor" => floor(y)
              case "half_up" => signum(y) * floor(abs(y) + lit(0.5))
              case "half_down" => signum(y) * ceil(abs(y) - lit(0.5))
              case other =>
                throw new IllegalArgumentException(s"round mode $other")
            }
            r / f
        }
      case "round" if args.size == 2 => round(a(0), intArg(args, 1))
      case "round" => round(a(0))
      case "sqrt" => sqrt(a(0))
      case "cbrt" => cbrt(a(0))
      case "exp" => exp(a(0))
      case "exp2" => pow(lit(2.0), a(0))
      case "log" => log(a(0))
      case "log2" => log2(a(0))
      case "log10" => log10(a(0))
      case "pow" => pow(a(0), a(1))
      case "sign" => signum(a(0))
      case "radians" => radians(a(0))
      case "sin" => sin(a(0)); case "cos" => cos(a(0)); case "tan" => tan(a(0))
      case "asin" => asin(a(0)); case "acos" => acos(a(0)); case "atan" => atan(a(0))
      case "e" => lit(math.E)
      case "pi" => lit(math.Pi)
      // 2-arg: scalar bitwise; 1-arg: aggregate over the group
      case "bit_and" => if (args.size == 2) a(0).bitwiseAND(a(1)) else bit_and(a(0))
      case "bit_or" => if (args.size == 2) a(0).bitwiseOR(a(1)) else bit_or(a(0))
      case "bit_xor" => if (args.size == 2) a(0).bitwiseXOR(a(1)) else bit_xor(a(0))
      // string
      case "lower" | "tolower" => lower(a(0))
      case "upper" | "toupper" => upper(a(0))
      case "length" => length(a(0))
      case "trim" => trim(a(0))
      case "ltrim" => ltrim(a(0))
      case "rtrim" => rtrim(a(0))
      case "left" => substring(a(0), 1, intArg(args, 1))
      case "right" => a(0).substr(length(a(0)) - intArg(args, 1) + 1, lit(intArg(args, 1)))
      case "replace" => regexp_replace(a(0), java.util.regex.Pattern.quote(strArg(args, 1)), strArg(args, 2))
      case "reverse" => reverse(a(0))
      case "split" => split(a(0), java.util.regex.Pattern.quote(strArg(args, 1)))
      case "substr" | "substring" =>
        // reference substr is 0-based start (FunctionManager.cpp substr)
        if (args.size == 3) a(0).substr(a(1) + lit(1), a(2))
        else a(0).substr(a(1) + lit(1), length(a(0)))
      case "concat" => concat(cs: _*)
      case "concat_ws" => args.head match {
        case Lit(sep: String) => concat_ws(sep, cs.tail: _*)
        // non-string / NULL separator is BAD_TYPE → null value
        case _ => lit(null).cast("string")
      }
      case "md5" => md5(a(0).cast("string"))
      case "sha1" => sha1(a(0).cast("string"))
      // casts (openCypher to*): unparsable strings are NULL, not
      // errors (TypeConversion.feature: toBoolean("3.14") → NULL,
      // toInteger("1.5E4") → 15000, toInteger("3.14") → 3)
      // numeric → bool and bool → numeric conversions are STATIC type
      // errors in the reference validator, not runtime NULLs
      // (TypeConversion.feature `Type error 'toBoolean(1)'`)
      case "toboolean" if args.exists {
          case Lit(_: Long) | Lit(_: Double) => true; case _ => false } =>
        throw new IllegalArgumentException(
          s"SemanticError: Type error `toBoolean(${text(args.head)})'")
      case "toboolean" =>
        val s = lower(a(0).cast("string"))
        when(s === "true", lit(true))
          .when(s === "false", lit(false))
          .otherwise(lit(null).cast("boolean"))
      case "tofloat" | "tointeger" if args.exists {
          case Lit(_: Boolean) => true; case _ => false } =>
        throw new IllegalArgumentException(
          s"SemanticError: Type error `${name}(${text(args.head)})'")
      case "tofloat" => a(0).cast("string").try_cast("double")
      case "tointeger" =>
        a(0).cast("string").try_cast("double").cast("long")
      // toSet: list/set → deduped SET value (the marked `__set`
      // struct); a scalar operand is a static type error
      case "toset" => args.head match {
        case Lit(v) if v != null =>
          throw new IllegalArgumentException(
            s"SemanticError: Type error `toSet(${text(args.head)})'")
        case _: SetLit => a(0)
        case _ => struct(array_distinct(a(0)).as("__set"))
      }
      case "tostring" => a(0).cast("string")
      // collections
      case "size" =>
        // Spark's legacy size(NULL) is -1; the reference yields NULL
        when(a(0).isNull, lit(null)).otherwise(size(a(0)))
      case "exists" => a(0).isNotNull
      case "tail" => slice(a(0), lit(2), greatest(size(a(0)) - 1, lit(0)))
      case "head" => element_at(a(0), 1)
      case "last" => element_at(a(0), -1)
      case "range" =>
        if (args.size == 3) sequence(a(0), a(1), a(2)) else sequence(a(0), a(1))
      case "coalesce" => coalesce(cs: _*)
      case "keys" => map_keys(a(0))
      case "udf_is_in" => a(0).isin(args.tail.collect { case Lit(v) => v }: _*)
      // extract(s, regex): list of ALL matches (FunctionManager extract)
      case "extract" => regexp_extract_all(a(0), lit(strArg(args, 1)), lit(0))
      // temporal constructors (Date.h; TimeFunction.cpp). No-arg forms
      // are "now" — nondeterministic, goldens regex-match them.
      case "date" =>
        if (args.isEmpty) current_date() else to_date(a(0))
      case "datetime" =>
        if (args.isEmpty) current_timestamp()
        else a(0).cast("string").cast("timestamp")
      case "time" =>
        val ts = if (args.isEmpty) current_timestamp()
          else concat(lit("1970-01-01 "), a(0).cast("string"))
            .cast("timestamp")
        date_format(ts, "HH:mm:ss.SSSSSS")
      case "timestamp" =>
        if (args.isEmpty) unix_timestamp()
        else args.head match {
          case Lit(_: Long) => a(0)
          case _ => unix_timestamp(a(0).cast("string").cast("timestamp"))
        }
      case "json_extract" =>
        // FunctionManager json_extract: STRING input only — a
        // non-string constant is a validation-time type error
        tryConst(args.head) match {
          case Some(v) if v != null && !v.isInstanceOf[String] =>
            throw new IllegalArgumentException(
              "SemanticError: `JSON_EXTRACT(" + text(args.head) +
                ")' is not a valid expression : Parameter's type error")
          case _ => graft.functions.Fn.jsonExtractMap(a(0))
        }
      // duration({years:..,months:..,days:..,...}) → a typed struct
      // (months, seconds, micros — Duration.h model). Field names are
      // the duration marker: comparison/arith special-cases key on
      // them (MatchSeg resolver; TimeComputation.feature)
      case "duration" => args.head match {
        case MapLit(entries) =>
          val m = entries.map { case (k, v) =>
            k -> (tryConst(v) match {
              case Some(n: Long) => n
              case Some(d: Double) => d.toLong
              case _ => throw new IllegalArgumentException(
                s"unsupported non-constant duration field $k")
            })
          }.toMap
          val bad = m.keySet.diff(Set("years", "months", "days", "hours",
            "minutes", "seconds", "milliseconds", "microseconds"))
          require(bad.isEmpty, s"duration: unknown ${bad.mkString(",")}")
          def g2(k: String) = m.getOrElse(k, 0L)
          struct(
            lit(g2("years") * 12 + g2("months")).as("__dmon"),
            lit(g2("days") * 86400 + g2("hours") * 3600 +
              g2("minutes") * 60 + g2("seconds")).as("__dsec"),
            lit(g2("milliseconds") * 1000 + g2("microseconds")).as("__dmic"))
        case _ =>
          throw new IllegalArgumentException("unsupported duration() form")
      }
      // geography storage is canonical WKT (Dml.GeoVal) — AsText is
      // identity over the stored column
      case "st_astext" => a(0)
      // geography constructors: constant-folded to canonical WKT (the
      // value the storage layer holds); runtime-arg forms are not in
      // the reference surface either (geo args are literals/props)
      case "st_point" =>
        (tryConst(args(0)), tryConst(args(1))) match {
          case (Some(x), Some(y)) =>
            lit(Dml.geogFromText(s"POINT($x $y)").wkt)
          case _ =>
            throw new IllegalArgumentException("SemanticError: ST_Point requires constant coordinates")
        }
      case "st_geogfromtext" => args.head match {
        case Lit(w: String) => lit(Dml.geogFromText(w).wkt)
        case _ =>
          throw new IllegalArgumentException("SemanticError: ST_GeogFromText requires a literal WKT string")
      }
      // spherical predicates (GeoFunction.cpp dispatch, S2 semantics)
      case "st_intersects" => graft.functions.GeoFn.intersects(a(0), a(1))
      case "st_covers" => graft.functions.GeoFn.covers(a(0), a(1))
      case "st_coveredby" => graft.functions.GeoFn.coveredBy(a(0), a(1))
      case "st_distance" => graft.functions.GeoFn.distance(a(0), a(1))
      case "st_dwithin" => graft.functions.GeoFn.dWithin(a(0), a(1), a(2))
      case "s2_cellidfrompoint" =>
        if (args.size >= 2) graft.functions.GeoFn.cellIdFromPoint(a(0), a(1))
        else graft.functions.GeoFn.cellIdFromPoint(a(0))
      case "s2_coveringcellids" =>
        if (args.size <= 1) graft.functions.GeoFn.coveringCellIds(a(0))
        else {
          def arg(i: Int, dflt: Column): Column =
            if (args.size > i) a(i) else dflt
          graft.functions.GeoFn.coveringCellIds(a(0),
            arg(1, lit(0)), arg(2, lit(30)), arg(3, lit(8)),
            arg(4, lit(0.0)))
        }
      // reference hash(): identity on ints, 0/1 on bools, bit-pattern
      // murmur on floats, UTF-8 murmur on strings (FunctionManager
      // .cpp:1689 via std::hash<Value>); int-vid spaces key every
      // vertex on hash(<string>) so goldens need bit-parity
      // uuid(): a RANDOM int64 per evaluation (UUIDExpression.cpp) —
      // inherently nondeterministic in the reference too, so goldens
      // never depend on its value (bugfix/LackFilterGetEdges)
      case "uuid" if args.isEmpty =>
        xxhash64(rand(), monotonically_increasing_id())
      case "hash" => tryConst(args.head) match {
        case Some(v) => lit(graft.functions.NebulaHash.hashValue(v))
        case None => graft.functions.NebulaHash.hashCol(a(0))
      }
      // uuid() returns an int64 per call (FunctionManager.cpp uuid —
      // random per evaluation); hash a per-row random UUID string
      // uuid() was removed from the reference surface (issue #4280:
      // "SemanticError: not supported") — match the reject
      case "uuid" => throw new IllegalArgumentException(
        "uuid() is not supported")
      case other =>
        throw new IllegalArgumentException(s"unsupported function $other")
    }
  }

  // ---------- driver-side fold ----------
  /** The fold has no value: a ref or call its caller does not resolve,
    * an operand type the operator does not take, or (`unsupported`) a
    * node outside its surface. */
  final class NoFold(msg: String, val unsupported: Boolean = false)
      extends RuntimeException(msg, null, false, false)

  /** An int64 overflow: the reference's "result of (a+b) cannot be
    * represented as an integer". */
  final class IntOverflow(what: String, prefix: String = "")
      extends IllegalArgumentException(
        s"${prefix}result of $what cannot be represented as an integer")

  /** The one driver-side evaluator, over the reference's Value
    * operators (Value.cpp): exact int64 `+ - * / %` and negation (an
    * integer zero divisor is NULL, DIV_BY_ZERO, unless both operands
    * are constant), IEEE doubles, string `+` concatenation, the
    * constant Value comparator for comparisons and IN, three-valued
    * AND/OR/NOT, lazy CASE, map attributes and list subscripts
    * (negative from the end).
    * `ref` resolves Ref/Param leaves and `call` makes function calls
    * (lower-cased name, folded args); either throws NoFold where its
    * caller has no value. `tryConst` is the fold with neither;
    * `Dml.eval` resolves a row's props and calls `Dml.fncall`. */
  def fold(e: E, ref: E => Any, call: (String, List[Any]) => Any): Any = {
    def f(x: E): Any = fold(x, ref, call)
    def attempt(x: E) = try Some(f(x)) catch { case _: NoFold => None }
    def stuck(what: String): Nothing = throw new NoFold(what)
    e match {
      case Lit(v) => v
      case ParamLit(_, v) => f(v)
      case Ref(_) | Param(_, _, _) => ref(e)
      case FnCall(name, args, _) => call(name.toLowerCase, args.map(f))
      case ListLit(items) => items.map(f)
      case SetLit(items) => items.map(f).distinct
      case MapLit(entries) => scala.collection.immutable.ListMap(
        entries.map { case (k, v) => k -> f(v) }: _*)
      case Attr(x, nm) => f(x) match {
        case null => null
        case m: collection.Map[String @unchecked, _] => m.getOrElse(nm, null)
        case v => stuck(s"cannot access .$nm on $v")
      }
      case Subscript(x, i) => (f(x), f(i)) match {
        case (null, _) | (_, null) => null
        case (m: collection.Map[String @unchecked, _], k: String) =>
          m.getOrElse(k, null)
        case (xs: Seq[_], n: Long) =>
          val idx = if (n < 0) xs.size + n else n
          if (idx >= 0 && idx < xs.size) xs(idx.toInt) else null
        case (b, k) => stuck(s"cannot subscript $b with $k")
      }
      case Un("neg", x) => f(x) match {
        case null => null
        case n: Long if n == Long.MinValue =>
          throw new IntOverflow(s"-($n)", "SemanticError: ")
        case n: Long => -n
        case d: Double => -d
        case v => stuck(s"cannot negate $v")
      }
      case Un("not" | "notrel", x) => f(x) match {
        case null => null
        case b: Boolean => !b
        case v => stuck(s"cannot NOT $v")
      }
      // the left operand decides first; an operand the fold cannot
      // evaluate still loses to a deciding one (`x OR true` is true)
      case Bin(op @ ("and" | "or"), a, b) =>
        val decides = op == "or"
        val x = attempt(a)
        lazy val y = attempt(b)
        def bool3(v: Option[Any]) = v.exists(w => w == null || w.isInstanceOf[Boolean])
        if (x.contains(decides) || y.contains(decides)) decides
        else if (!bool3(x) || !bool3(y))
          stuck(s"cannot ${x.getOrElse(f(a))} $op ${y.getOrElse(f(b))}")
        else if (x.contains(null) || y.contains(null)) null
        else !decides
      case Bin(op @ ("==" | "!=" | "<" | "<=" | ">" | ">="), a, b) =>
        foldCmp(op, f(a), f(b))
      case Bin("in", a, b) => (f(a), f(b)) match {
        case (_, null) => null
        case (x, xs: Seq[_]) => foldIn(x, xs.toList)
        case (x, other) => stuck(s"cannot test $x IN $other")
      }
      case Bin(op @ ("+" | "-" | "*" | "/" | "%"), a, b) => (f(a), f(b)) match {
        // an integer zero divisor is NULL over props and columns, but a
        // constant one is the reference's constant-folding error
        // (FoldConstantExprVisitor: YIELD 1/0, WHERE … 7 % 0)
        case (_: Long, z: Long) if z == 0 && (op == "/" || op == "%") &&
            tryConst(a).isDefined && tryConst(b).isDefined =>
          throw new IllegalArgumentException("SemanticError: Divide by 0")
        case (x, y) => arith(op, x, y)
      }
      case CaseW(None, branches, els) =>
        def holds(c: E): Boolean = f(c) match {
          case b: Boolean => b
          case null => false
          case v => stuck(s"CASE condition $v is not a boolean")
        }
        branches.collectFirst { case (c, v) if holds(c) => f(v) }
          .getOrElse(els.map(f).orNull)
      case other =>
        throw new NoFold(s"unsupported expression ${text(other)}", unsupported = true)
    }
  }

  private def arith(op: String, x: Any, y: Any): Any = (x, y) match {
    case (null, _) | (_, null) => null
    case (a: Long, b: Long) =>
      if ((op == "/" || op == "%") && b == 0) null
      else try op match {
        case "+" => Math.addExact(a, b)
        case "-" => Math.subtractExact(a, b)
        case "*" => Math.multiplyExact(a, b)
        case "/" => if (b == -1) Math.negateExact(a) else a / b
        case "%" => a % b
      } catch { case _: ArithmeticException => throw new IntOverflow(s"($a$op$b)") }
    case (a: Seq[_], b: Seq[_]) if op == "+" => (a ++ b).toList
    case (_: String, _: Long | _: Double | _: Boolean | _: String) |
         (_: Long | _: Double | _: Boolean, _: String) if op == "+" => s"$x$y"
    case (a: Long, b: Double) => arith(op, a.toDouble, b)
    case (a: Double, b: Long) => arith(op, a, b.toDouble)
    case (a: Double, b: Double) => op match {
      case "+" => a + b; case "-" => a - b; case "*" => a * b
      case "/" => a / b; case "%" => a % b
    }
    case _ => throw new NoFold(s"cannot $op $x $y")
  }

  /** The fold of a constant expression, None where it has no value (a
    * ref, a call, a type mismatch); integer overflow raises
    * IntOverflow. */
  private[nql] def tryConst(e: E): Option[Any] = {
    def none(x: Any): Nothing = throw new NoFold("not constant")
    try Some(fold(e, none, (_, _) => none(()))) catch { case _: NoFold => None }
  }

  /** The literal column of an expression over literals (no ref, call
    * or lambda in it) whose fold is a scalar; a NULL comparison or
    * logical result stays boolean-typed. */
  private def foldedLit(e: E): Option[Column] = {
    var const = true
    collect(e) {
      case Ref(_) | Param(_, _, _) | FnCall(_, _, _) | Quant(_, _, _, _) |
           Compr(_, _, _, _) | ReduceE(_, _, _, _, _) | PatternE(_) |
           Slice(_, _, _) | Star => const = false
    }
    if (!const) None
    else tryConst(e).collect {
      case v @ (_: Long | _: Double | _: String | _: Boolean) => lit(v)
      case null => e match {
        case Bin("and" | "or" | "in" | "==" | "!=" | "<" | "<=" | ">" | ">=", _, _) |
             Un("not" | "notrel", _) => lit(null).cast("boolean")
        case _ => lit(null)
      }
    }
  }

  private def intArg(args: List[E], i: Int): Int = tryConst(args(i)) match {
    case Some(n: Long) => n.toInt
    case _ => throw new IllegalArgumentException(s"expected int arg, got ${text(args(i))}")
  }

  private def strArg(args: List[E], i: Int): String = args(i) match {
    case Lit(s: String) => s
    case other => throw new IllegalArgumentException(s"expected string arg, got ${text(other)}")
  }
}

/** Temporal ± duration arithmetic shared by the static compile path
  * (literal `date(...) + duration(...)`) and MatchSeg's schema-aware
  * resolver (WITH-aliased operands). Duration model is the reference's
  * Duration.h: calendar months apply first, then seconds+micros;
  * date arithmetic truncates the sub-day part to whole days
  * (TimeComputation.feature goldens). */
private[nql] object DurationOps {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** kind: "date" | "datetime" | "time" (HH:mm:ss.SSSSSS string) |
    * anything else → NULL (the reference's BAD_TYPE). `sign` is +1
    * for addition, -1 for subtraction. */
  def arith(kind: String, tempC: Column, durC: Column, sign: Int): Column = {
    val mon = (durC.getField("__dmon") * sign).cast("int")
    val secs = durC.getField("__dsec") * sign
    val mics = durC.getField("__dmic") * sign
    kind match {
      case "date" =>
        date_add(add_months(tempC, mon), (secs / 86400L).cast("int"))
      case "datetime" =>
        tempC + make_interval(
          lit(0), mon, lit(0), lit(0), lit(0), lit(0),
          secs.cast("decimal(18,6)") + mics.cast("decimal(18,6)") / 1000000L)
      case "time" =>
        // time-of-day wraps modulo 24h; months are ignored (no date)
        val dayUs = lit(86400000000L)
        val baseUs =
          (substring(tempC, 1, 2).cast("long") * 3600L +
            substring(tempC, 4, 2).cast("long") * 60L +
            substring(tempC, 7, 2).cast("long")) * 1000000L +
            coalesce(rpad(substring(tempC, 10, 6), 6, "0").cast("long"),
              lit(0L))
        val tot0 = (baseUs + secs * 1000000L + mics) % dayUs
        val tot = (tot0 + dayUs) % dayUs
        when(tempC.rlike("^\\d{2}:\\d{2}:\\d{2}"),
          format_string("%02d:%02d:%02d.%06d",
            (tot / 3600000000L).cast("long"),
            (tot % 3600000000L / 60000000L).cast("long"),
            (tot % 60000000L / 1000000L).cast("long"),
            tot % 1000000L))
          .otherwise(lit(null))
      case _ => lit(null)
    }
  }
}
