package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.graph.ScenarioCatalog
import graft.nql.{Dml, Expr, Gql}

/** Differential net for the driver-side fold: generated constant
  * expressions evaluate to the same value, or both raise, on the DML
  * path (`Dml.eval`) and on the YIELD path (`Gql.runScript`, which
  * compiles through `Expr.compile`). A second, integer-only pass pipes
  * the leaves in as `$-` columns so that Spark, not the fold, evaluates
  * the operators on the YIELD side. */
class ExprFoldSpec extends SparkSpec {
  import ExprFoldSpec._

  private def dmlSide(text: String, env: Map[String, Any]): Either[String, Any] =
    try Right(Dml.eval(Expr.parseText(text), env.get))
    catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  private lazy val cat = new ScenarioCatalog(spark, false)

  private def yieldSide(script: String): Either[String, Any] =
    try Right(Gql.runScript(cat, script)
      .collect().head.get(0))
    catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  private def agree(d: Either[String, Any], y: Either[String, Any]): Boolean =
    (d, y) match {
      case (Left(_), Left(_)) => true
      case (Right(a), Right(b)) => same(a, b)
      case _ => false
    }

  /** Run `n` fixed-seed samples; every disagreement is reported with
    * its expression text and seed. At least a third of the samples
    * must have a value, so that agreeing by both raising stays the
    * exception. */
  private def check(name: String, n: Int, seed0: Long, gen: Gen[Case]): Unit = {
    val runs = (0 until n).map { i =>
      val seed = seed0 + i
      val c = gen.pureApply(Gen.Parameters.default, Seed(seed))
      (seed, c, dmlSide(c.text, c.env), yieldSide(c.script))
    }
    val bad = runs.collect { case (seed, c, d, y) if !agree(d, y) =>
      s"seed $seed: ${c.script}\n    DML   -> ${show(d)}\n    YIELD -> ${show(y)}"
    }
    assert(bad.isEmpty, s"$name: ${bad.size} of $n disagree\n${bad.take(10).mkString("\n")}")
    val valued = runs.count(_._3.isRight)
    assert(valued * 3 >= n, s"$name: only $valued of $n samples have a value")
  }

  test("fold differential: DML and YIELD agree on generated constant expressions") {
    // the cases that disagreed before the fold was shared, constant
    // zero divisors and list concatenation
    probes.foreach { t =>
      val d = dmlSide(t, Map.empty)
      val y = yieldSide(s"YIELD $t AS r")
      assert(agree(d, y), s"probe $t\n    DML   -> ${show(d)}\n    YIELD -> ${show(y)}")
    }
    check("constant", 300, 20261019L, scalar(3).map(t => Case(t, Map.empty)))
  }

  test("fold differential: integer operators evaluated by Spark over piped leaves") {
    // a zero divisor over piped leaves is NULL on both paths, not an
    // error on both
    for (op <- Seq("/", "%")) {
      val c = Case(s"$$-.c0 $op $$-.c1", Map("c0" -> 7L, "c1" -> 0L),
        Some(s"YIELD 7 AS c0, 0 AS c1 | YIELD $$-.c0 $op $$-.c1 AS r"))
      val (d, y) = (dmlSide(c.text, c.env), yieldSide(c.script))
      assert(d == Right(null) && agree(d, y),
        s"probe ${c.script}\n    DML   -> ${show(d)}\n    YIELD -> ${show(y)}")
    }
    check("piped", 60, 20261119L, piped)
  }
}

object ExprFoldSpec {
  /** One generated expression: `text` as DML evaluates it with `env`
    * as the row's props, `script` as the YIELD path runs it. */
  final case class Case(text: String, env: Map[String, Any],
                        script0: Option[String] = None) {
    def script: String = script0.getOrElse(s"YIELD $text AS r")
  }

  val probes: Seq[String] = Seq(
    "9223372036854775807 + 1 == -9223372036854775808",
    "9223372036854775807 * 2 IN [-2]",
    "(9223372036854775807 + 0) + 1",
    "\"a\" < 1", "[1] < [2]", "1 == 1.000000001",
    "1 / 0", "7 % 0", "[1, 2] + [3]")

  def show(v: Either[String, Any]): String = v match {
    case Left(err) => s"raises ${err.take(160)}"
    case Right(x) => s"${x} (${Option(x).map(_.getClass.getSimpleName).orNull})"
  }

  /** Same value and same kind: an integer is not a double. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Long, y: Long) => x == y
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: String, y: String) => x == y
    case (x: Boolean, y: Boolean) => x == y
    case (x: collection.Seq[_], y: collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => false
  }

  private def bin(a: String, op: String, b: String) = s"($a $op $b)"

  val intLeaf: Gen[String] = Gen.oneOf(
    Gen.oneOf("0", "1", "-1", "2", "7", "-3", "9223372036854775807",
      "-9223372036854775808", "9007199254740993", "9007199254740992",
      "4611686018427387904"),
    Gen.choose(-20L, 20L).map(_.toString))
  val dblLeaf: Gen[String] =
    Gen.oneOf("1.5", "-2.5", "0.0", "1.000000001", "3.0", "0.1")
  val strLeaf: Gen[String] = Gen.oneOf("\"a\"", "\"b\"", "\"\"", "\"ab\"")
  val boolLeaf: Gen[String] = Gen.oneOf("true", "false")
  val nullLeaf: Gen[String] = Gen.const("null")

  private val arithOps = Gen.oneOf("+", "-", "*", "/", "%")
  private val cmpOps = Gen.oneOf("==", "!=", "<", "<=", ">", ">=")

  def ints(d: Int): Gen[String] =
    if (d <= 0) intLeaf
    else Gen.frequency(
      3 -> intLeaf,
      4 -> Gen.zip(ints(d - 1), arithOps, ints(d - 1)).map((bin _).tupled),
      1 -> ints(d - 1).map(x => s"-($x)"),
      1 -> Gen.zip(bools(d - 1), ints(d - 1), ints(d - 1))
        .map { case (c, t, e) => s"CASE WHEN $c THEN $t ELSE $e END" },
      1 -> Gen.zip(Gen.listOfN(3, intLeaf), Gen.choose(-4, 3))
        .map { case (xs, i) => xs.mkString("[", ", ", s"][$i]") },
      1 -> Gen.zip(ints(d - 1), intLeaf)
        .map { case (a, b) => s"{k: $a, j: $b}.k" })

  def nums(d: Int): Gen[String] =
    if (d <= 0) Gen.oneOf(intLeaf, dblLeaf)
    else Gen.frequency(
      2 -> Gen.oneOf(intLeaf, dblLeaf),
      3 -> Gen.zip(nums(d - 1), arithOps, nums(d - 1)).map((bin _).tupled),
      1 -> nums(d - 1).map(x => s"-($x)"))

  def strs(d: Int): Gen[String] =
    if (d <= 0) strLeaf
    else Gen.frequency(
      2 -> strLeaf,
      2 -> Gen.zip(strs(d - 1), Gen.oneOf(strs(d - 1), ints(d - 1), boolLeaf))
        .map { case (a, b) => bin(a, "+", b) },
      1 -> Gen.zip(strs(d - 1), strs(d - 1))
        .map { case (a, b) => s"""{a: $a}["a"] + $b""" })

  def lists(d: Int): Gen[String] = {
    val item = Gen.oneOf(intLeaf, dblLeaf, strLeaf, boolLeaf, nullLeaf)
    val lit = Gen.choose(0, 3).flatMap(Gen.listOfN(_, item))
      .map(_.mkString("[", ", ", "]"))
    if (d <= 0) lit
    else Gen.frequency(3 -> lit,
      1 -> Gen.zip(lit, lit).map { case (a, b) => bin(a, "+", b) })
  }

  /** Any scalar, including ill-typed operator applications. */
  def anyScalar(d: Int): Gen[String] =
    Gen.oneOf(ints(d), nums(d), strs(d), bools(d), nullLeaf)

  def bools(d: Int): Gen[String] =
    if (d <= 0) Gen.oneOf(boolLeaf, nullLeaf)
    else Gen.frequency(
      2 -> Gen.oneOf(boolLeaf, nullLeaf),
      3 -> Gen.zip(anyScalar(d - 1), cmpOps, anyScalar(d - 1)).map((bin _).tupled),
      1 -> Gen.zip(lists(d - 1), cmpOps, lists(d - 1)).map((bin _).tupled),
      2 -> Gen.zip(anyScalar(d - 1), lists(d - 1))
        .map { case (a, b) => bin(a, "IN", b) },
      2 -> Gen.zip(bools(d - 1), Gen.oneOf("AND", "OR"), bools(d - 1))
        .map((bin _).tupled),
      1 -> bools(d - 1).map(x => s"NOT ($x)"))

  def scalar(d: Int): Gen[String] =
    Gen.frequency(3 -> ints(d), 2 -> nums(d), 1 -> strs(d), 3 -> bools(d),
      1 -> Gen.zip(bools(d - 1), anyScalar(d - 1))
        .map { case (c, t) => s"CASE WHEN $c THEN $t END" },
      1 -> Gen.zip(anyScalar(d - 1), Gen.choose(-1, 1))
        .map { case (x, i) => s"[$x, 1][$i]" })

  /** An integer expression over piped leaves `$-.c0 …`: the DML side
    * reads them as the row's props, the YIELD side as the columns of
    * the statement before the pipe. */
  val piped: Gen[Case] = {
    def expr(d: Int, n: Int): Gen[String] = {
      val leaf = Gen.choose(0, n - 1).map(i => s"$$-.c$i")
      if (d <= 0) leaf
      else Gen.frequency(
        2 -> leaf,
        4 -> Gen.zip(expr(d - 1, n), arithOps, expr(d - 1, n)).map((bin _).tupled),
        1 -> expr(d - 1, n).map(x => s"-($x)"),
        1 -> Gen.zip(expr(d - 1, n), cmpOps, expr(d - 1, n), expr(d - 1, n),
          expr(d - 1, n)).map { case (a, op, b, t, e) =>
            s"CASE WHEN ${bin(a, op, b)} THEN $t ELSE $e END" })
    }
    for {
      n <- Gen.choose(1, 3)
      leaves <- Gen.listOfN(n, intLeaf)
      e <- expr(3, n)
    } yield {
      val env = leaves.zipWithIndex.map { case (v, i) => s"c$i" -> v.toLong }.toMap
      val head = leaves.zipWithIndex.map { case (v, i) => s"$v AS c$i" }.mkString(", ")
      Case(e, env, Some(s"YIELD $head | YIELD $e AS r"))
    }
  }
}
