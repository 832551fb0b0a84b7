package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Fn.roundPortable
import graft.nql.Expr

/** SparkEntry registrations exercising the expression AST + scalar
  * function surface (SURVEY.md §2.8; reference Expression.h:22-110 and
  * FunctionManager.cpp registry). One query per expression family.
  * Each column nGQL can express is nGQL text compiled by `Expr.compile`
  * (function names through `Expr.fnCol`), the mapping every nGQL and
  * openCypher statement runs, so the DuckDB oracles check that
  * mapping. Columns nGQL has no function for call the Spark builtin:
  * lpad/rpad, nullif, date_trunc, make_date, datediff, array_join and
  * get_json_object. nGQL integers are int64; a column the oracle
  * declares INTEGER is cast back. */
object ExprQueries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) =
    Tables.load(s, dir, name)

  /** nGQL expression `text` over the frame's columns. */
  private def ngql(text: String): Column =
    Expr.compile(Expr.parseText(text), Expr.noResolver)
  private def ngql(text: String, alias: String): Column = ngql(text).as(alias)

  val queries: Map[String, Q] = Map(
    // CASE both forms (CaseExpression.h)
    "q_expr_case" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        ngql("""CASE WHEN o_totalprice > 300000 THEN "big"
               |WHEN o_totalprice > 150000 THEN "mid" ELSE "small" END""".stripMargin,
          "bucket"))),

    // string functions (lower/upper/substr/left/right/lpad/replace/...)
    "q_expr_string" -> ((s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") <= 300).select(
        col("p_partkey"),
        ngql("lower(p_brand)", "lo"),
        ngql("upper(p_type)", "up"),
        ngql("length(p_name)", "len"),
        ngql("substr(p_name, 2, 5)", "sub"),
        ngql("left(p_name, 4)", "lft"),
        ngql("right(p_name, 3)", "rgt"),
        lpad(col("p_brand"), 12, "#").as("lp"),
        rpad(col("p_brand"), 12, "#").as("rp"),
        ngql("""replace(p_type, " ", "_")""", "repl"),
        ngql("reverse(p_brand)", "rev"),
        ngql("""concat_ws("|", p_brand, p_type)""", "cw"),
        ngql("md5(p_name)", "h"))),

    // math functions
    "q_expr_math" -> ((s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") <= 300).select(
        col("p_partkey"),
        ngql("abs(p_size - 25)").cast("int").as("ab"),
        ngql("floor(p_retailprice)", "fl"),
        ngql("ceil(p_retailprice)", "ce"),
        ngql("round(p_size / 7.0, 3)", "rd"),
        roundPortable(ngql("sqrt(p_retailprice)"), 6).as("sq"),
        roundPortable(ngql("pow(p_size, 2.0)"), 1).as("pw"),
        roundPortable(ngql("log(p_retailprice)"), 6).as("ln"),
        roundPortable(ngql("log2(p_size)"), 6).as("l2"),
        roundPortable(ngql("log10(p_retailprice)"), 6).as("l10"),
        ngql("sign(p_size - 25)", "sg"),
        ngql("bit_and(p_size, 12)").cast("int").as("ba"),
        ngql("bit_or(p_size, 5)").cast("int").as("bo"),
        ngql("bit_xor(p_size, 9)").cast("int").as("bx"))),

    // temporal functions (date/time/extract family)
    "q_expr_temporal" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") <= 500).select(
        col("o_orderkey"),
        ngql("datetime(o_orderdate).year", "y"),
        ngql("datetime(o_orderdate).month", "m"),
        ngql("datetime(o_orderdate).day", "d"),
        ngql("datetime(o_orderdate).hour", "h"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mon"),
        ngql("date(o_orderdate)", "dt"))),

    // relational predicates: IN/CONTAINS/STARTS/ENDS/=~ (Expression.h)
    "q_expr_predicates" -> ((s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") <= 300).select(
        col("p_partkey"),
        ngql("""p_brand IN ["Brand#11", "Brand#22", "Brand#33"]""", "inb"),
        ngql("""p_type CONTAINS "BRASS"""", "ct"),
        ngql("""p_type STARTS WITH "STANDARD"""", "sw"),
        ngql("""p_type ENDS WITH "TIN"""", "ew"),
        ngql("""p_type =~ "(ECONOMY|PROMO).*ED"""", "re"))),

    // list exprs: subscript/slice/predicates/comprehension/reduce
    // (Expression.h kSubscript/kPredicate/ListComprehension/Reduce)
    "q_expr_list" -> ((s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey"), ngql("""split(p_name, " ")""", "toks"))
        .select(
          col("p_partkey"),
          ngql("size(toks)", "n"),
          ngql("head(toks)", "hd"),
          ngql("last(toks)", "lst"),
          array_join(ngql("toks[1..3]"), " ").as("mid"),
          ngql("all(x IN toks WHERE length(x) > 2)", "all3"),
          ngql("""any(x IN toks WHERE x STARTS WITH "a")""", "anya"),
          ngql("size([x IN toks WHERE length(x) > 4 | upper(x)])", "ncomp"),
          ngql("reduce(acc = 0, x IN toks | acc + length(x))").cast("int").as("totlen"))),

    // null handling: isNull/coalesce/nullif (kIsNull/kIsEmpty family)
    "q_expr_null" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"), col("o_orderstatus"),
          nullif(col("o_orderstatus"), lit("O")).as("st0"))
        .select(
          col("o_orderkey"),
          ngql("""coalesce(st0, "open")""", "st"),
          ngql("st0 IS NULL", "iso"),
          ngql("o_orderstatus IS NOT NULL", "nn"))),

    // JSON path extraction over the events props column (nGQL's
    // json_extract renders the whole object, so the field read is
    // Spark's get_json_object)
    "q_expr_json" -> ((s, dir) =>
      t(s, dir, "events").filter(col("event_id") <= 500).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // temporal constructors + arithmetic (date/datetime/duration family)
    "q_expr_temporal2" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") <= 500).select(
        col("o_orderkey"),
        make_date(lit(2020), month(col("o_orderdate")),
          dayofmonth(col("o_orderdate"))).as("md"),
        ngql("date(o_orderdate) + duration({days: 30})", "plus30"),
        datediff(to_date(col("o_orderdate")),
          make_date(lit(1995), lit(1), lit(1))).as("dd"),
        ngql("timestamp(o_orderdate)", "epoch_s"))),

    // geo point subset of st_* (S2-backed in the reference): WKT text
    // from column coordinates, and the S2 distance and DWithin that
    // ST_Distance / ST_DWithin run
    "q_expr_geo" -> ((s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey"),
          ngql("toFloat((c_custkey % 300) - 150)", "lon"),
          ngql("(c_custkey % 120) / 2.0 - 30", "lat"))
        .select(col("c_custkey"), ngql(
          """"POINT(" + toString(lon) + " " + toString(lat) + ")"""", "wkt"))
        .select(
          col("c_custkey"), col("wkt"),
          roundPortable(ngql("ST_Distance(wkt, ST_Point(2.35, 48.85))"), 3)
            .as("dist_m"),
          ngql("ST_DWithin(wkt, ST_Point(2.35, 48.85), 5000000.0)", "near"))),

    // window functions over events (a free upgrade vs the reference,
    // SURVEY §2.2 — no OVER clause exists there)
    "q_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).as("rn"),
        lag(col("value"), 1).over(w).as("lagv"),
        lead(col("value"), 1).over(w).as("leadv"),
        first(col("value")).over(w).as("firstv"))
    }),

    // ROLLUP subtotals (free upgrade; no CUBE/ROLLUP in the reference
    // grammar per SURVEY §2.2)
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))),

    // typecasts (kTypeCasting): toInteger parses through double and
    // truncates toward zero
    "q_expr_cast" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") <= 500).select(
        col("o_orderkey"),
        ngql("toInteger(substr(o_orderpriority, 0, 1))", "pri"),
        ngql("toInteger(o_totalprice)", "ip"),
        ngql("toString(o_orderkey)", "sk"),
        ngql("toFloat(o_orderkey)", "fk"))))

  val oracleSql: Map[String, String] = Map(
    "q_expr_case" ->
      """SELECT o_orderkey, CASE WHEN o_totalprice > 300000 THEN 'big'
        |WHEN o_totalprice > 150000 THEN 'mid' ELSE 'small' END AS bucket FROM orders""".stripMargin,
    "q_expr_string" ->
      """SELECT p_partkey, lower(p_brand) AS lo, upper(p_type) AS up,
        |  CAST(length(p_name) AS INTEGER) AS len,
        |  substr(p_name, 3, 5) AS sub, substr(p_name, 1, 4) AS lft,
        |  substr(p_name, length(p_name) - 2, 3) AS rgt,
        |  lpad(p_brand, 12, '#') AS lp, rpad(p_brand, 12, '#') AS rp,
        |  replace(p_type, ' ', '_') AS repl, reverse(p_brand) AS rev,
        |  concat_ws('|', p_brand, p_type) AS cw, md5(p_name) AS h
        |FROM part WHERE p_partkey <= 300""".stripMargin,
    "q_expr_math" ->
      """SELECT p_partkey, abs(p_size - 25) AS ab,
        |  CAST(floor(p_retailprice) AS BIGINT) AS fl, CAST(ceil(p_retailprice) AS BIGINT) AS ce,
        |  round(p_size / 7.0, 3) AS rd, floor(sqrt(p_retailprice) * 1000000.0 + 0.5) / 1000000.0 AS sq,
        |  floor(pow(p_size, 2.0) * 10.0 + 0.5) / 10.0 AS pw, floor(ln(p_retailprice) * 1000000.0 + 0.5) / 1000000.0 AS ln,
        |  floor(log2(p_size) * 1000000.0 + 0.5) / 1000000.0 AS l2, floor(log10(p_retailprice) * 1000000.0 + 0.5) / 1000000.0 AS l10,
        |  CAST(sign(p_size - 25) AS DOUBLE) AS sg,
        |  p_size & 12 AS ba, p_size | 5 AS bo, xor(p_size, 9) AS bx
        |FROM part WHERE p_partkey <= 300""".stripMargin,
    "q_expr_temporal" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(hour(o_orderdate) AS INTEGER) AS h,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |  CAST(o_orderdate AS DATE) AS dt
        |FROM orders WHERE o_orderkey <= 500""".stripMargin,
    "q_expr_predicates" ->
      """SELECT p_partkey, p_brand IN ('Brand#11','Brand#22','Brand#33') AS inb,
        |  contains(p_type, 'BRASS') AS ct, starts_with(p_type, 'STANDARD') AS sw,
        |  ends_with(p_type, 'TIN') AS ew,
        |  regexp_matches(p_type, '^(ECONOMY|PROMO).*ED$') AS re
        |FROM part WHERE p_partkey <= 300""".stripMargin,
    "q_expr_list" ->
      """WITH tk AS (SELECT p_partkey, string_split(p_name, ' ') AS toks
        |            FROM part WHERE p_partkey <= 300)
        |SELECT p_partkey, CAST(len(toks) AS INTEGER) AS n,
        |  toks[1] AS hd, toks[-1] AS lst,
        |  array_to_string(toks[2:3], ' ') AS mid,
        |  len(list_filter(toks, x -> length(x) > 2)) = len(toks) AS all3,
        |  len(list_filter(toks, x -> starts_with(x, 'a'))) > 0 AS anya,
        |  CAST(len(list_filter(toks, x -> length(x) > 4)) AS INTEGER) AS ncomp,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS INTEGER) AS totlen
        |FROM tk""".stripMargin,
    "q_expr_null" ->
      """SELECT o_orderkey, coalesce(nullif(o_orderstatus, 'O'), 'open') AS st,
        |  nullif(o_orderstatus, 'O') IS NULL AS iso,
        |  o_orderstatus IS NOT NULL AS nn
        |FROM orders WHERE o_orderkey <= 500""".stripMargin,
    "q_expr_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id <= 500""".stripMargin,
    "q_expr_temporal2" ->
      """SELECT o_orderkey,
        |  make_date(2020, CAST(month(o_orderdate) AS BIGINT), CAST(day(o_orderdate) AS BIGINT)) AS md,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS dd,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders WHERE o_orderkey <= 500""".stripMargin,
    "q_expr_geo" ->
      """WITH pts AS (SELECT c_custkey,
        |    CAST((c_custkey % 300) - 150 AS DOUBLE) AS lon,
        |    (c_custkey % 120) / 2.0 - 30 AS lat
        |  FROM customer WHERE c_custkey <= 300),
        |d AS (SELECT c_custkey, lon, lat,
        |    2.0 * 6371010.0 * asin(sqrt(
        |      pow(sin((radians(48.85) - radians(lat)) / 2), 2) +
        |      cos(radians(lat)) * cos(radians(48.85)) *
        |      pow(sin((radians(2.35) - radians(lon)) / 2), 2))) AS dist
        |  FROM pts)
        |SELECT c_custkey,
        |  'POINT(' || CAST(lon AS VARCHAR) || ' ' || CAST(lat AS VARCHAR) || ')' AS wkt,
        |  floor(dist * 1000.0 + 0.5) / 1000.0 AS dist_m,
        |  dist <= 5000000.0 AS near
        |FROM d""".stripMargin,
    "q_window_funcs" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  lag(value, 1) OVER w AS lagv,
        |  lead(value, 1) OVER w AS leadv,
        |  first_value(value) OVER w AS firstv
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_expr_cast" ->
      """SELECT o_orderkey, CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri,
        |  CAST(trunc(o_totalprice) AS BIGINT) AS ip,
        |  CAST(o_orderkey AS VARCHAR) AS sk, CAST(o_orderkey AS DOUBLE) AS fk
        |FROM orders WHERE o_orderkey <= 500""".stripMargin
  )
}
