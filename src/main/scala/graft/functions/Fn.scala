package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The two column helpers that are not an nGQL name mapping. nGQL
  * function names map to Spark in one place, `graft.nql.Expr.fnCol`
  * (reference FunctionManager.cpp:58); the q_expr_* oracle queries
  * compile through it. */
object Fn {

  /** Engine-portable rounding: floor(x·10^d + 0.5)/10^d is pure IEEE
    * arithmetic, so any engine computes the bit-identical double —
    * unlike round(), whose half-way tie-breaking differs between
    * engines (Spark BigDecimal HALF_UP vs C-style multiply). Used by
    * every oracle-checked query that emits a rounded double. */
  def roundPortable(c: Column, d: Int): Column = {
    val p = lit(math.pow(10, d))
    floor(c * p + lit(0.5)).cast("double") / p
  }

  /** The reference's 1-arg JSON_EXTRACT renders a flat Map with one
    * nested level; deeper objects render `{}` and lists are omitted
    * (FunctionManager.cpp json_extract; json_extract.feature). A
    * non-object top level is BAD_DATA. Jackson tree walk in a UDF —
    * the output is a dynamically-typed Map, which Spark can't type. */
  private lazy val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper
  private def renderJsonNode(n: com.fasterxml.jackson.databind.JsonNode,
                             depth: Int): Option[String] = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    n match {
      case o if o.isObject =>
        if (depth >= 2) None
        else Some(o.properties().asScala.toSeq.flatMap { e =>
          renderJsonNode(e.getValue, depth + 1).map(v => s"${e.getKey}: $v")
        }.mkString("{", ", ", "}"))
      case a if a.isArray => None
      case s if s.isTextual => Some("\"" + s.asText + "\"")
      case b if b.isBoolean => Some(b.asBoolean.toString)
      case i if i.isIntegralNumber => Some(i.asLong.toString)
      case d if d.isNumber => Some(d.asDouble.toString)
      case x if x.isNull => Some("NULL")
      case _ => None
    }
  }
  private val jsonExtractMapUdf = udf((s: String) =>
    Option(s).flatMap { str =>
      // unparsable / non-object input is BAD_DATA in the reference —
      // carried as an ErrVal sentinel (json_extract.feature)
      try {
        val root = jsonMapper.readTree(str)
        if (root == null || !root.isObject) Some(ErrVal.BadData)
        else renderJsonNode(root, 0)
      } catch { case _: Exception => Some(ErrVal.BadData) }
    })
  def jsonExtractMap(c: Column): Column = jsonExtractMapUdf(c)
}
