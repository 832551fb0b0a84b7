package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udf

/** UDF surface (SURVEY.md §2.8): the reference loads `.so` plugins
  * implementing GraphFunction (src/common/function/GraphFunction.h:20-38,
  * FunctionUdfManager.cpp:91-101) — name/arity/types/body. The Spark
  * equivalent is `udf()` registration for scalars and a typed
  * `Aggregator` for aggregate UDFs; `register` puts them in the SQL
  * function catalog exactly like the reference's FunctionManager
  * registry.
  *
  * The reference ships one example UDF (udf/standard_deviation.cpp);
  * we register the same one as the canonical Aggregator demo. nGQL
  * function names map onto builtin/codegen functions in
  * `graft.nql.Expr.fnCol` — UDFs are the escape hatch, not the
  * default (they break whole-stage codegen).
  */
object Udfs {

  /** Scalar UDF example mirroring GraphFunction's shape. */
  val titleCase: String => String = s =>
    if (s == null) null
    else s.split(" ").map(w =>
      if (w.isEmpty) w else w.head.toUpper + w.tail.toLowerCase).mkString(" ")

  /** Aggregate UDF: population standard deviation — the reference's
    * shipped example UDF (udf/standard_deviation.cpp), as a typed
    * Aggregator (partial-aggregation friendly: (n, Σx, Σx²) buffer
    * merges associatively, so map-side combine works at scale). */
  object StdDevPop extends Aggregator[Double, (Long, Double, Double), Double] {
    def zero: (Long, Double, Double) = (0L, 0.0, 0.0)
    def reduce(b: (Long, Double, Double), x: Double): (Long, Double, Double) =
      (b._1 + 1, b._2 + x, b._3 + x * x)
    def merge(a: (Long, Double, Double), b: (Long, Double, Double)): (Long, Double, Double) =
      (a._1 + b._1, a._2 + b._2, a._3 + b._3)
    def finish(b: (Long, Double, Double)): Double =
      if (b._1 == 0) Double.NaN
      else math.sqrt(math.max(0.0, b._3 / b._1 - math.pow(b._2 / b._1, 2)))
    def bufferEncoder: Encoder[(Long, Double, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Register the UDF surface into the session's function catalog. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("title_case", udf(titleCase))
    spark.udf.register("stddev_pop_udf",
      org.apache.spark.sql.functions.udaf(StdDevPop))
  }
}
