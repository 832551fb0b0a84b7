package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM via Test/fork).
  * Suites run CONCURRENTLY (Test/testForkedParallel): 8 cores serve
  * the parallel suites' jobs while shuffle.partitions stays at 2 —
  * the fixtures are tiny, so per-query task count matters more than
  * per-query parallelism. */
object SparkSpec {
  lazy val spark: SparkSession = Harness.session("local[8]", 2)
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  override def afterAll(): Unit = () // session shared across suites

  /** Cancel, naming the first absent fixture file, instead of running a
    * test whose input is not on disk. */
  protected def assumeFiles(paths: String*): Unit =
    paths.find(p => !new java.io.File(p).exists())
      .foreach(p => cancel(s"$p not found: test needs this fixture"))
}
