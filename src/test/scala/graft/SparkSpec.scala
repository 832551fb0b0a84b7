package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM via Test/fork).
  * Suites run CONCURRENTLY (Test/testForkedParallel): 8 cores serve
  * the parallel suites' jobs while shuffle.partitions stays at 2 —
  * the fixtures are tiny, so per-query task count matters more than
  * per-query parallelism. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Harness.session("local[8]", 2)
    // initialize the session's lazy state (conf, analyzer,
    // emptyDataFrame) on one thread: suites start concurrently, and
    // first touches from several threads can deadlock inside Spark —
    // emptyDataFrame holds the session's lock while its analysis waits
    // for SessionState's, whose analyzer init waits for the session's
    s.emptyDataFrame.queryExecution.analyzed
    s
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  override def afterAll(): Unit = () // session shared across suites

  /** The jobs `body` starts from this thread, each named by its call
    * site (e.g. `count at Traverse.scala:210`): the one of the SQL
    * execution that started it, else its first stage's (AQE submits
    * an execution's stage jobs from a pool thread, so a stage name
    * says nothing there). Suites share the session concurrently, so
    * only jobs carrying a test-unique job tag count. The tag is the
    * SparkContext's thread-local one: a session tag (`spark.addTag`)
    * rides SQL executions only and would miss the plain RDD job a
    * parquet footer read starts. A tagged sentinel job after `body` is
    * the barrier: the listener bus delivers in order, so once the
    * sentinel's start arrives every earlier event has. */
  protected def jobNamesOf[T](body: => T): (T, Seq[String]) = {
    val tag = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$tag-sentinel"
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // (SQL execution id or null, first stage name) per tagged job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId.toString, x.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty)
        if (tags(sentinel)) sentinelSeen.countDown()
        else if (tags(tag))
          jobs.add((props.map(_.getProperty("spark.sql.execution.id")).orNull,
            e.stageInfos.sortBy(_.stageId).headOption.fold("")(_.name)))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      sc.addJobTag(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(sentinel)
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job start never reached the listener")
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq.map { case (exec, stage) =>
        Option(exec).flatMap(x => Option(executions.get(x))).getOrElse(stage)
      })
    } finally sc.removeSparkListener(listener)
  }

  /** Cancel, naming the first absent fixture file, instead of running a
    * test whose input is not on disk. */
  protected def assumeFiles(paths: String*): Unit =
    paths.find(p => !new java.io.File(p).exists())
      .foreach(p => cancel(s"$p not found: test needs this fixture"))
}
