package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a graft SparkSession is built, for the mains
  * (Bench, Verify, the tools) and the test suites alike, so their
  * postures cannot drift apart: UTC session time, no UI, WARN logging,
  * a 2000-entry codegen class cache, AQE and skew joins at Spark's
  * defaults (both on).
  *
  * A `local-cluster[...]` master runs separate executor JVMs, which
  * changes two things:
  *  - local checkpoints live in executor memory and die with the
  *    executors, so every loop materialization becomes a reliable
  *    checkpoint (graft.Ckpt) under a temporary
  *    `spark.graft.checkpointDir`. `cleanCheckpoints` lets the
  *    ContextCleaner delete the files of freed checkpoints during the
  *    run, and a shutdown hook removes the root at exit;
  *  - the standalone worker ships only SPARK_HOME jars, so executors
  *    get this JVM's classpath (the sbt classes) as extra classpath.
  *    Run such masters with `SPARK_SCALA_VERSION=2.13` so Spark's
  *    launcher resolves the executor classpath.
  *
  * Two environment switches are read here and nowhere else:
  *  - `SPARK_GRAFT_STORE=off` keeps graph queries on the flat parquet
  *    views instead of the bucketed GraphStore (A/B runs);
  *  - `SPARK_GRAFT_ONLY=q_a,q_b` narrows a run to those queries. */
object Harness {

  def session(master: String, shufflePartitions: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a static conf, so only the builder can set it: at Spark's 100
      // entries one cycle of the perfbench `interactive` request mix
      // (about 300 generated classes) recompiled every class of every
      // request; at 2000 the warm cycle compiled almost nothing
      .config("spark.sql.codegen.cache.maxEntries", 2000)
    if (master.startsWith("local-cluster")) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          def rm(f: java.io.File): Unit = {
            val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
            f.delete(); ()
          }
          rm(ckpt.toFile)
        } catch { case _: Throwable => () }))
      builder.config("spark.graft.checkpointDir", ckpt.toString)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Attach the managed GraphStore unless `SPARK_GRAFT_STORE=off`;
    * true when attached. */
  def attachStore(spark: SparkSession): Boolean = {
    val on = !sys.env.get("SPARK_GRAFT_STORE").contains("off")
    if (on) sources.GraphStore.enableManaged(spark)
    on
  }

  /** SparkEntry.queries by name, narrowed by `SPARK_GRAFT_ONLY`. */
  def queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
  }
}
