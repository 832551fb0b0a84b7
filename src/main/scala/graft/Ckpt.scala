package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.concurrent.Await
import scala.concurrent.duration._

/** Lineage-truncation policy for every iterative loop (traversals,
  * BFS/shortest paths, the whole-graph algorithms, LSH dedup stages).
  *
  * Default (no config): `localCheckpoint()` — eager, executor-local
  * shuffle blocks. Fast, but the blocks are LOST if an executor dies,
  * and a freed block cannot be recomputed (lineage was truncated). In
  * single-JVM local mode that is exactly as durable as the session
  * itself, so it is the right default for the bench/verify harness.
  *
  * Cluster posture: set `spark.graft.checkpointDir` to a directory on
  * reliable shared storage (HDFS/S3/NFS) and every materialization
  * becomes a reliable `checkpoint()` — the RDD is written to that
  * storage and survives executor loss; Spark recomputes any lost cached
  * partition from the checkpoint files. This is the Spark equivalent of
  * the reference's Raft-replicated storage layer
  * (src/kvstore/Part.h — a storaged restart does not lose state).
  *
  * Loops that gate on a checkpoint's size take it from `counted`: the
  * count is an observed metric of the job that writes the checkpoint,
  * so it costs no second action (a `count()` on a checkpoint starts 2
  * more jobs).
  *
  * Every loop frees what it materialized through `free`, the other
  * half of the lifecycle. Freeing stays SAFE in reliable mode even for
  * non-superseded frames: unpersist only drops the block-manager cache
  * over the checkpoint files, which remain readable. In local mode the
  * caller contract (only free superseded frames) still holds.
  */
object Ckpt {
  /** Set to a reliable-storage path to swap every loop's
    * localCheckpoint for a durable checkpoint. */
  val DirKey = "spark.graft.checkpointDir"

  private def confDir(s: SparkSession): Option[String] =
    s.conf.getOption(DirKey).filter(_.trim.nonEmpty)

  /** True when materializations are durable (executor-loss-safe). */
  def reliable(s: SparkSession): Boolean = confDir(s).isDefined

  /** Optional storage level for LOCAL checkpoints, e.g.
    * `spark.graft.checkpointLevel=MEMORY_AND_DISK_SER` — the memory
    * dial for runs whose per-node data share is large relative to
    * heap (serialized blocks are 3-5× smaller than deserialized rows
    * at the cost of per-access deserialization). Unset = Spark's
    * default (MEMORY_AND_DISK deserialized). Measured reason: node2vec
    * at sf10 OOMs local[16]/24 g deserialized and completes serialized
    * (SCALE.md). */
  val LevelKey = "spark.graft.checkpointLevel"

  /** Plan-audit hook: SPARK_GRAFT_EXPLAIN_MAT=1 prints every frame's
    * formatted plan right before it is materialized. Iterative loops
    * checkpoint each round, so a query's final `explain` shows only
    * LogicalRDD leaves — this knob is how the per-round plans (the
    * ones that matter for loop optimizations) are captured. Off by
    * default; no effect on the computed result. */
  private val explainMat: Boolean =
    sys.env.get("SPARK_GRAFT_EXPLAIN_MAT").contains("1")

  /** Eagerly materialize `df` with truncated lineage, honoring the
    * configured durability mode. The checkpoint's carried-over origin
    * STATISTICS are stripped (same RDD, partitioning, ordering kept):
    * in iterative loops those estimates compound geometrically round
    * over round until Catalyst's size estimator spends unbounded CPU
    * on million-digit BigIntegers — see InternalBridge.stripOriginStats. */
  def mat(df: DataFrame): DataFrame = {
    if (explainMat) {
      println(s"---------- mat() plan ----------")
      df.explain("formatted")
    }
    val ck = confDir(df.sparkSession) match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
        df.checkpoint() // eager; writes to the reliable dir
      case None =>
        df.sparkSession.conf.getOption(LevelKey).filter(_.nonEmpty) match {
          case Some(lvl) => df.localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.fromString(lvl))
          case None => df.localCheckpoint()
        }
    }
    org.apache.spark.sql.graft.InternalBridge.stripOriginStats(ck)
  }

  /** mat() that also returns `rows` (default: the row count), an
    * aggregate observed on the materializing job itself
    * (`Dataset.observe`) in every durability mode — no extra job. The
    * materialized plan gains one CollectMetrics node. `rows` must
    * evaluate to a non-null Long (`count`, `count_if`). */
  def counted(df: DataFrame, rows: Column = count(lit(1))): (DataFrame, Long) =
    observed(df, rows)(mat)

  /** `run(df)` with the Long aggregate `metric` observed on the jobs
    * `run` starts over the frame (a materialization, a write), returned
    * beside `run`'s result: no extra job. */
  def observed[T](df: DataFrame, metric: Column)(run: DataFrame => T): (T, Long) = {
    val obs = Observation()
    val out = run(df.observe(obs, metric.as("rows")))
    (out, Await.result(obs.future, ObservedWait).getAs[Long]("rows"))
  }

  /** How long `observed` waits, after the job returned, for the metric
    * the listener bus delivers (normally well under a millisecond): a
    * bus that dropped the event fails the query here instead of
    * blocking its loop forever. */
  private val ObservedWait = 60.seconds

  /** mat() unless the frame is ALREADY a bare materialized scan (its
    * analyzed plan is a single LogicalRDD leaf) — re-checkpointing
    * such a frame would copy every row into a second block set for no
    * benefit. Multi-phase drivers (louvainMultiLevel) use this where a
    * phase may receive either a lazy view or the previous phase's
    * checkpoint. */
  def matIdempotent(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ => mat(df)
    }

  /** Free the block-manager storage behind the checkpointed frames in
    * `df`'s lineage. Session cache hygiene (round-4 VERDICT #2): every
    * iterative loop materializes per-step state whose blocks otherwise
    * live until JVM GC notices the RDD is dead — a long session (94
    * bench queries, or a week-long cluster job) fills the block manager
    * and later iterative queries thrash. Only call on frames whose rows
    * are SUPERSEDED (copied into a newer checkpoint or no longer part
    * of any result lineage): a freed LOCAL checkpoint cannot be
    * recomputed. */
  def free(df: DataFrame): Unit =
    try {
      df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    } catch { case _: Throwable => () }

  /** Chainable form: `frame.select(...).mat()` replaces
    * `.localCheckpoint()` at every loop site. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def mat(): DataFrame = Ckpt.mat(df)
  }
}
