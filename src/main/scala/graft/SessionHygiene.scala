package graft

import org.apache.spark.sql.SparkSession

/** Between-query session cleanup for long-lived drivers (Bench,
  * Verify, a notebook session). Iterative operators checkpoint
  * per-step state with `Ckpt.mat` and free what they can prove
  * superseded with `Ckpt.free`, but the RESULT of a query keeps its
  * final checkpointed blocks alive until the JVM GC notices the
  * DataFrame is unreachable — tens of queries deep, a bounded block
  * manager fills up and later iterative queries thrash (round-4
  * VERDICT: q_nql_path 129 s in-session vs ~10 s isolated).
  *
  * Once a query's result has been fully consumed (counted / written),
  * NOTHING persisted needs to survive to the next query, so the sweep
  * is total: unpersist every persisted RDD and clear the plan cache.
  * Cached frames that are re-used later recompute from source —
  * correct, just cold. */
object SessionHygiene {
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try { r.unpersist(blocking = false); () } catch { case _: Throwable => () }
    }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
  }
}
