package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Mutations.KeyedTable

/** Streaming graph mutation ingest — the online-write path the
  * reference serves through graphd INSERT/DELETE statements
  * (src/graph/executor/mutate/InsertExecutor.cpp,
  * DeleteExecutor.cpp), re-expressed Spark-natively as Structured
  * Streaming over a mutation log:
  *
  *   landing dir of parquet files, each row
  *     (op: 'insert' | 'delete', <key cols>, <prop cols>)
  *   → readStream → foreachBatch → KeyedTable staged merge
  *
  * after which the ingested table serves the SAME query surface as any
  * other edge/vertex frame (GO, MATCH, algorithms).
  *
  * Exactly-once EFFECTIVE state without a transactional sink:
  *  - the stream checkpoint assigns each landing file to exactly one
  *    microbatch;
  *  - a replayed batch (crash between the table commit and the
  *    checkpoint advance) re-applies the SAME mutations, and the merge
  *    is idempotent (upsert overwrites by key, delete removes by key),
  *    so replay converges to the identical table;
  *  - within a batch, inserts apply before deletes — a key both
  *    inserted and deleted in one batch ends deleted, matching the
  *    reference's statement order in a batched mutation script;
  *  - KeyedTable's write is a CHECKED staged rename (never a torn
  *    table), so a reader sees either the pre- or post-batch state.
  *
  * Scale: each microbatch costs one staged merge = one anti join +
  * union over the table (a micro-batch is a DataFrame, not a key set
  * the driver holds, so its keys are joined, broadcast when small; see
  * the `Mutations` scale notes), i.e. a scan of the current table,
  * never of the mutation history. For high-churn workloads the same foreachBatch
  * body pointed at a log-structured base+delta table (periodic
  * compaction) bounds the per-batch cost further; the merge semantics
  * stay identical.
  */
object GraphIngest {

  /** Start draining `landingDir` into `table`. `op` must be a string
    * column with values 'insert' | 'delete'; delete rows need only
    * their key columns populated. The first landing files must contain
    * inserts (a delete against a not-yet-created table is a no-op by
    * construction of KeyedTable.exists).
    *
    * `maxFilesPerTrigger` > 0 caps each microbatch for bounded-memory
    * ingest of a large backlog; the file source feeds batches oldest-
    * first, preserving mutation order across batches. */
  def ingest(spark: SparkSession, landingDir: String, schemaFrom: String,
             table: KeyedTable, checkpointDir: String,
             maxFilesPerTrigger: Int = 0): StreamingQuery = {
    val schema = spark.read.parquet(schemaFrom).schema
    var reader = spark.readStream.schema(schema)
    if (maxFilesPerTrigger > 0)
      reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    reader.parquet(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, table)
      }
      .start()
  }

  /** LogTable variant for high-churn streams: each microbatch APPENDS
    * one immutable segment — O(batch) per batch instead of KeyedTable's
    * O(table) staged rewrite — and every `compactEvery` batches the log
    * folds into one segment to bound read amplification (the LSM
    * cadence). Replay safety holds differently but equally: re-appending
    * a batch creates a duplicate segment with identical rows, and
    * last-writer-wins resolves it to the same state. */
  def ingestLog(spark: SparkSession, landingDir: String, schemaFrom: String,
                table: graft.operators.LogTable, checkpointDir: String,
                maxFilesPerTrigger: Int = 0,
                compactEvery: Int = 8): StreamingQuery = {
    val schema = spark.read.parquet(schemaFrom).schema
    var reader = spark.readStream.schema(schema)
    if (maxFilesPerTrigger > 0)
      reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    reader.parquet(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        table.append(batch)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          table.compact()
      }
      .start()
  }

  /** One microbatch merge: inserts (minus the op column) upserted,
    * then deletes applied by key. Exposed for direct batch use and for
    * the spec's replay-idempotence check. */
  def applyBatch(batch: DataFrame, table: KeyedTable): Unit = {
    val ins = batch.filter(col("op") === "insert").drop("op")
    val dels = batch.filter(col("op") === "delete")
      .select(table.keys.map(col): _*)
    // cheap row-existence probes on the (already planned) filters so
    // an all-delete batch doesn't rewrite the table with a no-op union
    if (!ins.isEmpty) table.insert(ins)
    if (table.exists && !dels.isEmpty) table.delete(dels)
  }
}
