package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Neighbor-message delivery for the iterative algorithms: `send`
  * delivers each state row's payload along every edge u→v of the
  * oriented view (u matched on state("vid")), producing (vid = v,
  * payload...) rows. The two implementations are the two storage
  * postures:
  *
  *  - [[FrameAdjacency]] — an arbitrary oriented edge frame,
  *    repartitioned on src and persisted ONCE so each round's message
  *    join reuses the cached layout (the posture for DERIVED graphs —
  *    projections like co-purchase that exist only for the run; one
  *    up-front shuffle of the derived edge set + a block-manager copy).
  *  - [[StoredAdjacency]] — GraphStore bucketed tables. Each side's
  *    message join reads the on-disk hash(src) layout directly: the
  *    edge set is NEVER shuffled and NEVER copied into executor
  *    memory; only the (small) per-round state exchanges. This is the
  *    reference's economics — its NebulaKeyUtils partitioning is
  *    written once at load and serves every traversal
  *    (src/storage/query/GetNeighborsProcessor.cpp:32) — and the
  *    difference between the two postures at 100 TB is shuffling and
  *    caching a 100 TB edge table per algorithm run versus not.
  *
  * `keep` names extra edge columns retained alongside (src, dst) —
  * payload expressions may reference them (e.g. an edge weight for
  * SSSP, the multiplicity weight for Louvain). Callers must avoid
  * state/edge column-name collisions in payloads.
  *
  * Message MULTISETS are identical across implementations, so
  * algorithms whose update rules are order-independent (min-label WCC,
  * argmin/argmax picks, exact-dyadic sums) produce bit-identical
  * results on either.
  *
  * A loop whose active set is small reads neighbors instead of
  * joining: [[neighbors]] collects the out-edges of a key set the
  * driver holds, one `src IN (keys)` filter on the UNCACHED edge side
  * in one Spark job (GetNeighborsProcessor.cpp:32's key-prefixed scan).
  * On the store the filter prunes bucket files and, the files being
  * sorted by src, parquet row groups; a loop that never leaves the
  * driver never builds the cached side either (persist is lazy). */
sealed trait Adjacency {
  /** Deliver `payload` columns (evaluated against the joined
    * state-row × edge-row) to every out-neighbor of state("vid").
    * Result: (vid = edge dst, payload...). */
  def send(state: DataFrame, payload: Seq[Column]): DataFrame
  /** Aggregate the oriented edge rows grouped by src: (vid, aggs...).
    * Aggregation expressions may reference `keep` columns. */
  def bySrc(aggs: Seq[Column]): DataFrame
  /** Out-degree per source vertex over the oriented view: (vid, od). */
  def outDegrees: DataFrame = bySrc(Seq(count(lit(1)).as("od")))
  /** Release any resources pinned for the loop (cache blocks). */
  def release(): Unit
  /** The oriented (src, dst, keep...) edges as written, never the
    * cached copy: the source of [[neighbors]]. */
  protected def uncached: DataFrame
  /** Type of the oriented view's vertex ids. */
  private[graft] def vidType: org.apache.spark.sql.types.DataType =
    uncached.schema("src").dataType
  /** The (src, dst, cols...) edge rows whose src is one of `keys`, in
    * one Spark job; None when more than `limit` rows match. `cols` may
    * reference `keep` columns. */
  private[graft] def neighbors(keys: Iterable[Any], cols: Seq[Column],
                limit: Int): Option[Array[Row]] =
    Adjacency.neighbors(uncached, keys, cols, limit)
}

object Adjacency {
  /** Conf key: StoredAdjacency side caching. "true"/"false" force the
    * posture; "auto" (the default) caches only while the ESTIMATED
    * DESERIALIZED copy ([[CacheExpansionFactor]] × compressed source
    * parquet) fits [[CacheBudgetFraction]] of the fleet's aggregate
    * storage memory — the 100-TB dial the scaladoc above names.
    * Measured both ways at sf30 (7.4 GB source, SCALE.md round-13):
    * the MEMORY_AND_DISK copy expands to ~34 GiB, overflows a 64 GiB
    * JVM's storage pool onto local disk, and the spill traffic makes
    * WCC 1.17× SLOWER than re-reading the bucketed files (1011.7 vs
    * 861.8 s) and kills HANP outright with executor-disk exhaustion —
    * while at sf10 (fits in memory) the cached posture wins. A flat
    * source-byte cutoff cannot see either side of that line; the
    * memory-derived budget scales with the fleet, so a 1000-executor
    * cluster keeps caching exactly as long as it has the RAM for it. */
  val ConfCache = "spark.graft.adjacency.cache"
  /** Deserialized bytes per compressed source-parquet byte. Measured:
    * sf30's 7.4 GB dataset became a ~34 GiB block-manager copy
    * (≈ 4.6×); 5 is the conservative planning figure. */
  val CacheExpansionFactor = 5L
  /** Fraction of aggregate max storage memory the auto mode may plan
    * to occupy — the rest stays free for execution-side borrowing and
    * the iteration state the algorithm loops themselves persist. */
  val CacheBudgetFraction = 0.6

  /** Resolve the side-caching posture for a dataset (see [[ConfCache]]). */
  def cacheSides(spark: org.apache.spark.sql.SparkSession,
                 sfDir: String): Boolean =
    spark.conf.get(ConfCache, "auto") match {
      case "true"  => true
      case "false" => false
      case _ =>
        val expanded =
          graft.Tune.datasetBytes(sfDir) * CacheExpansionFactor
        // max storage memory summed over registered block managers
        // (driver + executors); scales the decision with the fleet
        val storage = spark.sparkContext.getExecutorMemoryStatus
          .values.map(_._1).sum
        expanded <= storage * CacheBudgetFraction
    }

  /** The bound of the driver-held loops (`PathFinder`'s untyped
    * forward walk, `GraphAlgos.sssp`): while a loop's frontier (or
    * reached set) and the neighbor rows it has read each stay at or
    * under this many rows, the loop runs on the driver with one
    * [[neighbors]] read per hop; above it the loop restarts from its
    * seeds on the distributed join loop. The value is the measured
    * crossover of the path walk (sf0.1 store, 4 cores, min of 3 warm
    * runs, driver loop against bound 0 on the same input): FIND
    * SHORTEST PATH UPTO 4 STEPS from the first n customers to two
    * regions, whose largest frontier or read grows with n, took
    * 0.50 s against 1.69 s at n = 3 (peak 357 rows), 1.14 s against
    * 2.38 s at n = 30 (3,182), 1.82 s against 1.74 s at n = 100
    * (10,433), 2.17 s against 1.70 s at n = 150 (15,084) and 3.55 s
    * against 1.89 s at n = 300 (28,853). SSSP crosses later: from
    * `c:1` over both edge directions, 0.27 s against 0.63 s at 729
    * rows, 1.03 s against 0.94 s at 54,997 and 22.6 s against 1.53 s
    * at 537,128, so one bound at the lower crossover serves both.
    * `q_algo_sssp` (peak 138) took 0.44 s against 0.87 s. */
  val DriverRows = 10000

  /** The key-filtered neighbor read: `edges` rows whose src is one of
    * `keys`, projected to (src, dst, cols...). No join and no
    * exchange (PlanSpec pins the plan). The filter is built as one
    * InSet over the keys, which must have src's type. `isin` makes one
    * literal expression per key for Catalyst to analyze and fold into
    * the same InSet: with it the path walk measured under
    * [[DriverRows]] took 3.09 s at n = 100 and 5.60 s at n = 300, not
    * 1.82 s and 3.55 s. Planning the read still grows with the keys
    * (sf0.1 store: 0.34 s at 1,000 keys, 1.2 s at 5,000, against
    * 0.15 s and 0.28 s to run it), which is what bounds the loops. */
  private[graft] def neighborRead(edges: DataFrame, keys: Iterable[Any],
                                  cols: Seq[Column]): DataFrame =
    edges.filter(ColumnBridge.column(InSet(ColumnBridge.expression(col("src")),
        keys.iterator.map(CatalystTypeConverters.convertToCatalyst).toSet)))
      .select(col("src") +: col("dst") +: cols: _*)

  /** [[neighborRead]] collected: None when more than `limit` rows
    * match. */
  private[graft] def neighbors(edges: DataFrame, keys: Iterable[Any],
                               cols: Seq[Column],
                               limit: Int): Option[Array[Row]] =
    if (keys.isEmpty) Some(Array.empty)
    else collectUpTo(neighborRead(edges, keys, cols), limit)

  /** `df`'s rows when there are at most `limit` of them, else None, in
    * at most one Spark job. A frame the driver already holds (a local
    * relation) is read without one. Any other runs one job in which
    * each task returns at most `limit + 1` rows, and the driver keeps a
    * running count of the rows returned: once it passes `limit` the
    * rows are dropped and the job is cancelled, so the rows that reach
    * the driver are bounded by the tasks running at that moment, not
    * by the number of partitions. */
  private[graft] def collectUpTo(df: DataFrame,
                                 limit: Int): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect()).filter(_.length <= limit)
      case _ =>
        val n = limit + 1
        val rdd = df.rdd
        // partition index -> its rows, in partition order at the end
        val kept = scala.collection.mutable.TreeMap.empty[Int, Array[Row]]
        var count = 0
        // guarded by `kept`: task results arrive on the scheduler's thread
        var over = false
        var job: org.apache.spark.FutureAction[Unit] = null
        val submitted = df.sparkSession.sparkContext.submitJob(rdd,
          (it: Iterator[Row]) => it.take(n).toArray,
          0 until rdd.getNumPartitions,
          (i: Int, rows: Array[Row]) => kept.synchronized {
            if (!over) {
              kept(i) = rows
              count += rows.length
              if (count > limit) {
                over = true
                kept.clear()
                if (job != null) job.cancel()
              }
            }
          }, ())
        kept.synchronized {
          job = submitted
          if (over) submitted.cancel()
        }
        scala.concurrent.Await.ready(submitted,
          scala.concurrent.duration.Duration.Inf)
        kept.synchronized {
          if (over) None
          else { submitted.value.get.get; Some(kept.values.flatten.toArray) }
        }
    }

  /** `keep` names that would collide with the frame's own (src, dst)
    * columns or the state's join key (vid) surface as
    * AnalysisExceptions far from the misuse site (a duplicated column
    * in bySrc's pre-aggregation projection, an ambiguous send()
    * payload) — reject them eagerly at construction instead. */
  private[algo] def checkKeep(keep: Seq[String]): Unit = {
    val bad = keep.filter(Seq("src", "dst", "vid").contains)
    require(bad.isEmpty,
      s"Adjacency keep columns may not shadow src/dst/vid: ${bad.mkString(", ")}")
  }
}

/** One oriented (src, dst) frame: repartition+persist once, one join
  * per send. `oriented` must already encode direction semantics (e.g.
  * union both directions for an undirected algorithm). */
final class FrameAdjacency(oriented: DataFrame,
                           keep: Seq[String] = Nil) extends Adjacency {
  Adjacency.checkKeep(keep)
  // persisted SORTED by src: every send() is a sort-merge join on
  // src, and a cached frame keeps its outputOrdering, so the per-round
  // edge-side Sort elides — the sort is paid once at cache build
  // instead of once per iteration (guide §2.4: establish the layout
  // one operation needs once and reuse it).
  protected val uncached: DataFrame =
    oriented.select(("src" +: "dst" +: keep).map(col): _*)
  private val e = uncached
    .repartition(col("src"))
    .sortWithinPartitions("src")
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  def send(state: DataFrame, payload: Seq[Column]): DataFrame =
    e.join(state, e("src") === state("vid"))
      .select((e("dst").as("vid") +: payload): _*)

  def bySrc(aggs: Seq[Column]): DataFrame =
    e.groupBy(col("src").as("vid")).agg(aggs.head, aggs.tail: _*)

  def release(): Unit =
    try { e.unpersist(blocking = false); () } catch { case _: Throwable => () }
}

/** Bucketed store sides, each hash-partitioned by its own src column
  * on disk (GraphStore `_out`, `_in` reversed for the undirected view,
  * or `_und` directly). send() joins per side and unions the messages,
  * so every edge-side scan is exchange-free — unlike FrameAdjacency
  * there is NO up-front repartition shuffle of the edge set.
  *
  * `cacheSides` (default true) additionally persists each side:
  * caching an already-bucketed scan keeps its HashPartitioning (the
  * joins stay exchange-free) while sparing the per-round parquet
  * re-decode — strictly cheaper than FrameAdjacency, whose persist is
  * preceded by a full shuffle. At true 100-TB scale pass false: a
  * MEMORY_AND_DISK copy of the whole edge set duplicates it onto
  * executor disks, and re-reading the bucketed files (OS page cache
  * behind them) is the sane posture. */
final class StoredAdjacency(sides: Seq[DataFrame],
                            keep: Seq[String] = Nil,
                            cacheSides: Boolean = true) extends Adjacency {
  require(sides.nonEmpty, "StoredAdjacency needs at least one side")
  Adjacency.checkKeep(keep)
  private val plain = sides.map(_.select(("src" +: "dst" +: keep).map(col): _*))
  protected val uncached: DataFrame = plain.reduce(_ unionByName _)
  private val narrow = plain.map { n =>
    if (cacheSides)
      // cached SORTED within the bucketed layout: a multi-file bucket
      // loses its written sortBy order on read, so each round's
      // sort-merge join would re-sort the whole edge side — sorting
      // once INTO the cache (no shuffle; the hash(src) partitioning is
      // untouched) elides that per-round Sort. The uncached 100-TB
      // posture keeps the plain scan: a sort there would run per scan
      // anyway, exactly what the join's own Sort already does.
      n.sortWithinPartitions("src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else n
  }

  def send(state: DataFrame, payload: Seq[Column]): DataFrame =
    narrow.map { e =>
      e.join(state, e("src") === state("vid"))
        .select((e("dst").as("vid") +: payload): _*)
    }.reduce(_ unionByName _)

  def bySrc(aggs: Seq[Column]): DataFrame =
    // keep dst in the pre-aggregation rows so aggregates over it
    // resolve exactly as on the FrameAdjacency path
    narrow.map(_.select((col("src").as("vid") +: col("dst") +:
        keep.map(col)): _*))
      .reduce(_ unionByName _)
      .groupBy("vid").agg(aggs.head, aggs.tail: _*)

  def release(): Unit = if (cacheSides) narrow.foreach { e =>
    try { e.unpersist(blocking = false); () } catch { case _: Throwable => () }
  }
}
