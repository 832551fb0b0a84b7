package graft.operators

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Mutation sinks (SURVEY.md §2.1 sinks; reference
  * executor/mutate/InsertExecutor.cpp:15, UpdateExecutor.cpp:40,
  * DeleteExecutor.cpp:17): INSERT / INSERT-IF-NOT-EXISTS / UPSERT /
  * UPDATE / DELETE over key-addressed tables.
  *
  * Storage model: parquet table directories keyed by a column set
  * (vid for tags; src,dst,rank for edges) — the plain-Spark stand-in
  * for a Delta/Iceberg table (whose MERGE INTO subsumes all of this;
  * the semantics below are what MERGE would compile to). Writes
  * rewrite via a staging dir so a failed job never truncates the
  * table (parquet has no transaction log — documented trade-off vs
  * the reference's Raft-replicated KV).
  *
  * Scale notes: every mutation is one staged rewrite of the table.
  *  - A key set the driver already holds (a frame whose optimized plan
  *    is a local relation: the rows of a literal INSERT, UPDATE or
  *    DELETE) becomes one key predicate over the table scan: `vid IN
  *    (...)`, or one struct IN over `(src, dst, rank)`, which the
  *    optimizer turns into a set lookup. The rewrite is then the only
  *    Spark job: no count of the delta, no broadcast.
  *  - Any other key set (a piped `$-` set, a stream micro-batch) stays
  *    a DataFrame and is joined on the key: broadcast when it is small
  *    (the count in `gatedKeys`), a shuffle join above the cap.
  *  - A rewrite writes max(1, ceil(plan size / spark.sql.files
  *    .maxPartitionBytes)) files (one for a table under 128 MB at the
  *    default) and no `_SUCCESS` marker: nothing reads it, and the
  *    staged rename is the commit.
  * On a real deployment this is Delta MERGE's copy-on-write plan, and
  * should be swapped for it.
  */
object Mutations {

  /** A literal-key UPDATE named `key`, which the table does not hold. */
  final case class KeyNotFound(key: Seq[Any])
      extends RuntimeException(s"key ${key.mkString(", ")} not found")

  /** A key-addressed mutable table backed by a parquet dir. All
    * staging-commit filesystem work goes through the Hadoop
    * FileSystem API with CHECKED renames — the same code path works
    * on local fs, HDFS, and any store with a Hadoop connector
    * (java.io.File.renameTo silently no-ops off the local fs, which
    * would invert the never-truncate guarantee). */
  final case class KeyedTable(spark: SparkSession, path: String, keys: Seq[String],
                              schema: Option[StructType] = None) {
    import org.apache.hadoop.fs.Path

    private def fs(p: Path) =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** The table's rows, read with the declared `schema`; without one
      * every read infers it (a one-task parquet footer job). */
    def read: DataFrame =
      schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    def exists: Boolean = { val p = new Path(path); fs(p).exists(p) }

    private def renameChecked(from: Path, to: Path): Unit =
      require(fs(from).rename(from, to), s"rename $from -> $to failed")

    private def deleteIfExists(p: Path): Unit = {
      val f = fs(p)
      if (f.exists(p)) require(f.delete(p, true), s"delete $p failed")
    }

    /** Files per rewrite: one per `spark.sql.files.maxPartitionBytes`
      * of the plan's estimated size, at least one. */
    private def fileCount(df: DataFrame): Int = {
      val max = JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      ((size + max - 1) / max).max(1).min(Int.MaxValue).toInt
    }

    /** Stage `df` as the table's next version, then swap it in. With
      * `check`, its metric is observed on the write job itself and its
      * test runs before the swap: a test that raises drops the stage
      * and leaves the table as it was. */
    private def write(df: DataFrame,
                      check: Option[(Column, Long => Unit)] = None): Unit = {
      val stage = new Path(path + ".stage")
      def save(d: DataFrame): Unit =
        d.coalesce(fileCount(df)).write.mode(SaveMode.Overwrite)
          .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
          .parquet(stage.toString)
      check match {
        case None => save(df)
        case Some((metric, test)) =>
          val (_, n) = graft.Ckpt.observed(df, metric)(save)
          try test(n) catch { case e: Throwable => deleteIfExists(stage); throw e }
      }
      val target = new Path(path)
      if (fs(target).exists(target)) {
        val old = new Path(path + ".old")
        deleteIfExists(old)
        renameChecked(target, old)
        renameChecked(stage, target)
        deleteIfExists(old)
      } else renameChecked(stage, target)
    }

    /** The distinct `cols` tuples of `df` when the driver already holds
      * them: `df`'s optimized plan is a local relation (rows built on the
      * driver, `createDataFrame`, `toDF`). Reading them starts no job. */
    private def localRows(df: DataFrame, cols: Seq[String]): Option[Seq[Row]] =
      df.queryExecution.optimizedPlan match {
        case _: LocalRelation =>
          Some(df.select(cols.map(col): _*).collect().toSeq.distinct)
        case _ => None
      }

    /** `cols` is one of the tuples `rows`: a plain IN for one column,
      * one struct IN for several, so a long list stays one set lookup. */
    private def isIn(cols: Seq[String], rows: Seq[Row]): Column = cols match {
      case Seq(c) => col(c).isin(rows.map(_.get(0)): _*)
      case _ => struct(cols.map(col): _*).isin(rows.map(r =>
        struct(cols.indices.map(i => lit(r.get(i)).as(cols(i))): _*)): _*)
    }

    /** A NULL-safe negation: a row whose test is NULL is kept, as an
      * anti join keeps a row whose key matches nothing. */
    private def notTrue(c: Column): Column = !coalesce(c, lit(false))

    /** Delta-size gate: broadcast the delta's key set only when it is
      * small (the common case); a bulk mutation above the cap plans a
      * shuffle join instead of OOMing the driver — same rule as
      * Traverse's hop joins. The count runs against the (usually tiny)
      * delta, not the table. */
    private def gatedKeys(df: DataFrame): DataFrame = {
      val ks = df.select(keys.map(col): _*)
      graft.traverse.Traverse.maybeBroadcast(ks, ks.count())
    }

    /** The table's rows whose key is not among `keyRows`' keys: a key
      * predicate when the driver holds them, else an anti join. */
    private def without(keyRows: DataFrame): DataFrame =
      localRows(keyRows, keys) match {
        case Some(ks) => read.filter(notTrue(isIn(keys, ks)))
        case None => read.join(gatedKeys(keyRows), keys, "left_anti")
      }

    /** `assignments` applied, in order, to the rows where `cond` holds. */
    private def assign(df: DataFrame, cond: Column,
                       assignments: Seq[(String, Column)]): DataFrame =
      assignments.foldLeft(df) { case (d, (c, v)) =>
        d.withColumn(c, when(cond, v).otherwise(col(c)))
      }

    /** The merged frame an INSERT writes (exposed for plan tests). */
    private[graft] def insertPlan(rows: DataFrame): DataFrame =
      without(rows).unionByName(rows)

    /** INSERT (reference default: overwrite existing keys —
      * InsertExecutor "insert or overwrite" semantics, i.e. Delta
      * MERGE's WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT). `rows`
      * must hold one row per key, as must the rows of insertIfNotExists
      * and the seed of upsertWith: a repeated key is written twice. */
    def insert(rows: DataFrame): Unit =
      if (!exists) write(rows)
      else write(insertPlan(rows))

    /** INSERT ... IF NOT EXISTS: keep existing rows on key conflict. */
    def insertIfNotExists(rows: DataFrame): Unit =
      if (!exists) write(rows)
      else {
        val existing = read
        // the TABLE side is never broadcast — only the delta's keys
        // would be small, and this join needs the reverse direction,
        // so it shuffles (or AQE localizes it) on its own
        val fresh = rows.join(existing.select(keys.map(col): _*),
          keys, "left_anti")
        write(existing.unionByName(fresh))
      }

    /** nGQL `UPSERT ... SET` semantics in ONE staged write: keys
      * missing from the table are seeded from `seed` (schema defaults
      * / NULLs), then the SET `assignments` apply wherever `keyCond`
      * and the statement's WHEN (`whenC`) hold — so an upserted-in row
      * sees its defaults on the right-hand side (`SET age = age + 1`
      * over a fresh row reads the default), exactly the reference's
      * UpdateExecutor insertable path. `seed` is the driver-held key
      * set. The merge is the write job alone: the table's rows and every
      * seed row are ranked per key, table rows first, and a seed row
      * whose key a table row holds drops. The union is coalesced to
      * the rewrite's file count: at one (a table under
      * `spark.sql.files.maxPartitionBytes`) the single partition
      * satisfies the rank's clustering and no Exchange is planned; a
      * larger table is shuffled on its keys for the rank. */
    private def upsertWith(seed: DataFrame, keyCond: Column,
                           whenC: Option[Column],
                           assignments: Seq[(String, Column)]): Unit = {
      val cur = if (exists) read else seed.limit(0)
      val both = cur.withColumn(Seeded, lit(false))
        .unionByName(seed.withColumn(Seeded, lit(true)))
        .coalesce(fileCount(cur))
      val rank = row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(Seeded)))
      val merged = both.withColumn("__rank", rank)
        .filter(!col(Seeded) || col("__rank") === 1).drop("__rank")
      write(assign(merged, keyCond && (col(Seeded) || whenC.getOrElse(lit(true))),
        assignments).drop(Seeded))
    }

    private val Seeded = "__seeded"

    /** `cur` ∪ `fresh` (the rows an UPSERT seeds for missing keys) and
      * the condition the SET applies under: WHEN on `cur`'s rows, and
      * always on a seeded row — the reference inserts a missing key
      * whatever WHEN says (UpdateExecutor insertable path). With a
      * WHEN, the union carries a `__seeded` marker the caller drops
      * (a no-op drop otherwise); without one it is the bare union under
      * `lit(true)`, the plan of a WHEN-less statement. */
    private def seededWhen(cur: DataFrame, fresh: DataFrame,
                           whenC: Option[Column]): (DataFrame, Column) =
      whenC match {
        case None => (cur.unionByName(fresh), lit(true))
        case Some(w) =>
          (cur.withColumn(Seeded, lit(false))
            .unionByName(fresh.withColumn(Seeded, lit(true))), col(Seeded) || w)
      }

    /** UPDATE/UPSERT by key set: rows whose key appears in `seed`
      * receive the assignments where the statement's WHEN (`whenC`)
      * holds; with `insertMissing` the keys absent from the table are
      * first seeded from `seed`'s rows (schema defaults, one row per
      * key) so the SET right-hand side reads them, and a seeded row
      * takes the SET whatever WHEN says — nGQL UPSERT.
      *
      * A `seed` the driver holds (literal keys) is a key predicate.
      * Without `insertMissing`, every one of its keys must be in the
      * table: the matched keys are counted on the write job, and a
      * shortfall raises `KeyNotFound` (the first missing key in `seed`
      * order) before the swap, so no key applies. Any other `seed` (a
      * piped `$-` set) is a marker join, never a collect, and its keys
      * missing from the table are skipped. */
    def updateByKeys(seed: DataFrame, insertMissing: Boolean,
                     whenC: Option[Column],
                     assignments: (String, Column)*): Unit =
      localRows(seed, keys) match {
        case Some(ks) if insertMissing =>
          upsertWith(seed, isIn(keys, ks), whenC, assignments)
        case Some(ks) if !exists =>
          ks.headOption.foreach(k => throw KeyNotFound(k.toSeq))
        case Some(ks) =>
          val hit = isIn(keys, ks)
          // on a shortfall: the first key the live table lacks
          def missing = {
            val found = read.filter(hit).select(keys.map(col): _*).collect().toSet
            KeyNotFound(ks.find(!found(_)).getOrElse(ks.head).toSeq)
          }
          write(assign(read, hit && whenC.getOrElse(lit(true)), assignments),
            Some(count_if(hit) -> (n => if (n < ks.size) throw missing)))
        case None =>
          val cur = if (exists) read
                    else if (insertMissing) seed.limit(0)
                    else return
          val (base, extraCond) = if (insertMissing) {
            val fresh = seed.join(cur.select(keys.map(col): _*), keys,
              "left_anti").dropDuplicates(keys)
            seededWhen(cur, fresh, whenC)
          } else (cur, whenC.getOrElse(lit(true)))
          val marked = base.join(
            seed.select(keys.map(col): _*).distinct()
              .withColumn("__hit", lit(true)),
            keys, "left")
          write(assign(marked, coalesce(col("__hit"), lit(false)) && extraCond,
            assignments).drop("__hit").drop(Seeded))
      }

    /** UPDATE: apply column assignments to rows matching a predicate. */
    def update(cond: Column, assignments: (String, Column)*): Unit =
      write(assign(read, cond, assignments))

    /** The surviving frame a DELETE writes (exposed for plan tests). */
    private[graft] def deletePlan(keyRows: DataFrame): DataFrame =
      without(keyRows)

    /** DELETE rows by key set (DeleteExecutor semantics). */
    def delete(keyRows: DataFrame): Unit = write(deletePlan(keyRows))

    /** DELETE rows matching a predicate. */
    def deleteWhere(cond: Column): Unit = write(read.filter(notTrue(cond)))

    /** DELETE the rows in which any of `cols` holds one of the `vid`s
      * of `ids`: the incident-edge sweep of `DELETE VERTEX ... WITH
      * EDGE`. Ids the driver holds are one IN per column; any other id
      * set stays a DataFrame in an anti join (broadcast when small via
      * AQE), never a collect. */
    def deleteTouching(ids: DataFrame, cols: Seq[String]): Unit = {
      val cur = read
      write(localRows(ids, Seq("vid")) match {
        case Some(vs) =>
          cur.filter(notTrue(cols.map(c => isIn(Seq(c), vs)).reduce(_ || _)))
        case None => cur.join(ids,
          cols.map(c => cur(c) === ids("vid")).reduce(_ || _), "left_anti")
      })
    }
  }

  def vertexTable(spark: SparkSession, path: String,
                  schema: Option[StructType] = None): KeyedTable =
    KeyedTable(spark, path, Seq("vid"), schema)

  /** Edge identity includes rank (NebulaKeyUtils.h:61). */
  def edgeTable(spark: SparkSession, path: String,
                schema: Option[StructType] = None): KeyedTable =
    KeyedTable(spark, path, Seq("src", "dst", "rank"), schema)
}
