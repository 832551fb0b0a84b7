package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * Scale notes: merge = one shuffle-free read + anti/semi join on the
  * key (broadcast when the delta is small — the common case) + a
  * partitioned rewrite. On a real deployment this is exactly Delta
  * MERGE's copy-on-write plan, and should be swapped for it.
  */
object Mutations {

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

    private def write(df: DataFrame): Unit = {
      val stage = new Path(path + ".stage")
      df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      val target = new Path(path)
      if (fs(target).exists(target)) {
        val old = new Path(path + ".old")
        deleteIfExists(old)
        renameChecked(target, old)
        renameChecked(stage, target)
        deleteIfExists(old)
      } else renameChecked(stage, target)
    }

    /** Delta-size gate: broadcast the delta's key set only when it is
      * small (the common case); a bulk mutation above the cap plans a
      * shuffle join instead of OOMing the driver — same rule as
      * Traverse's hop joins. The count runs against the (usually tiny)
      * delta, not the table. */
    private def gatedKeys(df: DataFrame): DataFrame = {
      val ks = df.select(keys.map(col): _*)
      graft.traverse.Traverse.maybeBroadcast(ks, ks.count())
    }

    /** The merged frame an INSERT writes (exposed for plan tests). */
    private[graft] def insertPlan(rows: DataFrame): DataFrame =
      read.join(gatedKeys(rows), keys, "left_anti").unionByName(rows)

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
      * UpdateExecutor insertable path. The merge is an anti join on the
      * (small) seed key set — never a collect. */
    def upsertWith(seed: DataFrame, keyCond: org.apache.spark.sql.Column,
                   whenC: Option[org.apache.spark.sql.Column],
                   assignments: (String, org.apache.spark.sql.Column)*): Unit = {
      val cur = if (exists) read else seed.limit(0)
      val fresh = seed.join(cur.select(keys.map(col): _*), keys, "left_anti")
      val (merged, cond) = seededWhen(cur, fresh, whenC)
      val updated = assignments.foldLeft(merged) { case (df, (c, v)) =>
        df.withColumn(c, when(keyCond && cond, v).otherwise(col(c)))
      }
      write(updated.drop(Seeded))
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
                           whenC: Option[org.apache.spark.sql.Column])
        : (DataFrame, org.apache.spark.sql.Column) = whenC match {
      case None => (cur.unionByName(fresh), lit(true))
      case Some(w) =>
        (cur.withColumn(Seeded, lit(false))
          .unionByName(fresh.withColumn(Seeded, lit(true))), col(Seeded) || w)
    }

    /** UPDATE/UPSERT driven by a key-set DataFrame: rows whose key
      * appears in `seed` receive the assignments where the statement's
      * WHEN (`whenC`) holds; with `insertMissing` the keys absent from
      * the table are first seeded from `seed`'s rows (schema defaults)
      * so the SET right-hand side reads them, and a seeded row takes
      * the SET whatever WHEN says — nGQL UPSERT over a piped `$-` id
      * set. Membership is a marker join, never a collect, so the piped
      * set stays a DataFrame end to end at any scale. */
    def updateByKeys(seed: DataFrame, insertMissing: Boolean,
                     whenC: Option[org.apache.spark.sql.Column],
                     assignments: (String, org.apache.spark.sql.Column)*)
        : Unit = {
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
      val cond = coalesce(col("__hit"), lit(false)) && extraCond
      val updated = assignments.foldLeft(marked) { case (df, (c, v)) =>
        df.withColumn(c, when(coalesce(cond, lit(false)), v)
          .otherwise(col(c)))
      }
      write(updated.drop("__hit").drop(Seeded))
    }

    /** UPDATE: apply column assignments to rows matching a predicate. */
    def update(cond: org.apache.spark.sql.Column,
               assignments: (String, org.apache.spark.sql.Column)*): Unit = {
      val cur = read
      val updated = assignments.foldLeft(cur) { case (df, (c, v)) =>
        df.withColumn(c, when(cond, v).otherwise(col(c)))
      }
      write(updated)
    }

    /** The surviving frame a DELETE writes (exposed for plan tests). */
    private[graft] def deletePlan(keyRows: DataFrame): DataFrame =
      read.join(gatedKeys(keyRows), keys, "left_anti")

    /** DELETE rows by key set (DeleteExecutor semantics). */
    def delete(keyRows: DataFrame): Unit = write(deletePlan(keyRows))

    /** DELETE rows matching a predicate. */
    def deleteWhere(cond: org.apache.spark.sql.Column): Unit =
      write(read.filter(!coalesce(cond, lit(false))))

    /** DELETE rows that match ANY row of `other` under `cond` — an
      * anti join, so a piped delete set stays a DataFrame end to end
      * (no driver collect; `other` broadcast when small via AQE).
      * Used for `DELETE VERTEX ... WITH EDGE` incidence sweeps. */
    def deleteJoin(other: DataFrame,
                   cond: (DataFrame, DataFrame) =>
                     org.apache.spark.sql.Column): Unit = {
      val cur = read
      write(cur.join(other, cond(cur, other), "left_anti"))
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
