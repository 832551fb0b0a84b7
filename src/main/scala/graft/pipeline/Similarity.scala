package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two paths, as a production pipeline needs both:
  *  - `bruteForceTopK`: exact cosine top-k — the correctness baseline.
  *    Queries are broadcast (they are few); the corpus streams through
  *    one scan; per-partition heaps via TakeOrderedAndProject-style
  *    window-free ranking. Cost O(|corpus|·|queries|·d) flops but ZERO
  *    shuffle of the corpus — at 100 TB this is scan-bound, which is
  *    the best exact search can do.
  *  - `lshTopK`: approximate path — random-hyperplane LSH buckets
  *    (sign-sketch of the vector), candidates only within the query's
  *    bucket (+ optional multi-probe). Shuffle is on (bucket) keys;
  *    bucket count scales with data so per-bucket work stays bounded.
  *    Hyperplanes are derived deterministically from md5, so results
  *    are reproducible and oracle-checkable.
  *
  * All arithmetic is double-precision fold over array columns — stays
  * in whole-stage codegen (functions.aggregate/zip_with, no UDF).
  */
object Similarity {

  /** Cosine similarity between two array columns, double-exact: the
    * native codegen'd `CosineSim` expression. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Exact top-k nearest (cosine) corpus rows for each query row.
    * Output (query_id, vec_id, sim, rnk). Ties broken by vec_id for
    * determinism. `queries` must be small (it is broadcast). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     corpusId: String = "vec_id", corpusVec: String = "embedding",
                     queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = corpus.crossJoin(broadcast(queries))
      .select(col(queryId), col(corpusId),
        cosine(col(corpusVec), col(queryVec)).as("sim"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId))
    joined.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Deterministic ±1 hyperplane component for (plane p, dimension d):
    * +1 iff the first hex digit of md5("p:d") has its high bit set.
    * Fixed at plan-build time (driver side), so the projection is a
    * plain codegen'd linear combination. */
  def planeSign(p: Int, d: Int): Double = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
    if ((dig(0) & 0x80) != 0) 1.0 else -1.0
  }

  /** The ±1 hyperplane matrix (planes × dims) as plain data. */
  def planeMatrix(planes: Int, dims: Int): Seq[Seq[Double]] =
    (0 until planes).map(p => (0 until dims).map(d => planeSign(p, d)))

  /** A slice of the shared hyperplane family: rows
    * `from .. from+count-1`. Banded LSH gives each band its own
    * disjoint slice so band signatures are independent. */
  def planeMatrixSlice(from: Int, count: Int, dims: Int): Seq[Seq[Double]] =
    (from until from + count).map(p =>
      (0 until dims).map(d => planeSign(p, d)))

  /** Sign-sketch bucket id: `planes` bits, bit p = [v · h_p >= 0] where
    * hyperplane h_p has ±1 components from `planeSign`.
    *
    * The plane matrix is a SINGLE array-of-arrays Literal (data, not
    * expression tree), and each bit is a zip_with/aggregate fold — so
    * the plan stays a constant handful of nodes whether dims is 64 or
    * 4096 (the unrolled per-term form was planes×dims nodes: 50k-260k
    * at production shapes, which blows Catalyst planning and falls out
    * of codegen past the 64KB method limit). Same rule is replayable in
    * SQL for the oracle; bucket values are bit-identical to the
    * unrolled form. */
  def lshBucket(vec: Column, planes: Int, dims: Int): Column = {
    val mat = typedLit(planeMatrix(planes, dims))
    val pIdx = sequence(lit(0), lit(planes - 1))
    aggregate(
      zip_with(mat, pIdx, (plane, p) =>
        when(aggregate(zip_with(vec, plane, (x, h) => x.cast("double") * h),
               lit(0.0), (acc, v) => acc + v) >= 0,
          pow(lit(2.0), p.cast("double")).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)
  }

  /** Approximate top-k: candidates restricted to the query's bucket.
    * Output (query_id, vec_id, sim, rnk) — a subset of brute force;
    * recall tunes with `planes` (fewer planes → bigger buckets →
    * higher recall, more compute). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int, dims: Int,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = corpus.withColumn("__bucket", lshBucket(col(corpusVec), planes, dims))
    val qb = queries.withColumn("__bucket", lshBucket(col(queryVec), planes, dims))
    val joined = cb.join(broadcast(qb), Seq("__bucket"))
      .select(col(queryId), col(corpusId),
        cosine(col(corpusVec), col(queryVec)).as("sim"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId))
    joined.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** IVF "train" step, deterministic for oracle replay: the model is
    * the `nlist` lowest-id corpus vectors (a production deployment
    * plugs a k-means fit here — the SERVE plan below is identical
    * either way). Collects exactly nlist small rows: model
    * materialization (kilobytes), not a data-plane collect. */
  def ivfFitDeterministic(corpus: DataFrame, nlist: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Seq[Seq[Double]] =
    corpus.filter(col(idCol) < nlist).orderBy(col(idCol))
      .select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toSeq)
      .toSeq

  /** (sim, cell) scores of a vector against the centroid model — the
    * model rides as ONE literal, so this is a codegen'd fold like
    * `lshBucket`: no shuffle, no join, constant plan size. */
  private def cellScores(vec: Column, cents: Seq[Seq[Double]]): Column =
    zip_with(typedLit(cents), sequence(lit(0), lit(cents.size - 1)),
      (c, i) => struct(cosine(vec, c).as("sim"), i.as("cell")))

  /** IVF cell assignment: argmax-cosine centroid (ties → lowest id). */
  def ivfCell(vec: Column, cents: Seq[Seq[Double]]): Column =
    aggregate(cellScores(vec, cents),
      struct(lit(-2.0).as("sim"), lit(-1).as("cell")),
      (acc, s) => when(s("sim") > acc("sim"), s).otherwise(acc))("cell")

  /** The query's `nprobe` nearest cells (sim desc, cell asc). */
  def ivfProbeCells(vec: Column, cents: Seq[Seq[Double]],
                    nprobe: Int): Column =
    slice(transform(
      array_sort(cellScores(vec, cents), (l, r) =>
        when(l("sim") > r("sim"), -1).when(l("sim") < r("sim"), 1)
          .otherwise(l("cell") - r("cell"))),
      s => s("cell")), 1, nprobe)

  /** IVF ANN top-k: corpus rows are assigned to their nearest-centroid
    * cell by a shuffle-free literal fold; each query probes its
    * `nprobe` nearest cells and ranks candidates there only. The
    * inverted-file counterpart of `lshTopK` — cells track the data
    * distribution (centroids) where LSH cuts blindly, trading a small
    * offline model for better recall per candidate. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              cents: Seq[Seq[Double]], nprobe: Int,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = corpus.withColumn("__cell", ivfCell(col(corpusVec), cents))
    val qb = queries.withColumn("__qcell",
      explode(ivfProbeCells(col(queryVec), cents, nprobe)))
    val joined = cb.join(broadcast(qb), col("__cell") === col("__qcell"))
      .select(col(queryId), col(corpusId),
        cosine(col(corpusVec), col(queryVec)).as("sim"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col(corpusId))
    joined.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Default per-bucket row cap for the bucket-local self-joins: a
    * bucket above this is pathological (e.g. all-zero embeddings all
    * hashing to one sketch) and would make one reducer quadratic —
    * 10k rows is ~5·10^7 pairs, the most a single task should chew. */
  val MaxBucketRows = 10000

  /** Drop rows belonging to oversized buckets (count over the bucket
    * key exceeds `cap`). One extra shuffle-free window pass when the
    * data is already partitioned by the key; degenerate buckets are
    * better served by exact dedup than by a quadratic pair join. */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (cap <= 0) df
    else df.withColumn("__bcnt",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bcnt") <= cap).drop("__bcnt")
  }

  /** All-pairs similarity above a threshold WITHOUT crossJoin: bucket
    * by LSH sketch, pair within buckets only (near-dup detection for
    * embeddings — the embedding-cosine near-dup path). Buckets larger
    * than `maxBucket` rows are dropped (logged pathology guard — an
    * oversized sign-sketch bucket means degenerate vectors, and the
    * quadratic join inside it would pin one reducer). */
  def nearDupByEmbedding(corpus: DataFrame, threshold: Double, planes: Int, dims: Int,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         maxBucket: Int = MaxBucketRows): DataFrame = {
    val b = capBuckets(
      corpus.withColumn("__bucket", lshBucket(col(vecCol), planes, dims)),
      Seq("__bucket"), maxBucket)
    val l = b.select(col("__bucket"), col(idCol).as("a"), col(vecCol).as("va"))
    val r = b.select(col("__bucket"), col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, Seq("__bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** Per-band sign signatures: `bands` longs, band b built from the
    * disjoint plane slice b*r .. b*r+r-1 of the shared family. A
    * native codegen'd expression (graft.functions.SignSketch) — the
    * declarative aggregate/zip_with fold over the plane matrix ran as
    * interpreted higher-order functions (~3 ms/row at 4×12×64) and
    * dominated q_embed_neardup at sf1. */
  def bandSignatures(vec: Column, bands: Int, r: Int, dims: Int): Column =
    graft.functions.SignSketch.bandSignatures(vec, bands, r, dims)

  /** The planesPerBand dial, as a function: the smallest plane count
    * that keeps the EXPECTED per-band bucket population at or below
    * `targetBucket` for an N-row corpus (buckets ~ N/2^planes), with a
    * floor so tiny corpora keep useful signatures. Candidate-pair cost
    * within a bucket is quadratic in its population, so holding the
    * population constant as N grows is what keeps total candidate
    * count near-linear — at sf3 (60 k vectors) the fixed 12-plane
    * setting measured superlinear (SCALE.md round-10 table) and this
    * formula prescribes the 14+ planes that restore the linear regime.
    * More planes lower recall (1-(1-p^r)^bands), so raise `bands`
    * alongside when recall matters. */
  def planesForCorpus(n: Long, targetBucket: Int = 16,
                      minPlanes: Int = 8): Int =
    math.max(minPlanes,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt)

  /** BANDED near-dup: OR-amplified sign-LSH. `bands` independent
    * signature tables of `planesPerBand` planes each; candidates are
    * pairs sharing ANY band's bucket, verified by exact cosine.
    *
    * This is the 100 TB shape: per-band bucket population is
    * ~N/2^planesPerBand (keep planesPerBand ≥ log2(N/targetBucket)),
    * so candidate count stays near-linear while true near-dup recall
    * is 1-(1-p^r)^bands (p = 1-θ/π per plane) — the single-table
    * variant above degrades quadratically as N grows past
    * 2^planes × targetBucket (measured: 2.2 s at sf0.1 → 279 s at sf1
    * with planes=4). Same bucket rule replays in the DuckDB oracle. */
  def nearDupByEmbeddingBanded(corpus: DataFrame, threshold: Double,
                               bands: Int, planesPerBand: Int, dims: Int,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               maxBucket: Int = MaxBucketRows): DataFrame = {
    val sigs = corpus.select(col(idCol),
      posexplode(bandSignatures(col(vecCol), bands, planesPerBand, dims))
        .as(Seq("__band", "__bucket")))
    val b = capBuckets(sigs, Seq("__band", "__bucket"), maxBucket)
    val l = b.select(col("__band"), col("__bucket"), col(idCol).as("a"))
    val r = b.select(col("__band"), col("__bucket"), col(idCol).as("b"))
    // dedup the (a, b) candidates BEFORE cosine (the nearDupPairs
    // shape): a pair colliding in k bands otherwise pays k cosine
    // evaluations and ships both vectors through the bucket join —
    // candidates carry only ids, vectors join back once per pair
    val cands = l.join(r, Seq("__band", "__bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val vecs = corpus.select(col(idCol), col(vecCol))
    cands
      .join(vecs.select(col(idCol).as("a"), col(vecCol).as("va")), "a")
      .join(vecs.select(col(idCol).as("b"), col(vecCol).as("vb")), "b")
      .select(col("a"), col("b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
      // result-sized dedup: a duplicated idCol row in the corpus would
      // otherwise fan each pair out per duplicate through the vector
      // join-backs (idCol uniqueness is not a documented precondition)
      .distinct()
  }
}
