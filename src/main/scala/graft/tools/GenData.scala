package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator mirroring the driver's
  * TESTDATA.md shape (TPC-H-ish star schema + events/documents/
  * embeddings) at an arbitrary scale factor. Used to produce sf1+
  * locally for scale benchmarking — the driver's own /root/testdata
  * is read-only and stops at sf0.1.
  *
  * Generation is hash-seeded per row id (no RNG state), so it is
  * distributed, repartition-stable, and reproducible: every column is
  * a pure function of (table, id). Usage:
  *   runMain graft.tools.GenData <outDir> <scale>   // scale 1.0 = sf1
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val scale = if (args.length > 1) args(1).toDouble else 1.0
    val spark = graft.Harness.session(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"), 32)
    import spark.implicits._

    // per-(table,row) deterministic doubles in [0,1) — a split-mix
    // style integer hash; NOT a stats-grade RNG, but id-pure and fast
    def h(table: Int, id: Long, k: Int): Long = {
      var x = id * 6364136223846793005L + table * 1442695040888963407L + k * 0x9E3779B97F4A7C15L
      x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL
      x ^= (x >>> 33); x *= 0xC4CEB9FE1A85EC53L
      x ^ (x >>> 33)
    }
    def u(table: Int, id: Long, k: Int): Double =
      ((h(table, id, k) >>> 11).toDouble / (1L << 53).toDouble)

    val nLineitem = (6000000L * scale).toLong
    val nOrders = nLineitem / 4
    val nCustomer = (150000L * scale).toLong
    val nSupplier = (10000L * scale).toLong
    val nPart = (200000L * scale).toLong
    val nDocs = (50000L * scale).toLong
    val nEmb = (20000L * scale).toLong
    val nEvents = (1000000L * scale).toLong
    val baseTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // orders/lineitem live in the driver tables' 1995-2001 window;
    // events keep the driver's 2024 30-day window
    val ordersBase = 788918400000L
    val ordersSpan = 207705600000L

    def write(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"[gendata] wrote $name")
    }

    write("region")(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))
    write("nation")((0 until 25).map(i =>
      (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"))

    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer")(spark.range(nCustomer).select(
      $"id".as("c_custkey"),
      concat(lit("Customer#"), $"id").as("c_name"),
      pmod(xxhash64(lit(1), $"id"), lit(25)).cast("int").as("c_nationkey"),
      (round(rand(42) * 0, 2) + round((pmod(xxhash64(lit(2), $"id"), lit(1099999)) / 100.0) - 999.99, 2)).as("c_acctbal"),
      element_at(typedlit(segments.toSeq), pmod(xxhash64(lit(3), $"id"), lit(5)).cast("int") + 1).as("c_mktsegment")))

    write("supplier")(spark.range(nSupplier).select(
      $"id".as("s_suppkey"),
      concat(lit("Supplier#"), $"id").as("s_name"),
      pmod(xxhash64(lit(4), $"id"), lit(25)).cast("int").as("s_nationkey"),
      round(pmod(xxhash64(lit(5), $"id"), lit(1099999)) / 100.0 - 999.99, 2).as("s_acctbal")))

    val brands = (1 to 25).map(i => s"Brand#$i")
    val types = for (a <- Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO");
                     b <- Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED");
                     c <- Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")) yield s"$a $b $c"
    val nouns = Seq("almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
      "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse")
    write("part")(spark.range(nPart).select(
      $"id".as("p_partkey"),
      concat_ws(" ",
        element_at(typedlit(nouns), pmod(xxhash64(lit(6), $"id"), lit(nouns.size)).cast("int") + 1),
        element_at(typedlit(nouns), pmod(xxhash64(lit(7), $"id"), lit(nouns.size)).cast("int") + 1),
        element_at(typedlit(nouns), pmod(xxhash64(lit(8), $"id"), lit(nouns.size)).cast("int") + 1)).as("p_name"),
      element_at(typedlit(brands), pmod(xxhash64(lit(9), $"id"), lit(25)).cast("int") + 1).as("p_brand"),
      element_at(typedlit(types), pmod(xxhash64(lit(10), $"id"), lit(types.size)).cast("int") + 1).as("p_type"),
      (pmod(xxhash64(lit(11), $"id"), lit(50)).cast("int") + 1).as("p_size"),
      round(lit(900.0) + pmod(xxhash64(lit(12), $"id"), lit(120000)) / 100.0, 2).as("p_retailprice")))

    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders")(spark.range(nOrders).select(
      $"id".as("o_orderkey"),
      pmod(xxhash64(lit(13), $"id"), lit(nCustomer)).as("o_custkey"),
      element_at(typedlit(Seq("F", "O", "P")), pmod(xxhash64(lit(14), $"id"), lit(3)).cast("int") + 1).as("o_orderstatus"),
      round(pmod(xxhash64(lit(15), $"id"), lit(45000000)) / 100.0 + 857.71, 2).as("o_totalprice"),
      timestamp_millis(lit(ordersBase) + pmod(xxhash64(lit(16), $"id"), lit(ordersSpan))).as("o_orderdate"),
      element_at(typedlit(priorities), pmod(xxhash64(lit(17), $"id"), lit(5)).cast("int") + 1).as("o_orderpriority")))

    write("lineitem")(spark.range(nLineitem).select(
      ($"id" / 4).cast("long").as("l_orderkey"),
      pmod(xxhash64(lit(18), $"id"), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(lit(19), $"id"), lit(nSupplier)).as("l_suppkey"),
      (pmod($"id", lit(4)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(lit(20), $"id"), lit(50)).cast("double") + 1).as("l_quantity"),
      round(pmod(xxhash64(lit(21), $"id"), lit(10000000)) / 100.0 + 900.0, 2).as("l_extendedprice"),
      (pmod(xxhash64(lit(22), $"id"), lit(11)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(lit(23), $"id"), lit(9)).cast("double") / 100.0).as("l_tax"),
      element_at(typedlit(Seq("A", "N", "R")), pmod(xxhash64(lit(24), $"id"), lit(3)).cast("int") + 1).as("l_returnflag"),
      element_at(typedlit(Seq("F", "O")), pmod(xxhash64(lit(25), $"id"), lit(2)).cast("int") + 1).as("l_linestatus"),
      timestamp_millis(lit(ordersBase) + pmod(xxhash64(lit(26), $"id"), lit(ordersSpan))).as("l_shipdate")))

    // documents: bag-of-words over a small vocab, ~45 tokens per doc;
    // ~2% of docs are near-duplicates of an earlier doc (a few tokens
    // perturbed) and ~0.2% exact duplicates, mirroring the dedup-able
    // structure of the driver's tables
    val vocab = Array("spark", "query", "table", "join", "scan", "filter", "group",
      "agg", "sort", "order", "line", "part", "customer", "value", "key", "hash",
      "batch", "stream", "window", "column", "vector", "data", "fast", "slow",
      "small", "the", "a", "b")
    val langs = Array("en", "en", "en", "en", "en", "en", "zh", "de", "fr", "es")
    val docs = spark.range(nDocs).map { id =>
      val isExact = u(30, id, 0) < 0.002 && id > 100
      val isNear = !isExact && u(30, id, 1) < 0.02 && id > 100
      val baseId: Long =
        if (isExact || isNear) (h(30, id, 2) >>> 1) % (id - 1) else id
      val nTok = 15 + (h(31, baseId, 3) >>> 7).toInt % 60
      val toks = Array.tabulate(nTok) { t =>
        if (isNear && u(32, id, t) < 0.06)
          vocab((h(33, id, t) >>> 5).toInt.abs % vocab.length)
        else vocab((h(34, baseId, t) >>> 5).toInt.abs % vocab.length)
      }
      val text = toks.mkString(" ")
      (id, text, langs((h(35, id, 4) >>> 9).toInt.abs % langs.length),
        s"src${(h(36, id, 5) >>> 9).toInt.abs % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    write("documents")(docs)

    // embeddings: 64-dim float vectors clustered around 10 label
    // centroids (IVF/ANN benches need real cluster structure)
    val emb = spark.range(nEmb).map { id =>
      val label = (h(40, id, 0) >>> 9).toInt.abs % 10
      val vec = Array.tabulate(64) { d =>
        val centroid = ((h(41, label.toLong, d) >>> 11).toDouble / (1L << 53).toDouble) * 2 - 1
        (centroid + (u(42, id, d) - 0.5) * 0.6).toFloat
      }
      (id, vec, label)
    }.toDF("vec_id", "embedding", "label")
    write("embeddings")(emb)

    val eventTypes = Seq("view", "click", "purchase", "signup", "error")
    write("events")(spark.range(nEvents).select(
      $"id".as("event_id"),
      timestamp_millis(lit(baseTs) + pmod(xxhash64(lit(50), $"id"), lit(2592000000L))).as("ts"),
      pmod(xxhash64(lit(51), $"id"), lit(math.max(1L, nCustomer / 10))).as("user_id"),
      element_at(typedlit(eventTypes), pmod(xxhash64(lit(52), $"id"), lit(5)).cast("int") + 1).as("event_type"),
      round(pmod(xxhash64(lit(53), $"id"), lit(100000)) / 100.0, 2).as("value"),
      concat(lit("""{"k":"""), pmod(xxhash64(lit(54), $"id"), lit(100)), lit("}")).as("props")))

    spark.stop()
  }
}
