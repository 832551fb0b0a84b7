package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SessionHygiene, SparkEntry, Tables, Tune}
import graft.algo.GraphAlgos
import graft.graph.{GraphCatalog, GraphModel, TableCatalog}
import graft.nql.Gql
import graft.queries.LdbcQueries
import graft.sources.GraphStore

/** One benchmark process: set the workload up `--setups` times (each on
  * a fresh SparkSession, timed), warm up, then run the request stream
  * closed-loop for `--seconds`. Every request's rows, its interval and
  * any error go to `results.jsonl`; the checks and the metrics are
  * computed by the harness from those files.
  *
  * The window ends on a block boundary (`--block` requests, in which
  * the stream holds every template of the workload), so each run
  * measures the same template mix.
  *
  * With `--trace 1` the window is halved, then followed by a traced
  * window and one more untraced window over as many following requests
  * each, so the harness can report what tracing itself costs against
  * the untraced windows on either side.
  *
  * Usage: BenchMain --workload interactive|mutate --data <parquet dir>
  *   [--store <graph store root, interactive>]
  *   --stream <stream.json> --out <dir> --work <scratch dir>
  *   --seconds <s> --trace 0|1 --block <n> --clients <n> [--setups 3]
  *   [--cpus 4] */
object BenchMain {
  final case class Item(i: Int, cls: String, tpl: String, cat: String,
                        text: String, params: Map[String, String])

  final case class Rec(item: Item, phase: String, client: Int, start: Long,
                       end: Long, err: Option[String], cols: Seq[String],
                       rows: Array[Row], sample: Map[String, Double])

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = new File(opt("out"))
    val work = new File(opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val setups = opt.getOrElse("setups", "3").toInt
    val cpus = opt.getOrElse("cpus", "4").toInt
    val block = opt("block").toInt
    val clients = opt("clients").toInt
    out.mkdirs(); work.mkdirs()

    val stream = mapper.readTree(new File(opt("stream")))
    def items(key: String): Vector[Item] =
      stream.get(key).elements().asScala.map(item).toVector
    val setupItem = items("setup").head
    val warmup = items("warmup")
    val requests = items("items")
    val t00 = System.nanoTime()
    def log(msg: String): Unit =
      println(f"[graftbench] ${(System.nanoTime() - t00) / 1e9}%8.2f s  $msg")

    val w: Workload = workload match {
      case "interactive" => new Interactive(data, new File(opt("store")), clients)
      case "mutate" => new Mutate(data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer

    // ---- set-up, timed, `setups` times on fresh sessions ----
    var spark: SparkSession = null
    val setupNs = (0 until setups).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(data, work, cpus)
      tracer.sc = spark.sparkContext
      w.setup(spark, work, r)
      run(w, setupItem, tracer, "setup", 0)
      val dt = System.nanoTime() - t0
      log(s"set-up $r: ${dt / 1e9} s")
      dt
    }
    // a traced run also times a store build from scratch, outside the
    // set-ups, for the per-layer figures
    val buildNs: java.lang.Long = if (traced) w.freshBuildNs(spark, work) else 0L
    writeJson(new File(out, "setup.json"), Map(
      "setup_ns" -> setupNs.asJava,
      "store_build_ns" -> buildNs,
      "store_bytes" -> Long.box(w.storeBytes)).asJava)
    SparkEntry.oracleSql // force the registry once, outside any window
    writeJson(new File(out, "oracles.json"), w.oracleNames
      .map(n => n -> SparkEntry.oracleSql(n)).toMap.asJava)

    // ---- warm-up (untimed) ----
    w.beginWarmup(spark, work)
    window(w, warmup, warmup.indices, Double.PositiveInfinity, 1, tracer, "warmup",
      new ConcurrentLinkedQueue[Rec](), spark)
    w.endWarmup()
    SessionHygiene.sweep(spark)
    log("warm-up done")

    val recs = new ConcurrentLinkedQueue[Rec]()
    val first = window(w, requests, requests.indices,
      if (traced) seconds / 2 else seconds, block, tracer, "untraced", recs,
      spark)
    log(s"window: ${first.size} requests")
    if (traced) {
      val jobs = new JobListener
      val phases = new PhaseListener
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(phases)
      def after(prev: Seq[Int]): Seq[Int] =
        prev.last + 1 until math.min(requests.size, prev.last + 1 + first.size)
      resetHeapPeaks()
      tracer.enabled = true
      val second = window(w, requests, after(first), Double.PositiveInfinity,
        block, tracer, "traced", recs, spark)
      tracer.enabled = false
      jobs.drain()
      log("traced window done")
      window(w, requests, after(second), Double.PositiveInfinity, block,
        tracer, "untraced-after", recs, spark)
      writeTrace(new File(out, "trace.json"), tracer, jobs, phases)
    }
    writeResults(new File(out, "results.jsonl"), recs.asScala.toSeq)
    w.finish(spark, out)
    spark.stop()
    log("done")
  }

  private def item(n: JsonNode): Item = Item(n.get("i").asInt(),
    n.get("cls").asText(), n.get("tpl").asText(),
    Option(n.get("cat")).map(_.asText()).getOrElse(""),
    Option(n.get("text")).map(_.asText()).getOrElse(""),
    Option(n.get("params")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))

  private def session(data: String, work: File, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Tune.shufflePartitions(data, cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `idx` closed-loop on the workload's clients until the slice
    * is used up, or until `seconds` have passed and the requests taken
    * so far fill whole blocks; requests in flight complete. Returns
    * the indices that ran, in order. */
  private def window(w: Workload, requests: Vector[Item], idx: Seq[Int],
                     seconds: Double, block: Int, tracer: Tracer,
                     phase: String, recs: ConcurrentLinkedQueue[Rec],
                     spark: SparkSession): Seq[Int] = {
    val next = new AtomicInteger(0)
    val started = new ConcurrentLinkedQueue[Int]()
    val deadline =
      if (seconds.isInfinite) Long.MaxValue
      else System.nanoTime() + (seconds * 1e9).toLong
    val limit = new AtomicInteger(idx.size)
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var go = true
        while (go) {
          val k = next.getAndIncrement()
          // the first index taken after the deadline, rounded up to a
          // block boundary (at least one block), is where all clients stop
          if (System.nanoTime() >= deadline)
            limit.compareAndSet(idx.size,
              math.min(idx.size, math.max(block, (k + block - 1) / block * block)))
          if (k >= limit.get) go = false
          else {
            started.add(idx(k))
            recs.add(run(w, requests(idx(k)), tracer, phase, c))
            // single-client workloads free the finished call's blocks
            // between calls, outside any request's interval
            if (w.clients == 1) SessionHygiene.sweep(spark)
          }
        }
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    started.asScala.toSeq.sorted
  }

  private def run(w: Workload, it: Item, tracer: Tracer, phase: String,
                  client: Int): Rec = {
    val gc0 = gcMs()
    val t0 = Clock.now()
    var err: Option[String] = None
    var out: (Seq[String], Array[Row]) = (Nil, Array.empty)
    try out = tracer.span("request", it.i.toLong)(w.run(it, tracer))
    catch {
      case e: Throwable =>
        err = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
          .take(400))
    }
    val t1 = Clock.now()
    val sample =
      if (!tracer.enabled) Map.empty[String, Double]
      else w.sample(t0) ++ Map("gc_ms" -> (gcMs() - gc0).toDouble)
    Rec(it, phase, client, t0, t1, err, out._1, out._2, sample)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  // ---- output ----

  private def writeJson(f: File, v: AnyRef): Unit =
    mapper.writeValue(f, v)

  /** Row values as JSON-ready Java values; nested rows keep their
    * field names. */
  private def jv(v: Any): AnyRef = v match {
    case null => null
    case r: Row =>
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      r.schema.fieldNames.zipWithIndex.foreach { case (n, i) => m.put(n, jv(r.get(i))) }
      m
    case s: scala.collection.Seq[_] => s.map(jv).asJava
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => String.valueOf(k) -> jv(x) }.asJava
    case d: java.math.BigDecimal => Double.box(d.doubleValue())
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.temporal.Temporal => t.toString
    case d: java.sql.Date => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  private def writeResults(f: File, recs: Seq[Rec]): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try recs.sortBy(r => (r.phase, r.start)).foreach { r =>
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("i", Int.box(r.item.i)); m.put("phase", r.phase)
      m.put("client", Int.box(r.client)); m.put("cls", r.item.cls)
      m.put("tpl", r.item.tpl)
      m.put("start", Long.box(r.start)); m.put("end", Long.box(r.end))
      m.put("error", r.err.orNull)
      m.put("cols", r.cols.asJava)
      m.put("rows", r.rows.toSeq.map(row =>
        (0 until row.length).map(i => jv(row.get(i))).asJava).asJava)
      m.put("sample", r.sample.map { case (k, v) => k -> Double.box(v) }.asJava)
      pw.println(mapper.writeValueAsString(m))
    } finally pw.close()
  }

  private def writeTrace(f: File, tr: Tracer, jobs: JobListener,
                         phases: PhaseListener): Unit = {
    val spans = tr.spans.asScala.toSeq.map(s => Map[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start" -> s.start, "end" -> s.end).map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava)
    val js = jobs.jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      val tot = new Array[Long](7)
      j.stages.foreach(st => Option(jobs.stageTotals.get(st)).foreach(a =>
        a.synchronized { (0 until 7).foreach(i => tot(i) += a(i)) }))
      Map[String, Any]("job" -> j.id, "span" -> j.span, "exec" -> j.exec,
        "start_ms" -> j.start, "end_ms" -> j.end,
        "cpu_ns" -> tot(0), "shuffle_write" -> tot(1), "shuffle_read" -> tot(2),
        "spill" -> tot(3), "input" -> tot(4), "output" -> tot(5), "tasks" -> tot(6))
        .map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava
    }
    val qes = phases.recs.asScala.toSeq.map(p => Map[String, Any](
      "qe" -> p.qe, "analysis_ms" -> p.analysisMs,
      "optimizer_ms" -> p.optimizerMs, "planning_ms" -> p.planningMs)
      .map { case (k, v) => k -> v.asInstanceOf[AnyRef] }.asJava)
    val tags = jobs.execTags.asScala.map { case (k, v) => k.toString -> v }.asJava
    val qeExec = jobs.qeExec.asScala.map { case (k, v) => k.toString -> Long.box(v) }.asJava
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    writeJson(f, Map[String, AnyRef]("spans" -> spans.asJava, "jobs" -> js.asJava,
      "qes" -> qes.asJava, "exec_tags" -> tags, "qe_exec" -> qeExec,
      "heap_peak_bytes" -> Long.box(heapPeak)).asJava)
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def filesSince(f: File, sinceMs: Long): Int =
    if (f.isFile) { if (f.lastModified >= sinceMs && !f.getName.startsWith(".")) 1 else 0 }
    else Option(f.listFiles()).map(_.map(filesSince(_, sinceMs)).sum).getOrElse(0)

  // ---- workloads ----

  abstract class Workload {
    def clients: Int = 1
    def oracleNames: Seq[String] = Nil
    var storeBytes: Long = 0L
    /** Time to build the workload's store from scratch; 0 without one. */
    def freshBuildNs(spark: SparkSession, work: File): Long = 0L
    /** Set-up number `r`; `work` is shared by all set-ups of the run. */
    def setup(spark: SparkSession, work: File, r: Int): Unit
    def run(it: Item, tr: Tracer): (Seq[String], Array[Row])
    /** Session state right after a traced request. */
    def sample(startNs: Long): Map[String, Double] = {
      val sc = SparkSession.active.sparkContext
      Map("ckpt_rdds" -> sc.getPersistentRDDs.size.toDouble,
        "ckpt_cached_bytes" -> sc.getRDDStorageInfo
          .map(i => (i.memSize + i.diskSize).toDouble).sum)
    }
    def finish(spark: SparkSession, out: File): Unit = ()
    def beginWarmup(spark: SparkSession, work: File): Unit = ()
    def endWarmup(): Unit = ()

    protected def collect(df: DataFrame): (Seq[String], Array[Row]) =
      (df.columns.toSeq, df.collect())

    /** nGQL text through the public entry point; traced runs time the
      * parse on its own first (Gql.run parses again inside exec). */
    protected def nql(g: GraphCatalog, it: Item, tr: Tracer): (Seq[String], Array[Row]) = {
      if (tr.enabled) tr.span("nql.parse")(Gql.parseScript(it.text))
      tr.span("nql.exec")(collect(Gql.run(g, it.text)))
    }
  }

  /** nGQL/openCypher reads over a store-backed GraphModel and the
    * LDBC-shaped catalog, plus seeded single-source shortest distances
    * through GraphAlgos. Every set-up attaches to the bucketed graph
    * store under `storeRoot` (the first one to find none builds it),
    * the build-once/attach-many posture GraphStore is written for. */
  final class Interactive(data: String, storeRoot: File,
                          override val clients: Int) extends Workload {
    override def oracleNames: Seq[String] = Seq("q_nql_go", "q_nql_fetch",
      "q_nql_lookup", "q_nql_path", "q_ldbc_is1", "q_ldbc_is2", "q_ldbc_is3",
      "q_ldbc_is5", "q_ldbc_is7", "q_ldbc_ic1", "q_ldbc_ic6", "q_algo_sssp")
    var spark: SparkSession = _
    var g: GraphModel = _
    var ldbc: GraphCatalog = _
    def setup(s: SparkSession, work: File, r: Int): Unit = {
      spark = s
      s.conf.set(GraphStore.ConfDir, storeRoot.getPath)
      g = GraphModel(s, data)
      g.edges.limit(1).count()
      ldbc = LdbcQueries.catalog(s, data)
    }
    override def freshBuildNs(s: SparkSession, work: File): Long = {
      val fresh = new File(work, "store-fresh")
      s.conf.set(GraphStore.ConfDir, fresh.getPath)
      try {
        val t0 = System.nanoTime()
        GraphModel(s, data).edges.limit(1).count()
        val dt = System.nanoTime() - t0
        storeBytes = dirBytes(fresh)
        dt
      } finally s.conf.set(GraphStore.ConfDir, storeRoot.getPath)
    }
    def run(it: Item, tr: Tracer): (Seq[String], Array[Row]) = it.cat match {
      case "algo" =>
        val adj = tr.span("graph")(g.adjacencyOut(keep = Seq("rank")))
        tr.span("algo")(try collect(GraphAlgos.sssp(spark, adj,
          it.params("src"), iters = 4, w = (col("rank") + 1).cast("double")))
          finally adj.release())
      case "ldbc" => nql(ldbc, it, tr)
      case _ => nql(g, it, tr)
    }
  }

  /** A parquet-backed TableCatalog space bulk-loaded with every
    * customer (tag `customer`) and every order as a `placed` edge. The
    * warm-up runs its statements on the space of set-up 0, so the
    * measured space only ever sees the measured stream. */
  final class Mutate(data: String) extends Workload {
    var tc: TableCatalog = _
    var root: File = _
    private var measured: TableCatalog = _

    private def open(s: SparkSession, dir: File): TableCatalog = {
      val c = new TableCatalog(s, dir.getPath)
      Gql.runScript(c,
        "CREATE TAG customer(name string, acctbal double, nationkey int);")
      Gql.runScript(c, "CREATE EDGE placed(totalprice double);")
      c
    }

    def setup(s: SparkSession, work: File, r: Int): Unit = {
      root = new File(work, s"space-$r")
      tc = open(s, root)
      tc.tagTable("customer").insert(Tables.load(s, data, "customer").select(
        concat(lit("c:"), col("c_custkey")).as("vid"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("c_nationkey").as("nationkey")))
      tc.edgeTable("placed").insert(Tables.load(s, data, "orders").select(
        concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("o:"), col("o_orderkey")).as("dst"), lit(0L).as("rank"),
        col("o_totalprice").as("totalprice")))
    }
    override def beginWarmup(s: SparkSession, work: File): Unit = {
      require(root.getName != "space-0", "mutate needs two or more set-ups")
      measured = tc
      tc = open(s, new File(work, "space-0"))
    }
    override def endWarmup(): Unit = tc = measured
    def run(it: Item, tr: Tracer): (Seq[String], Array[Row]) = nql(tc, it, tr)
    override def sample(startNs: Long): Map[String, Double] =
      super.sample(startNs) ++ Map(
        "files_written" -> filesSince(root, startNs / 1000000L).toDouble)
    override def finish(spark: SparkSession, out: File): Unit = {
      def dump(df: DataFrame): java.util.List[java.util.List[AnyRef]] =
        df.collect().toSeq.map(r => (0 until r.length).map(i => jv(r.get(i))).asJava).asJava
      writeJson(new File(out, "final.json"), Map[String, AnyRef](
        "customer_cols" -> tc.vertexTable("customer").columns.toSeq.asJava,
        "customer" -> dump(tc.vertexTable("customer")),
        "placed_cols" -> tc.edgesByType("placed").columns.toSeq.asJava,
        "placed" -> dump(tc.edgesByType("placed")),
        "disk_bytes" -> Long.box(dirBytes(root))).asJava)
    }
  }
}
