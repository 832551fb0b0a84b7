package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with nanoTime resolution, so span
  * times line up with the epoch-millisecond times Spark's listener
  * events carry. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** In-memory span recorder. A span is (id, parent, name, request,
  * start, end); the innermost open span of the calling thread is
  * published as a job-local property, so every Spark job the span's
  * body submits carries it into the listener. A root span (one per
  * request) also tags its jobs and SQL executions with the request
  * id. Nothing is recorded while `enabled` is false. */
final class Tracer {
  @volatile var enabled = false
  @volatile var sc: SparkContext = _

  val spans = new ConcurrentLinkedQueue[Tracer.Span]()
  private val ids = new AtomicLong(0)
  // (span id, request id) of the open spans, innermost first
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val r = if (req >= 0) req else outer.headOption.map(_._2).getOrElse(-1L)
      val id = ids.incrementAndGet()
      stack.set((id, r) :: outer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      if (outer.isEmpty && r >= 0) sc.addJobTag(Tracer.reqTag(r))
      val t0 = Clock.now()
      try body
      finally {
        spans.add(Tracer.Span(id, parent, name, r, t0, Clock.now()))
        stack.set(outer)
        if (outer.isEmpty && r >= 0) sc.removeJobTag(Tracer.reqTag(r))
        sc.setLocalProperty(Tracer.SpanProp,
          if (parent == 0L) null else parent.toString)
      }
    }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, req: Long,
                        start: Long, end: Long)
  val SpanProp = "graftbench.span"
  def reqTag(r: Long): String = s"graftbench-req-$r"
}

/** Jobs, per-stage task totals and SQL-execution tags, as Spark's
  * listener bus reports them. */
final class JobListener extends SparkListener {
  import JobListener.Job
  val jobs = new ConcurrentHashMap[Int, Job]()
  // stage id -> [cpu ns, shuffle write, shuffle read, spill, input,
  // output bytes, tasks]
  val stageTotals = new ConcurrentHashMap[Int, Array[Long]]()
  val execTags = new ConcurrentHashMap[Long, String]()
  // query execution id (what a QueryExecutionListener sees) -> SQL
  // execution id (what jobs and tags carry)
  val qeExec = new ConcurrentHashMap[Long, Long]()
  val events = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.increment()
    val p = Option(e.properties)
    def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId,
      prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.increment()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.increment()
    val m = e.taskMetrics
    if (m != null) {
      val a = stageTotals.computeIfAbsent(e.stageId, _ => new Array[Long](7))
      a.synchronized {
        a(0) += m.executorCpuTime
        a(1) += m.shuffleWriteMetrics.bytesWritten
        a(2) += m.shuffleReadMetrics.totalBytesRead
        a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(4) += m.inputMetrics.bytesRead
        a(5) += m.outputMetrics.bytesWritten
        a(6) += 1
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.increment()
      execTags.put(s.executionId, s.jobTags.mkString(","))
    case s: SparkListenerSQLExecutionEnd =>
      events.increment()
      // the event carries its QueryExecution in a field Spark keeps
      // package-private; without it the phases stay unattributed
      try {
        s.getClass.getMethod("qe").invoke(s) match {
          case qe: QueryExecution => qeExec.put(qe.id, s.executionId)
          case _ => ()
        }
      } catch { case _: ReflectiveOperationException => () }
    case _ => ()
  }

  /** Waits until every started job has ended and no event arrived for
    * a quiet interval, so the dump sees the whole traced window. */
  def drain(quietMs: Long = 400L, capMs: Long = 15000L): Unit = {
    val stop = System.currentTimeMillis() + capMs
    var last = -1L
    var quietSince = System.currentTimeMillis()
    var done = false
    while (!done && System.currentTimeMillis() < stop) {
      Thread.sleep(50)
      val n = events.sum()
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      val open = jobs.values().stream().anyMatch(_.end < 0)
      done = !open && System.currentTimeMillis() - quietSince >= quietMs
    }
  }
}

object JobListener {
  final case class Job(id: Int, span: Long, exec: Long, start: Long,
                       stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
}

/** Catalyst phase times of every action, keyed by its query
  * execution id. */
final class PhaseListener extends QueryExecutionListener {
  import PhaseListener.Phases
  val recs = new ConcurrentLinkedQueue[Phases]()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    recs.add(Phases(qe.id, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object PhaseListener {
  final case class Phases(qe: Long, analysisMs: Long, optimizerMs: Long,
                          planningMs: Long)
}
