package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: a name, its interval on the monotonic
  * clock, the span that caused it, and the Spark work attributed to it.
  */
final class Span(val id: Long, val parent: Long, val name: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val counts = new ConcurrentHashMap[String, AtomicLong]()
  def add(key: String, v: Long): Unit =
    counts.computeIfAbsent(key, _ => new AtomicLong(0L)).addAndGet(v)
  def count(key: String): Long = Option(counts.get(key)).map(_.get).getOrElse(0L)
  def durNs: Long = endNs - startNs
}

/** Span recorder plus the benchmark's own listeners. Disabled, it only
  * runs the timed bodies; enabled, every [[span]] sets a local property
  * that Spark copies onto each job it submits, so job, stage and task
  * events — and the planning phases of each query execution — are
  * credited to the innermost open span. Spans stay in memory until the
  * run writes them out.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(0L)
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Time spent draining the listener bus at span ends: tracing overhead. */
  val drainNs = new AtomicLong(0L)

  private object Listener extends SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val sid = Option(js.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      sid.flatMap(s => Option(byId.get(s.toLong))).foreach { span =>
        jobSpan.put(js.jobId, span)
        jobSubmit.put(js.jobId, js.time)
        span.add("jobs", 1)
        span.add("stages", js.stageIds.size)
        js.stageIds.foreach { st => stageSpan.put(st, span); stageJob.put(st, js.jobId) }
      }
    }
    override def onTaskStart(ts: SparkListenerTaskStart): Unit =
      Option(stageJob.get(ts.stageId)).foreach { job =>
        // first task of a job: submit -> first launch is the scheduling wait
        Option(jobSubmit.remove(job)).foreach { submitted =>
          Option(jobSpan.get(job)).foreach(
            _.add("sched_wait_ms", math.max(0L, ts.taskInfo.launchTime - submitted)))
        }
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(te.stageId)).foreach { span =>
        span.add("tasks", 1)
        val m = te.taskMetrics
        if (m != null) {
          span.add("cpu_ns", m.executorCpuTime)
          span.add("run_ms", m.executorRunTime)
          span.add("gc_ms", m.jvmGCTime)
          span.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          span.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          span.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          span.add("input_bytes", m.inputMetrics.bytesRead)
          span.add("output_bytes", m.outputMetrics.bytesWritten)
        }
      }
  }

  /** Planning phases and plan shape of every executed query, credited to
    * the span open on the client thread (bus delivery is drained before a
    * span closes, and the one client thread opens spans one at a time).
    */
  private object Planning extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = current.foreach { span =>
      qe.tracker.phases.foreach { case (phase, s) => span.add(s"${phase}_ms", s.durationMs) }
      val (nodes, exchanges) = shape(qe.executedPlan)
      span.add("plan_nodes", nodes)
      span.add("plan_exchanges", exchanges)
      span.add("executions", 1)
    }
  }

  @volatile private var current: Option[Span] = None

  if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(Planning)
  }

  /** Runs `body` as span `name`; the span closes even if `body` throws. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = new Span(ids.incrementAndGet(), parent, name, System.nanoTime())
    byId.put(s.id, s)
    spans += s
    stack.push(s)
    current = Some(s)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      val d0 = System.nanoTime()
      org.apache.spark.perfbench.Bus.drain(sc)
      drainNs.addAndGet(System.nanoTime() - d0)
      sc.setLocalProperty(SpanKey, prevProp)
      stack.pop()
      current = stack.headOption
    }
  }

  /** Adds `v` to counter `key` of the innermost open span. */
  def add(key: String, v: Long): Unit = if (enabled) current.foreach(_.add(key, v))

  /** Self time of each span: its duration minus what its children cover
    * (children of one span never overlap: one client thread).
    */
  def selfNs: Map[Long, Long] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Counts of `key` summed over `s` and all its descendants. */
  def deep(s: Span, key: String): Long = {
    val kids = spans.filter(_.parent == s.id)
    s.count(key) + kids.map(deep(_, key)).sum
  }

  /** Physical plan size and exchange count, walking into adaptive query
    * stages and reused exchanges.
    */
  private def shape(plan: SparkPlan): (Long, Long) = {
    var nodes = 0L
    var exchanges = 0L
    def walk(p: SparkPlan): Unit = {
      nodes += 1
      p match {
        case _: Exchange | _: ReusedExchangeExec => exchanges += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => (other.children ++ other.subqueries).foreach(walk)
      }
    }
    walk(plan)
    (nodes, exchanges)
  }

  def toJson: String = spans.map { s =>
    val c = s.counts.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.q(k)}:${v.get}" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.q(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":$c}"""
  }.mkString("[", ",\n", "]")
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
