package servebench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one operation (a search, an
  * ingest round) share `op`; `parent` is the enclosing span (0 at the
  * root). Counters are summed into the span by the benchmark and by the
  * Spark listeners, which find the span through the job group. */
final class Span(val id: Long, val name: String, val op: Long, val parent: Long,
    val thread: String) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  private val gc0 = Jvm.gcMs()
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = 0L
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  def add(key: String, v: Double): Unit = counters.merge(key, v, (a, b) => a + b)
  def get(key: String): Double = Option(counters.get(key)).fold(0.0)(_.doubleValue)
  def counterMap: Map[String, Double] = counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  private[servebench] def addJob(startMs: Long, endMs: Long): Unit = jobIntervals.add((startMs, endMs))

  def close(): Unit = {
    endNs = System.nanoTime(); endMs = System.currentTimeMillis()
    add("gc_ms", Jvm.gcMs() - gc0)
  }

  def ms: Double = (endNs - startNs) / 1e6

  /** Wall time of the span not covered by any of its Spark jobs:
    * driver-side planning, listing and file I/O. */
  def outsideJobsMs: Double =
    math.max(0.0, ms - Span.covered(startMs, endMs, jobIntervals.asScala.toSeq))
}

object Span {
  /** Milliseconds of [start, end] covered by the union of `intervals`. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var reach = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (b > reach) { total += b - math.max(a, reach); reach = b }
    }
    total
  }
}

object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Milliseconds all collectors have spent since JVM start. */
  def gcMs(): Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Live heap in MiB: what the heap pools hold right after a full
    * collection. Spark's context cleaner drops broadcast and cached blocks
    * on its own thread once a collection has found their handles
    * unreachable, so collections repeat until two readings agree. */
  def liveHeapMb(): Double = {
    var last = heapAfterGcMb()
    var attempts = 0
    var settled = false
    while (!settled && attempts < 8) {
      Thread.sleep(250)
      val now = heapAfterGcMb()
      settled = math.abs(now - last) < 1.0
      last = now
      attempts += 1
    }
    last
  }
}

/** Span recorder. Disabled, or outside a traced operation, a call costs
  * one thread-local read; inside one it sets a per-thread Spark job group
  * `sb-<span id>`, which the listeners read back from job and
  * SQL-execution events to attribute jobs, SQL executions, task time and
  * plan row counts. Spans stay in memory until [[finish]]. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong()
  private val all = new ConcurrentLinkedQueue[Span]()
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)

  private val jobs = new ConcurrentHashMap[Int, (Span, Long)]()
  private val stages = new ConcurrentHashMap[Int, Span]()
  private val execs = new ConcurrentHashMap[Long, Span]()

  private def group(s: Span) = s"sb-${s.id}"

  private def spanOfGroup(g: String): Option[Span] =
    Option(g).filter(_.startsWith("sb-")).flatMap(x => Option(byGroup.get(x)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOfGroup(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
        .foreach { s =>
          s.add("jobs", 1)
          jobs.put(e.jobId, (s, e.time))
          e.stageIds.foreach(stages.put(_, s))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (s, t0) => s.addJob(t0, e.time) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).filter(_ => e.taskMetrics != null)
        .foreach(_.add("task_cpu_ms", e.taskMetrics.executorCpuTime / 1e6))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        x.jobGroupId.flatMap(spanOfGroup).foreach { s =>
          s.add("sql_execs", 1)
          execs.put(x.executionId, s)
        }
      case x: SparkListenerSQLExecutionEnd =>
        val qe = finished
        finished = null
        Option(execs.remove(x.executionId)).filter(_ => qe != null)
          .foreach(PlanMetrics.record(qe, _))
      case _ =>
    }
  }

  // The execution-listener bus sits on the same listener queue as
  // `listener` and was registered first (with the session state), so for
  // each SQL execution end the plan listener runs, then `listener` sees
  // the end event with its execution id, on the same thread. The plan
  // listener's QueryExecution carries no execution id; this hand-off
  // pairs the two.
  @volatile private var finished: QueryExecution = null
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      finished = qe
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      finished = null
  }

  if (enabled) {
    spark.listenerManager.register(planListener)
    sc.addSparkListener(listener)
  }

  /** Run `body` as one operation: a root span named `name` when the
    * tracer is enabled and `traced`, nothing otherwise. */
  def op[T](name: String, traced: Boolean = true)(body: => T): T =
    if (!enabled || !traced) body else enter(name, root = true)(_ => body)

  /** Run `body` as a child span of the current operation, if traced. */
  def span[T](name: String)(body: => T): T = spanWith(name)(_ => body)

  /** [[span]] that hands the span to `body` for its own counters. */
  def spanWith[T](name: String)(body: Option[Span] => T): T =
    if (stack.get.isEmpty) body(None) else enter(name, root = false)(s => body(Some(s)))

  private def enter[T](name: String, root: Boolean)(body: Span => T): T = {
    val parents = stack.get
    val id = nextId.incrementAndGet()
    val s = new Span(id, name, if (root) id else parents.head.op,
      parents.headOption.fold(0L)(_.id), Thread.currentThread.getName)
    byGroup.put(group(s), s)
    all.add(s)
    stack.set(s :: parents)
    sc.setJobGroup(group(s), name, interruptOnCancel = false)
    try body(s)
    finally {
      s.close()
      stack.set(parents)
      parents.headOption.fold(sc.clearJobGroup())(p =>
        sc.setJobGroup(group(p), p.name, interruptOnCancel = false))
    }
  }

  /** Wait for the listener bus to deliver every event posted so far,
    * then stop listening and return the spans. */
  def finish(): Seq[Span] = if (!enabled) Nil else {
    org.apache.spark.ServebenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    all.asScala.toSeq.sortBy(_.id)
  }
}

/** Row and byte counts read off an executed physical plan's SQL
  * metrics, summed into the span that ran it:
  *  - `rows_scanned` over every file scan; `vector_rows_scanned` over
  *    scans that decode the `vector` column (the rerank's input),
  *    `sketch_rows_scanned` over scans of `binary_code` (the Hamming
  *    stage's input before the candidate filter);
  *  - for a broadcast join directly fed by such a scan (no other join in
  *    between): its output rows as `vector_rows_kept` (rerank survivors)
  *    or `sketch_rows_kept` (chunks of candidate posts), and for the
  *    latter the broadcast side's rows as `candidate_rows`;
  *  - `bytes_written` over file writes. */
object PlanMetrics {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r) // its child ran once, elsewhere
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, key: String): Double =
    p.metrics.get(key).fold(0.0)(_.value.toDouble)

  private def scans(f: FileSourceScanExec, column: String): Boolean =
    f.output.exists(_.name == column)

  /** Whether a scan of `column` feeds `p` without passing another join. */
  private def fedBy(p: SparkPlan, column: String): Boolean = p match {
    case f: FileSourceScanExec => scans(f, column)
    case _: BroadcastHashJoinExec => false
    case a: AdaptiveSparkPlanExec => fedBy(a.executedPlan, column)
    case q: QueryStageExec => fedBy(q.plan, column)
    case other => other.children.exists(fedBy(_, column))
  }

  private def broadcastRows(p: SparkPlan): Double = nodes(p).collectFirst {
    case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
      metric(b, "numOutputRows")
  }.getOrElse(0.0)

  def record(qe: QueryExecution, s: Span): Unit = nodes(qe.executedPlan).foreach {
    case f: FileSourceScanExec =>
      val rows = metric(f, "numOutputRows")
      s.add("rows_scanned", rows)
      if (scans(f, "vector")) s.add("vector_rows_scanned", rows)
      if (scans(f, "binary_code")) s.add("sketch_rows_scanned", rows)
    case j: BroadcastHashJoinExec =>
      if (j.children.exists(fedBy(_, "vector")))
        s.add("vector_rows_kept", metric(j, "numOutputRows"))
      else if (j.children.exists(fedBy(_, "binary_code"))) {
        s.add("sketch_rows_kept", metric(j, "numOutputRows"))
        j.children.filterNot(fedBy(_, "binary_code"))
          .foreach(c => s.add("candidate_rows", broadcastRows(c)))
      }
    case n =>
      s.add("bytes_written", metric(n, "numOutputBytes"))
  }
}
