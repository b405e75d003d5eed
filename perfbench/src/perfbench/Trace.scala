package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark task and stage counters, summed since the listener was added. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, runMs: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
}

final class CountingListener extends SparkListener {
  private var c = Counters()
  private val stageIntervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    c = c.copy(stages = c.stages + 1)
    for (s <- i.submissionTime; t <- i.completionTime) stageIntervals += ((s, t))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(tasks = c.tasks + 1, runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime, gcMs = c.gcMs + m.jvmGCTime,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.diskBytesSpilled)
  }
  def snapshot: Counters = synchronized(c)

  /** Wall milliseconds in [from, to) during which at least one stage ran. */
  def stageBusyMs(from: Long, to: Long): Long = synchronized {
    val clipped = stageIntervals.iterator
      .map { case (s, t) => (math.max(s, from), math.min(t, to)) }
      .filter { case (s, t) => t > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    for ((s, t) <- clipped) {
      if (s >= end) busy += t - s
      else if (t > end) busy += t - end
      end = math.max(end, t)
    }
    busy
  }
}

/** Exchange and Sort nodes of physical plans, with their SQL metrics. */
final case class PlanStats(exchanges: Int = 0, sorts: Int = 0, exchangeWriteNs: Long = 0,
    sortMs: Long = 0, sortPeakBytes: Long = 0, rddScans: Int = 0) {
  def +(o: PlanStats): PlanStats = PlanStats(exchanges + o.exchanges, sorts + o.sorts,
    exchangeWriteNs + o.exchangeWriteNs, sortMs + o.sortMs,
    math.max(sortPeakBytes, o.sortPeakBytes), rddScans + o.rddScans)
}

object PlanStats {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, key: String): Long = p.metrics.get(key).map(_.value).getOrElse(0L)

  def of(p: SparkPlan): PlanStats = nodes(p).foldLeft(PlanStats()) {
    case (s, e: ShuffleExchangeExec) =>
      s.copy(exchanges = s.exchanges + 1, exchangeWriteNs = s.exchangeWriteNs + metric(e, "shuffleWriteTime"))
    case (s, e: SortExec) =>
      s.copy(sorts = s.sorts + 1, sortMs = s.sortMs + metric(e, "sortTime"),
        sortPeakBytes = math.max(s.sortPeakBytes, metric(e, "peakMemory")))
    case (s, e) if e.getClass.getSimpleName.endsWith("RDDScanExec") => s.copy(rddScans = s.rddScans + 1)
    case (s, _) => s
  }
}

/** One timed call into a layer. `executed` holds the SQL metrics of the
  * plans Spark ran inside the span; `shape` holds the Exchange/Sort counts of
  * the Dataset the span produced (see [[Tracer.shape]]). */
final case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, counters: Counters, executed: PlanStats, shape: PlanStats) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the library. Inactive
  * (every method is a pass-through) unless a traced pass is running, so the
  * end-to-end passes carry no listener, no bus drains and no plan walks. */
final class Tracer(spark: SparkSession) {
  private val listener = new CountingListener
  private val executedPlans = ArrayBuffer.empty[SparkPlan]
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executedPlans.synchronized { executedPlans += qe.executedPlan; () }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private var installed = false
  private var active = false
  private var stack = List.empty[Int]
  private var nextId = 0
  private val shapes = scala.collection.mutable.Map.empty[Int, PlanStats]
  val spans = ArrayBuffer.empty[Span]
  var pass = 0

  /** Turn tracing on for the passes that follow (listeners are added once). */
  def setActive(on: Boolean): Unit = {
    if (on && !installed) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      installed = true
    }
    active = on
  }

  def drain(): Unit = if (active) ListenerBusAccess.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      drain()
      val c0 = listener.snapshot
      val p0 = executedPlans.synchronized(executedPlans.size)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack ::= id
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        stack = stack.tail
        drain()
        val plans = executedPlans.synchronized(executedPlans.slice(p0, executedPlans.size).toList)
        spans += Span(id, name, parent, pass, t0, t1, w0, w1, listener.snapshot - c0,
          plans.map(PlanStats.of).foldLeft(PlanStats())(_ + _), shapes.remove(id).getOrElse(PlanStats()))
      }
    }

  /** Count the Exchange and Sort nodes of `out`'s plan into the open span.
    * When that plan reads an RDD (the narrow zip paths build their result
    * from `Dataset.rdd`), the plans feeding the RDD are invisible to Spark's
    * SQL metrics; `lineage` names the Datasets the caller built that RDD
    * from, and their nodes are counted instead. */
  def shape(out: Dataset[_], lineage: Dataset[_]*): Unit = if (active && stack.nonEmpty) {
    val own = PlanStats.of(out.queryExecution.executedPlan)
    val hidden =
      if (own.rddScans == 0) PlanStats()
      else lineage.map(d => PlanStats.of(d.queryExecution.executedPlan)).foldLeft(PlanStats())(_ + _)
    shapes(stack.head) = shapes.getOrElse(stack.head, PlanStats()) + own + hidden
  }

  def stageBusyMs(from: Long, to: Long): Long = listener.stageBusyMs(from, to)
}

/** Host contention around a pass: CPU steal share and the 1-minute load. */
object Host {
  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    catch { case _: Exception => "" }

  /** (steal ticks, total ticks) over all CPUs since boot; (0, 0) if unreadable. */
  def cpuTicks(): (Long, Long) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(line) =>
        val f = line.trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      case None => (0L, 0L)
    }

  def load1(): Double = read("/proc/loadavg").trim.split("\\s+").headOption
    .flatMap(_.toDoubleOption).getOrElse(0.0)
}
