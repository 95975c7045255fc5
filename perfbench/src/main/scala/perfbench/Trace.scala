package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock with nanosecond resolution, aligned to epoch milliseconds so
  * spans line up with the millisecond timestamps Spark puts on listener
  * events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, t0: Double, var t1: Double,
    attrs: mutable.Map[String, Any])

/** In-memory span recorder. Spans are opened and closed at the benchmark's
  * own call boundaries (workload → round → epoch/trigger or read op) and
  * written out once the run ends.
  */
final class Spans(val runId: String) {
  private val all = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def apply[A](name: String, attrs: (String, Any)*)(f: => A): A = {
    val s = open(name, attrs: _*)
    try f finally close(s)
  }

  def open(name: String, attrs: (String, Any)*): Span = {
    val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name, Clock.nowMs, -1.0,
      mutable.Map(attrs: _*))
    all += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.t1 = Clock.nowMs
    stack = stack.dropWhile(_.id != s.id).drop(1)
  }

  /** A span whose interval was measured elsewhere (stream triggers). */
  def add(name: String, parent: Span, t0: Double, t1: Double, attrs: (String, Any)*): Unit =
    all += Span(all.size, parent.id, name, t0, t1, mutable.Map(attrs: _*))

  def seconds(s: Span): Double = (s.t1 - s.t0) / 1000.0

  def records: Seq[Map[String, Any]] = all.toSeq.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1,
      "run" -> runId) ++ s.attrs)
}

/** Streaming progress: the per-trigger `durationMs` breakdown Structured
  * Streaming reports. Registered on every hot_stream run, traced or not —
  * it is how trigger wall time is read from outside the engine.
  */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    events.add(Map("run_id" -> p.runId.toString, "batch" -> p.batchId, "t0" -> start,
      "rows" -> p.numInputRows, "duration_ms" -> d))
  }
  def drain(): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    while (!events.isEmpty) out += events.poll()
    out.toSeq
  }
}

/** The traced run's listener: one record per SQL action (function name,
  * start, end, duration, write path, and the enclosing action when nested)
  * from Spark's SQL execution start/end events — the same events, with the
  * same function name, duration and QueryExecution, that feed
  * `QueryExecutionListener`s — plus per-stage task metrics keyed by the SQL
  * execution that ran them. Attribution to spans happens afterwards, by
  * interval (see metrics.py).
  */
final class Tracer(spark: SparkSession) {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Long)]()
  val actions = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageExec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def writePath(qe: QueryExecution): String =
    if (qe == null) ""
    else Iterator(qe.logical, qe.commandExecuted).flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }).nextOption().getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val ex = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      j.stageIds.foreach(s => stageExec.put(s, ex))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      taskMs.computeIfAbsent(t.stageId, _ => mutable.ArrayBuffer[Long]()) += t.taskInfo.duration
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      val ts = Option(taskMs.remove(i.stageId)).map(_.sorted).getOrElse(mutable.ArrayBuffer[Long]())
      stages.add(Map(
        "stage" -> i.stageId, "exec" -> stageExec.getOrDefault(i.stageId, -1L),
        "t0" -> i.submissionTime.getOrElse(0L).toDouble,
        "t1" -> i.completionTime.getOrElse(0L).toDouble,
        "tasks" -> i.numTasks,
        "task_ms_max" -> ts.lastOption.getOrElse(0L),
        "task_ms_median" -> (if (ts.isEmpty) 0L else ts(ts.size / 2)),
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        starts.put(s.executionId, (s.time.toDouble, s.rootExecutionId.getOrElse(-1L)))
      case s: SparkListenerSQLExecutionEnd =>
        val (t0, root) = Option(starts.remove(s.executionId)).getOrElse((s.time.toDouble, -1L))
        val (func, durNs, qe) = SparkAccess.endInfo(s)
        actions.add(Map("exec" -> s.executionId, "root" -> root, "func" -> func,
          "t0" -> t0, "t1" -> s.time.toDouble, "dur_ms" -> durNs / 1e6, "path" -> writePath(qe),
          "ok" -> s.errorMessage.forall(_.isEmpty)))
      case _ =>
    }
  }

  def start(): Unit = spark.sparkContext.addSparkListener(listener)

  def stop(): Unit = {
    SparkAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }
}

/** JVM and host evidence around the timed window. Recorded only: no run is
  * dropped, re-run or weighted by it.
  */
final class HostSample {
  private def procStat: Array[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
  } catch { case _: Exception => Array.fill(8)(0L) }
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private val stat0 = procStat
  private val gc0 = gcMs
  heapPools.foreach(_.resetPeakUsage())

  /** Deltas since construction. /proc/stat fields: user nice system idle
    * iowait irq softirq steal, in clock ticks (USER_HZ = 100).
    */
  def finish(): Map[String, Any] = {
    val d = procStat.zipAll(stat0, 0L, 0L).map { case (a, b) => a - b }
    def f(i: Int) = if (i < d.length) d(i) else 0L
    val total = d.take(8).sum.max(1L)
    Map("steal_share" -> f(7).toDouble / total,
      "steal_s" -> f(7) / 100.0,
      "sys_over_user" -> f(2).toDouble / math.max(1L, f(0) + f(1)),
      "gc_s" -> (gcMs - gc0) / 1000.0,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}
