package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark listener events use, so harness spans and listener
  * job/stage/task spans nest on one timeline.
  */
final case class Span(id: Long, parent: Long, name: String, t0: Double, t1: Double)

/** Task metrics summed over the tasks of one job group (one op). */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecordsRead = 0L
  var spillBytes = 0L
}

/** What one op (one call into the program) cost and whether it was right.
  * `plans` holds (planning ms, operator row counts) for every query the op
  * ran.
  */
final case class OpRecord(
    id: Long, kind: String, t0: Double, t1: Double, cpuS: Double,
    ok: Boolean, correct: Boolean, error: String,
    io: Map[String, Long], tasks: TaskTotals, plans: Seq[(Double, Seq[PlanRows.Node])],
    values: Map[String, Double] = Map.empty)

/** The harness's measurement core: wall, process CPU and /proc/self/io
  * around every op; a Spark listener that files task metrics under the
  * op's job group; a query-execution listener for planning time; and, in
  * a traced run, spans at every layer boundary the harness calls across.
  */
final class Recorder(spark: SparkSession) {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  import Trace.{nextId, spans}

  private val opSpan = new ConcurrentHashMap[String, java.lang.Long]() // job group -> op span
  private val totals = new ConcurrentHashMap[String, TaskTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSpan = new ConcurrentHashMap[Int, (Long, Long)]() // span id, job span id
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Double)]() // span id, op span id, t0
  private val finished = new ConcurrentLinkedQueue[(Double, QueryExecution)]()

  val ops = mutable.ArrayBuffer.empty[OpRecord]

  def nowMs: Double = Trace.nowMs
  def tracing: Boolean = Trace.on
  def cpuS: Double = osBean.getProcessCpuTime / 1e9

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      val id = nextId.getAndIncrement()
      // a stage belongs to the first job (and op) that lists it
      e.stageIds.foreach { s =>
        stageGroup.putIfAbsent(s, g)
        stageSpan.putIfAbsent(s, (nextId.getAndIncrement(), id))
      }
      jobSpan.put(e.jobId, (id, Option(opSpan.get(g)).map(_.longValue).getOrElse(0L), e.time.toDouble))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) {
      val j = jobSpan.get(e.jobId)
      if (j != null) spans.add(Span(j._1, j._2, "spark.job", j._3, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) {
      val si = e.stageInfo
      val st = stageSpan.get(si.stageId)
      for (s <- si.submissionTime; c <- si.completionTime if st != null)
        spans.add(Span(st._1, st._2, "spark.stage", s.toDouble, c.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = totals.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""), _ => new TaskTotals)
      val m = e.taskMetrics
      val info = e.taskInfo
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.shuffleRecordsRead += m.shuffleReadMetrics.recordsRead
          t.spillBytes += m.diskBytesSpilled
        }
      }
      if (tracing && info != null)
        spans.add(Span(nextId.getAndIncrement(), Option(stageSpan.get(e.stageId)).map(_._1).getOrElse(0L),
          "spark.task", info.launchTime.toDouble, info.finishTime.toDouble))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      finished.add((planMs, qe))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  /** Block until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** One op: a call into the program, timed from the outside, then its
    * output checked. An exception is a failed op; a failed check is a
    * wrong output. Either way the op counts as attempted. The check runs
    * after the clock stops.
    */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val id = nextId.getAndIncrement()
    val group = s"op-$id"
    val sc = spark.sparkContext
    drain()
    finished.clear()
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    opSpan.put(group, id)
    val io0 = ProcIo.read()
    val c0 = cpuS
    val t0 = nowMs
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = nowMs
    val c1 = cpuS
    val io1 = ProcIo.read()
    sc.clearJobGroup()
    if (tracing) spans.add(Span(id, 0L, s"op.$kind", t0, t1))
    drain()
    opSpan.remove(group)
    val io = io1.map { case (k, v) => k -> (v - io0.getOrElse(k, 0L)) }
    val tasks = Option(totals.remove(group)).getOrElse(new TaskTotals)
    val plans = finished.asScala.toSeq.map { case (ms, qe) => (ms, PlanRows.of(qe)) }
    finished.clear()
    pending = Map.empty
    val (ok, wrong, value) = res match {
      case Left(e) =>
        (false, Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"), None)
      case Right(v) =>
        val why = try check(v) catch { case e: Throwable => Some(s"check threw $e") }
        (true, why, Some(v))
    }
    ops += OpRecord(id, kind, t0, t1, c1 - c0, ok, ok && wrong.isEmpty,
      wrong.getOrElse(""), io, tasks, plans, pending)
    wrong.foreach { w =>
      Console.err.println(s"[perfbench] op $kind #$id ${if (ok) "WRONG" else "FAILED"}: ${w.take(400)}")
    }
    value
  }

  private var pending = Map.empty[String, Double]

  /** From an op's check: attach measured values to the op being checked. */
  def annotate(values: (String, Double)*): Unit = pending ++= values
}

/** Process-wide trace state. Spark tasks run in this JVM (local mode), so
  * code inside a task records spans and counts here directly.
  */
object Trace {
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  @volatile var on = false

  def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  /** Run `body` inside a span named after the layer it calls; a plain
    * call when tracing is off. `body` gets the span id for its children.
    */
  def span[T](name: String, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = nextId.getAndIncrement()
      val t0 = nowMs
      try body(id) finally spans.add(Span(id, parent, name, t0, nowMs))
    }

  def count(name: String, delta: Long): Unit =
    if (on) counts.computeIfAbsent(name, _ => new java.util.concurrent.atomic.LongAdder).add(delta)

  def counters: Map[String, Long] = counts.asScala.map { case (k, v) => k -> v.sum }.toMap
  def allSpans: Seq[Span] = spans.asScala.toSeq
}

/** `/proc/self/io` counters: bytes through read/write syscalls (rchar,
  * wchar), syscall counts, and bytes sent to the block layer.
  */
object ProcIo {
  private val keys = Set("rchar", "wchar", "syscr", "syscw", "read_bytes", "write_bytes")
  def read(): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().flatMap { l =>
        val i = l.indexOf(':')
        val k = if (i < 0) "" else l.substring(0, i).trim
        if (keys(k)) Some(k -> l.substring(i + 1).trim.toLong) else None
      }.toMap
      finally src.close()
    } catch { case _: java.io.IOException => Map.empty }
}
