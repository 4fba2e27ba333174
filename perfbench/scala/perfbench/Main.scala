package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

/** One benchmark run in one JVM: start Spark, build the workload's inputs
  * `SetupReps` times, warm up, run the closed loop for the window, run
  * the once-per-run ops, and write every raw measurement to `--out` as
  * JSON. Metrics are computed from that file by perfbench/run.py.
  *
  * A traced run splits the window in two halves, untraced then traced,
  * so the tracing overhead is measured within the run, and ends with the
  * workload's layer pass.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out"))

    val spark = Session.start(cores, work)
    val sessionStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val rec = new Recorder(spark)
    try {
      val w: Workload = workload match {
        case "atlas_x15_zarr" => new X15Zarr(spark, rec, work, seed)
        case "atlas_x2_readback" => new X2Readback(spark, rec, work, seed)
        case "doc_dedup_mix" => new DedupMix(spark, rec, work, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setups = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - t0) / 1e9
      }
      val phase = scala.collection.mutable.Map.empty[Long, String]
      def mark(p: String): Unit = rec.ops.foreach(o => phase.getOrElseUpdate(o.id, p))
      w.warmup()
      mark("warmup")

      // closed loop: passes until the window is spent (the last pass ends it)
      val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
      def window(secs: Double, tracedHalf: Boolean): Unit = {
        Trace.on = tracedHalf
        val end = rec.nowMs + secs * 1e3
        var i = passes.size
        while (rec.nowMs < end || passes.count(_._3 == tracedHalf) == 0) {
          val t0 = rec.nowMs
          w.pass(i)
          passes += ((t0, rec.nowMs, tracedHalf))
          i += 1
        }
        Trace.on = false
      }
      if (traced) { window(seconds / 2, tracedHalf = false); window(seconds / 2, tracedHalf = true) }
      else window(seconds, tracedHalf = false)
      mark("window")
      w.afterWindow()
      mark("after")
      if (traced) {
        Trace.on = true
        w.layerPass()
        Trace.on = false
        rec.drain()
      }

      val sb = new StringBuilder
      sb ++= "{"
      sb ++= s""""workload": ${Json.str(workload)}, "seed": $seed, "cores": $cores, """
      sb ++= s""""session_start_s": $sessionStartS, "setup_s": ${setups.mkString("[", ", ", "]")}, """
      sb ++= s""""passes": ${passes.map { case (t0, t1, tr) =>
        s"""{"t0": $t0, "t1": $t1, "traced": $tr}""" }.mkString("[", ", ", "]")}, """
      sb ++= s""""ops": ${rec.ops.map(o => Json.op(o, phase.getOrElse(o.id, "after"),
        passes.exists(p => p._3 && p._1 <= o.t0 && o.t1 <= p._2))).mkString("[\n", ",\n", "]")}, """
      sb ++= s""""values": ${Json.obj(w.values ++ Trace.counters.map { case (k, v) => k -> v.toDouble })}, """
      sb ++= s""""spans": ${Trace.allSpans.map(s =>
        s"[${s.id}, ${s.parent}, ${Json.str(s.name)}, ${s.t0}, ${s.t1}]").mkString("[\n", ",\n", "]")}"""
      sb ++= "}\n"
      Files.writeString(out, sb.toString)
    } finally spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")

  def op(o: OpRecord, phase: String, traced: Boolean): String = {
    val t = o.tasks
    val tasks = obj(Map(
      "tasks" -> t.tasks, "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
      "sched_delay_ms" -> t.schedDelayMs, "shuffle_write_bytes" -> t.shuffleWriteBytes,
      "shuffle_read_bytes" -> t.shuffleReadBytes, "shuffle_records_read" -> t.shuffleRecordsRead,
      "spill_bytes" -> t.spillBytes).map { case (k, v) => k -> v.toDouble })
    val plans = o.plans.map { case (ms, nodes) =>
      s"""{"plan_ms": $ms, "nodes": ${nodes.map(n =>
        s"[${str(n.name)}, ${n.rows}, ${n.postings}]").mkString("[", ", ", "]")}}"""
    }.mkString("[", ", ", "]")
    s"""{"id": ${o.id}, "kind": ${str(o.kind)}, "phase": ${str(phase)}, "traced": $traced, """ +
      s""""t0": ${o.t0}, "t1": ${o.t1}, "cpu_s": ${o.cpuS}, "ok": ${o.ok}, "correct": ${o.correct}, """ +
      s""""error": ${str(o.error)}, "io": ${obj(o.io.map { case (k, v) => k -> v.toDouble })}, """ +
      s""""tasks": $tasks, "values": ${obj(o.values)}, "plans": $plans}"""
  }
}
