package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** A benchmark workload: seeded inputs, a set-up that builds them, and a
  * closed loop of passes (one client; the next pass starts when the last
  * one returned). Every call into the program goes through `rec.op`.
  */
trait Workload {
  /** Build the workload's inputs from the seed, replacing any earlier
    * build. Timed several times per run; the median is `setup_s`.
    */
  def setup(): Unit

  /** Untimed: fill caches, JIT and lazy state; compute references. */
  def warmup(): Unit

  /** One pass of the closed loop. */
  def pass(i: Int): Unit

  /** Ops that run once per run after the timed window. */
  def afterWindow(): Unit = ()

  /** Traced run only: the per-layer pass over the workload's own data. */
  def layerPass(): Unit = ()

  /** Extra per-run values (counts, verdicts) for the result file. */
  def values: Map[String, Double] = Map.empty
}

/** Recursive delete of a harness-owned directory. */
object Tree {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

object Session {
  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftSessionExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
