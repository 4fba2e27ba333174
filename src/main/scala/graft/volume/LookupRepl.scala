package graft.volume

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's interactive region-lookup REPL (lookup_by_id.py:17–38):
  * a while-loop over stdin — prompt, numeric validation, filter + 3-column
  * projection, formatted hit / miss / invalid-input lines, 'q' to quit.
  * [[RegionTable.lookupById]] supplies the per-query semantics; this is
  * the thin driver loop around it.
  *
  * Usage: graft.volume.LookupRepl <region_csv_or_parquet_path>
  */
object LookupRepl {

  val Prompt = "Enter region ID (or 'q' to quit): "

  /** Run the loop over `inputs` (stdin lines for the CLI, a fixture in
    * tests); emits via `out`. Stops at 'q'/'quit' or end of input.
    */
  def loop(regions: DataFrame, inputs: Iterator[String], out: String => Unit): Unit = {
    out(s"Loaded ${regions.count()} regions.")
    var done = false
    while (!done && inputs.hasNext) {
      out(Prompt)
      val line = inputs.next().trim
      if (line == "q" || line == "quit") {
        out("Bye.")
        done = true
      } else if (line.nonEmpty) {
        out(RegionTable.lookupById(regions, line))
      }
    }
    if (!done) out("Bye.")
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 1, "usage: LookupRepl <region_csv_or_parquet>")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val regions =
        if (argv(0).endsWith(".csv")) RegionTable.readCsv(spark, argv(0))
        else spark.read.parquet(argv(0))
      val stdin = Iterator.continually(scala.io.StdIn.readLine()).takeWhile(_ != null)
      loop(regions, stdin, println(_))
    } finally spark.stop()
  }
}
