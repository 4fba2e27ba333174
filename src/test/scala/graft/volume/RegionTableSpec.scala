package graft.volume

import graft.SparkSpec
import org.apache.spark.TestListenerBus.jobsDuring
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class RegionTableSpec extends AnyFunSuite with SparkSpec {

  private lazy val csvPath = {
    val dir = Files.createTempDirectory("regions")
    val p = dir.resolve("region_ids.csv")
    Files.writeString(p,
      """Region,RegionAbbr,RegionName,Level,Parent
        |15564,mouse,Mus musculus,-1,0
        |15565,NP,neural plate,0,15564
        |15566,F,forebrain,1,15565
        |15857,SP,secondary prosencephalon,2,15566
        |16949,IGrH,internal granular layer of CbHCx,12,15566
        |""".stripMargin)
    p.toString
  }

  private def sc = spark.sparkContext

  /** A fresh region CSV holding `rows` under the reference header. */
  private def csvOf(rows: String*): String = {
    val p = Files.createTempDirectory("regions").resolve("region_ids.csv")
    Files.writeString(p, ("Region,RegionAbbr,RegionName,Level,Parent" +: rows).mkString("", "\n", "\n"))
    p.toString
  }

  private val ids = Seq("15564", "15565", "15566", "15857", "16949", "999")

  /** Each id's answer and the Spark jobs its lookup ran. */
  private def lookups(regions: DataFrame): Seq[(String, Int)] =
    ids.map(id => jobsDuring(sc)(RegionTable.lookupById(regions, id)))

  /** `body` with the session's broadcast threshold at -1, restored after. */
  private def indexOff[T](body: => T): T = {
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "-1")
    try body finally prev.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("CSV scan with explicit schema (S6): head, count (lookup_test.py)") {
    val df = RegionTable.readCsv(spark, csvPath)
    assert(df.count() === 5)
    val head = df.orderBy("Region").collect().head
    assert(head.getLong(0) === 15564L && head.getString(2) === "Mus musculus")
  }

  test("REPL lookup semantics (lookup_by_id.py): validation, hit, miss") {
    val df = RegionTable.readCsv(spark, csvPath)
    assert(RegionTable.lookupById(df, "abc") === "Invalid input: abc")
    assert(RegionTable.lookupById(df, "15857") ===
      "Region 15857: secondary prosencephalon (SP), level 2")
    assert(RegionTable.lookupById(df, "999") === "Unknown region ID: 999")
  }

  test("an all-digit id past Long range names no region, in the lookup and the REPL") {
    val df = RegionTable.readCsv(spark, csvPath)
    val huge = "99999999999999999999"
    assert(RegionTable.lookupById(df, huge) === s"Unknown region ID: $huge")
    val out = Seq.newBuilder[String]
    LookupRepl.loop(df, Iterator(huge, "15857"), out += _)
    assert(out.result() === Seq("Loaded 5 regions.", LookupRepl.Prompt, s"Unknown region ID: $huge",
      LookupRepl.Prompt, "Region 15857: secondary prosencephalon (SP), level 2", "Bye."))
  }

  test("LookupRepl: golden transcript — load, prompt, hit, invalid, miss, quit") {
    val df = RegionTable.readCsv(spark, csvPath)
    val out = Seq.newBuilder[String]
    LookupRepl.loop(df, Iterator("15857", "not-a-number", "999", "", "q", "15564"), out += _)
    assert(out.result() === Seq(
      "Loaded 5 regions.",
      LookupRepl.Prompt,
      "Region 15857: secondary prosencephalon (SP), level 2",
      LookupRepl.Prompt,
      "Invalid input: not-a-number",
      LookupRepl.Prompt,
      "Unknown region ID: 999",
      LookupRepl.Prompt, // blank line re-prompts silently
      LookupRepl.Prompt,
      "Bye.", // 'q' stops before consuming the trailing input
    ))
  }

  test("LookupRepl: end of input closes the loop without a quit command") {
    val df = RegionTable.readCsv(spark, csvPath)
    val out = Seq.newBuilder[String]
    LookupRepl.loop(df, Iterator("15566"), out += _)
    assert(out.result() === Seq(
      "Loaded 5 regions.",
      LookupRepl.Prompt,
      "Region 15566: forebrain (F), level 1",
      "Bye.",
    ))
  }

  test("ancestors walk the Parent tree to the root") {
    val df = RegionTable.readCsv(spark, csvPath)
    assert(RegionTable.ancestors(df, 15857L) === Seq(15566L, 15565L, 15564L))
    assert(RegionTable.ancestors(df, 15564L) === Seq.empty)
  }

  test("ancestors treat an empty Parent cell as the root") {
    val df = RegionTable.readCsv(spark, csvOf("15564,mouse,Mus musculus,-1,", "15565,NP,neural plate,0,15564",
      "15566,F,forebrain,1,15565", "15857,SP,secondary prosencephalon,2,15566"))
    assert(RegionTable.ancestors(df, 15857L) === Seq(15566L, 15565L, 15564L))
    assert(RegionTable.ancestors(df, 15564L) === Seq.empty)
    assert(RegionTable.lookupById(df, "15564") === "Region 15564: Mus musculus (mouse), level -1")
  }

  test("after the first call, lookups on fresh readCsv frames of one file run no Spark job") {
    val path = csvOf("15564,mouse,Mus musculus,-1,0", "15857,SP,secondary prosencephalon,2,15566")
    RegionTable.lookupById(RegionTable.readCsv(spark, path), "15857")
    for ((id, want) <- Seq("15857" -> "Region 15857: secondary prosencephalon (SP), level 2",
        "15564" -> "Region 15564: Mus musculus (mouse), level -1", "999" -> "Unknown region ID: 999")) {
      val (got, jobs) = jobsDuring(sc)(RegionTable.lookupById(RegionTable.readCsv(spark, path), id))
      assert(got === want && jobs === 0, s"$id: $got after $jobs jobs")
    }
  }

  test("a rewritten CSV of another length names the new row on the next call") {
    val path = csvOf("15857,SP,secondary prosencephalon,2,15566")
    assert(RegionTable.lookupById(RegionTable.readCsv(spark, path), "15857") ===
      "Region 15857: secondary prosencephalon (SP), level 2")
    Files.writeString(Paths.get(path),
      "Region,RegionAbbr,RegionName,Level,Parent\n15857,SPr,prosencephalon proper,3,15566\n")
    assert(RegionTable.lookupById(RegionTable.readCsv(spark, path), "15857") ===
      "Region 15857: prosencephalon proper (SPr), level 3")
  }

  test("tables the index does not serve run a job per lookup and answer as the index does") {
    val indexed = lookups(RegionTable.readCsv(spark, csvPath))
    val rows = RegionTable.readCsv(spark, csvPath).collect().toSeq
    val local = lookups(spark.createDataFrame(rows.asJava, RegionTable.schema))
    assert(local === indexed.map(_._1 -> 0), "local rows are indexed without a job")
    val fallbacks = Seq(
      "threshold -1" -> (() => indexOff(lookups(RegionTable.readCsv(spark, csvPath)))),
      "range-derived" -> (() => lookups(spark.range(1).crossJoin(RegionTable.readCsv(spark, csvPath)).drop("id"))),
      "rand()-filtered" -> (() => lookups(RegionTable.readCsv(spark, csvPath).filter(rand() >= 0))))
    for ((name, run) <- fallbacks) {
      val got = run()
      assert(got.map(_._1) === indexed.map(_._1), name)
      assert(got.forall(_._2 > 0), s"$name jobs: ${got.map(_._2)}")
    }
  }

  test("a duplicated id names its first row in file order, on the index and the job path") {
    val path = csvOf("15857,SP,secondary prosencephalon,2,15566", "15857,XX,later duplicate,9,0",
      "15566,F,forebrain,1,15565")
    val want = "Region 15857: secondary prosencephalon (SP), level 2"
    assert(RegionTable.lookupById(RegionTable.readCsv(spark, path), "15857") === want)
    assert(indexOff(RegionTable.lookupById(RegionTable.readCsv(spark, path), "15857")) === want)
  }

  test("an empty Level cell reads null, on the index and the job path") {
    val path = csvOf("5,A,alpha,,0", "6,B,beta,2,5")
    for ((id, want) <- Seq("5" -> "Region 5: alpha (A), level null", "6" -> "Region 6: beta (B), level 2")) {
      assert(RegionTable.lookupById(RegionTable.readCsv(spark, path), id) === want)
      assert(indexOff(RegionTable.lookupById(RegionTable.readCsv(spark, path), id)) === want)
    }
  }

  test("a row with a null Region is ignored") {
    val path = csvOf(",GH,ghost region,4,15566", "15857,SP,secondary prosencephalon,2,15566")
    val df = RegionTable.readCsv(spark, path)
    assert(RegionTable.lookupById(df, "15857") === "Region 15857: secondary prosencephalon (SP), level 2")
    assert(RegionTable.lookupById(df, "0") === "Unknown region ID: 0")
    assert(RegionTable.ancestors(df, 15857L) === Seq(15566L))
  }
}
