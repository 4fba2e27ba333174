package graft.volume

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

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
}
