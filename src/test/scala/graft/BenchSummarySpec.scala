package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.scalatest.funsuite.AnyFunSuite

/** Pins `Bench.totalSummary`, the final stdout line of `graft.Bench`. The
  * bench's stdout reader json-parses only the last 2,000 chars, so the
  * line must parse whole and stay under that bound however badly a run
  * went.
  */
class BenchSummarySpec extends AnyFunSuite {

  private val headlineNames = Seq(
    "vol_atlas_upscale_x2_cold", "vol_atlas_upscale_x2", "vol_atlas_upscale_x2_zarr",
    "vol_atlas_upscale_x2_zarr_bit", "vol_atlas_upscale_x15", "vol_atlas_upscale_x15_zarr",
    "vol_atlas_upscale_x15_zarr3s")

  /** VolumeBench.run-shaped entries: three samples plus a median per
    * headline, disk probes, and both blocks retried with their poisoned
    * first attempts stashed.
    */
  private def volumeEntries(secs: Double): Seq[(String, Double)] =
    headlineNames.flatMap(n => (1 to 3).map(i => s"${n}_run$i" -> secs) :+ (n -> secs)) ++
      Seq("vol_disk_probe_pre", "vol_disk_probe_mid", "vol_disk_probe_post").map(_ -> secs) ++
      Seq("x2", "x15").flatMap { b =>
        Seq(s"vol_retry_${b}_try1_vol_atlas_upscale_${b}_run1" -> secs,
          s"vol_retry_${b}_try1_probe_pre" -> secs, s"vol_retry_$b" -> 1.0)
      }

  private val requiredKeys = Seq(
    "total", "n_queries", "n_failed", "agg", "elapsed_sec", "deadline_degraded",
    "deadline_skipped", "plan_pins_ok", "shape_pins_ok", "scale_curve_ok",
    "plan_pins_failed", "shape_pins_failed", "headlines", "vol_retry_x2", "vol_retry_x15")

  private def parse(line: String): Map[String, JValue] =
    JsonMethods.parse(line) match {
      case JObject(fields) => fields.toMap
      case other => fail(s"not a JSON object: $other")
    }

  test("worst case: every pin fails, every query degraded, every headline and retry flag set") {
    val nQueries = SparkEntry.allQs.size
    val line = Bench.totalSummary(
      total = 123456.789012345, agg = "vol_median_of_1000_rel_min_of_2",
      nQueries = nQueries, nFailed = nQueries, elapsedSec = 99999.987654,
      nDegraded = nQueries, nSkipped = 4,
      planPinsFailed = graft.plans.PlanAudit.pinnedExchanges.size,
      shapePinsFailed = graft.plans.PlanAudit.pinnedShapes.size,
      scaleCurveOk = false, volume = volumeEntries(123456.789012345))
    assert(line.length <= 2000, s"${line.length} chars: $line")
    assert(!line.contains('\n'))
    val j = parse(line)
    assert(j("metric") === JString("total_summary"))
    assert(j("plan_pins_ok") === JBool(false) && j("shape_pins_ok") === JBool(false))
    assert(j("plan_pins_failed") === JInt(graft.plans.PlanAudit.pinnedExchanges.size))
    assert(j("shape_pins_failed") === JInt(graft.plans.PlanAudit.pinnedShapes.size))
    assert(j("deadline_degraded") === JInt(nQueries))
    // medians only: no _runN samples, no probes, no stashed retry attempts
    val JObject(headlines) = j("headlines")
    assert(headlines.map(_._1).toSet === headlineNames.toSet)
    assert(j.keySet.filter(_.startsWith("vol_")) === Set("vol_retry_x2", "vol_retry_x15"))
    assert(!line.contains("_run1") && !line.contains("probe"))
  }

  test("the line carries every summary key") {
    val j = parse(Bench.totalSummary(12.5, "vol_median_of_3_rel_min_of_2", nQueries = 282,
      nFailed = 0, elapsedSec = 1500.04, nDegraded = 0, nSkipped = 0, planPinsFailed = 0,
      shapePinsFailed = 0, scaleCurveOk = true, volume = volumeEntries(1.0)))
    requiredKeys.foreach(k => assert(j.contains(k), s"missing $k"))
    assert(j("n_queries") === JInt(282) && j("agg") === JString("vol_median_of_3_rel_min_of_2"))
  }

  test("a passing run reports zero failing pins") {
    val j = parse(Bench.totalSummary(12.5, "vol_median_of_3_rel_min_of_2", nQueries = 10,
      nFailed = 0, elapsedSec = 60.0, nDegraded = 0, nSkipped = 0, planPinsFailed = 0,
      shapePinsFailed = 0, scaleCurveOk = true, volume = Seq("vol_atlas_upscale_x2" -> 0.8765432)))
    assert(j("plan_pins_failed") === JInt(0) && j("shape_pins_failed") === JInt(0))
    assert(j("plan_pins_ok") === JBool(true) && j("shape_pins_ok") === JBool(true))
    assert(j("scale_curve_ok") === JBool(true) && j("n_failed") === JInt(0))
    assert(j("headlines") === JObject("vol_atlas_upscale_x2" -> JDouble(0.877)))
  }
}
