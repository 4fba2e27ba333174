package graft.volume

import org.scalatest.funsuite.AnyFunSuite

/** `VolumeBench.median`, the headline aggregation rule, for every rep
  * count `SPARK_GRAFT_BENCH_REPS` accepts (any value ≥ 1).
  */
class VolumeBenchMedianSpec extends AnyFunSuite {

  test("median of 1, 2, 3 and 4 samples; even counts average the middle two") {
    assert(VolumeBench.median(Seq(7.0)) === 7.0)
    assert(VolumeBench.median(Seq(9.0, 3.0)) === 6.0)
    assert(VolumeBench.median(Seq(5.0, 1.0, 3.0)) === 3.0)
    assert(VolumeBench.median(Seq(10.0, 2.0, 4.0, 1.0)) === 3.0)
  }
}
