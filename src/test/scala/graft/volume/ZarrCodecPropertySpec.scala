package graft.volume

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the zarr codec kernels: every codec round-trips
  * arbitrary payloads, byte-swap is an involution, and the blosc
  * container survives arbitrary (payload, typesize, shuffle) choices.
  */
class ZarrCodecPropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, res.status.toString)
  }

  private val payloads: Gen[Array[Byte]] =
    Gen.chooseNum(1, 1 << 16).flatMap { n =>
      Gen.oneOf(
        // compressible (repetitive) and incompressible (random) payloads
        Gen.const(Array.tabulate[Byte](n)(i => (i % 17).toByte)),
        Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      )
    }

  test("raw/zlib/zstd/lz4 codecs round-trip arbitrary payloads") {
    check(Prop.forAll(payloads, Gen.oneOf(0, 1, 2, 3)) { (data: Array[Byte], c: Int) =>
      val codec: ZarrStore.Codec = c match {
        case 0 => ZarrStore.Raw
        case 1 => ZarrStore.Zlib(1)
        case 2 => ZarrStore.ZstdCodec(1)
        case _ => ZarrStore.Lz4Codec()
      }
      java.util.Arrays.equals(codec.decompress(codec.compress(data), data.length), data)
    })
  }

  test("blosc container round-trips for every (typesize, shuffle, inner codec)") {
    check(Prop.forAll(
      payloads, Gen.oneOf(1, 2, 3, 4, 8), Gen.oneOf(-1, 0, 1, 2),
      Gen.oneOf("zstd", "zlib", "lz4")) {
      (data: Array[Byte], t: Int, sh: Int, cname: String) =>
        val codec = ZarrStore.BloscCodec(cname, 1, sh, typesize = t)
        java.util.Arrays.equals(codec.decompress(codec.compress(data), data.length), data)
    })
  }

  test("bitshuffle is inverted by bitunshuffle for every typesize, ragged tails included") {
    check(Prop.forAll(payloads, Gen.oneOf(1, 2, 3, 4, 5, 8)) { (data: Array[Byte], t: Int) =>
      val fwd = ZarrStore.BitShuffle.shuffle(data, 0, data.length, t)
      java.util.Arrays.equals(ZarrStore.BitShuffle.unshuffle(fwd, data.length, t), data)
    })
  }

  test("byteSwap is an involution for every element width") {
    check(Prop.forAll(payloads, Gen.oneOf(1, 2, 4, 8)) { (data: Array[Byte], t: Int) =>
      val aligned = java.util.Arrays.copyOf(data, data.length - data.length % t max t)
      val once = aligned.clone()
      ChunkKernels.swapEndianInPlace(once, t)
      val twice = once.clone()
      ChunkKernels.swapEndianInPlace(twice, t)
      java.util.Arrays.equals(twice, aligned) &&
        (t == 1 || aligned.length < t || !java.util.Arrays.equals(once, aligned) ||
          aligned.grouped(t).forall(g => g.toSeq == g.reverse.toSeq))
    })
  }
}
