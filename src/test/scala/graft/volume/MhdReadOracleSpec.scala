package graft.volume

import java.nio.file.Files

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** `MhdReader` against the fixture's analytic value, voxel by voxel. The
  * composed and fused upscale plans share the reader's positioned reads,
  * so comparing them with each other cannot catch a read defect; this
  * oracle decodes the chunk bytes itself and shares no code with the
  * reader. The chunk shapes hit each read case — full plane, full-x rows
  * and general row runs — on a grid that is ragged on every axis.
  */
class MhdReadOracleSpec extends AnyFunSuite with SparkSpec {

  // 13 = 2·5 + 3, 10 = 2·4 + 2, 12 = 2·5 + 2
  private val (dz, dy, dx) = (13, 10, 12)
  private val shapes = Seq(
    "full plane" -> (5, dy, dx),
    "full-x rows" -> (5, 4, dx),
    "general row runs" -> (5, 4, 5))

  private def decode(data: Array[Byte], i: Int, bpp: Int): Long =
    (0 until bpp).map(b => (data(i * bpp + b) & 0xffL) << (8 * b)).sum

  /** Every voxel of `vol`, at ×s, equals the analytic source value. */
  private def assertAnalytic(vol: ChunkVolume, s: Int, bpp: Int, what: String): Unit = {
    val chunks = vol.chunks.collect()
    assert(chunks.map(c => c.nz.toLong * c.ny * c.nx).sum === dz.toLong * dy * dx * s * s * s,
      s"$what: voxel count")
    for (c <- chunks; z <- 0 until c.nz; y <- 0 until c.ny; x <- 0 until c.nx) {
      val (gz, gy, gx) = (c.z0 + z, c.y0 + y, c.x0 + x)
      assert(decode(c.data, (z * c.ny + y) * c.nx + x, bpp) ===
        MhdFixture.value(gz / s, gy / s, gx / s, bpp), s"$what: voxel ($gz,$gy,$gx)")
    }
  }

  test("read and readUpscaled equal the analytic fixture: every read case, LE uint32, MSB uint16") {
    for ((et, bpp, msb) <- Seq(("MET_UINT", 4, false), ("MET_USHORT", 2, true))) {
      val mhd = MhdMeta.parse(
        MhdFixture.write(Files.createTempDirectory("oracle"), dz, dy, dx, et, bpp, msb))
      for ((name, (cz, cy, cx)) <- shapes) {
        val what = s"$et msb=$msb $name ($cz,$cy,$cx)"
        val vol = MhdReader.read(spark, mhd, cz, cy, cx)
        assert((vol.meta.ncz, vol.meta.ncy, vol.meta.ncx) ===
          (((dz + cz - 1) / cz, (dy + cy - 1) / cy, (dx + cx - 1) / cx)))
        assertAnalytic(vol, 1, bpp, what)
        // slab reads start mid-chunk: s = 3 splits each 5-plane chunk
        assertAnalytic(MhdReader.readUpscaled(spark, mhd, cz, cy, cx, 3), 3, bpp, s"$what x3")
      }
    }
  }

  test("read partitions follow the unit-count rule") {
    val mhd = MhdMeta.parse(
      MhdFixture.write(Files.createTempDirectory("oracle_parts"), dz, dy, dx, "MET_UINT", 4, msb = false))
    val cap = 32 * spark.sparkContext.defaultParallelism
    // 3·3·3 = 27 chunks, below the cap: one partition per chunk
    assert(MhdReader.read(spark, mhd, 5, 4, 5).chunks.rdd.getNumPartitions === 27)
    // 13·10·3 = 390 chunks, above the cap: capped
    assert(390 > cap)
    assert(MhdReader.read(spark, mhd, 1, 1, 5).chunks.rdd.getNumPartitions === cap)
  }
}
