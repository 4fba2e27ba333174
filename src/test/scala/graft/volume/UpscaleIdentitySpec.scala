package graft.volume

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one MHD upscale plan (`MhdReader.readUpscaled`, "fused") and
  * the shared-buffer kernel (`reuseChildBuffers = true`) to the composed,
  * allocating `read(...).upscale(s)`:
  *   1. kernel — reused children equal allocated ones, in one buffer;
  *   2. child sets — fused equals composed on ragged grids, several
  *      scales (incl. s > nz), dtypes and byte orders;
  *   3. stores — every sink writes byte-identical stores for the four
  *      variants, which also proves the object chain between the kernel
  *      and the foreachPartition writers never retains a shared child
  *      (retention would repeat the last child's bytes across files);
  *   4. task units — the fused plan is nChunks·s-grained.
  */
class UpscaleIdentitySpec extends AnyFunSuite with SparkSpec {
  import UpscaleIdentitySpec._

  test("kernel: reused children equal allocated ones and share one buffer") {
    val (nz, ny, nx, bpp, s) = (2, 5, 4, 4, 3)
    val data = Array.tabulate(nz * ny * nx * bpp)(i => ((i * 31 + 5) % 251).toByte)
    def kernel(reuse: Boolean) =
      ChunkKernels.upscaleChildrenSlab(data, 0, nz, ny, nx, bpp, s, iLo = 0, iHi = s, reuse = reuse)
    val plain = kernel(reuse = false).toSeq
    // consumed with an immediate copy, per the reuse contract
    val reused = kernel(reuse = true).map { case (i, j, k, d) => (i, j, k, d.clone()) }.toSeq
    assert(plain.map(t => (t._1, t._2, t._3)) === reused.map(t => (t._1, t._2, t._3)))
    plain.zip(reused).foreach { case ((i, j, k, p), (_, _, _, r)) =>
      assert(java.util.Arrays.equals(p, r), s"child ($i,$j,$k) differs")
    }
    val raw = kernel(reuse = true).map(_._4).toSeq
    assert(raw.tail.forall(_ eq raw.head), "reusing form must emit one shared buffer")
  }

  test("child sets: fused = composed, ragged grid, s = 2, 3, 7, LE and MSB") {
    for {
      (et, bpp, msb) <- Seq(("MET_UINT", 4, false), ("MET_USHORT", 2, true))
      s <- Seq(2, 3, 7) // 7 > chunkZ=5: several children share one source row
    } {
      val dir = Files.createTempDirectory("slab")
      // ragged on every axis: 13 = 2·5 + 3, 10 = 2·4 + 2, 12 = 2·5 + 2
      val mhd = MhdMeta.parse(MhdFixture.write(dir, 13, 10, 12, et, bpp, msb))
      val composed = MhdReader.read(spark, mhd, 5, 4, 5).upscale(s)
      val fused = MhdReader.readUpscaled(spark, mhd, 5, 4, 5, s)
      assertSameChildren(composed, fused)
    }
  }

  // divisible dims (the zarr sinks require a uniform child grid), chunked
  // on every axis: 6 = 3·2, 8 = 2·4
  private lazy val storeMhd =
    MhdMeta.parse(MhdFixture.write(Files.createTempDirectory("ident"), 6, 8, 8, "MET_UINT", 4, msb = false))

  /** The four ×3 variants; composed-allocating first, the reference. */
  private def variants: Seq[(String, ChunkVolume)] = Seq(
    "composed-allocating" -> MhdReader.read(spark, storeMhd, 2, 4, 4).upscale(3),
    "composed-reusing" -> MhdReader.read(spark, storeMhd, 2, 4, 4).upscale(3, reuseChildBuffers = true),
    "fused-reusing" -> MhdReader.readUpscaled(spark, storeMhd, 2, 4, 4, 3, reuseChildBuffers = true),
    "fused-allocating" -> MhdReader.readUpscaled(spark, storeMhd, 2, 4, 4, 3))

  /** Write every variant with `write` and compare each to the reference. */
  private def assertSinkIdentity(name: String, chunkFilesOnly: Boolean)(
      write: (ChunkVolume, String) => Unit): Seq[Path] = {
    val base = Files.createTempDirectory(name)
    val paths = variants.map { case (label, vol) =>
      val p = base.resolve(label)
      write(vol, p.toString)
      p
    }
    paths.tail.foreach(p => assertSameStore(paths.head, p, chunkFilesOnly))
    paths
  }

  test("internal chunk store: four upscale variants, identical stores") {
    val paths = assertSinkIdentity("ident_gcs", chunkFilesOnly = true)((v, p) => ChunkStore.write(v, p))
    val voxels = paths.map(p => ChunkStore.read(spark, p.toString).toVoxels.collect().map(_.toString).sorted.toSeq)
    voxels.tail.foreach(v => assert(v === voxels.head))
  }

  test("zarr v2 blosc sink: four upscale variants, identical chunk files") {
    val codec = ZarrStore.BloscCodec("zstd", 3, shuffle = 1)
    assertSinkIdentity("ident_zarr", chunkFilesOnly = false)((v, p) => ZarrStore.write(v, p, codec))
  }

  test("zarr v3 sharded sink: four upscale variants, identical shard files") {
    val codec = ZarrStore.BloscCodec("zstd", 3, shuffle = 1)
    assertSinkIdentity("ident_zarr3", chunkFilesOnly = false)((v, p) =>
      Zarr3Store.writeSharded(v, p, innerShape = (1, 2, 2), codec = codec))
  }

  test("task units: 3 chunks at s = 3 plan 9 partitions") {
    val mhd = MhdMeta.parse(
      MhdFixture.write(Files.createTempDirectory("slab_parts"), 6, 8, 8, "MET_UINT", 4, msb = false))
    // 3 chunks × s=3 = 9 units; below the 32×parallelism cap → 9 partitions
    assert(MhdReader.readUpscaled(spark, mhd, 2, 8, 8, 3).chunks.rdd.getNumPartitions === 9)
  }
}

object UpscaleIdentitySpec {

  def walkFiles(root: Path): Map[String, Array[Byte]] = {
    val it = Files.walk(root)
    try it.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p)).toMap
    finally it.close()
  }

  /** Byte-compare two stores file by file; `chunkFilesOnly` skips the
    * metadata documents (their provenance may differ).
    */
  def assertSameStore(a: Path, b: Path, chunkFilesOnly: Boolean): Unit = {
    val (fa, fb) = (walkFiles(a), walkFiles(b))
    val keep: String => Boolean =
      if (chunkFilesOnly) n => n.matches(".*\\d+[./]\\d+[./]\\d+$") else _ => true
    val (ka, kb) = (fa.keySet.filter(keep), fb.keySet.filter(keep))
    assert(ka === kb, s"file sets differ: $a vs $b")
    assert(ka.nonEmpty, "no files compared")
    ka.foreach { n =>
      assert(java.util.Arrays.equals(fa(n), fb(n)), s"file $n differs: $a vs $b")
    }
  }

  def assertSameChildren(a: ChunkVolume, b: ChunkVolume): Unit = {
    assert(a.meta === b.meta, "upscaled meta differs")
    val ca = a.chunks.collect().map(c => (c.cz, c.cy, c.cx) -> c).toMap
    val cb = b.chunks.collect().map(c => (c.cz, c.cy, c.cx) -> c).toMap
    assert(ca.keySet === cb.keySet, "child coordinate sets differ")
    assert(ca.nonEmpty)
    ca.foreach { case (k, x) =>
      val y = cb(k)
      assert((x.z0, x.y0, x.x0) === ((y.z0, y.y0, y.x0)), s"child $k origin differs")
      assert((x.nz, x.ny, x.nx) === ((y.nz, y.ny, y.nx)), s"child $k dims differ")
      assert(java.util.Arrays.equals(x.data, y.data), s"child $k bytes differ")
    }
  }
}
