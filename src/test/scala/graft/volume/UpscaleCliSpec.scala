package graft.volume

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Golden end-to-end lifecycle test (FIXTURES.md: replicate the screenshot
  * transcript on a fixture): parse → plan → estimate → guard → execute →
  * verify the written store, plus dry-run and admission-control paths.
  */
class UpscaleCliSpec extends AnyFunSuite with SparkSpec {

  private lazy val fixtureDir = {
    val dir = Files.createTempDirectory("cli")
    val (nz, ny, nx) = (6, 8, 10)
    val raw = new Array[Byte](nz * ny * nx * 4)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      ChunkKernels.encodeLong(15564L + z / 2 * 10 + y / 4, raw, (z * ny + y) * nx + x, 4)
    Files.write(dir.resolve("f.raw"), raw)
    Files.writeString(dir.resolve("f.mhd"),
      s"""DimSize = $nx $ny $nz
         |ElementType = MET_UINT
         |ElementSpacing = 25.0 25.0 25.0
         |ElementDataFile = f.raw
         |""".stripMargin)
    dir
  }

  /** The CLI's `--scale 2 --chunk-mb 1` MHD flow built by hand on the
    * composed plan: `read(…).upscale(2)` on the CLI's chunk grid.
    */
  private def composedX2: ChunkVolume = {
    val meta = MhdMeta.parse(fixtureDir.resolve("f.mhd").toString)
    val (cz, cy, cx) = ChunkPlanner.chooseChunks(meta.shapeZyx, meta.bytesPerVoxel, 1)
    MhdReader.read(spark, meta, cz, cy, cx).upscale(2)
  }

  test("full lifecycle: transcript lines, written store, label preservation") {
    val outStore = fixtureDir.resolve("out").toString
    val lines = UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, output = outStore, scale = 2, chunkMb = 1,
      format = "graftchunks"))
    assert(lines.exists(_.startsWith("Source shape (z,y,x): (6, 8, 10), dtype=MET_UINT")))
    assert(lines.exists(_.startsWith("Upscaled shape (z,y,x): (12, 16, 20)")))
    assert(lines.exists(_.startsWith("Finished. Chunk store written")))
    // ProgressBar parity: the execute phase reports stage-level progress
    assert(lines.exists(_.matches("\\[progress\\] stage \\d+: \\d+/\\d+ tasks \\(\\d+%\\)")),
      s"no progress lines in transcript:\n${lines.mkString("\n")}")
    assert(lines.exists(_.matches("\\[progress\\] stage \\d+ completed .*")))
    // verify_labels.py semantics on the written artifact
    val back = ChunkStore.read(spark, outStore)
    assert(back.meta.dimZ === 12)
    assert(back.pointLookup(4, 8, 6) === Some(15564L + (2 / 2) * 10 + (4 / 4)))
  }

  test("--input vol.tif takes the legacy TIFF path end-to-end (foreign fixture)") {
    import scala.sys.process._
    assume(
      (try Process(Seq("python3", "-c", "import struct, zlib")).!(ProcessLogger(_ => ())) == 0
       catch { case _: Throwable => false }),
      "python3 not available")
    // a FOREIGN classic multi-strip deflate TIFF from the independent
    // encoder — the anno_upsampling.py input world
    val tif = fixtureDir.resolve("legacy.tif").toString
    assert(Process(Seq("python3", "tools/gen_tiff_fixture.py", tif)).!(ProcessLogger(_ => ())) == 0)
    val outStore = fixtureDir.resolve("out_tiff").toString
    val lines = UpscaleCli.run(spark, UpscaleCli.Args(
      input = tif, output = outStore, scale = 2, format = "graftchunks"))
    assert(lines.exists(_.startsWith("Source shape (z,y,x): (16, 16, 16), dtype=MET_USHORT")))
    assert(lines.exists(_.contains("TIFF page granularity")))
    assert(lines.exists(_.startsWith("Upscaled shape (z,y,x): (32, 32, 32)")))
    val back = ChunkStore.read(spark, outStore)
    assert(back.meta.dimZ === 32)
    // grid formula survives the upscale: voxel (9,9,9) ← source (4,4,4)
    assert(back.pointLookup(9, 9, 9) === Some(111L))
  }

  test("default output is a real zarr v2 array (reference parity), --compressor honored") {
    val outZarr = fixtureDir.resolve("out_zarr").toString
    val lines = UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, output = outZarr, scale = 2, chunkMb = 1,
      compressor = "blosc-zstd"))
    assert(lines.exists(_.startsWith("Finished. Zarr array (blosc-zstd) written to:")))
    val za = ZarrStore.parseZarray(
      Files.readString(java.nio.file.Paths.get(outZarr, ".zarray")))
    assert(za.dtype === "<u4")
    assert(za.codec === ZarrStore.BloscCodec("zstd")) // typesize lives per chunk header
    val back = ZarrStore.read(spark, outZarr)
    assert(back.meta.dimZ === 12)
    // same invariant as the graftchunks path: label preserved at mapped coords
    assert(back.toVoxels.filter(col("z") === 4 && col("y") === 8 && col("x") === 6)
      .select("label").collect().head.getLong(0) === 15564L + (2 / 2) * 10 + (4 / 4))
  }

  test("--format zarr3 writes a spec-v3 array the v3 reader round-trips") {
    val outZ3 = fixtureDir.resolve("out_zarr3").toString
    val lines = UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, output = outZ3, scale = 2, chunkMb = 1,
      compressor = "blosc-zstd", format = "zarr3"))
    assert(lines.exists(_.startsWith("Finished. Zarr v3 array (blosc-zstd) written to:")))
    val zm = Zarr3Store.parseZarrJson(
      Files.readString(java.nio.file.Paths.get(outZ3, "zarr.json")))
    assert(zm.dtype === "<u4")
    val back = Zarr3Store.read(spark, outZ3)
    assert(back.meta.dimZ === 12)
    assert(back.toVoxels.filter(col("z") === 4 && col("y") === 8 && col("x") === 6)
      .select("label").collect().head.getLong(0) === 15564L + (2 / 2) * 10 + (4 / 4))
  }

  test("--format zarr3-sharded writes a sharding_indexed array the dispatcher round-trips") {
    val outSh = fixtureDir.resolve("out_zarr3_sharded").toString
    val plain = fixtureDir.resolve("out_zarr3_plain").toString
    UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, output = plain, scale = 2, chunkMb = 1,
      format = "zarr3"))
    val lines = UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, output = outSh, scale = 2, chunkMb = 1,
      format = "zarr3-sharded"))
    assert(lines.exists(_.startsWith("Finished. Sharded zarr v3 array (zstd) written to:")))
    val (_, sh) = Zarr3Store.parseZarrJsonAny(
      Files.readString(java.nio.file.Paths.get(outSh, "zarr.json")))
    assert(sh.nonEmpty) // really a sharding_indexed doc, with provenance attrs alongside
    assert(Files.readString(java.nio.file.Paths.get(outSh, "zarr.json")).contains("\"scale\""))
    // value-identical to the plain v3 output of the same run
    val a = Zarr3Store.read(spark, outSh).toVoxels.orderBy("z", "y", "x").collect()
    val b = Zarr3Store.read(spark, plain).toVoxels.orderBy("z", "y", "x").collect()
    assert(a === b)
    // and fewer store objects than the plain layout
    def nFiles(p: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).filter(Files.isRegularFile(_)).count()
    assert(nFiles(outSh) < nFiles(plain))
    // chunk files byte-identical to the composed plan's
    val ref = fixtureDir.resolve("out_zarr3_sharded_ref")
    val up = composedX2
    val m = up.meta
    Zarr3Store.writeSharded(up.rechunk(m.chunkZ * 2, m.chunkY * 2, m.chunkX * 2), ref.toString,
      innerShape = (m.chunkZ, m.chunkY, m.chunkX), UpscaleCli.zarrCodec("zstd"))
    UpscaleIdentitySpec.assertSameStore(ref, Paths.get(outSh), chunkFilesOnly = true)
  }

  test("--compressor lz4: the reference CLI's Blosc(lz4, BITSHUFFLE) output end-to-end") {
    val outZarr = fixtureDir.resolve("out_lz4").toString
    val lines = UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, output = outZarr, scale = 2, chunkMb = 1,
      compressor = "lz4"))
    assert(lines.exists(_.startsWith("Finished. Zarr array (lz4) written to:")))
    val za = ZarrStore.parseZarray(
      Files.readString(java.nio.file.Paths.get(outZarr, ".zarray")))
    // the exact compressor document the reference writes
    // (upscale_streaming.py:105-106): blosc/lz4/clevel 5/bitshuffle
    assert(za.codec === ZarrStore.BloscCodec("lz4", 5, 2))
    // chunk files really are lz4-format bitshuffled blosc containers
    val chunkFile = Files.list(java.nio.file.Paths.get(outZarr)).iterator().asScala
      .find(p => p.getFileName.toString.matches("""\d+\.\d+\.\d+""")).get
    val hdr = Files.readAllBytes(chunkFile)
    assert((hdr(2) & 0x4) === 0x4, "bitshuffle flag") // unless memcpyed, which this data never is
    assert((hdr(2) & 0xff) >> 5 === 1, "lz4 format code")
    val back = ZarrStore.read(spark, outZarr)
    assert(back.meta.dimZ === 12)
    assert(back.toVoxels.filter(col("z") === 4 && col("y") === 8 && col("x") === 6)
      .select("label").collect().head.getLong(0) === 15564L + (2 / 2) * 10 + (4 / 4))
  }

  test("dry-run executes nothing; guards reject oversized jobs; force overrides") {
    val lines = UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, scale = 2, dryRun = true))
    assert(lines.last === "Dry run: no compute executed.")

    val big = intercept[IllegalStateException] {
      UpscaleCli.run(spark, UpscaleCli.Args(
        input = fixtureDir.resolve("f.mhd").toString, output = "/tmp/never", scale = 21, dryRun = false))
    }
    assert(big.getMessage.contains("scale=21"))

    // force + dry-run: admitted, still no compute
    val forced = UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, scale = 21, dryRun = true, force = true))
    assert(forced.last === "Dry run: no compute executed.")
  }

  test("outline mode and pyramid mode write their artifacts") {
    val outP = fixtureDir.resolve("pyr").toString
    UpscaleCli.run(spark, UpscaleCli.Args(
      input = fixtureDir.resolve("f.mhd").toString, output = outP,
      scale = 2, mode = "outline", pyramidLevels = 2, chunkMb = 1, force = true))
    assert(Files.exists(java.nio.file.Paths.get(outP, ".zattrs")))
    val l0 = PyramidWriter.readLevel(spark, outP, 0)
    val l1 = PyramidWriter.readLevel(spark, outP, 1)
    assert(l0.meta.dimZ === 12 && l1.meta.dimZ === 6)
    // chunk files byte-identical to the composed plan's
    val ref = fixtureDir.resolve("pyr_ref")
    PyramidWriter.write(composedX2.outline(), 2, ref.toString, 2,
      UpscaleCli.zarrCodec("zstd"))
    UpscaleIdentitySpec.assertSameStore(ref, Paths.get(outP), chunkFilesOnly = true)
  }

  test("argument parsing: flags, validation, unknown rejection") {
    val a = UpscaleCli.parseArgs(Seq(
      "--input", "a.mhd", "--output", "o", "--scale", "3",
      "--mode", "outline", "--pyramid-levels", "2", "--max-gb", "10.5", "--force"))
    assert(a.scale === 3 && a.mode === "outline" && a.maxGb === 10.5 && a.force)
    intercept[IllegalArgumentException](UpscaleCli.parseArgs(Seq("--nope")))
    intercept[IllegalArgumentException](UpscaleCli.parseArgs(Seq("--output", "o")))
  }
}
