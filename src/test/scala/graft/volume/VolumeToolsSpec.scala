package graft.volume

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Golden transcripts for the reference's small scripts (load_test.py,
  * print_metadata.py, verify_labels.py, lookup_test.py, lookup_test2.py)
  * via the VolumeTools subcommand main.
  */
class VolumeToolsSpec extends AnyFunSuite with SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("vtools")
    val (nz, ny, nx) = (6, 8, 10)
    val raw = new Array[Byte](nz * ny * nx * 4)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      ChunkKernels.encodeLong(15564L + z / 2 * 10 + y / 4, raw, (z * ny + y) * nx + x, 4)
    Files.write(d.resolve("f.raw"), raw)
    Files.writeString(d.resolve("f.mhd"),
      s"""DimSize = $nx $ny $nz
         |ElementType = MET_UINT
         |ElementSpacing = 25.0 25.0 25.0
         |ElementDataFile = f.raw
         |""".stripMargin)
    Files.writeString(d.resolve("regions.csv"),
      """Region,RegionAbbr,RegionName,Level,Parent
        |15564,mouse,Mus musculus,-1,0
        |15574,NP,neural plate,0,15564
        |""".stripMargin)
    d
  }
  private def mhd = dir.resolve("f.mhd").toString
  private def csv = dir.resolve("regions.csv").toString

  test("load-test: shape, dtype, sample voxel (load_test.py)") {
    val lines = VolumeTools.run(spark, Seq("load-test", mhd, "2", "4", "0"))
    assert(lines === Seq(
      "Shape (z,y,x): (6, 8, 10)",
      "Data type: MET_UINT",
      "Voxel (2, 4, 0) = 15575", // 15564 + 2/2*10 + 4/4
    ))
  }

  test("metadata report (print_metadata.py)") {
    val lines = VolumeTools.run(spark, Seq("metadata", mhd))
    assert(lines.head === "Volume metadata")
    assert(lines.exists(_.contains("(10, 8, 6)")), lines.mkString("\n"))
    assert(lines.exists(_.contains("25.0")))
  }

  test("verify: the label-preservation spot check against zarr and graftchunks stores") {
    val up = MhdReader.read(spark, mhd).upscale(2)
    val zarrOut = dir.resolve("up.zarr").toString
    ZarrStore.write(up, zarrOut, ZarrStore.ZstdCodec())
    val v1 = VolumeTools.run(spark, Seq("verify", mhd, zarrOut, "2", "1", "5", "3"))
    assert(v1 === Seq(
      "Original @ (1, 5, 3) = 15565",
      "Upscaled @ (2, 10, 6) = 15565",
      "MATCH: label preserved",
    ))
    val storeOut = dir.resolve("up.store").toString
    ChunkStore.write(up, storeOut)
    assert(VolumeTools.run(spark, Seq("verify", mhd, storeOut, "2", "1", "5", "3")).last ===
      "MATCH: label preserved")
    // a directory that holds no zarr document is named, not misread
    val bare = Files.createDirectory(dir.resolve("not_a_store")).toString
    val e = intercept[IllegalArgumentException](VolumeTools.run(spark, Seq("verify", mhd, bare, "2", "1", "5", "3")))
    assert(e.getMessage.contains(bare) && e.getMessage.contains(".zarray") && e.getMessage.contains("zarr.json"),
      e.getMessage)
    // a zarr v3 store (`zarr.json`, no engine sidecar), as `UpscaleCli --format zarr3` writes
    val zarr3Out = dir.resolve("up3.zarr").toString
    Zarr3Store.write(up, zarr3Out)
    assert(VolumeTools.run(spark, Seq("verify", mhd, zarr3Out, "2", "1", "5", "3")) === v1)
  }

  test("lookup: voxel read + region join, hit and miss (lookup_test2.py)") {
    val hit = VolumeTools.run(spark, Seq("lookup", mhd, csv, "0", "0", "0"))
    assert(hit === Seq(
      "Voxel (0, 0, 0) label = 15564",
      "Region 15564: Mus musculus (mouse), level -1",
    ))
    val miss = VolumeTools.run(spark, Seq("lookup", mhd, csv, "5", "7", "0"))
    assert(miss.last === s"Unknown region ID: ${15564 + 2 * 10 + 1}")
  }

  test("head: first rows + count (lookup_test.py)") {
    val lines = VolumeTools.run(spark, Seq("head", csv))
    assert(lines.last === "Number of regions: 2")
    assert(lines.head.startsWith("15564  mouse  Mus musculus"))
    // an empty Level or Parent cell renders as null, as lookupById does
    val sparse = dir.resolve("sparse_regions.csv")
    Files.writeString(sparse,
      """Region,RegionAbbr,RegionName,Level,Parent
        |15564,mouse,Mus musculus,-1,0
        |15575,NT,neural tube,,
        |""".stripMargin)
    assert(VolumeTools.run(spark, Seq("head", sparse.toString)) === Seq(
      "15564  mouse  Mus musculus  level=-1 parent=0",
      "15575  NT  neural tube  level=null parent=null",
      "Number of regions: 2"))
  }

  test("usage error on unknown subcommand") {
    intercept[IllegalArgumentException](VolumeTools.run(spark, Seq("nope")))
  }
}
