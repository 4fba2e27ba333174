package graft.volume

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.{ByteBuffer, ByteOrder}

class BigTiffSpec extends AnyFunSuite with SparkSpec {

  private def mkVol(dz: Long, dy: Long, dx: Long, et: String = "MET_UINT"): ChunkVolume = {
    import org.apache.spark.sql.functions._
    val vox = spark.range(dz * dy * dx).select(
      expr(s"id div ${dy * dx}").as("z"),
      expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id % $dx").as("x"),
      expr(s"id % 251").as("label"),
    )
    ChunkVolume.fromVoxels(vox, dz, dy, dx, 3, 4, 5, elementType = et)
  }

  test("write → read round-trip preserves every voxel and the dtype") {
    for (et <- Seq("MET_UINT", "MET_USHORT", "MET_UCHAR")) {
      val vol = mkVol(5, 6, 7, et)
      val path = Files.createTempDirectory("btiff").resolve(s"v_$et.tif").toString
      BigTiff.write(vol, path)
      val back = Tiff.read(spark, path)
      assert(back.meta.elementType === et)
      assert(back.meta.dimZ === 5 && back.meta.dimY === 6 && back.meta.dimX === 7)
      val a = vol.toVoxels.collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
      val b = back.toVoxels.collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
      // labels survive modulo the element width
      val mask = if (et == "MET_UCHAR") 0xffL else if (et == "MET_USHORT") 0xffffL else 0xffffffffL
      assert(b === a.view.mapValues(_ & mask).toMap, et)
    }
  }

  test("binary structure: BigTIFF magic, page count, page linkage") {
    val vol = mkVol(4, 3, 3)
    val path = Files.createTempDirectory("btiff").resolve("s.tif").toString
    BigTiff.write(vol, path)
    val bytes = Files.readAllBytes(Paths.get(path))
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    assert(b.get(0) === 'I'.toByte && b.get(1) === 'I'.toByte)
    assert(b.getShort(2) === 43) // BigTIFF magic
    assert(b.getShort(4) === 8) // 8-byte offsets
    // walk the IFD chain: exactly dimZ pages
    var ifd = b.getLong(8)
    var pages = 0
    while (ifd != 0) {
      val n = b.getLong(ifd.toInt).toInt
      assert(n === 10)
      ifd = b.getLong(ifd.toInt + 8 + n * 20)
      pages += 1
    }
    assert(pages === 4)
    // slice 0 data: first plane row-major directly after the 16-byte header
    val firstVal = b.getInt(16) // u32 at (0,0,0): label = 0
    assert(firstVal === 0)
    val secondVal = b.getInt(20) // (0,0,1): label = 1
    assert(secondVal === 1)
  }

  test("float volumes export and re-import") {
    import org.apache.spark.sql.functions._
    val (dz, dy, dx) = (3L, 3L, 4L)
    // build a float volume by reinterpreting: write via raw MHD fixture path
    val dir = Files.createTempDirectory("btf")
    val raw = ByteBuffer.allocate((dz * dy * dx * 4).toInt).order(ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until (dz * dy * dx).toInt) raw.putFloat(i * 0.5f)
    Files.write(dir.resolve("f.raw"), raw.array())
    Files.writeString(dir.resolve("f.mhd"),
      s"DimSize = $dx $dy $dz\nElementType = MET_FLOAT\nElementDataFile = f.raw\n")
    val vol = MhdReader.read(spark, MhdMeta.parse(dir.resolve("f.mhd").toString), 2, 3, 4)
    val path = dir.resolve("f.tif").toString
    BigTiff.write(vol, path)
    val back = Tiff.read(spark, path)
    assert(back.meta.elementType === "MET_FLOAT")
    val vals = back.toVoxelsDouble.orderBy("z", "y", "x").collect().map(_.getDouble(3))
    assert(vals.toSeq === (0 until (dz * dy * dx).toInt).map(_ * 0.5))
  }
}
