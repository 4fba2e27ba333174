package graft.volume

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._
import java.nio.file.{Files, Paths}

/** graft.volume.Tiff vs FOREIGN classic-TIFF files the engine never
  * wrote: fixtures come from tools/gen_tiff_fixture.py, an INDEPENDENT
  * pure-stdlib (struct + zlib) encoder written from the TIFF 6.0 spec —
  * the same independence discipline as ZarrInteropSpec. Covers classic
  * magic-42 parsing, both byte orders, multi-strip AND tiled assembly,
  * deflate/LZW/PackBits, the horizontal predictor, and 8/16/32-bit
  * signed/unsigned grayscale.
  */
class TiffForeignSpec extends AnyFunSuite with SparkSpec {

  private val gen = "tools/gen_tiff_fixture.py"
  private lazy val havePython =
    try Process(Seq("python3", "-c", "import struct, zlib")).!(ProcessLogger(_ => ())) == 0
    catch { case _: Throwable => false }

  private def fixture(name: String, args: String*): String = {
    val out = Files.createTempDirectory("graft_tiff_foreign").resolve(name).toString
    val cmd = Seq("python3", gen, out) ++ args
    assert(Process(cmd).!(ProcessLogger(_ => ())) == 0, s"fixture gen failed: $cmd")
    out
  }

  /** The generator's wrapped grid value for (z,y,x) at a dtype width. */
  private def expected(z: Long, y: Long, x: Long, bits: Int, signed: Boolean): Long = {
    var v = (z / 4) * 100 + (y / 4) * 10 + (x / 4)
    v &= (1L << bits) - 1
    if (signed && v >= (1L << (bits - 1))) v -= 1L << bits
    v
  }

  private def checkVolume(path: String, bits: Int, signed: Boolean,
      elementType: String, dim: Long = 16L): Unit = {
    val vol = Tiff.read(spark, path)
    assert(vol.meta.elementType === elementType)
    assert((vol.meta.dimZ, vol.meta.dimY, vol.meta.dimX) === (dim, dim, dim))
    val rows = vol.toVoxels.collect()
    assert(rows.length === dim * dim * dim)
    rows.foreach { r =>
      val (z, y, x) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(r.getLong(3) === expected(z, y, x, bits, signed), s"voxel ($z,$y,$x)")
    }
  }

  test("classic LE uint16, multi-strip (rps=5), deflate — the gate configuration") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("le16.tif"), bits = 16, signed = false, elementType = "MET_USHORT")
  }

  test("classic BIG-ENDIAN uint16, single-strip, uncompressed") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("be16.tif", "--endian", "be", "--compress", "0", "--rps", "16"),
      bits = 16, signed = false, elementType = "MET_USHORT")
  }

  test("classic LE uint8, one strip PER ROW, deflate") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("u8.tif", "--bits", "8", "--rps", "1"),
      bits = 8, signed = false, elementType = "MET_UCHAR")
  }

  test("classic BE int32 signed, multi-strip, deflate") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("i32.tif", "--bits", "32", "--signed", "--endian", "be"),
      bits = 32, signed = true, elementType = "MET_INT")
  }

  test("ancillary tags (RATIONAL resolutions, ASCII software) are skipped, not fatal") {
    assume(havePython, "python3 not available")
    // real writers (tifffile included) add resolution + software tags;
    // their field types (RATIONAL, ASCII) must be stepped over without
    // the reader trying to decode them
    checkVolume(fixture("anc.tif", "--ancillary"),
      bits = 16, signed = false, elementType = "MET_USHORT")
  }

  test("FOREIGN BigTIFF (magic 43): multi-strip deflate LE + single-strip BE") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("big_le.tif", "--bigtiff"),
      bits = 16, signed = false, elementType = "MET_USHORT")
    checkVolume(fixture("big_be.tif", "--bigtiff", "--endian", "be",
        "--compress", "0", "--rps", "16"),
      bits = 16, signed = false, elementType = "MET_USHORT")
  }

  test("Tiff.read also accepts the engine's own BigTIFF export") {
    val grid = graft.queries.VolumeQueries.grid(spark)
    val vol = ChunkVolume.fromVoxels(grid, 16, 16, 16, 5, 6, 7)
    val path = Files.createTempDirectory("graft_tiff_own").resolve("own.tif").toString
    BigTiff.write(vol, path)
    // the read-back voxels equal the source volume's, bit for bit
    val viaTiff = Tiff.read(spark, path).toVoxels.orderBy("z", "y", "x").collect()
    val source = vol.toVoxels.orderBy("z", "y", "x").collect()
    assert(viaTiff.toSeq === source.toSeq)
    assert(viaTiff.length === 4096)
  }

  // -------------------------------------------------- tiled layout

  test("TILED page, deflate, BIG-ENDIAN, edge tiles padded (dim 20, tile 16)") {
    assume(havePython, "python3 not available")
    // 20 is not a multiple of 16, so every page has a 2x2 tile grid with
    // right/bottom padding that must be clipped on assembly
    checkVolume(fixture("tiled20.tif", "--tiled", "--tile", "16", "--dim", "20",
        "--endian", "be"),
      bits = 16, signed = false, elementType = "MET_USHORT", dim = 20L)
  }

  test("TILED page, uncompressed, exact-fit single tile, uint32") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("tiled16.tif", "--tiled", "--tile", "16", "--compress", "none",
        "--bits", "32"),
      bits = 32, signed = false, elementType = "MET_UINT")
  }

  // -------------------------------------------------- LZW / PackBits

  test("LZW multi-strip uint16 — the most common wild compression") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("lzw16.tif", "--compress", "lzw"),
      bits = 16, signed = false, elementType = "MET_USHORT")
  }

  test("LZW single-strip dim 32: code width grows past 9 bits") {
    assume(havePython, "python3 not available")
    // a 32x32 uint16 strip is 2048 bytes -> hundreds of table entries,
    // exercising the 9->10 bit early width change on the decode side
    checkVolume(fixture("lzw32.tif", "--compress", "lzw", "--dim", "32", "--rps", "32"),
      bits = 16, signed = false, elementType = "MET_USHORT", dim = 32L)
  }

  test("LZW + horizontal Predictor=2, BE uint16 (the tifffile/ImageJ combo)") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("lzwpred.tif", "--compress", "lzw", "--predictor", "2",
        "--endian", "be"),
      bits = 16, signed = false, elementType = "MET_USHORT")
  }

  test("LZW tiled + Predictor=2: predictor rows are tile rows, not page rows") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("lzwtiled.tif", "--tiled", "--tile", "16", "--dim", "20",
        "--compress", "lzw", "--predictor", "2"),
      bits = 16, signed = false, elementType = "MET_USHORT", dim = 20L)
  }

  test("PackBits uint8 (wrapped grid values)") {
    assume(havePython, "python3 not available")
    checkVolume(fixture("pb8.tif", "--compress", "packbits", "--bits", "8", "--rps", "3"),
      bits = 8, signed = false, elementType = "MET_UCHAR")
  }

  // ------------------------------------------- high-entropy decoder paths

  /** The generator's --noise value: LCG mix of the flat index, 64-bit
    * wrap, top bits, clamped into the dtype.
    */
  private def expectedNoise(z: Long, y: Long, x: Long, bits: Int, dim: Long): Long = {
    val i = (z * dim + y) * dim + x
    val h = i * 6364136223846793005L + 1442695040888963407L
    (h >>> 17) & ((1L << bits) - 1)
  }

  private def checkNoise(path: String, bits: Int, dim: Long): Unit = {
    val rows = Tiff.read(spark, path).toVoxels.collect()
    assert(rows.length === dim * dim * dim)
    rows.foreach { r =>
      val (z, y, x) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(r.getLong(3) === expectedNoise(z, y, x, bits, dim), s"voxel ($z,$y,$x)")
    }
  }

  test("NOISE data: LZW literal-heavy streams, PackBits long literals, stored blosc-free strips") {
    assume(havePython, "python3 not available")
    // incompressible pixels push every codec into its other regime: LZW
    // emits literal-dominated code streams with steady table growth,
    // PackBits rows become >=128-byte literal runs, and deflate strips
    // barely shrink — none of which the low-entropy grid reaches
    checkNoise(fixture("nz_lzw.tif", "--noise", "--compress", "lzw", "--dim", "24", "--rps", "24"),
      bits = 16, dim = 24L)
    checkNoise(fixture("nz_pb.tif", "--noise", "--compress", "packbits", "--bits", "8"),
      bits = 8, dim = 16L)
    checkNoise(fixture("nz_lzwpred.tif", "--noise", "--compress", "lzw", "--predictor", "2",
        "--endian", "be", "--bits", "32"),
      bits = 32, dim = 16L)
    checkNoise(fixture("nz_tiled.tif", "--noise", "--tiled", "--tile", "16", "--dim", "20"),
      bits = 16, dim = 20L)
  }

  // -------------------------------------------------- fail-loud boundaries

  /** Minimal hand-built classic-LE IFD; `nextIfd` forges the chain tail. */
  private def classicWith(tags: Seq[(Int, Int, Long)], nextIfd: Int = 0): String = {
    val bb = java.nio.ByteBuffer.allocate(512).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(tags.length.toShort)
    tags.foreach { case (tag, tpe, v) =>
      bb.putShort(tag.toShort).putShort(tpe.toShort).putInt(1).putInt(v.toInt)
    }
    bb.putInt(nextIfd)
    val p = Files.createTempDirectory("graft_tiff_bad").resolve("bad.tif")
    Files.write(p, java.util.Arrays.copyOf(bb.array(), bb.position()))
    p.toString
  }

  private val base = Seq((256, 4, 16L), (257, 4, 16L), (258, 3, 16L),
    (273, 4, 8L), (279, 4, 512L))

  test("fail-loud: incomplete tile tags and unsupported compression are rejected by name") {
    val tiled = intercept[IllegalArgumentException] {
      Tiff.parseMeta(classicWith(base :+ ((322, 4, 16L))))
    }
    assert(tiled.getMessage.contains("TileWidth/TileLength/TileOffsets/TileByteCounts"))
    val jpeg = intercept[IllegalArgumentException] {
      Tiff.parseMeta(classicWith(base :+ ((259, 3, 7L))))
    }
    assert(jpeg.getMessage.contains("Compression=7"))
  }

  test("fail-loud: a cyclic next-IFD pointer throws instead of hanging the driver") {
    // the single IFD lives at offset 8 and points back to itself
    val cyclic = intercept[IllegalArgumentException] {
      Tiff.parseMeta(classicWith(base, nextIfd = 8))
    }
    assert(cyclic.getMessage.contains("cyclic"))
  }

  test("fail-loud: a >=2 GiB page dies at parse time with a named error, not an executor OOM") {
    // 40000 x 40000 x 2 B = 3.2e9 bytes: h*w*bpp overflows Int
    val big = Seq((256, 4, 40000L), (257, 4, 40000L), (258, 3, 16L),
      (273, 4, 8L), (279, 4, 512L))
    val over = intercept[IllegalArgumentException] { Tiff.parseMeta(classicWith(big)) }
    assert(over.getMessage.contains("2 GiB"))
  }

  test("fail-loud: a forged StripByteCounts entry dies at parse time, not at task allocation") {
    // StripByteCounts = 0x80000000 (2 GiB, negative as Int): the old path
    // truncated with .toInt at `new Array[Byte]` inside the executor —
    // must now be a named parse error
    val forged = Seq((256, 4, 16L), (257, 4, 16L), (258, 3, 16L),
      (273, 4, 8L), (279, 4, 0x80000000L))
    val e = intercept[IllegalArgumentException] { Tiff.parseMeta(classicWith(forged)) }
    assert(e.getMessage.contains("StripByteCounts"))
    assert(e.getMessage.contains("corrupt byte-count table"))
    // zero-byte strips are equally corrupt (readFully would return
    // nothing and the decode would emit a short chunk)
    val zero = Seq((256, 4, 16L), (257, 4, 16L), (258, 3, 16L),
      (273, 4, 8L), (279, 4, 0L))
    val z = intercept[IllegalArgumentException] { Tiff.parseMeta(classicWith(zero)) }
    assert(z.getMessage.contains("StripByteCounts"))
  }

  test("fail-loud: a corrupt BigTIFF IFD entry count is rejected before Int truncation") {
    // hand-built BigTIFF header whose first IFD declares 2^33 entries: the
    // old getLong(0).toInt truncated to 0 (silent empty page) or negative
    // (unnamed failure) — must now be a named parse error on the RAW value
    val bb = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0).putLong(16L)
    bb.putLong(1L << 33) // IFD entry count at offset 16
    val p = Files.createTempDirectory("graft_btiff_bad").resolve("bad.tif")
    Files.write(p, java.util.Arrays.copyOf(bb.array(), bb.position()))
    val e = intercept[IllegalArgumentException] { Tiff.parseMeta(p.toString) }
    assert(e.getMessage.contains("entries"))
    assert(e.getMessage.contains("corrupt"))
  }
}
