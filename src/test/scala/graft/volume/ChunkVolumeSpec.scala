package graft.volume

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end invariants of the chunked representation (FIXTURES.md §1):
  * label preservation under upscale, s³ count multiplication, value-set
  * equality, pyramid decimation algebra, outline parity with the long form,
  * round-trips, and the MHD/RAW reader incl. big-endian raws.
  */
class ChunkVolumeSpec extends AnyFunSuite with SparkSpec {

  private val (dz, dy, dx) = (12L, 10L, 14L)

  /** Dense fixture grid with blobby labels (real region-id range). */
  private def vox: DataFrame =
    spark.range(dz * dy * dx).select(
      expr(s"id div ${dy * dx}").as("z"),
      expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id % $dx").as("x"),
      expr(s"15564 + (id div ${dy * dx}) div 3 * 100 + ((id div $dx) % $dy) div 4 * 10 + (id % $dx) div 5").as("label"),
    )

  private def vol: ChunkVolume = ChunkVolume.fromVoxels(vox, dz, dy, dx, 5, 4, 6)

  private def collectVox(df: DataFrame): Map[(Long, Long, Long), Long] =
    df.collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap

  test("fromVoxels → toVoxels is the identity on a dense grid") {
    val back = collectVox(vol.toVoxels)
    val orig = collectVox(vox)
    assert(back === orig)
  }

  test("upscale: label preservation at mapped coords, s^3 count, value set (s=2,3)") {
    val orig = collectVox(vox)
    for (s <- Seq(2, 3)) {
      val up = collectVox(vol.upscale(s).toVoxels)
      assert(up.size === orig.size * s * s * s)
      // verify_labels.py generalized: EVERY source voxel survives at (s·z..)
      for (((z, y, x), l) <- orig) {
        assert(up((z * s, y * s, x * s)) === l)
        // and the whole s³ block carries the same label
        assert(up((z * s + s - 1, y * s + s - 1, x * s + s - 1)) === l)
      }
      assert(up.values.toSet === orig.values.toSet)
    }
  }

  test("verifyUpscale: checks every voxel on the x2 subdivision, rejects another grid") {
    // (5,4,6) is ragged on every axis: the x3 edge chunks make 2 children
    // on z (6 planes: 5 + 1), 2 on y (6: 4 + 2) and 1 on x (6)
    for (s <- Seq(2, 3)) {
      val n = dz * dy * dx * s * s * s
      val r = vol.verifyUpscale(vol.upscale(s), s).collect().head
      assert((r.getLong(0), r.getLong(1)) === ((n, n)), s"x$s")
    }
    // same dims, other chunk shape: the chunk join would drop children
    val regridded = vol.upscale(2).rechunk(10, 8, 12)
    val e = intercept[IllegalArgumentException](vol.verifyUpscale(regridded, 2))
    assert(e.getMessage.contains("chunks (10,8,12)") && e.getMessage.contains("chunks (5,4,6)"))
  }

  test("pyramid: level i+1 (z,y,x) == level i (2z,2y,2x)") {
    val pyr = vol.pyramid(3).map(v => collectVox(v.toVoxels))
    for (i <- 0 until 2; ((z, y, x), l) <- pyr(i + 1)) {
      assert(pyr(i)((z * 2, y * 2, x * 2)) === l)
    }
    assert(pyr(1).size === ((dz + 1) / 2) * ((dy + 1) / 2) * ((dx + 1) / 2))
  }

  test("outline: chunk-form halo exchange matches the long-form self-join") {
    val chunkForm = collectVox(vol.outline().toVoxels)
    val longForm = VoxelOps.outline(vox, dz, dy, dx)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(chunkForm === longForm)
  }

  test("outline and the halo stencils on a decimated grid equal the long forms") {
    // (5,4,6) on (12,10,14) decimates to z extents 3, 2, 1 under a meta
    // chunkZ of 3: not uniform, so each frame must take its extent from
    // the cell's own core, not from meta.cell
    val dec = vol.decimate()
    assert(dec.chunks.collect().map(_.nz).distinct.sorted.toSeq === Seq(1, 2, 3))
    val (ddz, ddy, ddx) = (dec.meta.dimZ, dec.meta.dimY, dec.meta.dimX)
    val decVox = VoxelOps.decimate(vox)
    assert(collectVox(dec.outline().toVoxels) === collectVox(VoxelOps.outline(decVox, ddz, ddy, ddx)))
    assert(collectVox(dec.erodeVoxels) === collectVox(VoxelOps.erode6(decVox, ddz, ddy, ddx)))
    assert(collectVox(dec.boxSumVoxels) === collectVox(VoxelOps.boxSum3(decVox, ddz, ddy, ddx)))
  }

  test("pointLookup without a cell loader runs a job; None off the array") {
    // fromVoxels has no driver-side cell loader, so each lookup runs the
    // one-voxel-box job
    val orig = collectVox(vox)
    for (p <- Seq((0L, 0L, 0L), (11L, 9L, 13L), (6L, 5L, 7L))) {
      assert(vol.pointLookup(p._1, p._2, p._3) === Some(orig(p)))
    }
    assert(vol.pointLookup(99L, 0L, 0L) === None)
  }

  test("MhdReader: chunked RAW read, little- and big-endian, matches expected voxels") {
    val dir = Files.createTempDirectory("mhdfix")
    val (nz, ny, nx) = (6, 5, 7)
    def label(z: Int, y: Int, x: Int): Long = 15564L + z * 100 + y * 10 + x
    // little-endian u32 raw in C-order (z,y,x)
    val le = new Array[Byte](nz * ny * nx * 4)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      ChunkKernels.encodeLong(label(z, y, x), le, (z * ny + y) * nx + x, 4)
    val be = le.clone(); ChunkKernels.swapEndianInPlace(be, 4)
    Files.write(dir.resolve("vol_le.raw"), le)
    Files.write(dir.resolve("vol_be.raw"), be)
    def header(raw: String, msb: Boolean): String =
      s"""ObjectType = Image
         |NDims = 3
         |DimSize = $nx $ny $nz
         |ElementType = MET_UINT
         |ElementSpacing = 25.0 25.0 25.0
         |ByteOrderMSB = ${if (msb) "True" else "False"}
         |ElementDataFile = $raw
         |""".stripMargin
    Files.writeString(dir.resolve("vol_le.mhd"), header("vol_le.raw", msb = false))
    Files.writeString(dir.resolve("vol_be.mhd"), header("vol_be.raw", msb = true))

    for (name <- Seq("vol_le.mhd", "vol_be.mhd")) {
      val meta = MhdMeta.parse(dir.resolve(name).toString)
      val v = MhdReader.read(spark, meta, chunkZ = 4, chunkY = 3, chunkX = 5)
      assert(v.meta.ncz === 2 && v.meta.ncy === 2 && v.meta.ncx === 2)
      val got = collectVox(v.toVoxels)
      assert(got.size === nz * ny * nx)
      for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
        assert(got((z.toLong, y.toLong, x.toLong)) === label(z, y, x), s"$name voxel($z,$y,$x)")
    }
  }

  test("float dtypes: MET_FLOAT volume reads and decodes as doubles") {
    val dir = Files.createTempDirectory("floatvol")
    val (nz, ny, nx) = (3, 4, 5)
    val raw = java.nio.ByteBuffer.allocate(nz * ny * nx * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      raw.putFloat(z * 1.5f + y * 0.25f + x * 0.125f)
    Files.write(dir.resolve("f.raw"), raw.array())
    Files.writeString(dir.resolve("f.mhd"),
      s"DimSize = $nx $ny $nz\nElementType = MET_FLOAT\nElementDataFile = f.raw\n")
    val v = MhdReader.read(spark, MhdMeta.parse(dir.resolve("f.mhd").toString), 2, 3, 3)
    assert(v.meta.isFloating)
    intercept[IllegalArgumentException](v.toVoxels)
    val got = v.toVoxelsDouble.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    assert(got.size === nz * ny * nx)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      assert(got((z.toLong, y.toLong, x.toLong)) === (z * 1.5f + y * 0.25f + x * 0.125f).toDouble)
    // byte kernels still work on float payloads (dtype-agnostic): ×2 then decode
    val up = v.upscale(2)
    val upv = up.toVoxelsDouble.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    assert(upv((4L, 6L, 8L)) === got((2L, 3L, 4L)))
  }

  test("MhdReader → upscale → chunk store → pruned lookup (the flagship slice)") {
    // SURVEY §7.2: header → chunked scan → ×2 chunk kernel → sink → point
    // lookup at (2z,2y,2x) must equal the source label (verify_labels.py).
    val dir = Files.createTempDirectory("slice")
    val (nz, ny, nx) = (4, 4, 4)
    val raw = new Array[Byte](nz * ny * nx * 2)
    def label(z: Int, y: Int, x: Int): Long = (z * 16 + y * 4 + x).toLong
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      ChunkKernels.encodeLong(label(z, y, x), raw, (z * ny + y) * nx + x, 2)
    Files.write(dir.resolve("s.raw"), raw)
    Files.writeString(dir.resolve("s.mhd"),
      s"DimSize = $nx $ny $nz\nElementType = MET_USHORT\nElementDataFile = s.raw\n")
    val v = MhdReader.read(spark, MhdMeta.parse(dir.resolve("s.mhd").toString), 2, 2, 2)
    val store = dir.toString + "/up2"
    ZarrStore.write(v.upscale(2), store)
    val up = ZarrStore.read(spark, store)
    assert(up.meta.dimZ === 8 && up.meta.elementType === "MET_USHORT")
    assert(up.pointLookup(6, 4, 2) === Some(label(3, 2, 1)))
    assert(up.pointLookup(7, 5, 3) === Some(label(3, 2, 1)))
  }

  test("meanPool: chunk form == voxel form == hand computation, incl. odd-dim edge blocks") {
    // odd dims force volume-edge blocks with 1/2/4-voxel counts; the
    // (3,2,4) chunk grid is non-aligned so blocks straddle chunks too
    val (oz, oy, ox) = (7L, 6L, 5L)
    val oddVox = spark.range(oz * oy * ox).select(
      expr(s"id div ${oy * ox}").as("z"),
      expr(s"(id div $ox) % $oy").as("y"),
      expr(s"id % $ox").as("x"),
      expr(s"(id * 37) % 251").as("label"),
    )
    val oddVol = ChunkVolume.fromVoxels(oddVox, oz, oy, ox, 3, 2, 4)
    val chunkForm = collectVox(oddVol.meanPoolVoxels.orderBy("z", "y", "x"))
    val voxForm = collectVox(VoxelOps.meanPool(oddVox).orderBy("z", "y", "x"))
    // hand computation from the raw voxel map
    val raw = collectVox(oddVox)
    val expect = raw.groupBy { case ((z, y, x), _) => (z / 2, y / 2, x / 2) }
      .map { case (k, vs) => k -> vs.values.sum / vs.size }
    assert(chunkForm.size === ((oz + 1) / 2 * ((oy + 1) / 2) * ((ox + 1) / 2)))
    assert(chunkForm === expect)
    assert(voxForm === expect)
    // edge blocks really are partial: the corner block has exactly 1 voxel
    assert(raw.keys.count { case (z, y, x) => z / 2 == 3 && y / 2 == 2 && x / 2 == 2 } === 2)
  }

  test("maxPool: chunk form == voxel form == hand computation on the odd-dim fixture") {
    val (oz, oy, ox) = (7L, 6L, 5L)
    val oddVox = spark.range(oz * oy * ox).select(
      expr(s"id div ${oy * ox}").as("z"),
      expr(s"(id div $ox) % $oy").as("y"),
      expr(s"id % $ox").as("x"),
      expr(s"(id * 37) % 251").as("label"),
    )
    val oddVol = ChunkVolume.fromVoxels(oddVox, oz, oy, ox, 3, 2, 4)
    val chunkForm = collectVox(oddVol.maxPoolVoxels.orderBy("z", "y", "x"))
    val voxForm = collectVox(VoxelOps.maxPool(oddVox).orderBy("z", "y", "x"))
    val raw = collectVox(oddVox)
    val expect = raw.groupBy { case ((z, y, x), _) => (z / 2, y / 2, x / 2) }
      .map { case (k, vs) => k -> vs.values.max }
    assert(chunkForm === expect)
    assert(voxForm === expect)
    // max differs from mean on at least one straddled block (mode matters)
    val mean = collectVox(oddVol.meanPoolVoxels)
    assert(chunkForm.exists { case (k, v) => mean(k) != v })
  }

  test("boxSum3: chunk halo form == voxel scatter form == hand computation, zero-padded edges") {
    val (oz, oy, ox) = (7L, 6L, 5L)
    val oddVox = spark.range(oz * oy * ox).select(
      expr(s"id div ${oy * ox}").as("z"),
      expr(s"(id div $ox) % $oy").as("y"),
      expr(s"id % $ox").as("x"),
      expr(s"(id * 37) % 251").as("label"),
    )
    // (3,2,4) chunk grid: interior chunk boundaries exercise face, edge
    // AND corner slabs; volume edges exercise the zero padding
    val oddVol = ChunkVolume.fromVoxels(oddVox, oz, oy, ox, 3, 2, 4)
    def collectSum(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    val chunkForm = collectSum(oddVol.boxSumVoxels)
    val voxForm = collectSum(VoxelOps.boxSum3(oddVox, oz, oy, ox))
    val raw = collectVox(oddVox)
    val expect = raw.keys.map { case (z, y, x) =>
      var s = 0L
      for (dz <- -1 to 1; dy <- -1 to 1; dx <- -1 to 1)
        s += raw.getOrElse((z + dz, y + dy, x + dx), 0L)
      (z, y, x) -> s
    }.toMap
    assert(chunkForm.size === (oz * oy * ox))
    assert(chunkForm === expect)
    assert(voxForm === expect)
    // the interior cell really sums 27 values, the corner only 8
    assert(raw.keys.count { case (z, y, x) => z == 0 && y == 0 && x == 0 } === 1)
  }

  test("chunk histogram equals long-form histogram; resize generalizes upscale") {
    val chunkHist = vol.histogram().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val longHist = VoxelOps.histogram(vol.toVoxels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chunkHist === longHist)
    // integer-factor resize == upscale
    val resized = VoxelOps.resizeNearest(vox, (dz, dy, dx), (dz * 2, dy * 2, dx * 2))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    val upscaled = collectVox(vol.upscale(2).toVoxels)
    assert(resized === upscaled)
    // downscale every axis: the (0,0,0) voxel survives, count = product
    val down = VoxelOps.resizeNearest(vox, (dz, dy, dx), (3L, 5L, 7L)).collect()
    assert(down.length === 3 * 5 * 7)
  }

  test("rechunk: re-blocks to a new uniform grid without touching voxels") {
    val orig = collectVox(vox)
    for ((cz, cy, cx) <- Seq((3, 3, 3), (12, 10, 14), (7, 2, 5))) {
      val r = vol.rechunk(cz, cy, cx)
      assert(r.meta.chunkZ === cz && r.meta.ncz === ((dz + cz - 1) / cz).toInt)
      assert(collectVox(r.toVoxels) === orig)
      // grid is uniform: every chunk origin is a multiple of the chunk dims
      val cs = r.chunks.collect()
      assert(cs.forall(c => c.z0 % cz == 0 && c.y0 % cy == 0 && c.x0 % cx == 0))
      // outline still works on the rechunked grid (adjacency preserved)
      assert(collectVox(r.outline().toVoxels) === collectVox(vol.outline().toVoxels))
    }
  }

  test("ChunkStore: zarr-style directory store round-trip + overwrite") {
    val dir = Files.createTempDirectory("cstore").toString + "/vol"
    ChunkStore.write(vol, dir, extraProvenance = Map("source" -> "fixture"))
    // one file per chunk named cz.cy.cx + the zarr documents + the index
    val names = Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
    assert(names.exists(_.endsWith("/0.0.0")))
    assert(Seq(".zarray", ".zattrs", ChunkStore.StatsIndexName).forall(d => names.exists(_.endsWith("/" + d))))
    assert(Files.readString(java.nio.file.Paths.get(dir, ".zattrs")).contains("\"source\": \"fixture\""))
    val back = ZarrStore.read(spark, dir)
    assert(back.meta === vol.meta)
    assert(collectVox(back.toVoxels) === collectVox(vox))
    // overwrite replaces wholesale (reference rmtree semantics); a zarr
    // grid is uniform, so the decimated level is rechunked onto its own
    val decimated = vol.decimate()
    val dm = decimated.meta
    ChunkStore.write(decimated.rechunk(dm.chunkZ, dm.chunkY, dm.chunkX), dir)
    val dec = ZarrStore.read(spark, dir)
    assert(dec.meta.dimZ === (dz + 1) / 2)
    assert(collectVox(dec.toVoxels) === collectVox(vol.decimate().toVoxels))
  }

  test("PyramidWriter: levels on disk + OME multiscales metadata") {
    val dir = Files.createTempDirectory("pyr").toString + "/ome"
    PyramidWriter.write(vol, levels = 3, dir, upscaleFactor = 2)
    val attrs = Files.readString(java.nio.file.Paths.get(dir, ".zattrs"))
    assert(attrs.contains("\"multiscales\""))
    assert(attrs.contains("\"image-label\": true"))
    // spacing 1.0, upscale 2 → level scales 0.5, 1.0, 2.0 (z,y,x equal here)
    assert(attrs.contains("[0.5, 0.5, 0.5]"))
    assert(attrs.contains("[2.0, 2.0, 2.0]"))
    val l1 = PyramidWriter.readLevel(spark, dir, 1)
    assert(l1.meta.dimZ === (dz + 1) / 2)
    val expect = collectVox(vol.decimate().toVoxels)
    assert(collectVox(l1.toVoxels) === expect)
  }
}
