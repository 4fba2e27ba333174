package graft.volume

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Spec-compliance and round-trip tests for the zarr v2 DirectoryStore
  * (the reference's on-disk format: upscale_streaming.py:103–127).
  */
class ZarrStoreSpec extends AnyFunSuite with SparkSpec {
  import ZarrStoreSpec.{relFiles, words}

  private val (dz, dy, dx) = (7L, 6L, 5L)

  // deterministic voxels, deliberately non-aligned (3,4,2) chunk grid so
  // every axis has a padded edge chunk
  private lazy val vox = {
    val s = spark
    s.range(dz * dy * dx).selectExpr(
      s"id div ${dy * dx} as z",
      s"(id div $dx) % $dy as y",
      s"id % $dx as x",
      s"(id * 7) % 250 as label")
  }
  private lazy val vol = ChunkVolume.fromVoxels(vox, dz, dy, dx, 3, 4, 2)

  private def collectVox(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("z", "y", "x", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq

  test(".zarray metadata is byte-level zarr v2 for uint32") {
    val dir = Files.createTempDirectory("zarr").toString + "/a.zarr"
    ZarrStore.write(vol, dir, ZarrStore.Zlib(5))
    val zarray = Files.readString(Paths.get(dir, ".zarray"))
    // golden: every REQUIRED zarr v2 array-metadata key, exact values
    assert(zarray ===
      """{
        |    "zarr_format": 2,
        |    "shape": [7, 6, 5],
        |    "chunks": [3, 4, 2],
        |    "dtype": "<u4",
        |    "compressor": {"id": "zlib", "level": 5},
        |    "fill_value": 0,
        |    "order": "C",
        |    "filters": null,
        |    "dimension_separator": "."
        |}""".stripMargin)
    // chunk files named z.y.x over the full ceil-div grid
    val names = Files.list(Paths.get(dir)).toArray.map(_.toString.split("/").last).toSet
    assert(names.contains("0.0.0") && names.contains("2.1.2"))
    assert(names.count(_.matches("\\d+\\.\\d+\\.\\d+")) === 3 * 2 * 3)
    // every chunk file decompresses to the FULL chunk shape (edge padded)
    val full = 3 * 4 * 2 * 4
    for (n <- names if n.matches("\\d+\\.\\d+\\.\\d+")) {
      val raw = ZarrStore.Zlib(5).decompress(Files.readAllBytes(Paths.get(dir, n)), full)
      assert(raw.length === full, s"chunk $n not padded to full shape")
    }
  }

  test("format goldens: .zattrs, the pyramid's .zgroup/.zattrs/.zmetadata and both v2 writers' file lists") {
    val svol = ZarrStoreSpec.goldenVol(spark)
    val arr = Files.createTempDirectory("zarr_gold").toString + "/a.zarr"
    ZarrStore.write(svol, arr, ZarrStore.ZstdCodec(3), Map("graft:source" -> "atlas \"x\".mhd"))
    assert(Files.readString(Paths.get(arr, ".zattrs")) ===
        """{
        |    "graft:elementType": "MET_UINT",
        |    "graft:source": "atlas \"x\".mhd",
        |    "graft:spacing": [0.5, 0.25, 2.0]
        |}""".stripMargin)
    assert(relFiles(arr) === words(
      ".zarray .zattrs 0.0.0 0.0.1 0.0.2 0.1.0 0.1.1 0.1.2 1.0.0 1.0.1 1.0.2 1.1.0 " +
      "1.1.1 1.1.2 2.0.0 2.0.1 2.0.2 2.1.0 2.1.1 2.1.2"))
    val pyr = Files.createTempDirectory("zarr_gold").toString + "/p.zarr"
    PyramidWriter.write(svol, levels = 2, pyr, upscaleFactor = 2)
    assert(Files.readString(Paths.get(pyr, ".zgroup")) ===
        """{
        |    "zarr_format": 2
        |}""".stripMargin)
    assert(Files.readString(Paths.get(pyr, ".zattrs")) ===
        """{
        |  "multiscales": [{
        |    "version": "0.4",
        |    "name": "labels",
        |    "axes": [
        |      {"name": "z", "type": "space", "unit": "micrometer"},
        |      {"name": "y", "type": "space", "unit": "micrometer"},
        |      {"name": "x", "type": "space", "unit": "micrometer"}
        |    ],
        |    "datasets": [
        |    {
        |      "path": "0",
        |      "coordinateTransformations": [{
        |        "type": "scale",
        |        "scale": [1.0, 0.125, 0.25]
        |      }]
        |    },
        |    {
        |      "path": "1",
        |      "coordinateTransformations": [{
        |        "type": "scale",
        |        "scale": [2.0, 0.25, 0.5]
        |      }]
        |    }
        |    ]
        |  }],
        |  "image-label": true
        |}
        |""".stripMargin)
    assert(Files.readString(Paths.get(pyr, ".zmetadata")) ===
        """{
        |  "metadata" : {
        |    ".zgroup" : {
        |      "zarr_format" : 2
        |    },
        |    ".zattrs" : {
        |      "multiscales" : [ {
        |        "version" : "0.4",
        |        "name" : "labels",
        |        "axes" : [ {
        |          "name" : "z",
        |          "type" : "space",
        |          "unit" : "micrometer"
        |        }, {
        |          "name" : "y",
        |          "type" : "space",
        |          "unit" : "micrometer"
        |        }, {
        |          "name" : "x",
        |          "type" : "space",
        |          "unit" : "micrometer"
        |        } ],
        |        "datasets" : [ {
        |          "path" : "0",
        |          "coordinateTransformations" : [ {
        |            "type" : "scale",
        |            "scale" : [ 1.0, 0.125, 0.25 ]
        |          } ]
        |        }, {
        |          "path" : "1",
        |          "coordinateTransformations" : [ {
        |            "type" : "scale",
        |            "scale" : [ 2.0, 0.25, 0.5 ]
        |          } ]
        |        } ]
        |      } ],
        |      "image-label" : true
        |    },
        |    "0/.zarray" : {
        |      "zarr_format" : 2,
        |      "shape" : [ 7, 6, 5 ],
        |      "chunks" : [ 3, 4, 2 ],
        |      "dtype" : "<u4",
        |      "compressor" : {
        |        "id" : "zstd",
        |        "level" : 3
        |      },
        |      "fill_value" : 0,
        |      "order" : "C",
        |      "filters" : null,
        |      "dimension_separator" : "."
        |    },
        |    "0/.zattrs" : {
        |      "graft:elementType" : "MET_UINT",
        |      "graft:spacing" : [ 0.5, 0.25, 2.0 ]
        |    },
        |    "1/.zarray" : {
        |      "zarr_format" : 2,
        |      "shape" : [ 4, 3, 3 ],
        |      "chunks" : [ 3, 3, 2 ],
        |      "dtype" : "<u4",
        |      "compressor" : {
        |        "id" : "zstd",
        |        "level" : 3
        |      },
        |      "fill_value" : 0,
        |      "order" : "C",
        |      "filters" : null,
        |      "dimension_separator" : "."
        |    },
        |    "1/.zattrs" : {
        |      "graft:elementType" : "MET_UINT",
        |      "graft:spacing" : [ 0.5, 0.25, 2.0 ]
        |    }
        |  },
        |  "zarr_consolidated_format" : 1
        |}""".stripMargin)
    assert(relFiles(pyr) === words(
      ".graft_volume_meta.json .zattrs .zgroup .zmetadata 0/.zarray 0/.zattrs 0/0.0.0 " +
      "0/0.0.1 0/0.0.2 0/0.1.0 0/0.1.1 0/0.1.2 0/1.0.0 0/1.0.1 0/1.0.2 0/1.1.0 " +
      "0/1.1.1 0/1.1.2 0/2.0.0 0/2.0.1 0/2.0.2 0/2.1.0 0/2.1.1 0/2.1.2 1/.zarray " +
      "1/.zattrs 1/0.0.0 1/0.0.1 1/1.0.0 1/1.0.1"))
    // the provenance sidecar: level 0's geometry plus the pyramid fields
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val side = JsonMethods.parse(Files.readString(Paths.get(pyr, ".graft_volume_meta.json")))
    assert(side.asInstanceOf[JObject].obj.toMap === Map[String, JValue](
      "dimZ" -> JInt(7), "dimY" -> JInt(6), "dimX" -> JInt(5),
      "chunkZ" -> JInt(3), "chunkY" -> JInt(4), "chunkX" -> JInt(2),
      "ncz" -> JInt(3), "ncy" -> JInt(2), "ncx" -> JInt(3),
      "spacingX" -> JDouble(0.5), "spacingY" -> JDouble(0.25), "spacingZ" -> JDouble(2.0),
      "elementType" -> JString("MET_UINT"),
      "pyramid_levels" -> JString("2"), "upscale_factor" -> JString("2")))
  }

  test("parseZarray: spec fields, defaults, and unsupported-codec guard") {
    val m = ZarrStore.parseZarray(
      """{"zarr_format": 2, "shape": [10, 20, 30], "chunks": [5, 5, 5],
         "dtype": ">u2", "compressor": null, "fill_value": 7, "order": "C",
         "filters": null}""")
    assert(m.shape === Seq(10L, 20L, 30L))
    assert(m.chunks === Seq(5, 5, 5))
    assert(m.bigEndian && m.bpp === 2 && m.elementType === "MET_USHORT")
    assert(m.codec === ZarrStore.Raw && m.fillValue === 7L)
    assert(m.dimSeparator === ".") // spec default when absent
    val e = intercept[IllegalArgumentException] {
      ZarrStore.parseZarray(
        """{"zarr_format": 2, "shape": [1,1,1], "chunks": [1,1,1], "dtype": "<u4",
           "compressor": {"id": "blosc", "cname": "snappy", "clevel": 5, "shuffle": 1},
           "fill_value": 0, "order": "C", "filters": null}""")
    }
    assert(e.getMessage.contains("snappy"))
    // bitshuffle (the reference CLI's default) now parses
    val mb = ZarrStore.parseZarray(
      """{"zarr_format": 2, "shape": [1,1,1], "chunks": [1,1,1], "dtype": "<u4",
         "compressor": {"id": "blosc", "cname": "zstd", "clevel": 5, "shuffle": 2},
         "fill_value": 0, "order": "C", "filters": null}""")
    assert(mb.codec === ZarrStore.BloscCodec("zstd", 5, 2))
  }

  test("round-trip through raw, zlib, zstd, and blosc codecs preserves every voxel") {
    val expect = collectVox(vox)
    for (codec <- Seq(
        ZarrStore.Raw, ZarrStore.Zlib(5), ZarrStore.ZstdCodec(3),
        ZarrStore.Lz4Codec(),
        ZarrStore.BloscCodec("zstd", 5, shuffle = 0),
        ZarrStore.BloscCodec("zstd", 5, shuffle = 1),
        ZarrStore.BloscCodec("zlib", 5, shuffle = 1),
        ZarrStore.BloscCodec("zstd", 5, shuffle = 2), // reference --compressor zstd
        ZarrStore.BloscCodec("lz4", 5, shuffle = 2))) { // reference --compressor lz4
      val dir = Files.createTempDirectory("zarr").toString + "/c.zarr"
      ZarrStore.write(vol, dir, codec)
      val back = ZarrStore.read(spark, dir)
      assert(back.meta.dimZ === dz && back.meta.chunkZ === 3)
      assert(back.meta.elementType === "MET_UINT")
      assert(collectVox(back.toVoxels) === expect, s"codec $codec")
    }
    // the reused per-thread context writes the static entry's exact frames,
    // also right after a blosc encode set it to another level
    val src = Array.tabulate[Byte](1 << 16)(i => ((i * 7) % 97).toByte)
    for (level <- Seq(1, 3, 1)) {
      ZarrStore.BloscCodec("zstd", 5).compress(src)
      assert(java.util.Arrays.equals(ZarrStore.ZstdCodec(level).compress(src),
        com.github.luben.zstd.Zstd.compress(src, level)), s"zstd level $level")
    }
  }

  test("blosc: container metadata round-trips; multi-block + stored blocks; every (codec, shuffle)") {
    val m = ZarrStore.parseZarray(
      """{"zarr_format": 2, "shape": [4, 4, 4], "chunks": [2, 2, 2], "dtype": "<u4",
         "compressor": {"id": "blosc", "cname": "zstd", "clevel": 7, "shuffle": 1, "blocksize": 0},
         "fill_value": 0, "order": "C", "filters": null}""")
    assert(m.codec === ZarrStore.BloscCodec("zstd", 7, 1))
    // incompressible data exercises the stored-block (csize == neblock)
    // path; lz4 at 64 KiB/t=4 also exercises c-blosc block SPLITTING
    val rnd = new scala.util.Random(7)
    val noise = Array.fill[Byte](64 * 1024)(rnd.nextInt().toByte)
    for (sh <- Seq(-1, 0, 1, 2); cn <- Seq("zstd", "zlib", "lz4"); t <- Seq(1, 2, 4, 8)) {
      val c = ZarrStore.BloscCodec(cn, 5, sh, typesize = t)
      assert(c.decompress(c.compress(noise), noise.length).toSeq === noise.toSeq, s"$cn/$sh/$t")
    }
    // compressible data larger than one block (forces the multi-block path)
    for (cn <- Seq("zstd", "lz4"); sh <- Seq(1, 2)) {
      val big = Array.tabulate[Byte](9 << 20)(i => (i % 251).toByte)
      val c = ZarrStore.BloscCodec(cn, 3, sh, typesize = 4)
      assert(java.util.Arrays.equals(c.decompress(c.compress(big), big.length), big), s"$cn/$sh")
    }
    // ragged tails: lengths not divisible by typesize·8 exercise the
    // verbatim-copy remainders of both shuffles and the leftover block
    for (len <- Seq(1, 7, 31, 4093); sh <- Seq(1, 2); t <- Seq(3, 4)) {
      val odd = Array.tabulate[Byte](len)(i => ((i * 17) % 251).toByte)
      val c = ZarrStore.BloscCodec("lz4", 5, sh, typesize = t)
      assert(c.decompress(c.compress(odd), odd.length).toSeq === odd.toSeq, s"len=$len/$sh/$t")
    }
  }

  test("encodeChunkBytes of ×s children is the hint-free blosc container, byte for byte") {
    // the row-aware byte shuffle must not change one byte of any chunk
    // file: each ×s child (padded edge chunks included) encodes exactly as
    // compress(src) encodes its padded payload, for every shuffle mode
    val codecs = for (cn <- Seq("zstd", "lz4"); sh <- Seq(-1, 0, 1, 2)) yield ZarrStore.BloscCodec(cn, 3, sh)
    def label(z: Int, y: Int, x: Int): Long = ((z * 7 + y) * 13 + x * 5) % 23 + 1000
    def children(et: String, dims: (Int, Int, Int), grid: (Int, Int, Int), s: Int) = {
      val (nz, ny, nx) = dims
      val meta = VolumeMeta.uniform(nz, ny, nx, grid._1, grid._2, grid._3, et)
      val bpp = meta.bytesPerVoxel
      val data = new Array[Byte](nz * ny * nx * bpp)
      for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
        ChunkKernels.encodeLong(label(z, y, x), data, (z * ny + y) * nx + x, bpp)
      val src = Chunk(0, 0, 0, 0, 0, 0, nz, ny, nx, data)
      (src.children(s, meta, 0, 0, s, reuse = false).toSeq, meta.upscaled(s))
    }
    val cases =
      (for (et <- Seq("MET_UINT", "MET_USHORT"); s <- Seq(1, 2, 3, 15))
        yield (et, (3, 5, 7), (4, 6, 9), s)) :+
        // children up to 5.4 MB: two 4 MiB blocks (the second starting
        // mid-row, as 2112-byte rows do not divide 4 MiB) and a leftover
        ("MET_UINT", (1, 22, 36), (8, 320, 528), 15)
    for ((et, dims, grid, s) <- cases) {
      val (kids, meta) = children(et, dims, grid, s)
      assert(kids.exists(c => c.nz < grid._1 || c.ny < grid._2 || c.nx < grid._3), s"$et s=$s: no padded child")
      for (c <- kids; codec <- codecs) {
        val enc = ZarrStore.forElements(codec, meta.bytesPerVoxel)
        val padded = ZarrStore.encodeChunkBytes(c, meta, ZarrStore.Raw)
        assert(java.util.Arrays.equals(ZarrStore.encodeChunkBytes(c, meta, enc), enc.compress(padded)),
          s"$et s=$s child (${c.cz},${c.cy},${c.cx}) $codec")
      }
    }
  }

  test("bitshuffle kernel: matches the naive bit-matrix transpose; involution; tail verbatim") {
    val rnd = new scala.util.Random(11)
    // independent naive reference: out[(k*8+j)*(m/8)+q] bit r = bit j of
    // element (8q+r)'s byte k — the published bitshuffle layout
    def naive(src: Array[Byte], t: Int): Array[Byte] = {
      val len = src.length
      val n = len / t
      val m = n - n % 8
      val out = new Array[Byte](len)
      val rowB = m / 8
      for (k <- 0 until t; j <- 0 until 8; q <- 0 until rowB) {
        var b = 0
        for (r <- 0 until 8) {
          val bit = (src((8 * q + r) * t + k) >> j) & 1
          b |= bit << r
        }
        out((k * 8 + j) * rowB + q) = b.toByte
      }
      for (i <- m * t until len) out(i) = src(i)
      out
    }
    for (t <- Seq(1, 2, 3, 4, 8); len <- Seq(0, 5, t * 8, t * 8 * 5, t * 8 * 5 + t * 3 + 1)) {
      val src = Array.fill[Byte](len)(rnd.nextInt().toByte)
      val fwd = ZarrStore.BitShuffle.shuffle(src, 0, len, t)
      assert(fwd.toSeq === naive(src, t).toSeq, s"t=$t len=$len forward")
      assert(ZarrStore.BitShuffle.unshuffle(fwd, len, t).toSeq === src.toSeq, s"t=$t len=$len inverse")
    }
  }

  test("float dtype (<f4) round-trips through zarr bit-exactly") {
    import spark.implicits._
    // a MET_FLOAT volume built directly from packed float chunks
    val (fz, fy, fx) = (4, 3, 5)
    val meta = VolumeMeta(fz, fy, fx, 2, 3, 5, 2, 1, 1, "MET_FLOAT", 1.0, 1.0, 1.0)
    def mkChunk(cz: Int, z0: Long, nz: Int): Chunk = {
      val data = new Array[Byte](nz * fy * fx * 4)
      val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (z <- 0 until nz; y <- 0 until fy; x <- 0 until fx)
        bb.putFloat((((z0 + z) * fy + y) * fx + x) * 0.25f)
      Chunk(cz, 0, 0, z0, 0, 0, nz, fy, fx, data)
    }
    val fvol = ChunkVolume(spark.createDataset(Seq(mkChunk(0, 0, 2), mkChunk(1, 2, 2))), meta)
    val dir = Files.createTempDirectory("zarr").toString + "/f.zarr"
    ZarrStore.write(fvol, dir, ZarrStore.BloscCodec("zstd", 3, shuffle = 1))
    val za = ZarrStore.parseZarray(Files.readString(Paths.get(dir, ".zarray")))
    assert(za.dtype === "<f4" && za.elementType === "MET_FLOAT")
    val back = ZarrStore.read(spark, dir)
    assert(back.meta.elementType === "MET_FLOAT")
    val got = back.toVoxelsDouble.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    for (z <- 0 until fz; y <- 0 until fy; x <- 0 until fx)
      assert(got((z.toLong, y.toLong, x.toLong)) === ((z * fy + y) * fx + x) * 0.25)
  }

  test("absent chunk file decodes as fill_value per the spec") {
    val dir = Files.createTempDirectory("zarr").toString + "/m.zarr"
    ZarrStore.write(vol, dir, ZarrStore.Zlib(5))
    Files.delete(Paths.get(dir, "0.0.0"))
    val backMap = collectVox(ZarrStore.read(spark, dir).toVoxels)
      .map { case (z, y, x, l) => (z, y, x) -> l }.toMap
    for (((z, y, x, l)) <- collectVox(vox)) {
      val inDeleted = z < 3 && y < 4 && x < 2
      assert(backMap((z, y, x)) === (if (inDeleted) 0L else l))
    }
  }

  test("big-endian dtype tag: reader byte-swaps >u4 chunks") {
    val dir = Files.createTempDirectory("zarr").toString + "/be.zarr"
    ZarrStore.write(vol, dir, ZarrStore.Raw)
    // flip the store to big-endian out-of-band: swap payload bytes + dtype tag
    for (p <- Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
         if p.getFileName.toString.matches("\\d+\\.\\d+\\.\\d+")) {
      val b = Files.readAllBytes(p)
      ChunkKernels.swapEndianInPlace(b, 4)
      Files.write(p, b)
    }
    val za = Files.readString(Paths.get(dir, ".zarray")).replace("\"<u4\"", "\">u4\"")
    Files.writeString(Paths.get(dir, ".zarray"), za)
    val back = ZarrStore.read(spark, dir)
    assert(back.meta.elementType === "MET_UINT")
    assert(collectVox(back.toVoxels) === collectVox(vox))
  }

  test("appendChunks checks the existing document: a mismatched append fails loud, a matching one lands") {
    import ZarrStore.{BloscCodec, GzipCodec, ZstdCodec}
    val rechunked = vol.rechunk(2, 4, 2)
    // (dialect, document, append)
    val dialects = Seq[(String, String, (ChunkVolume, String, ZarrStore.Codec) => Unit)](
      ("v2", ".zarray", (v, p, c) => ZarrStore.appendChunks(v.chunks, p, v.meta, c)),
      ("v3", "zarr.json", (v, p, c) => Zarr3Store.appendChunks(v.chunks, p, v.meta, c)))
    for ((dialect, doc, append) <- dialects; codec <- Seq(ZstdCodec(3), BloscCodec("zstd", 3, 1))) {
      val dir = Files.createTempDirectory("zarr_app").toString + "/a.zarr"
      append(vol, dir, codec) // first call writes the document
      val written = Files.readString(Paths.get(dir, doc))
      // a matching append re-lands a deleted chunk file (the parsed blosc
      // codec carries no typesize; the check normalizes it like the writer)
      val first = if (dialect == "v2") "0.0.0" else "c/0/0/0"
      Files.delete(Paths.get(dir, first))
      append(vol, dir, codec)
      assert(Files.exists(Paths.get(dir, first)), s"$dialect $codec")
      val back = if (dialect == "v2") ZarrStore.read(spark, dir) else Zarr3Store.read(spark, dir)
      assert(collectVox(back.toVoxels) === collectVox(vox), s"$dialect $codec")
      // a mismatched codec, chunk shape, dtype, shape or separator fails
      // before any chunk lands
      def refused(what: String, v: ChunkVolume, c: ZarrStore.Codec): Unit = {
        val e = intercept[IllegalArgumentException](append(v, dir, c))
        assert(e.getMessage.contains(doc) && e.getMessage.contains("append would write"),
          s"$dialect $codec $what: ${e.getMessage}")
      }
      refused("codec", vol, GzipCodec(5))
      refused("chunks", rechunked, codec)
      refused("dtype", ChunkVolume(vol.chunks, vol.meta.copy(elementType = "MET_UCHAR")), codec)
      refused("shape", ChunkVolume(vol.chunks, vol.meta.copy(dimZ = dz + 1)), codec)
      assert(Files.readString(Paths.get(dir, doc)) === written)
      // a foreign document with the other dialect's separator
      val (ours, theirs) =
        if (dialect == "v2") ("\"dimension_separator\": \".\"", "\"dimension_separator\": \"/\"")
        else ("\"separator\": \"/\"", "\"separator\": \".\"")
      Files.writeString(Paths.get(dir, doc), written.replace(ours, theirs))
      refused("separator", vol, codec)
    }
  }

  test("format(\"zarr\") DSv2 WRITE: chunk frame → save → bit-exact read-back; append reuses metadata") {
    val dir = Files.createTempDirectory("zarr_w").toString + "/w.zarr"
    val expect = collectVox(vol.toVoxels)
    vol.chunks.toDF().write.format("zarr")
      .option("dimZ", dz).option("dimY", dy).option("dimX", dx)
      .option("chunkZ", 3).option("chunkY", 4).option("chunkX", 2)
      .option("elementType", vol.meta.elementType)
      .option("compressor", "blosc-zstd")
      .mode("overwrite").save(dir)
    val za = ZarrStore.parseZarray(Files.readString(Paths.get(dir, ".zarray")))
    assert(za.codec === ZarrStore.BloscCodec("zstd"))
    assert(collectVox(ZarrStore.read(spark, dir).toVoxels) === expect)
    // append: existing .zarray wins, no geometry options needed; chunk
    // re-lands are idempotent per coordinate
    vol.chunks.toDF().write.format("zarr").mode("append").save(dir)
    assert(collectVox(ZarrStore.read(spark, dir).toVoxels) === expect)
    // a NEW store without geometry options fails loudly
    val e = intercept[Exception] {
      vol.chunks.toDF().write.format("zarr").mode("overwrite")
        .save(Files.createTempDirectory("zarr_w2").toString + "/nope.zarr")
    }
    assert(e.getMessage != null)
  }

  test("format(\"zarr\") DSv2: reads the grid; coordinate filters prune partitions") {
    val dir = Files.createTempDirectory("zarr").toString + "/d.zarr"
    ZarrStore.write(vol, dir, ZarrStore.ZstdCodec(3))
    // the kept cells are cut into min(kept, defaultParallelism) slices
    val par = spark.sparkContext.defaultParallelism
    val df = spark.read.format("zarr").load(dir)
    assert(df.rdd.getNumPartitions === math.min(3 * 2 * 3, par)) // full grid
    val one = df.filter(col("cz") === 1 && col("cy") === 0 && col("cx") === 0)
    assert(one.rdd.getNumPartitions === 1) // point query plans ONE chunk
    assert(one.count() === 1)
    val slab = df.filter(col("cz") === 2)
    assert(slab.rdd.getNumPartitions === math.min(2 * 3, par))
    val row = df.filter(col("cz") === 2 && col("cy") === 1)
    assert(row.rdd.getNumPartitions === math.min(3, par))
    assert(row.count() === 3)
    // decode parity with the library reader
    import spark.implicits._
    val (_, meta) = ZarrStore.readMeta(dir)
    val viaDsv2 = ChunkVolume(df.as[Chunk], meta).toVoxels
    assert(collectVox(viaDsv2) === collectVox(vox))
  }

  test("PyramidWriter emits a real OME-Zarr group: .zgroup + zarr array levels") {
    val dir = Files.createTempDirectory("zarr").toString + "/ome.zarr"
    PyramidWriter.write(vol, levels = 2, dir, upscaleFactor = 1)
    assert(Files.readString(Paths.get(dir, ".zgroup")).contains("\"zarr_format\": 2"))
    val l0 = ZarrStore.parseZarray(Files.readString(Paths.get(dir, "0", ".zarray")))
    assert(l0.shape === Seq(dz, dy, dx) && l0.dtype === "<u4")
    val l1 = ZarrStore.parseZarray(Files.readString(Paths.get(dir, "1", ".zarray")))
    assert(l1.shape === Seq((dz + 1) / 2, (dy + 1) / 2, (dx + 1) / 2))
    assert(Files.readString(Paths.get(dir, ".zattrs")).contains("\"multiscales\""))
    val back = PyramidWriter.readLevel(spark, dir, 1)
    assert(collectVox(back.toVoxels) === collectVox(vol.decimate().toVoxels))
    // consolidated metadata (.zmetadata): format tag + every group doc
    // present and identical to its on-disk source (what
    // zarr.open_consolidated would read)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val zmeta = JsonMethods.parse(Files.readString(Paths.get(dir, ".zmetadata")))
    assert((zmeta \ "zarr_consolidated_format") === JInt(1))
    val md = (zmeta \ "metadata").asInstanceOf[JObject].obj.toMap
    for (key <- Seq(".zgroup", ".zattrs", "0/.zarray", "0/.zattrs", "1/.zarray")) {
      assert(md.contains(key), s"consolidated metadata missing $key")
      assert(md(key) === JsonMethods.parse(
        Files.readString(Paths.get(dir, key.split('/').toSeq: _*))),
        s"consolidated $key differs from the on-disk document")
    }
  }

  test("openGroup parses the pyramid group via .zmetadata AND via .zgroup/.zattrs fallback") {
    val dir = Files.createTempDirectory("zarr").toString + "/ome.zarr"
    PyramidWriter.write(vol, levels = 2, dir, upscaleFactor = 2)
    // consolidated path
    val g = PyramidWriter.openGroup(dir)
    assert(g.levels === 2)
    assert(g.levelPaths === Seq("0", "1"))
    assert(g.name === "labels")
    // scale_zyx(i) = spacing(z,y,x) * 2^i / upscaleFactor; vol spacing is
    // 1.0 here, so level 0 = 0.5, level 1 = 1.0 per axis
    assert(g.scalesZyx === Seq(Seq(0.5, 0.5, 0.5), Seq(1.0, 1.0, 1.0)))
    // fallback path: same parse without consolidated metadata
    Files.delete(Paths.get(dir, ".zmetadata"))
    assert(PyramidWriter.openGroup(dir) === g)
    // readLevel resolves THROUGH the metadata and bounds-checks it
    val back = PyramidWriter.readLevel(spark, dir, 1)
    assert(collectVox(back.toVoxels) === collectVox(vol.decimate().toVoxels))
    val oob = intercept[IllegalArgumentException] { PyramidWriter.readLevel(spark, dir, 2) }
    assert(oob.getMessage.contains("declares 2 levels"))
    // a bare zarr array is NOT a pyramid group: named error, no guessing
    val arr = Files.createTempDirectory("zarr").toString + "/bare"
    ZarrStore.write(vol, arr, ZarrStore.ZstdCodec())
    val notGroup = intercept[IllegalArgumentException] { PyramidWriter.openGroup(arr) }
    assert(notGroup.getMessage.contains(".zgroup"))
  }
}

object ZarrStoreSpec {

  /** The format-golden fixture: the suite's 7×6×5 volume on its (3,4,2)
    * grid, with non-unit (x,y,z) spacing so the goldens pin the number
    * forms of `graft:spacing` and the multiscales scales.
    */
  def goldenVol(spark: org.apache.spark.sql.SparkSession): ChunkVolume = {
    val vox = spark.range(7 * 6 * 5).selectExpr(
      "id div 30 as z", "(id div 5) % 6 as y", "id % 5 as x", "(id * 7) % 250 as label")
    val v = ChunkVolume.fromVoxels(vox, 7, 6, 5, 3, 4, 2)
    v.copy(meta = v.meta.copy(spacingX = 0.5, spacingY = 0.25, spacingZ = 2.0))
  }

  /** Every regular file under `root`, as sorted `/`-separated relative paths. */
  def relFiles(root: String): Seq[String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq
      .map(p => r.relativize(p.asInstanceOf[java.nio.file.Path]).toString).sorted
    finally s.close()
  }

  def words(s: String): Seq[String] = s.split(" ").toSeq
}
