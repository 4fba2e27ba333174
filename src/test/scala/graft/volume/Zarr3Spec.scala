package graft.volume

import graft.SparkSpec
import graft.volume.ZarrStore.{BloscCodec, GzipCodec, Raw, ZstdCodec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Zarr v3 contract: metadata round-trip, codec pipeline parsing,
  * fail-loud rejection of sharding/unknown codecs, fill-value semantics
  * for absent chunks, the '.' key separator, and foreign interop against
  * the independent python encoder.
  */
class Zarr3Spec extends AnyFunSuite with SparkSpec {
  import ZarrStoreSpec.{relFiles, words}

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_z3spec")
    d.toFile.deleteOnExit()
    d.resolve("arr").toString
  }

  private def vox: DataFrame = spark.range(6 * 5 * 4).select(
    expr("id div 20").as("z"), expr("(id div 4) % 5").as("y"),
    expr("id % 4").as("x"), (col("id") * 17 % 1000).as("label"))

  private def vol = ChunkVolume.fromVoxels(vox, 6, 5, 4, 3, 2, 3)

  private def collectVox(v: ChunkVolume): Map[(Long, Long, Long), Long] =
    v.toVoxels.collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap

  test("write → read round-trip under every supported codec") {
    for (codec <- Seq(Raw, ZstdCodec(3), GzipCodec(6), BloscCodec("zstd", 5, 2), BloscCodec("lz4", 5, 1))) {
      val p = tmp()
      Zarr3Store.write(vol, p, codec)
      assert(collectVox(Zarr3Store.read(spark, p)) === collectVox(vol), s"codec $codec")
      assert(Files.exists(Paths.get(p, "zarr.json")))
      assert(Files.exists(Paths.get(p, "c", "0", "0", "0"))) // v3 key layout
    }
  }

  test("format goldens: zarr.json (plain, sharded, NGFF 0.5 group) and every v3 writer's file list") {
    val svol = ZarrStoreSpec.goldenVol(spark)
    val plain = tmp()
    Zarr3Store.write(svol, plain, BloscCodec("zstd", 5, 2),
      Map("graft:source" -> "atlas \"x\".mhd", "k" -> "v"))
    assert(Files.readString(Paths.get(plain, "zarr.json")) ===
        """{
        |    "zarr_format": 3,
        |    "node_type": "array",
        |    "shape": [7, 6, 5],
        |    "data_type": "uint32",
        |    "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [3, 4, 2]}},
        |    "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |    "fill_value": 0,
        |    "codecs": [
        |        {"name": "bytes", "configuration": {"endian": "little"}},
        |        {"name": "blosc", "configuration": {"cname": "zstd", "clevel": 5, "shuffle": "bitshuffle", "typesize": 4, "blocksize": 0}}
        |    ],
        |    "attributes": {"graft:source": "atlas \"x\".mhd", "k": "v"}
        |}""".stripMargin)
    assert(relFiles(plain) === words(
      "c/0/0/0 c/0/0/1 c/0/0/2 c/0/1/0 c/0/1/1 c/0/1/2 c/1/0/0 c/1/0/1 c/1/0/2 " +
      "c/1/1/0 c/1/1/1 c/1/1/2 c/2/0/0 c/2/0/1 c/2/0/2 c/2/1/0 c/2/1/1 c/2/1/2 " +
      "zarr.json"))
    val sharded = tmp()
    Zarr3Store.writeSharded(svol, sharded, (3, 2, 1), GzipCodec(6))
    assert(Files.readString(Paths.get(sharded, "zarr.json")) ===
        """{
        |    "zarr_format": 3,
        |    "node_type": "array",
        |    "shape": [7, 6, 5],
        |    "data_type": "uint32",
        |    "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [3, 4, 2]}},
        |    "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |    "fill_value": 0,
        |    "codecs": [
        |        {"name": "sharding_indexed", "configuration": {"chunk_shape": [3, 2, 1], "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "gzip", "configuration": {"level": 6}}], "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}], "index_location": "end"}}
        |    ],
        |    "attributes": {}
        |}""".stripMargin)
    assert(relFiles(sharded) === words(
      "c/0/0/0 c/0/0/1 c/0/0/2 c/0/1/0 c/0/1/1 c/0/1/2 c/1/0/0 c/1/0/1 c/1/0/2 " +
      "c/1/1/0 c/1/1/1 c/1/1/2 c/2/0/0 c/2/0/1 c/2/0/2 c/2/1/0 c/2/1/1 c/2/1/2 " +
      "zarr.json"))
    val group = tmp()
    PyramidWriter.writeV3(svol, levels = 2, group, upscaleFactor = 2)
    assert(Files.readString(Paths.get(group, "zarr.json")) ===
        """{
        |  "zarr_format": 3,
        |  "node_type": "group",
        |  "attributes": {
        |    "ome": {
        |      "version": "0.5",
        |      "multiscales": [{
        |        "name": "labels",
        |        "axes": [
        |          {"name": "z", "type": "space", "unit": "micrometer"},
        |          {"name": "y", "type": "space", "unit": "micrometer"},
        |          {"name": "x", "type": "space", "unit": "micrometer"}
        |        ],
        |        "datasets": [
        |        {
        |          "path": "0",
        |          "coordinateTransformations": [{
        |            "type": "scale",
        |            "scale": [1.0, 0.125, 0.25]
        |          }]
        |        },
        |        {
        |          "path": "1",
        |          "coordinateTransformations": [{
        |            "type": "scale",
        |            "scale": [2.0, 0.25, 0.5]
        |          }]
        |        }
        |        ]
        |      }]
        |    }
        |  }
        |}
        |""".stripMargin)
    assert(relFiles(group) === words(
      "0/c/0/0/0 0/c/0/0/1 0/c/0/0/2 0/c/0/1/0 0/c/0/1/1 0/c/0/1/2 0/c/1/0/0 " +
      "0/c/1/0/1 0/c/1/0/2 0/c/1/1/0 0/c/1/1/1 0/c/1/1/2 0/c/2/0/0 0/c/2/0/1 " +
      "0/c/2/0/2 0/c/2/1/0 0/c/2/1/1 0/c/2/1/2 0/zarr.json 1/c/0/0/0 1/c/0/0/1 " +
      "1/c/1/0/0 1/c/1/0/1 1/zarr.json zarr.json"))
    // the two documents no writer above emits: a raw big-endian array
    // with a non-zero fill, and a sharded array with its index first
    assert(Zarr3Store.zarrJson(
      ZarrStore.ZarrMeta(Seq(6, 5, 4), Seq(3, 2, 3), ">u2", Raw, 7L, "/")) ===
        """{
        |    "zarr_format": 3,
        |    "node_type": "array",
        |    "shape": [6, 5, 4],
        |    "data_type": "uint16",
        |    "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [3, 2, 3]}},
        |    "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |    "fill_value": 7,
        |    "codecs": [
        |        {"name": "bytes", "configuration": {"endian": "big"}}
        |    ],
        |    "attributes": {}
        |}""".stripMargin)
    assert(Zarr3Store.shardedZarrJson(
      ZarrStore.ZarrMeta(Seq(6, 5, 4), Seq(6, 4, 4), "<u4", ZstdCodec(3), 0L, "/"),
      Zarr3Store.ShardingMeta(Seq(3, 2, 2), indexCrc32c = false, indexAtEnd = false)) ===
        """{
        |    "zarr_format": 3,
        |    "node_type": "array",
        |    "shape": [6, 5, 4],
        |    "data_type": "uint32",
        |    "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [6, 4, 4]}},
        |    "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |    "fill_value": 0,
        |    "codecs": [
        |        {"name": "sharding_indexed", "configuration": {"chunk_shape": [3, 2, 2], "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "zstd", "configuration": {"level": 3, "checksum": false}}], "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}], "index_location": "start"}}
        |    ],
        |    "attributes": {}
        |}""".stripMargin)
  }

  test("metadata: zarrJson → parseZarrJson is the identity on the codec and dtype") {
    for (codec <- Seq(Raw, ZstdCodec(7), GzipCodec(2), BloscCodec("zstd", 5, 2, 4))) {
      val m = ZarrStore.ZarrMeta(Seq(6, 5, 4), Seq(3, 2, 3), "<u4", codec, 0L, "/")
      val back = Zarr3Store.parseZarrJson(Zarr3Store.zarrJson(m))
      assert(back.shape === m.shape && back.chunks === m.chunks)
      assert(back.dtype === m.dtype)
      (back.codec, codec) match {
        case (a: BloscCodec, b: BloscCodec) =>
          assert(a.cname === b.cname && a.clevel === b.clevel && a.shuffle === b.shuffle)
        case (a, b) => assert(a === b)
      }
    }
  }

  test("fail-loud: sharding_indexed, unknown codec, non-bytes first codec, v2 doc") {
    def boom(doc: String): Unit = intercept[Exception](Zarr3Store.parseZarrJson(doc))
    val base = """{"zarr_format": 3, "node_type": "array", "shape": [4,4,4],
      "data_type": "uint16",
      "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2,2,2]}},
      "fill_value": 0, "codecs": CODECS}"""
    boom(base.replace("CODECS",
      """[{"name": "sharding_indexed", "configuration": {}}]"""))
    boom(base.replace("CODECS",
      """[{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "lzma", "configuration": {}}]"""))
    boom(base.replace("CODECS", """[{"name": "crc32c"}]"""))
    boom("""{"zarr_format": 2, "shape": [4,4,4]}""")
  }

  test("fail-loud: must_understand extensions and non-integral integer fill_value") {
    def boom(doc: String): Unit = intercept[Exception](Zarr3Store.parseZarrJson(doc))
    val base = """{"zarr_format": 3, "node_type": "array", "shape": [4,4,4],
      "data_type": "uint16",
      "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2,2,2]}},
      "fill_value": FILL,
      "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]EXTRA}"""
    // unknown extension member without must_understand:false → refuse (spec)
    boom(base.replace("FILL", "0").replace("EXTRA",
      """, "exotic_extension": {"must_understand": true, "x": 1}"""))
    boom(base.replace("FILL", "0").replace("EXTRA", """, "exotic_extension": {"x": 1}"""))
    // explicitly ignorable extension is fine
    val ok = Zarr3Store.parseZarrJson(base.replace("FILL", "0").replace("EXTRA",
      """, "exotic_extension": {"must_understand": false, "x": 1}"""))
    assert(ok.fillValue === 0L)
    // 3.7 for uint16 must NOT silently truncate to 3
    boom(base.replace("FILL", "3.7").replace("EXTRA", ""))
    // whole-double fill for an integer type is acceptable (json writers emit 3.0)
    assert(Zarr3Store.parseZarrJson(
      base.replace("FILL", "3.0").replace("EXTRA", "")).fillValue === 3L)
  }

  test("absent chunk decodes as fill_value; '.' separator resolves") {
    val d = Files.createTempDirectory("graft_z3f").toString
    def gen(out: String, args: String*): String = {
      val cmd = Seq("python3", "tools/gen_zarr3_fixture.py", out) ++ args
      assert(scala.sys.process.Process(cmd).! === 0)
      out
    }
    // chunk (0,0,0) dropped: its 7³∩volume voxels read as fill 0
    val dropped = Zarr3Store.read(spark,
      gen(s"$d/drop", "--drop-chunk", "--endian", "le"))
    val m = collectVox(dropped)
    assert(m((0, 0, 0)) === 0L && m((6, 6, 6)) === 0L)   // inside the dropped chunk
    assert(m((7, 0, 0)) === 100L && m((0, 7, 0)) === 10L) // neighbors intact
    // '.' separator: same values, flat key files
    val dotted = Zarr3Store.read(spark, gen(s"$d/dot", "--sep", ".", "--endian", "be"))
    assert(collectVox(dotted)((15, 15, 15)) === 333L)
    assert(Files.exists(Paths.get(s"$d/dot", "c.0.0.0")))
  }

  test("NGFF 0.5 group: writeV3 → openGroupV3 round-trips metadata; v2/bare groups fail loud") {
    val p = tmp()
    PyramidWriter.writeV3(vol, levels = 2, p, upscaleFactor = 2)
    val g = PyramidWriter.openGroupV3(p)
    assert(g.levels === 2 && g.levelPaths === Seq("0", "1"))
    assert(g.scalesZyx(1).head === g.scalesZyx(0).head * 2) // level 1 doubles the pitch
    val l1 = PyramidWriter.readLevelV3(spark, p, 1)
    assert(l1.meta.dimZ === 3 && l1.meta.dimY === 3 && l1.meta.dimX === 2)
    // level out of declared range is an error even if a dir existed
    intercept[IllegalArgumentException](PyramidWriter.readLevelV3(spark, p, 2))
    // a v3 ARRAY document is not a group
    val arr = tmp()
    Zarr3Store.write(vol, arr, Raw)
    intercept[Exception](PyramidWriter.openGroupV3(arr))
    // a group without attributes.ome is not an NGFF pyramid
    val bare = Files.createTempDirectory("graft_z3bare")
    Files.writeString(bare.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    intercept[Exception](PyramidWriter.openGroupV3(bare.toString))
  }

  test("metadata fuzz: corrupted zarr.json parses or fails loud, never misparses silently") {
    val valid = Zarr3Store.zarrJson(
      ZarrStore.ZarrMeta(Seq(6, 5, 4), Seq(3, 2, 3), "<u2", ZstdCodec(3), 0L, "/"))
    val cases =
      (0 until valid.length by 7).map(valid.take) ++
        (0 until valid.length by 11).map { i =>
          val a = valid.toCharArray; a(i) = (a(i) ^ 0x5).toChar; new String(a)
        }
    cases.foreach { doc =>
      scala.util.Try(Zarr3Store.parseZarrJson(doc)) match {
        case scala.util.Success(m) =>
          assert(m.shape.forall(_ > 0) && m.chunks.forall(_ > 0))
        case scala.util.Failure(e) => assert(e.isInstanceOf[Exception])
      }
    }
  }

  test("gzip codec is RFC-1952 (python gzip), not zlib") {
    val payload = Array.tabulate[Byte](100)(i => (i * 7).toByte)
    val gz = GzipCodec(6).compress(payload)
    assert((gz(0) & 0xff) === 0x1f && (gz(1) & 0xff) === 0x8b) // gzip magic
    assert(GzipCodec(6).decompress(gz, 100) === payload)
  }
}
