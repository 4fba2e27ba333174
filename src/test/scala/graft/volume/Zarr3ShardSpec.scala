package graft.volume

import graft.SparkSpec
import graft.volume.ZarrStore.{BloscCodec, GzipCodec, Raw, ZstdCodec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** zarr v3 `sharding_indexed` contract: shard-file layout (inner grid +
  * uint64-LE index + crc32c, index at start or end), write → read
  * round-trips incl. edge shards and missing cells, foreign interop
  * against the independent python shard encoder, corrupt-index fail-loud,
  * and the positioned-read point lookup's evidence (one shard opened,
  * index + one inner chunk read — never the shard body).
  */
class Zarr3ShardSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_z3shard")
    d.toFile.deleteOnExit()
    d.resolve("arr").toString
  }

  // 10×9×8 volume so the (6,6,4) shard grid has trimmed edge shards
  private def vox: DataFrame = spark.range(10 * 9 * 8).select(
    expr("id div 72").as("z"), expr("(id div 8) % 9").as("y"),
    expr("id % 8").as("x"), (col("id") * 13 % 997).as("label"))

  private def vol = ChunkVolume.fromVoxels(vox, 10, 9, 8, 6, 6, 4)

  private def collectVox(v: ChunkVolume): Map[(Long, Long, Long), Long] =
    v.toVoxels.collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap

  test("sharded write → read round-trip: codecs, edge shards trimmed") {
    // the writer puts the index at the end; start-index reads are covered
    // by the gen_zarr3_fixture.py --index-location start fixtures below
    val expected = collectVox(vol)
    for (codec <- Seq(Raw, ZstdCodec(3), GzipCodec(6), BloscCodec("zstd", 5, 2))) {
      val p = tmp()
      Zarr3Store.writeSharded(vol, p, innerShape = (3, 2, 2), codec)
      val back = Zarr3Store.read(spark, p)
      // the reader exposes the INNER grid
      assert(back.meta.chunkZ === 3 && back.meta.chunkY === 2 && back.meta.chunkX === 2)
      assert(collectVox(back) === expected, s"codec=$codec")
      assert(Files.readString(Paths.get(p, "zarr.json")).contains("\"index_location\": \"end\""))
      // one file per SHARD, not per inner chunk
      assert(Files.exists(Paths.get(p, "c", "0", "0", "0")))
      assert(!Files.exists(Paths.get(p, "c", "0", "0", "2"))) // shard grid is 2×2×2
    }
  }

  test("metadata: shardedZarrJson → parseZarrJsonAny round-trips the sharding layout") {
    val zm = ZarrStore.ZarrMeta(Seq(10, 9, 8), Seq(6, 6, 4), "<u4", ZstdCodec(3), 0L, "/")
    val sh = Zarr3Store.ShardingMeta(Seq(3, 2, 2), indexCrc32c = true, indexAtEnd = false)
    val (zm2, sh2) = Zarr3Store.parseZarrJsonAny(Zarr3Store.shardedZarrJson(zm, sh))
    assert(zm2.chunks === Seq(6, 6, 4) && zm2.codec === ZstdCodec(3))
    assert(sh2 === Some(sh))
    // unsharded parser keeps refusing sharded docs (append paths can't shard)
    intercept[Exception](Zarr3Store.parseZarrJson(Zarr3Store.shardedZarrJson(zm, sh)))
  }

  test("missing shard file and missing inner cell both decode as fill_value") {
    val p = tmp()
    Zarr3Store.writeSharded(vol, p, innerShape = (3, 2, 2), ZstdCodec(3))
    // delete a whole shard: its 6×6×4 extent reads back as fill 0
    Files.delete(Paths.get(p, "c", "1", "1", "1"))
    val m = collectVox(Zarr3Store.read(spark, p))
    assert(m((9, 8, 7)) === 0L && m((6, 6, 4)) === 0L)
    assert(m((5, 5, 3)) === (((5 * 9 + 5) * 8 + 3) * 13 % 997).toLong) // other shards intact
  }

  test("corrupt shard index crc32c fails loud, never mis-addresses") {
    val p = tmp()
    Zarr3Store.writeSharded(vol, p, innerShape = (3, 2, 2), ZstdCodec(3))
    val f = Paths.get(p, "c", "0", "0", "0")
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x5a).toByte // flip crc bits
    Files.write(f, bytes)
    val e = intercept[Exception](collectVox(Zarr3Store.read(spark, p)))
    assert(e.getMessage != null)
    intercept[Exception](Zarr3Store.pointLookupSharded(p, 0, 0, 0))
  }

  test("writeSharded rejects an inner shape that does not divide the shard shape") {
    intercept[IllegalArgumentException](
      Zarr3Store.writeSharded(vol, tmp(), innerShape = (4, 2, 2)))
  }

  test("writeSharded rejects an off-grid chunk (a raw decimate level) by name") {
    // 15 planes on 5-plane chunks: decimated chunk 1 holds planes 3..4
    // and chunk 2 planes 5..7, but the 8-plane level's (3,3,2) grid has
    // cells 3..5 and 6..7
    val vox = spark.range(15 * 9 * 8).select(
      expr("id div 72").as("z"), expr("(id div 8) % 9").as("y"), expr("id % 8").as("x"),
      (col("id") % 251).as("label"))
    val level = ChunkVolume.fromVoxels(vox, 15, 9, 8, 5, 6, 4).decimate()
    val e = intercept[Exception](Zarr3Store.writeSharded(level, tmp(), innerShape = (3, 3, 2)))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("is not on the uniform (3,3,2) grid")), e.toString)
  }

  test("point lookup: one shard opened, index + one inner chunk read, body untouched") {
    val p = tmp()
    Zarr3Store.writeSharded(vol, p, innerShape = (3, 2, 2), ZstdCodec(3))
    val expected = collectVox(vol)
    for ((z, y, x) <- Seq((0L, 0L, 0L), (9L, 8L, 7L), (5L, 6L, 3L))) {
      val probe = Zarr3Store.pointLookupSharded(p, z, y, x)
      assert(probe.label === expected((z, y, x)), s"($z,$y,$x)")
      assert(probe.shardsOpened === 1)
      // evidence: index + one compressed inner chunk ≪ the shard file
      assert(probe.bytesRead > 0 && probe.bytesRead < probe.fileBytes,
        s"read ${probe.bytesRead} of ${probe.fileBytes}")
    }
    intercept[IllegalArgumentException](Zarr3Store.pointLookupSharded(p, 10, 0, 0))
  }

  test("box read clamps to the array: boxes below 0, past the shape and wholly outside") {
    val p = tmp()
    Zarr3Store.writeSharded(vol, p, innerShape = (3, 2, 2), ZstdCodec(3))
    val back = Zarr3Store.read(spark, p)
    val expected = collectVox(vol)
    // the array is 10×9×8 on a (6,6,4) shard grid; z0 = -7 reaches past
    // shard -1, so truncating division alone would plan a shard below 0
    val boxes = Seq(
      (-7L, 3L, -1L, 4L, -5L, 2L),   // partly below 0 on every axis
      (8L, 15L, 7L, 20L, 6L, 9L),    // partly past the shape on every axis
      (-20L, -8L, 0L, 9L, 0L, 8L),   // wholly below 0
      (10L, 30L, 0L, 9L, 0L, 8L))    // wholly past the shape
    for ((z0, z1, y0, y1, x0, x1) <- boxes) {
      val got = back.cropVoxels(z0, z1, y0, y1, x0, x1).collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
      val want = expected.filter { case ((z, y, x), _) =>
        z0 <= z && z < z1 && y0 <= y && y < y1 && x0 <= x && x < x1 }
      assert(got === want, s"box [$z0,$z1)×[$y0,$y1)×[$x0,$x1)")
      assert(got.isEmpty === (z1 <= 0 || z0 >= 10), s"rows of box [$z0,$z1)")
    }
  }

  test("shape sweep: shard/inner/dim combinations all round-trip (edge shards, partial cells)") {
    import org.apache.spark.sql.functions._
    // dims deliberately misaligned with both grids; inner always divides
    // the shard shape, nothing else divides anything
    for {
      (dz, dy, dx) <- Seq((7L, 5L, 9L), (12L, 12L, 3L))
      (shard, inner) <- Seq(((4, 4, 4), (2, 2, 2)), ((6, 2, 8), (3, 1, 4)), ((2, 6, 2), (2, 3, 1)))
    } {
      val vx = spark.range(dz * dy * dx).select(
        expr(s"id div ${dy * dx}").as("z"),
        expr(s"(id div $dx) % $dy").as("y"),
        expr(s"id % $dx").as("x"),
        (col("id") * 29 % 251).as("label"))
      val v = ChunkVolume.fromVoxels(vx, dz, dy, dx, shard._1, shard._2, shard._3)
      val p = tmp()
      Zarr3Store.writeSharded(v, p, inner, ZstdCodec(1))
      assert(collectVox(Zarr3Store.read(spark, p)) === collectVox(v),
        s"dims=($dz,$dy,$dx) shard=$shard inner=$inner")
      // spot point lookups across the grid
      for ((z, y, x) <- Seq((0L, 0L, 0L), (dz - 1, dy - 1, dx - 1), (dz / 2, dy / 2, dx / 2))) {
        val pr = Zarr3Store.pointLookupSharded(p, z, y, x)
        assert(pr.label === ((z * dy + y) * dx + x) * 29 % 251,
          s"point ($z,$y,$x) dims=($dz,$dy,$dx) shard=$shard inner=$inner")
      }
    }
  }

  test("compactToSharded: fine-chunk store folds into shards, values intact; sharded input refused") {
    val d = Files.createTempDirectory("graft_z3cmp_spec")
    d.toFile.deleteOnExit()
    val fine = d.resolve("fine").toString
    val packed = d.resolve("packed").toString
    Zarr3Store.write(vol, fine, ZstdCodec(3))
    Zarr3Store.compactToSharded(spark, fine, packed,
      shardShape = (6, 6, 4), innerShape = (3, 2, 2))
    assert(collectVox(Zarr3Store.read(spark, packed)) === collectVox(vol))
    // object count dropped: fine has one file per (6,6,4)-grid chunk,
    // packed has one per shard (same grid here) but holds the index too
    assert(Files.exists(Paths.get(packed, "c", "0", "0", "0")))
    intercept[IllegalArgumentException](
      Zarr3Store.compactToSharded(spark, packed, d.resolve("x").toString,
        (6, 6, 4), (3, 2, 2)))
  }

  test("foreign interop: python sharded fixtures (both index locations, BE, gzip, dropped cell)") {
    val d = Files.createTempDirectory("graft_z3shard_f").toString
    def gen(out: String, args: String*): String = {
      val cmd = Seq("python3", "tools/gen_zarr3_fixture.py", out) ++ args
      assert(scala.sys.process.Process(cmd).! === 0)
      out
    }
    def formula(z: Long, y: Long, x: Long): Long = (z / 4) * 100 + (y / 4) * 10 + x / 4
    for (loc <- Seq("end", "start")) {
      val p = gen(s"$d/$loc", "--dim", "16", "--chunk", "8", "--shard-inner", "4",
        "--endian", "be", "--codec", "gzip", "--index-location", loc, "--drop-chunk")
      val m = collectVox(Zarr3Store.read(spark, p))
      assert(m.size === 16 * 16 * 16)
      // dropped inner cell (0,0,0)..(3,3,3) reads as fill 0
      assert(m((0, 0, 0)) === 0L && m((3, 3, 3)) === 0L)
      assert(m((4, 0, 0)) === formula(4, 0, 0) && m((15, 15, 15)) === formula(15, 15, 15))
      // point lookups against the foreign file agree with the formula
      val probe = Zarr3Store.pointLookupSharded(p, 9, 9, 9)
      assert(probe.label === formula(9, 9, 9) && probe.shardsOpened === 1)
      assert(probe.bytesRead < probe.fileBytes)
    }
  }
}
