package graft.volume

import graft.SparkSpec
import graft.plans.PlanAudit
import org.apache.spark.TestListenerBus.jobsDuring
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** The planned-grid zarr reader prunes before it decodes: a chunk
  * predicate on the geometry columns runs below the decode, so a
  * one-chunk crop reads only the chunk file that owns it (on a sharded
  * store, that shard's index and the owning inner blob); a point lookup
  * on the volume a zarr reader returns reads its one chunk on the driver
  * and runs no Spark job; and the grid plan itself moves no data through
  * a shuffle. A `format("zarr")` scan prunes by its pushed coordinate
  * filters and cuts the cells it keeps into the read's slices.
  */
class ZarrReadPruneSpec extends AnyFunSuite with SparkSpec {

  // 8×6×6 on a (2,3,3) grid: 16 cells, so at local[4] every read task
  // holds 4 chunks and a lookup's task passes over its neighbours
  private val (dz, dy, dx) = (8L, 6L, 6L)
  private def label(z: Long, y: Long, x: Long): Long = (z * 131 + y * 17 + x * 5) % 1000

  private def vol: ChunkVolume = {
    val vox = spark.range(dz * dy * dx).select(
      expr(s"id div ${dy * dx}").as("z"), expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id % $dx").as("x"))
      .withColumn("label", (col("z") * 131 + col("y") * 17 + col("x") * 5) % 1000)
    ChunkVolume.fromVoxels(vox, dz, dy, dx, 2, 3, 3)
  }

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("graft_zprune")
    d.toFile.deleteOnExit()
    d.resolve(name).toString
  }

  /** Every chunk file under `store` (paths matched by `isChunk` on the
    * `/`-joined relative name).
    */
  private def chunkFiles(store: String, isChunk: String => Boolean): Seq[Path] = {
    val root = Paths.get(store)
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => isChunk(root.relativize(p).toString))
    finally s.close()
  }

  private case class Layout(name: String, write: (ChunkVolume, String) => Unit,
      read: String => ChunkVolume, key: (Int, Int, Int) => String, isChunk: String => Boolean)

  private val layouts = Seq(
    Layout("zarr v2", (v, p) => ZarrStore.write(v, p, ZarrStore.Zlib(5)),
      ZarrStore.read(spark, _), (z, y, x) => s"$z.$y.$x", _.matches("\\d+\\.\\d+\\.\\d+")),
    Layout("zarr v3", (v, p) => Zarr3Store.write(v, p, ZarrStore.ZstdCodec(3)),
      Zarr3Store.read(spark, _), (z, y, x) => s"c/$z/$y/$x", _.startsWith("c/")))

  // (4,3,3) shards of (2,3,3) inner chunks: 8 shard files of 2 cells, so
  // grid cell (cz, cy, cx) lives in shard (cz / 2, cy, cx)
  private val shardedV3 = Layout("sharded zarr v3",
    (v, p) => Zarr3Store.writeSharded(v.rechunk(4, 3, 3), p, (2, 3, 3)),
    Zarr3Store.read(spark, _), (z, y, x) => s"c/${z / 2}/$y/$x", _.startsWith("c/"))

  // format("zarr") over a v2 store: it prunes by its pushed coordinate
  // filters, so the owning chunk reads back through a cz/cy/cx filter
  private val dsv2 = layouts.head.copy(name = "format(\"zarr\")", read = p => {
    import spark.implicits._
    ChunkVolume(spark.read.format("zarr").load(p).as[Chunk], vol.meta)
  })

  private def fields(c: Chunk) = (c.cz, c.cy, c.cx, c.z0, c.y0, c.x0, c.nz, c.ny, c.nx, c.data.toSeq)

  /** Overwrite every chunk file of `store` but the one holding grid cell
    * (cz, cy, cx) with bytes no codec decodes; `n` files are expected.
    * Returns the garbled files.
    */
  private def garbleAllBut(store: String, l: Layout, cz: Int, cy: Int, cx: Int, n: Int): Seq[Path] = {
    val owner = Paths.get(store).resolve(l.key(cz, cy, cx))
    val others = chunkFiles(store, l.isChunk).filterNot(_ == owner)
    assert(others.size === n, s"${l.name}: files besides $owner")
    others.foreach(Files.write(_, Array.tabulate[Byte](257)(i => (i * 37 + 11).toByte)))
    others
  }

  /** Every message in `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")

  /** Overwrite in place the blob of the other inner cell in grid cell
    * (cz, cy, cx)'s shard, leaving the shard's index and its crc32c intact.
    */
  private def garbleSibling(store: String, cz: Int, cy: Int, cx: Int): Unit = {
    val f = Paths.get(store).resolve(shardedV3.key(cz, cy, cx))
    val bytes = Files.readAllBytes(f)
    // index at the end: (offset, nbytes) of the shard's 2 cells, then crc32c
    val idx = ByteBuffer.wrap(bytes, bytes.length - 36, 32).order(ByteOrder.LITTLE_ENDIAN)
    val entries = Array.fill(4)(idx.getLong.toInt)
    val sibling = 1 - cz % 2
    val (off, len) = (entries(2 * sibling), entries(2 * sibling + 1))
    for (i <- off until off + len) bytes(i) = (i * 37 + 11).toByte
    Files.write(f, bytes)
  }

  private def sc = spark.sparkContext

  test("pointLookup and a one-chunk cropVoxels read only the owning chunk file (v2, plain and sharded v3)") {
    for ((l, others) <- (layouts :+ dsv2).map(_ -> 15) :+ (shardedV3 -> 7);
         (cz, cy, cx) <- Seq((0, 0, 0), (1, 1, 0), (3, 1, 1))) {
      val store = tmp("arr")
      l.write(vol, store)
      val garbled = garbleAllBut(store, l, cz, cy, cx, others)
      if (l == shardedV3) garbleSibling(store, cz, cy, cx)

      val back = l.read(store)
      // the failure names the file it could not decode (for a shard: the
      // shard file, whose index or inner blob is garbled)
      val failed = messages(intercept[Exception](back.chunks.collect()))
      val files = if (l == shardedV3) garbled :+ Paths.get(store).resolve(l.key(cz, cy, cx)) else garbled
      assert(files.exists(f => failed.contains(f.toString)), s"${l.name}: no chunk file named in\n$failed")
      if (l == dsv2) {
        val owner = col("cz") === cz && col("cy") === cy && col("cx") === cx
        val got = back.chunks.filter(owner).collect().map(fields).toSeq
        assert(got === vol.chunks.filter(owner).collect().map(fields).toSeq, s"${l.name}: chunk ($cz,$cy,$cx)")
      } else {
        val (z, y, x) = (cz * 2L + 1, cy * 3L + 2, cx * 3L)
        val (got, jobs) = jobsDuring(sc)(back.pointLookup(z, y, x))
        assert(got === Some(label(z, y, x)), s"${l.name} lookup ($z,$y,$x)")
        assert(jobs === 0, s"${l.name} lookup ($z,$y,$x) ran $jobs jobs")

        val (z0, y0, x0) = (cz * 2L, cy * 3L, cx * 3L)
        val crop = back.cropVoxels(z0, z0 + 2, y0 + 1, y0 + 3, x0, x0 + 2).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
        val want = for (z <- z0 until z0 + 2; y <- y0 + 1 until y0 + 3; x <- x0 until x0 + 2)
          yield (z, y, x, label(z, y, x))
        assert(crop === want, s"${l.name} crop of chunk ($cz,$cy,$cx)")
      }
    }
  }

  test("a short or cut-off chunk file fails naming that file, never reads back zero-filled or hangs") {
    // a (2,3,3) uint32 chunk is 72 bytes; the stray file encodes 64
    val small = Array.tabulate[Byte](64)(i => (i % 4 + 1).toByte)
    val blosc = ZarrStore.BloscCodec("zstd", 3, shuffle = 1, typesize = 4)
    // blosc's header records the short length, which the reader checks;
    // with the header's nbytes and blocksize set to the full chunk, only
    // the inner zstd stream is short
    val bloscInnerShort = {
      val b = blosc.compress(small)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(4, 72).putInt(8, 72)
      b
    }
    for ((name, codec, stray) <- Seq(
        ("zstd", ZarrStore.ZstdCodec(3), ZarrStore.ZstdCodec(3).compress(small)),
        ("blosc-zstd", blosc, blosc.compress(small)),
        ("blosc-zstd inner stream", blosc, bloscInnerShort),
        ("raw", ZarrStore.Raw, small),
        // a cut-off file: the inflater runs out of input before the end
        ("truncated zlib", ZarrStore.Zlib(5), {
          val z = ZarrStore.Zlib(5).compress(Array.tabulate[Byte](72)(i => (i * 7).toByte))
          java.util.Arrays.copyOf(z, z.length / 2)
        }))) {
      val store = tmp("short")
      ZarrStore.write(vol, store, codec)
      val f = Paths.get(store, "1.1.0")
      Files.write(f, stray)
      val back = ZarrStore.read(spark, store)
      for ((how, e) <- Seq("scan" -> intercept[Exception](back.chunks.collect()),
          "point lookup" -> intercept[Exception](back.pointLookup(2, 3, 0)))) {
        val failed = messages(e)
        assert(failed.contains(s"$f failed to decode"), s"$name $how: no chunk file named in\n$failed")
      }
    }
  }

  test("format(\"zarr\") cuts the cells it keeps as ZarrStore.read cuts its grid") {
    val store = tmp("arr")
    ZarrStore.write(vol, store, ZarrStore.Zlib(5))
    val df = spark.read.format("zarr").load(store)
    assert(sc.defaultParallelism === 4)
    assert(df.rdd.getNumPartitions === ZarrStore.read(spark, store).chunks.rdd.getNumPartitions)
    val point = df.filter(col("cz") === 2 && col("cy") === 1 && col("cx") === 0)
    assert(point.rdd.getNumPartitions === 1)
    // slabs of the (4, 2, 2) grid: min(slab cells, 4) tasks, each cell once
    val slabs = Seq((col("cz") === 1 && col("cy") === 0, 2), (col("cz") === 1, 4),
      (col("cy") === 1 && col("cx") === 0, 4), (col("cz").isin(0, 3), 8), (col("cz") >= 1, 12))
    for ((slab, cells) <- slabs) {
      val kept = df.filter(slab)
      assert(kept.rdd.getNumPartitions === math.min(cells, 4), s"$slab")
      assert(kept.select("cz", "cy", "cx").distinct().count() === cells && kept.count() === cells, s"$slab")
    }
  }

  test("the planned-grid read plans no shuffle: v2, plain and sharded v3, and a point-shaped crop") {
    val v2 = tmp("v2")
    ZarrStore.write(vol, v2, ZarrStore.Zlib(5))
    val v3 = tmp("v3")
    Zarr3Store.write(vol, v3)
    val sharded = tmp("sharded")
    Zarr3Store.writeSharded(vol.rechunk(4, 6, 6), sharded, (2, 3, 3))
    val reads = Seq("zarr v2" -> ZarrStore.read(spark, v2), "zarr v3" -> Zarr3Store.read(spark, v3),
      "sharded zarr v3" -> Zarr3Store.read(spark, sharded))
    for ((name, back) <- reads) {
      assert(PlanAudit.shuffleExchanges(back.chunks.toDF()) === 0, s"$name chunks")
      assert(PlanAudit.shuffleExchanges(back.cropVoxels(5, 6, 4, 5, 3, 4)) === 0, s"$name point")
    }
  }

  test("pointLookup off the array is None and runs no Spark job") {
    for (l <- layouts :+ shardedV3) {
      val store = tmp("arr")
      l.write(vol, store)
      val back = l.read(store)
      for ((z, y, x) <- Seq((-1L, 0L, 0L), (0L, -1L, 0L), (0L, 0L, -1L),
          (dz, 0L, 0L), (0L, dy, 0L), (0L, 0L, dx), (Long.MaxValue, 0L, 0L))) {
        val (got, jobs) = jobsDuring(sc)(back.pointLookup(z, y, x))
        assert(got === None && jobs === 0, s"${l.name} ($z,$y,$x): $got after $jobs jobs")
      }
    }
  }

  test("pointLookup of an absent chunk or shard file returns fill_value, as the Spark path does") {
    for (l <- layouts :+ shardedV3) {
      val store = tmp("arr")
      l.write(vol, store)
      val doc = Seq(".zarray", "zarr.json").map(Paths.get(store).resolve(_)).find(Files.exists(_)).get
      val body = new String(Files.readAllBytes(doc), UTF_8)
      assert(body.contains("\"fill_value\": 0"), s"${l.name}: $doc")
      Files.write(doc, body.replace("\"fill_value\": 0", "\"fill_value\": 7").getBytes(UTF_8))
      Files.delete(Paths.get(store).resolve(l.key(2, 1, 0)))
      val back = l.read(store)
      val (got, jobs) = jobsDuring(sc)(back.pointLookup(5, 4, 1))
      assert(got === Some(7L) && jobs === 0, s"${l.name}: $got after $jobs jobs")
      assert(back.copy(chunks = back.chunks).pointLookup(5, 4, 1) === Some(7L), s"${l.name} on Spark")
    }
  }

  test("a volume derived from a zarr read looks up on Spark: a filter and an upscale") {
    for (l <- layouts :+ shardedV3) {
      val store = tmp("arr")
      l.write(vol, store)
      val back = l.read(store)
      val (z, y, x) = (3L, 4L, 2L) // grid cell (1, 1, 0)
      val owner = col("cz") === 1 && col("cy") === 1 && col("cx") === 0
      val (dropped, filterJobs) = jobsDuring(sc)(back.copy(chunks = back.chunks.filter(!owner)).pointLookup(z, y, x))
      assert(dropped === None && filterJobs > 0, s"${l.name}: filtered lookup $dropped after $filterJobs jobs")
      val (up, upJobs) = jobsDuring(sc)(back.upscale(2).pointLookup(2 * z + 1, 2 * y, 2 * x + 1))
      assert(up === Some(label(z, y, x)) && upJobs > 0, s"${l.name}: upscaled lookup $up after $upJobs jobs")
    }
  }
}
