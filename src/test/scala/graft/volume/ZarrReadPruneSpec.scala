package graft.volume

import graft.SparkSpec
import graft.plans.PlanAudit
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** The planned-grid zarr reader prunes before it decodes: a chunk
  * predicate on the geometry columns runs below the decode, so a point
  * lookup or a one-chunk crop reads only the chunk file that owns it; and
  * the grid plan itself moves no data through a shuffle.
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

  test("pointLookup and a one-chunk cropVoxels read only the owning chunk file (v2 and plain v3)") {
    val garbage = Array.tabulate[Byte](257)(i => (i * 37 + 11).toByte)
    for (l <- layouts; (cz, cy, cx) <- Seq((0, 0, 0), (1, 1, 0), (3, 1, 1))) {
      val store = tmp("arr")
      l.write(vol, store)
      val owner = Paths.get(store).resolve(l.key(cz, cy, cx))
      val others = chunkFiles(store, l.isChunk).filterNot(_ == owner)
      assert(others.size === 15, s"${l.name}: chunk files besides $owner")
      others.foreach(Files.write(_, garbage))

      val back = l.read(store)
      val (z, y, x) = (cz * 2L + 1, cy * 3L + 2, cx * 3L)
      assert(back.pointLookup(z, y, x) === Some(label(z, y, x)), s"${l.name} lookup ($z,$y,$x)")

      val (z0, y0, x0) = (cz * 2L, cy * 3L, cx * 3L)
      val got = back.cropVoxels(z0, z0 + 2, y0 + 1, y0 + 3, x0, x0 + 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
      val want = for (z <- z0 until z0 + 2; y <- y0 + 1 until y0 + 3; x <- x0 until x0 + 2)
        yield (z, y, x, label(z, y, x))
      assert(got === want, s"${l.name} crop of chunk ($cz,$cy,$cx)")
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
}
