package graft.sources

import graft.SparkSpec
import graft.volume.{AtomicDir, Chunk, ChunkVolume, ZarrStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** Atomicity + bounded-truncate properties of the zarr write paths
  * (reference overwrite is all-or-nothing: upscale_streaming.py:118–127).
  *
  *  - a job that FAILS mid-write leaves the destination byte-identical
  *    to the previous store (overwrite AND append), with no temp/trash
  *    debris surviving the background sweep;
  *  - overwrite never deletes the old store before/during the job (no
  *    O(files) driver truncate walk) — the old tree stays readable until
  *    the O(1)-rename publish at job commit, and stale files are retired
  *    off the driver path.
  */
class ZarrAtomicWriteSpec extends AnyFunSuite with SparkSpec {

  private val (dz, dy, dx) = (8L, 6L, 4L)

  private def mkVox(seed: Long) = {
    val s = spark
    s.range(dz * dy * dx).selectExpr(
      s"id div ${dy * dx} as z",
      s"(id div $dx) % $dy as y",
      s"id % $dx as x",
      s"(id * $seed + 3) % 199 as label")
  }

  private def vol(seed: Long) = ChunkVolume.fromVoxels(mkVox(seed), dz, dy, dx, 4, 3, 2)

  private def collectVox(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("z", "y", "x", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq

  private def geomOpts(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) =
    w.option("dimZ", dz).option("dimY", dy).option("dimX", dx)
      .option("chunkZ", 4).option("chunkY", 3).option("chunkX", 2)

  /** A chunk frame whose LAST coordinate is off-grid → its task throws in
    * the chunk encoder after sibling partitions have already landed files.
    */
  private def poisoned(seed: Long) = {
    import spark.implicits._
    vol(seed).chunks.toDF()
      .withColumn("z0", when(col("cz") === 1 && col("cy") === 1 && col("cx") === 1,
        lit(99L)).otherwise(col("z0")))
      .repartition(4, col("cz"), col("cy"), col("cx"))
  }

  private def siblings(dest: Path): Seq[String] = {
    val base = dest.getFileName.toString
    val it = Files.list(dest.getParent)
    try it.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq
      .filter(n => n != base && n.startsWith(base + ".__"))
    finally it.close()
  }

  test("overwrite job failure is a no-op: old store intact, debris swept") {
    val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "s.zarr")
    val v1 = vol(7)
    ZarrStore.write(v1, dest.toString)
    val expect = collectVox(ZarrStore.read(spark, dest.toString).toVoxels)

    val e = intercept[Exception] {
      geomOpts(poisoned(13).write.format("zarr")).mode("overwrite").save(dest.toString)
    }
    assert(e.getMessage != null)
    // destination unchanged — a reader never sees a partial v2 store
    assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) === expect)
    AtomicDir.awaitQuiescent()
    assert(siblings(dest).isEmpty, "temp/trash sibling survived the sweep")
  }

  test("append job failure publishes nothing: no staged chunk visible") {
    val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "a.zarr")
    val v1 = vol(7)
    ZarrStore.write(v1, dest.toString)
    val expect = collectVox(ZarrStore.read(spark, dest.toString).toVoxels)

    intercept[Exception] {
      poisoned(29).write.format("zarr").mode("append").save(dest.toString)
    }
    assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) === expect)
    AtomicDir.awaitQuiescent()
    // The abort deletes the staged tree in the background, but Spark kills
    // the job's other tasks ASYNCHRONOUSLY — a zombie task can land one
    // more staged file after the delete walked its subtree (observed once
    // under full-suite load, r21). The DOCUMENTED contract
    // (StoreStaging.Append) is reader invisibility — asserted above — plus
    // sweep-on-next-append, not instantaneous emptiness; assert exactly
    // that: after the next append's staging-create sweep, nothing staged
    // survives. Bounded-wait for the aborted job's zombies to die first,
    // so the sweep cannot itself be raced by a late staged write.
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((tracker.getActiveJobIds().nonEmpty || tracker.getActiveStageIds().nonEmpty)
        && System.nanoTime() < deadline) Thread.sleep(50)
    v1.chunks.toDF().write.format("zarr").mode("append").save(dest.toString)
    assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) === expect)
    AtomicDir.awaitQuiescent()
    val root = dest.resolve(".__staging")
    if (Files.isDirectory(root)) {
      val kids = { val it = Files.list(root); try it.count() finally it.close() }
      assert(kids === 0, "staged chunks survived abort + sweep")
    }
  }

  /** Re-key a `.`-separated v2 store to `/`: chunk `a.b.c` moves to
    * `a/b/c` and `.zarray` declares the separator.
    */
  private def rekeySlash(dest: Path): Unit = {
    val names = { val it = Files.list(dest); try it.toArray.map(_.asInstanceOf[Path]) finally it.close() }
    for (p <- names; n = p.getFileName.toString if n.matches("\\d+\\.\\d+\\.\\d+")) {
      val to = dest.resolve(n.replace('.', '/'))
      Files.createDirectories(to.getParent)
      Files.move(p, to)
    }
    val za = dest.resolve(".zarray")
    Files.writeString(za, Files.readString(za)
      .replace("\"dimension_separator\": \".\"", "\"dimension_separator\": \"/\""))
  }

  test("append success upserts atomically per chunk file") {
    for (sep <- Seq(".", "/")) {
      val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "u.zarr")
      ZarrStore.write(vol(7), dest.toString)
      if (sep == "/") rekeySlash(dest)
      // upsert every chunk with new content; commit publishes per-file renames
      vol(31).chunks.toDF().write.format("zarr").mode("append").save(dest.toString)
      assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) ===
        collectVox(mkVox(31)), s"separator '$sep'")
      // the append keys chunks the way the store declares: no stray `.` keys
      if (sep == "/") {
        val it = Files.list(dest)
        try assert(!it.toArray.exists(_.asInstanceOf[Path].getFileName.toString
          .matches("\\d+\\.\\d+\\.\\d+")))
        finally it.close()
      }
      AtomicDir.awaitQuiescent()
      assert(siblings(dest).isEmpty)
    }
  }

  test("ChunkStore.write failure is a no-op; a published store carries its stats index") {
    import graft.volume.ChunkStore
    val dest = Paths.get(Files.createTempDirectory("gcs_atomic").toString, "s.gcs")
    ChunkStore.write(vol(7), dest.toString)
    val expect = collectVox(ZarrStore.read(spark, dest.toString).toVoxels)
    val index = Files.readString(dest.resolve(ChunkStore.StatsIndexName))
    import spark.implicits._
    val poisonedVol = ChunkVolume(
      vol(13).chunks.map { c =>
        if (c.cz == 1 && c.cy == 1 && c.cx == 1) c.copy(z0 = 99L) else c
      }.repartition(4), vol(13).meta)
    intercept[Exception] { ChunkStore.write(poisonedVol, dest.toString) }
    assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) === expect)
    assert(Files.readString(dest.resolve(ChunkStore.StatsIndexName)) === index)
    AtomicDir.awaitQuiescent()
    assert(siblings(dest).isEmpty)
    // successful overwrite publishes atomically, stats index included
    ChunkStore.write(vol(31), dest.toString)
    assert(ChunkStore.readStatsIndex(dest.toString).exists(_.size === 8),
      "published store is missing its stats index")
    assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) ===
      collectVox(mkVox(31)))
    AtomicDir.awaitQuiescent()
    assert(siblings(dest).isEmpty)
  }

  test("library ZarrStore.write failure is also a no-op (shared AtomicDir path)") {
    val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "lib.zarr")
    ZarrStore.write(vol(7), dest.toString)
    val expect = collectVox(ZarrStore.read(spark, dest.toString).toVoxels)
    import spark.implicits._
    val poisonedVol = graft.volume.ChunkVolume(
      vol(13).chunks.map { c =>
        if (c.cz == 1 && c.cy == 1 && c.cx == 1) c.copy(z0 = 99L) else c
      }, vol(13).meta)
    intercept[Exception] { ZarrStore.write(poisonedVol, dest.toString) }
    assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) === expect)
    AtomicDir.awaitQuiescent()
    assert(siblings(dest).isEmpty)
  }

  test("a crashed append's staging leftovers are swept by the next append") {
    val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "sw.zarr")
    ZarrStore.write(vol(7), dest.toString)
    // simulate a crashed job: an abandoned staged chunk under .__staging
    val abandoned = dest.resolve(".__staging").resolve("deadbeef")
    Files.createDirectories(abandoned)
    Files.write(abandoned.resolve("0.0.0"), Array[Byte](1, 2, 3))
    vol(31).chunks.toDF().write.format("zarr").mode("append").save(dest.toString)
    AtomicDir.awaitQuiescent()
    assert(!Files.exists(abandoned), "crashed staging dir not swept")
    assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) ===
      collectVox(mkVox(31)))
  }

  test("overwrite of a big store: old tree readable ALL through the job; no driver walk") {
    val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "big.zarr")
    ZarrStore.write(vol(7), dest.toString)
    // bulk up the old store with stale-lookalike files: a pre-job truncate
    // walk (the old behavior) would have to delete all of these on the
    // driver before any task ran — and would delete the sentinel
    val sentinel = dest.resolve("999.999.999")
    for (i <- 0 until 5000) Files.write(dest.resolve(s"999.999.$i"), Array[Byte](1))
    Files.write(sentinel, Array[Byte](1))

    import spark.implicits._
    val sentinelPath = sentinel.toString
    // every task asserts the OLD store is still fully present while the
    // new one is being written — atomic swap happens only at job commit
    val guarded = vol(31).chunks.map { c =>
      require(Files.exists(Paths.get(sentinelPath)),
        "old store was truncated before/during the job")
      c
    }(org.apache.spark.sql.Encoders.product[Chunk])
    geomOpts(guarded.toDF().write.format("zarr")).mode("overwrite").save(dest.toString)

    // published store is exactly the new content: stale files are gone
    assert(!Files.exists(sentinel), "stale file leaked into the published store")
    assert(collectVox(ZarrStore.read(spark, dest.toString).toVoxels) ===
      collectVox(mkVox(31)))
    AtomicDir.awaitQuiescent()
    assert(siblings(dest).isEmpty, "retired store not swept in background")
  }
}
