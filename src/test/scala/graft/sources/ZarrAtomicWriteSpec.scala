package graft.sources

import graft.SparkSpec
import graft.volume.{AtomicDir, Chunk, ChunkStore, ChunkVolume, Zarr3Store, ZarrStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** Atomicity + bounded-truncate properties of the zarr write paths
  * (reference overwrite is all-or-nothing: upscale_streaming.py:118–127).
  *
  *  - a job that FAILS mid-write leaves the destination byte-identical
  *    to the previous store (overwrite AND append, through `format("zarr")`
  *    and every batch appender), with no temp/trash debris surviving the
  *    background sweep; a failed FIRST append leaves no store at all;
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

  /** One way to append a chunk frame to a store, with the writer that
    * makes such a store and the reader that reads it back.
    */
  private case class Appender(
      name: String,
      write: (ChunkVolume, String) => Unit,
      append: (DataFrame, String) => Unit,
      read: String => ChunkVolume,
      v2: Boolean = true)

  private def appenders: Seq[Appender] = {
    import spark.implicits._
    val meta = vol(7).meta
    Seq(
      Appender("ZarrStore.appendChunks", ZarrStore.write(_, _),
        (df, p) => ZarrStore.appendChunks(df.as[Chunk], p, meta), ZarrStore.read(spark, _)),
      Appender("Zarr3Store.appendChunks", Zarr3Store.write(_, _),
        (df, p) => Zarr3Store.appendChunks(df.as[Chunk], p, meta), Zarr3Store.read(spark, _), v2 = false),
      Appender("ChunkStore.appendChunks", ChunkStore.write(_, _),
        (df, p) => ChunkStore.appendChunks(df.as[Chunk], p, meta), ZarrStore.read(spark, _)),
      // geometry options only matter when the append creates the array
      Appender("format(\"zarr\")", ZarrStore.write(_, _),
        (df, p) => geomOpts(df.write.format("zarr")).mode("append").save(p), ZarrStore.read(spark, _)))
  }

  /** Every file of the store at `dest` (its path under `dest` → its
    * bytes), staged ones aside.
    */
  private def storeFiles(dest: Path): Map[String, Seq[Byte]] = {
    // staged files may still be retiring in the background: never walk them
    def walk(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Seq(p)
      else {
        val it = Files.list(p)
        try it.toArray.map(_.asInstanceOf[Path]).toSeq
          .filterNot(_.getFileName.toString == ".__staging").flatMap(walk)
        finally it.close()
      }
    walk(dest).map(p => dest.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  /** No staged file left inside the store. */
  private def assertNoStaging(dest: Path, clue: String): Unit = {
    val root = dest.resolve(".__staging")
    if (Files.isDirectory(root)) {
      val kids = { val it = Files.list(root); try it.count() finally it.close() }
      assert(kids === 0, s"$clue: staged files survived")
    }
  }

  /** The abort deletes a failed job's landed files in the background,
    * but Spark kills the job's other tasks ASYNCHRONOUSLY — a zombie task
    * can land one more file after the delete walked its tree (seen under
    * full-suite load). The contract ([[graft.volume.Landing]]) is reader
    * invisibility plus sweep-on-next-write, not instantaneous emptiness:
    * bounded-wait for the zombies to die, so the next write's sweep cannot
    * itself be raced by a late file.
    */
  private def awaitNoJobs(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((tracker.getActiveJobIds().nonEmpty || tracker.getActiveStageIds().nonEmpty)
        && System.nanoTime() < deadline) Thread.sleep(50)
  }

  test("append job failure publishes nothing: no staged chunk visible") {
    for (a <- appenders) {
      val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "a.zarr")
      a.write(vol(7), dest.toString)
      val before = storeFiles(dest)
      val expect = collectVox(a.read(dest.toString).toVoxels)

      // a poisoned re-append of every chunk with new content: its sibling
      // tasks land their chunks before the job fails
      intercept[Exception](a.append(poisoned(29), dest.toString))
      assert(storeFiles(dest) === before, s"${a.name}: a live file changed")
      assert(collectVox(a.read(dest.toString).toVoxels) === expect, a.name)
      // after the next append's staging-create sweep, nothing staged survives
      awaitNoJobs()
      a.append(vol(7).chunks.toDF(), dest.toString)
      assert(collectVox(a.read(dest.toString).toVoxels) === expect, a.name)
      AtomicDir.awaitQuiescent()
      assertNoStaging(dest, a.name)
    }
  }

  test("a first append to an absent array is a swap: a failed one leaves no store") {
    for (a <- appenders) {
      val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "f.zarr")
      intercept[Exception](a.append(poisoned(29), dest.toString))
      assert(!Files.exists(dest), s"${a.name}: a failed first append left a store")
      awaitNoJobs()
      a.append(vol(31).chunks.toDF(), dest.toString)
      assert(collectVox(a.read(dest.toString).toVoxels) === collectVox(mkVox(31)), a.name)
      // the first append lands the spacing attrs with the array
      if (a.v2) assert(Files.exists(dest.resolve(".zattrs")), a.name)
      AtomicDir.awaitQuiescent()
      assert(siblings(dest).isEmpty, s"${a.name}: temp sibling survived the sweep")
      assertNoStaging(dest, a.name)
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
    // every appender: upsert every chunk of an existing store
    for (a <- appenders) {
      val dest = Paths.get(Files.createTempDirectory("zarr_atomic").toString, "u.zarr")
      a.write(vol(7), dest.toString)
      a.append(vol(31).chunks.toDF(), dest.toString)
      assert(collectVox(a.read(dest.toString).toVoxels) === collectVox(mkVox(31)), a.name)
      AtomicDir.awaitQuiescent()
      assert(siblings(dest).isEmpty, a.name)
      assert(!Files.exists(dest.resolve(".__staging")), s"${a.name}: staging root left behind")
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
