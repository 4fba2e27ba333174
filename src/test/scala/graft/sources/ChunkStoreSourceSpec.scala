package graft.sources

import graft.SparkSpec
import graft.volume.{ChunkStore, ChunkVolume, ZarrStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** A [[ChunkStore]] store as a source: a zarr v2 array that
  * `format("zarr")` and [[ZarrStore.read]] read like any other, plus the
  * label value index [[ChunkStore.findLabel]] plans from.
  */
class ChunkStoreSourceSpec extends AnyFunSuite with SparkSpec {

  private def fixture(tag: String): (String, ChunkVolume) = {
    val dir = Files.createTempDirectory(tag).toString + "/store"
    val (dz, dy, dx) = (8L, 6L, 6L)
    val vox = spark.range(dz * dy * dx).select(
      expr(s"id div ${dy * dx}").as("z"),
      expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id % $dx").as("x"),
      expr(s"id % 31").as("label"),
    )
    val v = ChunkVolume.fromVoxels(vox, dz, dy, dx, 4, 3, 3)
    ChunkStore.write(v, dir)
    (dir, v)
  }

  private lazy val (storePath, vol) = fixture("dsv2")

  private def voxels(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq

  private def chunkFiles(store: String): Seq[Path] = {
    val s = Files.list(Paths.get(store))
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.matches("\\d+\\.\\d+\\.\\d+"))
    finally s.close()
  }

  private def found(store: String, label: Long): Map[(Int, Int, Int), Long] =
    ChunkStore.findLabel(spark, store, label).collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap

  test("a ChunkStore.write store reads back equal through ZarrStore.read and format(zarr)") {
    val za = ZarrStore.parseZarray(Files.readString(Paths.get(storePath, ".zarray")))
    assert(za.codec === ZarrStore.ZstdCodec(1))
    assert(za.shape === Seq(8L, 6L, 6L) && za.chunks === Seq(4, 3, 3))
    assert(Files.readString(Paths.get(storePath, ".zattrs")).contains("\"graft:spacing\""))
    assert(chunkFiles(storePath).size === 8)
    val want = voxels(vol.toVoxels)
    val back = ZarrStore.read(spark, storePath)
    assert(back.meta === vol.meta)
    assert(voxels(back.toVoxels) === want)
    import spark.implicits._
    val viaDsv2 = ChunkVolume(spark.read.format("zarr").load(storePath).as[graft.volume.Chunk], back.meta)
    assert(voxels(viaDsv2.toVoxels) === want)
  }

  test("coordinate filters prune input partitions with zero I/O (file-name pruning)") {
    // the kept cells are cut into min(kept, defaultParallelism) slices
    val par = spark.sparkContext.defaultParallelism.toLong
    val df = spark.read.format("zarr").load(storePath)
    assert(df.rdd.getNumPartitions === math.min(vol.chunks.count(), par))
    val one = df.filter(col("cz") === 1 && col("cy") === 0 && col("cx") === 0)
    assert(one.rdd.getNumPartitions === 1) // exactly the one owning file planned
    assert(one.count() === 1)
    val slab = df.filter(col("cz") === 1)
    val slabCells = vol.meta.ncy * vol.meta.ncx
    assert(slab.rdd.getNumPartitions === math.min(slabCells, par))
    assert(slab.count() === slabCells)
    // a null never makes IN true: isin(1, null) keeps what cz = 1 keeps
    assert(df.filter(col("cz").isin(1, null)).count() === slabCells)
    // row-level residual filters still apply on non-pruned columns
    assert(df.filter(col("z0") === 4L).count() === slabCells)
  }

  test("SQL over the chunk table") {
    spark.read.format("zarr").load(storePath).createOrReplaceTempView("chunks_v")
    val n = spark.sql("SELECT COUNT(*) FROM chunks_v WHERE cz = 0 AND nz = 4").collect().head.getLong(0)
    assert(n === vol.meta.ncy.toLong * vol.meta.ncx)
  }

  test("filterKeeps semantics: sound (keeps on unknown), exact on coords") {
    import org.apache.spark.sql.sources._
    val c = Map("cz" -> 3L, "cy" -> 1L, "cx" -> 0L)
    assert(ZarrSource.filterKeeps(EqualTo("cz", 3), c))
    assert(!ZarrSource.filterKeeps(EqualTo("cz", 4), c))
    assert(ZarrSource.filterKeeps(And(GreaterThanOrEqual("cz", 2), LessThan("cy", 2)), c))
    assert(!ZarrSource.filterKeeps(Or(EqualTo("cz", 9), EqualTo("cx", 5)), c))
    assert(ZarrSource.filterKeeps(EqualTo("z0", 99L), c)) // unknown column: keep
    assert(ZarrSource.filterKeeps(IsNotNull("cz"), c)) // unknown shape: keep
    // a null element of an IN list never matches
    assert(ZarrSource.filterKeeps(In("cz", Array(3, null)), c))
    assert(!ZarrSource.filterKeeps(In("cz", Array(1, null)), c))
    assert(!ZarrSource.filterKeeps(In("cz", Array(null)), c))
  }

  test("stats index: written by write, trusted by findLabel, every cell a candidate without it") {
    // a fresh store so index tampering can't disturb the shared fixture
    val dir = Files.createTempDirectory("dsv2_idx").toString + "/store"
    val vox = spark.range(4L * 3 * 3).select(
      expr("id div 9").as("z"), expr("(id div 3) % 3").as("y"),
      expr("id % 3").as("x"), expr("id % 5").as("label"))
    ChunkStore.write(ChunkVolume.fromVoxels(vox, 4, 3, 3, 2, 3, 3), dir)
    val idxPath = Paths.get(dir, ChunkStore.StatsIndexName)
    assert(Files.exists(idxPath))
    val idx = ChunkStore.readStatsIndex(dir).get
    assert(idx === Map("0.0.0" -> (0L, 4L), "1.0.0" -> (0L, 4L))) // one entry per chunk file
    assert(found(dir, 3L) === Map((0, 0, 0) -> 3L, (1, 0, 0) -> 4L))
    // tamper the index to claim every chunk excludes label 3: findLabel
    // must decode nothing — proof it read the ONE index file
    Files.writeString(idxPath,
      "GRAFT_STATS 1\n" + idx.keys.toSeq.sorted.map(n => s"$n 100 200").mkString("", "\n", "\n"))
    assert(found(dir, 3L).isEmpty)
    // no index → every cell is a candidate and the true answer is back
    Files.delete(idxPath)
    assert(found(dir, 3L) === Map((0, 0, 0) -> 3L, (1, 0, 0) -> 4L))
  }

  /** A 4×3×3 volume on a (2,3,3) grid — chunks (0,0,0) and (1,0,0) —
    * with labels `id % 5`, or `label` everywhere when given.
    */
  private def twoChunks(label: Option[Long] = None): ChunkVolume = {
    val vox = spark.range(4L * 3 * 3).select(
      expr("id div 9").as("z"), expr("(id div 3) % 3").as("y"),
      expr("id % 3").as("x"), label.fold(expr("id % 5"))(lit(_)).as("label"))
    ChunkVolume.fromVoxels(vox, 4, 3, 3, 2, 3, 3)
  }

  test("a zarr append into a ChunkStore store drops its index, so findLabel finds the new chunk") {
    val sevens = twoChunks(Some(77L)).chunks
    val dir = Files.createTempDirectory("zarr_append_idx").toString + "/store"
    ChunkStore.write(twoChunks(), dir)
    assert(found(dir, 77L).isEmpty)
    sevens.filter(col("cz") === 1).toDF().write.format("zarr").mode("append").save(dir)
    assert(!Files.exists(Paths.get(dir, ChunkStore.StatsIndexName)))
    assert(found(dir, 77L) === Map((1, 0, 0) -> 18L))
    // the batch appender, with the codec ChunkStore writes
    ChunkStore.write(twoChunks(), dir)
    ZarrStore.appendChunks(sevens.filter(col("cz") === 0), dir, twoChunks().meta, ZarrStore.ZstdCodec(1))
    assert(!Files.exists(Paths.get(dir, ChunkStore.StatsIndexName)))
    assert(found(dir, 77L) === Map((0, 0, 0) -> 18L))
    // a later indexed append indexes only its own chunks; the zarr-landed
    // one, without an entry, is still a candidate
    ChunkStore.appendChunks(twoChunks().chunks.filter(col("cz") === 1), dir, twoChunks().meta)
    assert(ChunkStore.readStatsIndex(dir).get.keySet === Set("1.0.0"))
    assert(found(dir, 77L) === Map((0, 0, 0) -> 18L))
  }

  test("findLabel reports only landed chunks: an absent cell is fill, not label 0") {
    val v = twoChunks()
    val dir = Files.createTempDirectory("partial_ingest").toString + "/store"
    ChunkStore.appendChunks(v.chunks.filter(col("cz") === 0), dir, v.meta)
    assert(chunkFiles(dir).map(_.getFileName.toString) === Seq("0.0.0"))
    // z < 2 is chunk (0,0,0): ids 0..17, label 0 at ids 0, 5, 10, 15
    assert(found(dir, 0L) === Map((0, 0, 0) -> 4L))
    Files.delete(Paths.get(dir, ChunkStore.StatsIndexName))
    assert(found(dir, 0L) === Map((0, 0, 0) -> 4L))
  }

  test("findLabel: index candidates, exact counts, absent labels empty") {
    val hits = found(storePath, 7L)
    // ground truth from the decoded volume
    val truth = vol.toVoxels.filter(col("label") === 7L).count()
    assert(hits.values.sum === truth)
    assert(hits.nonEmpty)
    assert(ChunkStore.findLabel(spark, storePath, 99L).count() === 0)
  }

  test("findLabel decodes only candidates: garbled non-candidates still answer, an absent label reads no file") {
    // on a (2,3,3) grid of a 4×6×6 volume, chunk k = cz·4 + cy·2 + cx
    // holds labels k·100 + (its voxel's offset in the chunk, 0..17), so
    // each chunk's [lmin, lmax] excludes every other chunk's labels
    val dir = Files.createTempDirectory("lsearch").toString + "/store"
    val vox = spark.range(4L * 6 * 6).select(
      expr("id div 36").as("z"), expr("(id div 6) % 6").as("y"), expr("id % 6").as("x"))
      .withColumn("label", expr(
        "((z div 2) * 4 + (y div 3) * 2 + (x div 3)) * 100 + (z % 2) * 9 + (y % 3) * 3 + x % 3"))
    ChunkStore.write(ChunkVolume.fromVoxels(vox, 4, 6, 6, 2, 3, 3), dir)
    val candidate = Paths.get(dir, "1.1.0") // chunk 6: labels 600..617
    val garbage = Array.tabulate[Byte](257)(i => (i * 37 + 11).toByte)
    chunkFiles(dir).filterNot(_ == candidate).foreach(Files.write(_, garbage))
    assert(found(dir, 605L) === Map((1, 1, 0) -> 1L))
    // with every file garbled, an absent label still answers: no file is read
    Files.write(candidate, garbage)
    assert(found(dir, 999L).isEmpty)
    // a full read of the garbled store does fail: the answers above came
    // from pruning, not from a reader that skips what it cannot decode
    intercept[Exception](ZarrStore.read(spark, dir).chunks.collect())
  }
}
