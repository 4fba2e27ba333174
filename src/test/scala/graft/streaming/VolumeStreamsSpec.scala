package graft.streaming

import graft.SparkSpec
import graft.volume.{ChunkVolume, ZarrStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Incremental volume ingest: chunk files landing over time stream through
  * the upscale kernel; the final store must equal the one-shot batch
  * upscale of the whole volume.
  */
class VolumeStreamsSpec extends AnyFunSuite with SparkSpec {

  test("streamed upscale ingest converges to the batch result") {
    val dir = Files.createTempDirectory("vstream")
    val inDir = dir.resolve("in").toString
    val outDir = dir.resolve("out").toString
    val (dz, dy, dx) = (8L, 6L, 6L)
    val vox = spark.range(dz * dy * dx).select(
      expr(s"id div ${dy * dx}").as("z"),
      expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id % $dx").as("x"),
      expr(s"id % 97").as("label"),
    )
    val vol = ChunkVolume.fromVoxels(vox, dz, dy, dx, 4, 3, 3, spacing = (2.0, 3.0, 4.0))

    // batch 1: the lower half of the volume lands first
    vol.chunks.filter(col("cz") === 0).write.mode("append").parquet(inDir)
    val query = VolumeStreams.upscaleIngest(spark, inDir, outDir, vol.meta, s = 2)
    try {
      query.processAllAvailable()
      // a zarr read fills absent cells, so count the chunk files landed
      val landed = Files.list(java.nio.file.Paths.get(outDir))
      try assert(landed.toArray.count(_.toString.matches(".*/\\d+\\.\\d+\\.\\d+")) ===
        vol.chunks.filter(col("cz") === 0).count() * 8)
      finally landed.close()

      // batch 2: the rest lands
      vol.chunks.filter(col("cz") === 1).write.mode("append").parquet(inDir)
      query.processAllAvailable()
    } finally query.stop()

    val back = ZarrStore.read(spark, outDir)
    assert((back.meta.spacingX, back.meta.spacingY, back.meta.spacingZ) === ((2.0, 3.0, 4.0)))
    val streamed = back.toVoxels.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    val batch = vol.upscale(2).toVoxels.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(streamed === batch)
    assert(streamed.size === dz * dy * dx * 8)
  }

  test("streamed ingest into a REAL zarr v2 array converges to the batch result") {
    import graft.volume.{Zarr3Store, ZarrStore}
    val (dz, dy, dx) = (7L, 5L, 4L)
    val vox = spark.range(dz * dy * dx).select(
      expr(s"id div ${dy * dx}").as("z"),
      expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id % $dx").as("x"),
      expr(s"id % 53").as("label"),
    )
    // ragged on every axis (7 = 2·3 + 1, 5 = 3 + 2, 4 = 3 + 1): on the x2
    // grid the edge chunks make 1, 2 and 1 children, the last trailing
    val vol = ChunkVolume.fromVoxels(vox, dz, dy, dx, 3, 3, 3)
    val batch = vol.upscale(2).toVoxels.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    // the same ingest into both zarr dialects: v2 (.zarray) and v3 (zarr.json)
    for (format <- Seq("zarr", "zarr3")) {
      val dir = Files.createTempDirectory("vstream_z")
      val inDir = dir.resolve("in").toString
      val outDir = dir.resolve("out.zarr").toString
      vol.chunks.filter(col("cz") === 0).write.mode("append").parquet(inDir)
      val query = VolumeStreams.upscaleIngest(spark, inDir, outDir, vol.meta, s = 2, format = format)
      try {
        query.processAllAvailable()
        vol.chunks.filter(col("cz") > 0).write.mode("append").parquet(inDir)
        query.processAllAvailable()
      } finally query.stop()
      // the result is a spec-compliant zarr array equal to the batch upscale
      def doc(name: String): String = Files.readString(java.nio.file.Paths.get(outDir, name))
      val (shape, back) =
        if (format == "zarr") (ZarrStore.parseZarray(doc(".zarray")).shape, ZarrStore.read(spark, outDir))
        else (Zarr3Store.parseZarrJson(doc("zarr.json")).shape, Zarr3Store.read(spark, outDir))
      assert(shape === Seq(dz * 2, dy * 2, dx * 2), format)
      val streamed = back.toVoxels.collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
      assert(streamed === batch, format)
    }
  }
}
