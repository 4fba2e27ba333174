package graft.streaming

import graft.sources.ZarrSource
import graft.volume.{Chunk, ChunkStore, ChunkVolume, VolumeMeta, Zarr3Store, ZarrStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming volume ingest (SURVEY §7 north star, layered on §2.9's
  * observation that every volume operator is chunk-local): newly-landed
  * chunk parquet files stream through `readStream`, each micro-batch runs
  * the ×s upscale kernel, and results append to a zarr array.
  * Because upscale emits aligned child chunks with no shuffle, the
  * incremental pipeline is exactly the batch pipeline per micro-batch —
  * no rewrites of previously-ingested output, idempotent per chunk file.
  * Each micro-batch publishes all-or-nothing ([[graft.volume.Landing]]):
  * a failed batch leaves the array as it was, or absent if it was first.
  */
object VolumeStreams {

  /** Watch `inDir` for chunk parquet files; upscale ×s each micro-batch
    * and append the child chunks to the array at `outDir`, whose metadata
    * document lands with the first micro-batch. `format`: "graftchunks"
    * (a zarr v2 array plus its label value index, [[ChunkStore]]), "zarr"
    * (plain zarr v2 — the format the reference's toolchain reads), or
    * "zarr3" (the current v3 spec).
    */
  def upscaleIngest(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      inputMeta: VolumeMeta,
      s: Int,
      format: String = "graftchunks",
  ): StreamingQuery = {
    import spark.implicits._
    require(format == "graftchunks" || format == "zarr" || format == "zarr3",
      s"unknown ingest format: $format")
    val outMeta = inputMeta.upscaled(s)
    spark.readStream
      .schema(ZarrSource.schema)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val up = ChunkVolume(batch.as[Chunk], inputMeta).upscale(s).chunks
        if (format == "zarr") ZarrStore.appendChunks(up, outDir, outMeta)
        else if (format == "zarr3") Zarr3Store.appendChunks(up, outDir, outMeta)
        else ChunkStore.appendChunks(up, outDir, outMeta)
      }
      .start()
  }
}
