package graft.streaming

import graft.volume.{Chunk, ChunkStore, ChunkVolume, VolumeMeta}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming volume ingest (SURVEY §7 north star, layered on §2.9's
  * observation that every volume operator is chunk-local): newly-landed
  * chunk parquet files stream through `readStream`, each micro-batch runs
  * the ×s upscale kernel, and results append to a zarr-style chunk store.
  * Because upscale emits aligned child chunks with no shuffle, the
  * incremental pipeline is exactly the batch pipeline per micro-batch —
  * no rewrites of previously-ingested output, idempotent per chunk file.
  */
object VolumeStreams {

  /** Schema of a chunk row on disk (matches the Chunk case class). */
  val chunkSchema: StructType = StructType(Seq(
    StructField("cz", IntegerType, nullable = false),
    StructField("cy", IntegerType, nullable = false),
    StructField("cx", IntegerType, nullable = false),
    StructField("z0", LongType, nullable = false),
    StructField("y0", LongType, nullable = false),
    StructField("x0", LongType, nullable = false),
    StructField("nz", IntegerType, nullable = false),
    StructField("ny", IntegerType, nullable = false),
    StructField("nx", IntegerType, nullable = false),
    StructField("data", BinaryType, nullable = false),
  ))

  /** Watch `inDir` for chunk parquet files; upscale ×s each micro-batch
    * and append the child chunks to the store at `outDir`. The output
    * store's sidecar is committed up front from the (scaled) metadata.
    * `format`: "graftchunks" (value-indexed internal store), "zarr"
    * (spec-compliant zarr v2 — streams straight into the format the
    * reference's toolchain reads), or "zarr3" (the current v3 spec).
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
    ChunkVolume.writeSidecar(outDir + "/", outMeta, Map("scale" -> s.toString, "streaming" -> "true"))
    spark.readStream
      .schema(chunkSchema)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val up = ChunkVolume(batch.as[Chunk], inputMeta).upscale(s).chunks
        if (format == "zarr") graft.volume.ZarrStore.appendChunks(up, outDir, outMeta)
        else if (format == "zarr3") graft.volume.Zarr3Store.appendChunks(up, outDir, outMeta)
        else ChunkStore.appendChunks(up, outDir, outMeta)
      }
      .start()
  }
}
