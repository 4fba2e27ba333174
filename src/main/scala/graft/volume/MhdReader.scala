package graft.volume

import graft.io.FioConf
import org.apache.spark.sql.SparkSession

/** Chunked, out-of-core MHD+RAW reader (S1/S2/S3).
  *
  * The driver parses the header and plans the chunk grid (ChunkPlanner,
  * reference choose_chunks — upscale_streaming.py:59–74); executors then
  * read their chunks through [[RawPayload.scan]] — the one positioned scan
  * for MHD and raw NRRD alike, here at payload offset 0 of the `.raw` —
  * never the whole file (the Spark analog of `np.memmap` +
  * `da.from_array`, upscale_streaming.py:42–57). Big-endian raws
  * (ByteOrderMSB=True) are normalized to little-endian at read.
  */
object MhdReader {

  def read(spark: SparkSession, mhdPath: String): ChunkVolume = {
    val mhd = MhdMeta.parse(mhdPath)(FioConf.of(spark))
    val (cz, cy, cx) = ChunkPlanner.chooseChunks(mhd.shapeZyx, mhd.bytesPerVoxel)
    read(spark, mhd, cz, cy, cx)
  }

  /** The source volume on a (chunkZ, chunkY, chunkX) grid: the ×1 case of
    * [[readUpscaled]], one unit per chunk.
    */
  def read(spark: SparkSession, mhd: MhdMeta, chunkZ: Int, chunkY: Int, chunkX: Int): ChunkVolume =
    readUpscaled(spark, mhd, chunkZ, chunkY, chunkX, s = 1)

  /** Read → ×s nearest-neighbor upscale in one pass: [[RawPayload.scan]]
    * with child-slab task units, (input chunk, child z-index), each
    * reading only the source rows its children map back onto. Output
    * chunks (on the ×s dims' uniform grid), bytes and metadata equal
    * `read(...).upscale(s)`; only the task decomposition differs.
    *
    * `reuseChildBuffers` has the [[ChunkVolume.upscale]] contract: opt in
    * only when the downstream is a strictly-streaming consumer.
    */
  def readUpscaled(spark: SparkSession, mhd: MhdMeta, chunkZ: Int, chunkY: Int,
      chunkX: Int, s: Int, reuseChildBuffers: Boolean = false): ChunkVolume =
    RawPayload.scan(spark, mhd.rawPath, 0L, mhd.byteOrderMsb,
      VolumeMeta.uniform(mhd.dimZ, mhd.dimY, mhd.dimX, chunkZ, chunkY, chunkX,
        mhd.elementType, mhd.spacingXyz),
      s, reuseChildBuffers)
}
