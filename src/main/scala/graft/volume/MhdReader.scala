package graft.volume

import graft.io.{Fio, FioConf, FioRandom}
import org.apache.spark.sql.SparkSession

/** Chunked, out-of-core MHD+RAW reader (S1/S2/S3).
  *
  * The driver parses the header and plans the chunk grid (ChunkPlanner,
  * reference choose_chunks — upscale_streaming.py:59–74); executors then
  * read their chunks with positioned FileChannel reads — never the whole
  * file (the Spark analog of `np.memmap` + `da.from_array`,
  * upscale_streaming.py:42–57). Big-endian raws (ByteOrderMSB=True) are
  * normalized to little-endian at read, like the reference's
  * `newbyteorder` (upscale_streaming.py:51–53, :82).
  *
  * Task units are generated from `spark.range` — the grid is never
  * collected on the driver, so a 100 TB volume with ~1M chunks plans in
  * O(1) driver memory.
  */
object MhdReader {

  def read(spark: SparkSession, mhdPath: String, targetChunkMb: Int = 128): ChunkVolume = {
    val mhd = MhdMeta.parse(mhdPath)(FioConf.of(spark))
    val (cz, cy, cx) = ChunkPlanner.chooseChunks(mhd.shapeZyx, mhd.bytesPerVoxel, targetChunkMb)
    read(spark, mhd, cz, cy, cx)
  }

  /** The source volume on a (chunkZ, chunkY, chunkX) grid: the ×1 case of
    * [[readUpscaled]], one unit per chunk.
    */
  def read(spark: SparkSession, mhd: MhdMeta, chunkZ: Int, chunkY: Int, chunkX: Int): ChunkVolume =
    readUpscaled(spark, mhd, chunkZ, chunkY, chunkX, s = 1)

  /** Read → ×s nearest-neighbor upscale with CHILD-SLAB task granularity:
    * the task unit is (input chunk, child z-index) — nChunks·s units — and
    * each unit reads ONLY the source z rows its child slab maps back onto,
    * then emits that slab's s² children (ChunkKernels.upscaleChildrenSlab).
    * At s = 1 a unit is the whole chunk and emits it as read.
    *
    * Output chunks, bytes and metadata equal `read(...).upscale(s)`; only
    * the task decomposition differs. Whole-chunk tasks of near-equal work
    * quantize into rigid scheduler waves (86.9% core occupancy on the ×15
    * headline at local[32], OPTIMIZATION_r21.md "the child-slab task
    * plan"); slab units are ~s× finer. Partitions are min(units, 32 ×
    * defaultParallelism), so a 100 TB volume never plans millions of
    * tasks — above the cap each task walks several units.
    *
    * `reuseChildBuffers` has the [[ChunkVolume.upscale]] contract: opt in
    * only when the downstream is a strictly-streaming consumer.
    */
  def readUpscaled(spark: SparkSession, mhd: MhdMeta, chunkZ: Int, chunkY: Int,
      chunkX: Int, s: Int, reuseChildBuffers: Boolean = false): ChunkVolume = {
    require(s >= 1, s"scale must be >= 1, got $s")
    implicit val fc: FioConf = FioConf.of(spark)
    val meta = VolumeMeta(
      dimZ = mhd.dimZ, dimY = mhd.dimY, dimX = mhd.dimX,
      chunkZ = chunkZ, chunkY = chunkY, chunkX = chunkX,
      ncz = ((mhd.dimZ + chunkZ - 1) / chunkZ).toInt,
      ncy = ((mhd.dimY + chunkY - 1) / chunkY).toInt,
      ncx = ((mhd.dimX + chunkX - 1) / chunkX).toInt,
      elementType = mhd.elementType,
      spacingX = mhd.spacingXyz._1, spacingY = mhd.spacingXyz._2, spacingZ = mhd.spacingXyz._3)
    val rawPath = mhd.rawPath
    val msb = mhd.byteOrderMsb
    val bpp = meta.bytesPerVoxel
    val (dimZ, dimY, dimX) = (meta.dimZ, meta.dimY, meta.dimX)
    val (ncz, ncy, ncx) = (meta.ncz, meta.ncy, meta.ncx)
    val nUnits = ncz.toLong * ncy * ncx * s
    val parts = math.min(nUnits,
      math.max(1, spark.sparkContext.defaultParallelism.toLong * 32)).toInt

    import spark.implicits._
    val chunks = spark.range(0, nUnits, 1, parts).mapPartitions { ids =>
      // one open stream per task, positioned reads per source row-run
      var raf: FioRandom = null
      val it = ids.flatMap { unit =>
        val id = unit / s // input chunk id
        val i = (unit % s).toInt // child z-index within the chunk
        val cz = (id / (ncy.toLong * ncx)).toInt
        val cy = ((id / ncx) % ncy).toInt
        val cx = (id % ncx).toInt
        val z0 = cz.toLong * chunkZ; val y0 = cy.toLong * chunkY; val x0 = cx.toLong * chunkX
        val nz = math.min(chunkZ.toLong, dimZ - z0).toInt
        val ny = math.min(chunkY.toLong, dimY - y0).toInt
        val nx = math.min(chunkX.toLong, dimX - x0).toInt
        // source z rows child-i touches: ⌊i·nz/s⌋ .. ⌊((i+1)·nz − 1)/s⌋
        val zLo = i * nz / s
        val slabNz = ((i + 1) * nz - 1) / s - zLo + 1
        val rowBytes = nx * bpp
        val slab = new Array[Byte](slabNz * ny * rowBytes)
        if (raf == null) raf = Fio.openRandom(rawPath)
        // contiguity fast paths (bytes identical, fewer positioned reads):
        // a full-plane slab is ONE source run; a full-x slab is one run
        // per z. 410k 2 KB row reads on a cold page cache measured as the
        // dominant ambient-sensitive cost of the ×15 scan (r21).
        if (x0 == 0L && nx.toLong == dimX && y0 == 0L && ny.toLong == dimY) {
          raf.readFully((z0 + zLo) * dimY * dimX * bpp, slab, 0, slab.length)
        } else if (x0 == 0L && nx.toLong == dimX) {
          var z = 0
          while (z < slabNz) {
            raf.readFully((((z0 + zLo + z) * dimY + y0) * dimX) * bpp,
              slab, z * ny * rowBytes, ny * rowBytes)
            z += 1
          }
        } else {
          var z = 0
          while (z < slabNz) {
            var y = 0
            while (y < ny) {
              val srcOff = (((z0 + zLo + z) * dimY + (y0 + y)) * dimX + x0) * bpp
              raf.readFully(srcOff, slab, (z * ny + y) * rowBytes, rowBytes)
              y += 1
            }
            z += 1
          }
        }
        if (msb) ChunkKernels.swapEndianInPlace(slab, bpp)
        // at s = 1 the slab is the whole chunk
        val parent = Chunk(cz, cy, cx, z0, y0, x0, nz, ny, nx, slab)
        if (s == 1) Iterator.single(parent)
        else ChunkKernels.upscaleChildrenSlab(slab, zLo, nz, ny, nx, bpp, s,
          iLo = i, iHi = i + 1, reuse = reuseChildBuffers).map(parent.child(s))
      }
      // close the channel when the iterator is exhausted
      new Iterator[Chunk] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && raf != null) { raf.close(); raf = null }
          h
        }
        def next(): Chunk = it.next()
      }
    }
    ChunkVolume(chunks, meta.upscaled(s))
  }
}
