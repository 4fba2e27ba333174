package graft.volume

import graft.io.{Fio, FioConf, FioRandomWrite}
import org.apache.spark.sql.SparkSession

/** The raw C-order voxel payload shared by MHD+RAW, raw NRRD and BigTIFF:
  * voxel (z,y,x) lives at `offset + ((z·dimY + y)·dimX + x)·bpp`, where
  * `offset` is where the payload starts in its file (0 for an MHD's
  * `.raw`, the header length for NRRD, 16 for a BigTIFF written by
  * [[BigTiff.write]]). [[scan]] is the one positioned reader and [[write]]
  * the one positioned sink; each file format owns only its header bytes.
  * Reads mirror the reference's `np.memmap` + `da.from_array`
  * (upscale_streaming.py:42–57), writes its C-order BigTIFF pages
  * (anno_upsampling.py:112–118).
  */
object RawPayload {

  /** Read the payload on `meta`'s chunk grid, upscaled ×s, with
    * CHILD-SLAB task granularity: the task unit is (input chunk, child
    * z-index i < s) — nChunks·s units — and each unit reads ONLY the
    * source z rows its child slab maps back onto, then emits that slab's
    * children (ChunkKernels.upscaleChildrenSlab; a ragged chunk's units
    * past its last child emit nothing). At s = 1 a unit is the chunk.
    *
    * Output chunks, bytes and metadata equal `scan(…, s = 1).upscale(s)`;
    * only the task decomposition differs. Whole-chunk tasks of near-equal
    * work quantize into rigid scheduler waves (86.9% core occupancy on
    * the ×15 headline at local[32], OPTIMIZATION_r21.md "the child-slab
    * task plan"); slab units are ~s× finer. Partitions are min(units, 32 ×
    * defaultParallelism), so a 100 TB volume never plans millions of
    * tasks — above the cap each task walks several units. Units come from
    * `spark.range`, so the grid is never collected on the driver.
    *
    * Big-endian payloads are normalized to little-endian at read, like
    * the reference's `newbyteorder` (upscale_streaming.py:51–53, :82).
    * Each task reads through one [[Fio.taskRandom]] handle, closed when
    * the task ends even if its iterator is never drained (`.take(1)`).
    * `reuseChildBuffers` has the [[ChunkVolume.upscale]] contract.
    */
  def scan(spark: SparkSession, path: String, offset: Long, bigEndian: Boolean,
      meta: VolumeMeta, s: Int = 1, reuseChildBuffers: Boolean = false): ChunkVolume = {
    require(s >= 1, s"scale must be >= 1, got $s")
    implicit val fc: FioConf = FioConf.of(spark)
    val bpp = meta.bytesPerVoxel
    val (dimY, dimX) = (meta.dimY, meta.dimX)
    val (ncy, ncx) = (meta.ncy, meta.ncx)
    val nUnits = meta.ncz.toLong * ncy * ncx * s
    val parts = math.min(nUnits,
      math.max(1, spark.sparkContext.defaultParallelism.toLong * 32)).toInt

    import spark.implicits._
    val chunks = spark.range(0, nUnits, 1, parts).mapPartitions { ids =>
      val file = Fio.taskRandom()
      ids.flatMap { unit =>
        val id = unit / s // input chunk id
        val i = (unit % s).toInt // child z-index within the chunk
        val cz = (id / (ncy.toLong * ncx)).toInt
        val cy = ((id / ncx) % ncy).toInt
        val cx = (id % ncx).toInt
        val (z0, y0, x0, nz, ny, nx) = meta.cell(cz, cy, cx)
        val cnz = ChunkKernels.childExtent(i, nz, meta.chunkZ, s)
        if (cnz <= 0) Iterator.empty else {
          val zLo = i * meta.chunkZ / s
          val slabNz = (i * meta.chunkZ + cnz - 1) / s - zLo + 1
          val rowBytes = nx * bpp
          val slab = new Array[Byte](slabNz * ny * rowBytes)
          val f = file(path)
          def at(z: Int, y: Long): Long = offset + (((z0 + zLo + z) * dimY + y) * dimX + x0) * bpp
          // one positioned read per contiguous source run (bytes identical
          // either way): a full-plane slab is ONE run, a full-x slab one
          // per z, else one per row. 410k 2 KB row reads on a cold page
          // cache measured as the dominant ambient-sensitive cost of the
          // ×15 scan (r21).
          val runBytes =
            if (x0 != 0L || nx.toLong != dimX) rowBytes
            else if (y0 == 0L && ny.toLong == dimY) slab.length
            else ny * rowBytes
          var off = 0
          while (off < slab.length) {
            val row = off / rowBytes // z·ny + y within the slab
            f.readFully(at(row / ny, y0 + row % ny), slab, off, runBytes)
            off += runBytes
          }
          if (bigEndian) ChunkKernels.swapEndianInPlace(slab, bpp)
          // at s = 1 the slab is the whole chunk
          val parent = Chunk(cz, cy, cx, z0, y0, x0, nz, ny, nx, slab)
          if (s == 1) Iterator.single(parent)
          else parent.children(s, meta, srcZOff = zLo, iLo = i, iHi = i + 1, reuseChildBuffers)
        }
      }
    }
    ChunkVolume(chunks, meta.upscaled(s))
  }

  /** Write `vol` as a `fileBytes`-long file whose payload starts at
    * `offset`: the driver creates the file at full size (unwritten gaps
    * read as zeros) and writes the format's own bytes through `header`;
    * executor tasks then land their chunks' bytes at their final
    * positions with positioned writes over disjoint ranges — no slab
    * collect, no coordination, the body moves once. Full-width chunks
    * (x0 = 0, nx = dimX) write one run per chunk plane, others one per
    * row. Needs a posix filesystem ([[Fio.openRandomWrite]]).
    */
  def write(vol: ChunkVolume, path: String, offset: Long, fileBytes: Long)(
      header: FioRandomWrite => Unit): Unit = {
    implicit val fc: FioConf = FioConf.of(vol.chunks.sparkSession)
    Fio.delete(path)
    val f = Fio.openRandomWrite(path, preallocate = fileBytes)
    try header(f) finally f.close()

    val bpp = vol.meta.bytesPerVoxel
    val (dimY, dimX) = (vol.meta.dimY, vol.meta.dimX)
    val pathStr = Fio.qualify(path)
    vol.chunks.foreachPartition { (it: Iterator[Chunk]) =>
      val ch = Fio.openRandomRewrite(pathStr)
      try {
        it.foreach { c =>
          val rowBytes = c.nx * bpp
          def at(zl: Int, y: Long): Long = offset + (((c.z0 + zl) * dimY + y) * dimX + c.x0) * bpp
          var zl = 0
          while (zl < c.nz) {
            if (c.x0 == 0L && c.nx.toLong == dimX) {
              ch.writeFully(at(zl, c.y0), c.data, zl * c.ny * rowBytes, c.ny * rowBytes)
            } else {
              var y = 0
              while (y < c.ny) {
                ch.writeFully(at(zl, c.y0 + y), c.data, (zl * c.ny + y) * rowBytes, rowBytes)
                y += 1
              }
            }
            zl += 1
          }
        }
      } finally ch.close()
    }
  }
}
