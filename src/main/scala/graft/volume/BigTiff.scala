package graft.volume

import java.nio.{ByteBuffer, ByteOrder}

/** BigTIFF multi-page slice export (K5 sink, reference
  * anno_upsampling.py:112–118 `TiffWriter(..., bigtiff=True)` writing one
  * photometric-minisblack page per z slice). [[Tiff.read]] scans it back.
  *
  * Self-contained little-endian BigTIFF (magic 43, 8-byte offsets), one
  * uncompressed single-strip page per z. Every byte's file position is a
  * pure function of (dims, bpp): the pages are the C-order payload at
  * offset 16 (slice z at 16 + z·sliceBytes) and the IFD chain follows the
  * last slice. This object owns only the header + IFD table (a few
  * hundred KB for thousands of pages); [[RawPayload.write]] lands the
  * chunks from executor tasks — no slab collect, no driver serialization
  * point, I/O parallelism = task parallelism. (Requires the output path
  * on a shared POSIX mount in multi-node deployments, like any side-file
  * sink.)
  */
object BigTiff {

  // (bits per sample, TIFF SampleFormat) per MHD element type
  private val Formats: Map[String, (Int, Int)] = Map(
    "MET_UCHAR" -> (8, 1), "MET_CHAR" -> (8, 2),
    "MET_USHORT" -> (16, 1), "MET_SHORT" -> (16, 2),
    "MET_UINT" -> (32, 1), "MET_INT" -> (32, 2),
    "MET_FLOAT" -> (32, 3), "MET_DOUBLE" -> (64, 3),
  )
  private val TagWidth = 256; private val TagLength = 257; private val TagBits = 258
  private val TagCompression = 259; private val TagPhotometric = 262
  private val TagStripOffsets = 273; private val TagSamplesPerPixel = 277
  private val TagRowsPerStrip = 278; private val TagStripByteCounts = 279
  private val TagSampleFormat = 339
  private val TypeShort = 3; private val TypeLong = 4; private val TypeLong8 = 16

  /** Export a volume as a multi-page BigTIFF, one page per z slice: the
    * header + IFD chain (offsets precomputed) around the payload that
    * [[RawPayload.write]] lands.
    */
  def write(vol: ChunkVolume, path: String): Unit = {
    val m = vol.meta
    val bpp = m.bytesPerVoxel
    val (bits, sampleFormat) = Formats(m.elementType)
    val (dimY, dimX) = (m.dimY.toInt, m.dimX.toInt)
    val sliceBytes = dimY.toLong * dimX * bpp
    val dataStart = 16L
    val firstIfd = dataStart + m.dimZ * sliceBytes
    val nTags = 10
    val ifdSize = 8 + nTags * 20 + 8

    RawPayload.write(vol, path, dataStart, firstIfd + m.dimZ * ifdSize) { f =>
      val header = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      header.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0).putLong(firstIfd)
      f.writeFully(0L, header.array())

      // IFD chain, one per page — every strip offset is computable
      val buf = ByteBuffer.allocate(ifdSize).order(ByteOrder.LITTLE_ENDIAN)
      def entry(b: ByteBuffer, tag: Int, tpe: Int, value: Long): Unit = {
        b.putShort(tag.toShort).putShort(tpe.toShort).putLong(1L).putLong(value)
      }
      var ifdPos = firstIfd
      for (z <- 0 until m.dimZ.toInt) {
        buf.clear()
        buf.putLong(nTags.toLong)
        entry(buf, TagWidth, TypeLong, dimX.toLong)
        entry(buf, TagLength, TypeLong, dimY.toLong)
        entry(buf, TagBits, TypeShort, bits.toLong)
        entry(buf, TagCompression, TypeShort, 1L)
        entry(buf, TagPhotometric, TypeShort, 1L)
        entry(buf, TagStripOffsets, TypeLong8, dataStart + z * sliceBytes)
        entry(buf, TagSamplesPerPixel, TypeShort, 1L)
        entry(buf, TagRowsPerStrip, TypeLong, dimY.toLong)
        entry(buf, TagStripByteCounts, TypeLong8, sliceBytes)
        entry(buf, TagSampleFormat, TypeShort, sampleFormat.toLong)
        val next = if (z == m.dimZ - 1) 0L else firstIfd + (z + 1).toLong * ifdSize
        buf.putLong(next)
        f.writeFully(ifdPos, buf.array())
        ifdPos += ifdSize
      }
    }
  }
}
