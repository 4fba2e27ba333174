package graft.volume

import graft.io.{Fio, FioConf}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.udf
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

/** Spec-compliant Zarr v2 DirectoryStore — the reference's actual on-disk
  * world (`zarr.DirectoryStore` writes in upscale_streaming.py:103–127,
  * `da.from_zarr` reads in verify_labels.py:15 / view_upscaled.py:11):
  *
  *  - `.zarray` JSON metadata (zarr_format 2, C order, dot separator);
  *  - one file per chunk named `z.y.x` in chunk-grid coordinates;
  *  - every chunk file holds the FULL chunk shape in C order — edge chunks
  *    are padded with `fill_value` on write and trimmed on read;
  *  - a chunk file may be absent, meaning "entirely fill_value";
  *  - codecs: raw (`compressor: null`), numcodecs `zlib` (RFC-1950 via
  *    java.util.zip), numcodecs `zstd` (plain zstd frames), numcodecs
  *    `lz4` (4-byte length header + raw LZ4 block), and the numcodecs
  *    `blosc` C-Blosc v1 container with zlib/zstd/lz4 inner codecs and
  *    shuffle none/byte/bit — including the reference CLI's default
  *    output format, Blosc(zstd|lz4, BITSHUFFLE)
  *    (upscale_streaming.py:103–108; see [[BloscCodec]], [[BitShuffle]]).
  *  - dtype tags with explicit endianness (`<u4`, `>u4`, `|u1`, …): the
  *    writer emits little-endian (chunk payloads are LE in memory), the
  *    reader byte-swaps big-endian arrays on decode.
  *
  * The end of this object is the zarr LAYOUT LAYER that the v3 dialect
  * ([[Zarr3Store]], plain and sharded) shares: [[chunkKey]] here and
  * `Zarr3Store.chunkKey` are the only code that turns chunk coordinates
  * into paths, and one landing path and one planned-grid reader serve
  * both dialects — each supplies only its documents, its key and its
  * per-chunk encoder. Every write and append, DSv2 included, lands its
  * chunk files through one step into a [[Landing]] that publishes them
  * all-or-nothing: a swap for a new or overwritten array, an append
  * (which first checks the existing document against the layout it
  * would write) for an existing one.
  *
  * [[ChunkStore]] writes this same format with a per-chunk label min/max
  * index beside it — the value-indexed sink.
  */
object ZarrStore {

  /** MET element type -> little-endian zarr dtype tag. */
  val DtypeOf: Map[String, String] = Map(
    "MET_UCHAR" -> "|u1", "MET_CHAR" -> "|i1",
    "MET_USHORT" -> "<u2", "MET_SHORT" -> "<i2",
    "MET_UINT" -> "<u4", "MET_INT" -> "<i4",
    "MET_FLOAT" -> "<f4", "MET_DOUBLE" -> "<f8",
  )
  private val MetOf: Map[String, String] = DtypeOf.map { case (k, v) => v.substring(1) -> k }

  sealed trait Codec {
    def id: Option[String]
    def compress(src: Array[Byte]): Array[Byte]
    /** [[compress]] of a C-order chunk payload whose rows are `rowLen`
      * bytes: the same output bytes, which a codec may produce faster by
      * knowing the row layout ([[BloscCodec]] copies the shuffle of a
      * repeated row). Every other codec ignores the hint.
      */
    def compress(src: Array[Byte], rowLen: Int): Array[Byte] = compress(src)
    /** The `rawLen` bytes `src` encodes; a stream that decodes to any
      * other length fails.
      */
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte]
  }

  case object Raw extends Codec {
    val id: Option[String] = None
    def compress(src: Array[Byte]): Array[Byte] = src
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      require(src.length == rawLen, s"raw chunk holds ${src.length} bytes, expected $rawLen")
      src
    }
  }

  /** numcodecs `zlib`: RFC-1950 stream, exactly python zlib.compress. */
  final case class Zlib(level: Int = 5) extends Codec {
    val id: Option[String] = Some("zlib")
    def compress(src: Array[Byte]): Array[Byte] = {
      val d = new Deflater(level)
      try {
        d.setInput(src); d.finish()
        val out = new ByteArrayOutputStream(math.max(64, src.length / 4))
        val buf = new Array[Byte](64 * 1024)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    }
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val out = new Array[Byte](rawLen)
      Zlib.inflateInto(src, 0, src.length, out, 0, rawLen)
      out
    }
  }

  object Zlib {
    /** Inflate the stream `src[off, off+len)` into `dst[dOff, dOff+n)`,
      * failing unless it holds exactly `n` bytes' worth. A truncated
      * stream stops when its input runs out (`inflate` returns 0 from then
      * on, so looping until `finished` would spin forever).
      */
    private[volume] def inflateInto(
        src: Array[Byte], off: Int, len: Int, dst: Array[Byte], dOff: Int, n: Int): Unit = {
      val inf = new Inflater()
      try {
        inf.setInput(src, off, len)
        var got = 0
        while (got < n && !inf.finished() && !inf.needsInput() && !inf.needsDictionary())
          got += inf.inflate(dst, dOff + got, n - got)
        require(got == n, s"zlib chunk shorter than expected: $got/$n")
      } finally inf.end()
    }
  }

  /** numcodecs `zstd`: plain zstd frames (zstd-jni, already on Spark's
    * classpath for shuffle compression), compressed through the calling
    * thread's reused native context ([[BloscCodec.scratch]]) — the static
    * `Zstd.compress` entry builds and frees one per chunk.
    */
  final case class ZstdCodec(level: Int = 3) extends Codec {
    val id: Option[String] = Some("zstd")
    def compress(src: Array[Byte]): Array[Byte] = {
      // one allocation per chunk: the frame lands in the thread's reused
      // destination buffer and only its exact length is copied out
      val scr = BloscCodec.scratch.get()
      val dst = scr.ensureDst(com.github.luben.zstd.Zstd.compressBound(src.length.toLong).toInt)
      val n = scr.zctx(level).compressByteArray(dst, 0, dst.length, src, 0, src.length)
      java.util.Arrays.copyOf(dst, n)
    }
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val out = new Array[Byte](rawLen)
      ZstdCodec.decompressInto(src, 0, src.length, out, 0, rawLen)
      out
    }
  }

  object ZstdCodec {
    /** Decompress the frame(s) `src[off, off+len)` into `dst[dOff, dOff+n)`
      * through the calling thread's reused native context, failing unless
      * they decode to exactly `n` bytes: zstd returns a short length
      * without complaint, which would read back as zero-filled voxels.
      */
    private[volume] def decompressInto(
        src: Array[Byte], off: Int, len: Int, dst: Array[Byte], dOff: Int, n: Int): Unit = {
      val got = BloscCodec.scratch.get().dctx.decompressByteArray(dst, dOff, n, src, off, len)
      require(got == n, s"zstd chunk decoded to $got bytes, expected $n")
    }
  }

  /** numcodecs `gzip`: RFC-1952 member (header + CRC32), exactly python
    * `gzip.compress` — distinct from `zlib`'s RFC-1950 stream. Also the
    * zarr v3 `gzip` codec ([[Zarr3Store]]).
    */
  final case class GzipCodec(level: Int = 5) extends Codec {
    val id: Option[String] = Some("gzip")
    def compress(src: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(src.length / 2 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos) {
        `def`.setLevel(level)
      }
      gz.write(src); gz.close()
      bos.toByteArray
    }
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(src))
      val out = new Array[Byte](rawLen)
      var off = 0
      while (off < rawLen) {
        val r = in.read(out, off, rawLen - off)
        require(r >= 0, s"gzip chunk truncated at $off of $rawLen")
        off += r
      }
      in.close()
      out
    }
  }

  /** numcodecs `lz4`: the standalone (non-blosc) LZ4 codec — a 4-byte LE
    * header holding the uncompressed length, then one raw LZ4 block
    * (numcodecs lz4.pyx `encode`/`decode`). Distinct from the raw
    * headerless blocks used INSIDE the blosc container.
    */
  final case class Lz4Codec(acceleration: Int = 1) extends Codec {
    val id: Option[String] = Some("lz4")
    def compress(src: Array[Byte]): Array[Byte] = {
      val comp = Lz4Block.compress(src)
      val out = java.nio.ByteBuffer.allocate(4 + comp.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.putInt(src.length).put(comp)
      out.array()
    }
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val n = java.nio.ByteBuffer.wrap(src).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()
      require(n == rawLen, s"lz4 header length $n != expected $rawLen")
      Lz4Block.decompress(src, 4, rawLen)
    }
  }

  /** Raw LZ4 blocks (no frame, no length header) via lz4-java, which Spark
    * already ships for shuffle compression.
    */
  private[volume] case object Lz4Block extends Codec {
    private def factory = net.jpountz.lz4.LZ4Factory.fastestInstance()
    val id: Option[String] = Some("lz4")
    def compress(src: Array[Byte]): Array[Byte] = factory.fastCompressor().compress(src)
    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] =
      decompress(src, 0, rawLen)
    def decompress(src: Array[Byte], off: Int, rawLen: Int): Array[Byte] = {
      val out = new Array[Byte](rawLen)
      decompressInto(src, off, out, 0, rawLen)
      out
    }
    def decompressInto(src: Array[Byte], off: Int, dst: Array[Byte], dOff: Int, n: Int): Unit =
      factory.fastDecompressor().decompress(src, off, dst, dOff, n)
  }

  /** The bitshuffle transform (kiyo-masui/bitshuffle, as embedded in
    * c-blosc's `shuffle: 2` mode): view `m` elements of `t` bytes as an
    * (m × t·8) bit matrix and emit its transpose — for each byte position
    * k and bit j, a row of m/8 bytes where byte q packs bit j of elements
    * 8q..8q+7 (element index = bit position, LSB first). c-blosc shuffles
    * only the largest multiple-of-8 element prefix of each block and
    * copies the remainder verbatim (shuffle.c `bitshuffle()` leftover
    * memcpy). Implemented as the reference's three stages (byte transpose,
    * 8×8 bit transpose, row regroup) with stages fused around the
    * Hacker's-Delight 64-bit transpose kernel.
    */
  private[volume] object BitShuffle {
    private def trans8x8(v: Long): Long = {
      var x = v
      var t = (x ^ (x >>> 7)) & 0x00AA00AA00AA00AAL; x = x ^ t ^ (t << 7)
      t = (x ^ (x >>> 14)) & 0x0000CCCC0000CCCCL; x = x ^ t ^ (t << 14)
      t = (x ^ (x >>> 28)) & 0x00000000F0F0F0F0L; x = x ^ t ^ (t << 28)
      x
    }

    def shuffle(src: Array[Byte], off: Int, len: Int, t: Int): Array[Byte] = {
      val out = ByteKernels.allocBytes(len)
      shuffleInto(src, off, len, t, out)
      out
    }

    /** [[shuffle]] into a caller-owned buffer (≥ len; only [0, len) is
      * written) — the hot-loop form: the blosc encoder shuffles one block
      * at a time and a fresh zeroed array per block is a full extra write
      * pass over the volume.
      */
    def shuffleInto(src: Array[Byte], off: Int, len: Int, t: Int, out: Array[Byte]): Unit = {
      val n = len / t
      val m = n - n % 8 // bitshuffle needs a multiple of 8 elements
      if (m > 0) {
        val rowB = m >>> 3
        var k = 0
        while (k < t) {
          // gather byte k of 8 consecutive elements into one little-endian
          // word, 8×8 bit-transpose it, scatter its bytes to the 8 (k,j)
          // bit rows — fully unrolled so the JIT keeps x in a register
          val srcK = off + k
          val o0 = k * 8 * rowB
          val o1 = o0 + rowB; val o2 = o1 + rowB; val o3 = o2 + rowB
          val o4 = o3 + rowB; val o5 = o4 + rowB; val o6 = o5 + rowB; val o7 = o6 + rowB
          val stride8 = t << 3
          var q = 0
          var p = srcK
          while (q < rowB) {
            var x = (src(p) & 0xffL) |
              ((src(p + t) & 0xffL) << 8) |
              ((src(p + 2 * t) & 0xffL) << 16) |
              ((src(p + 3 * t) & 0xffL) << 24) |
              ((src(p + 4 * t) & 0xffL) << 32) |
              ((src(p + 5 * t) & 0xffL) << 40) |
              ((src(p + 6 * t) & 0xffL) << 48) |
              ((src(p + 7 * t) & 0xffL) << 56)
            x = trans8x8(x)
            out(o0 + q) = x.toByte
            out(o1 + q) = (x >>> 8).toByte
            out(o2 + q) = (x >>> 16).toByte
            out(o3 + q) = (x >>> 24).toByte
            out(o4 + q) = (x >>> 32).toByte
            out(o5 + q) = (x >>> 40).toByte
            out(o6 + q) = (x >>> 48).toByte
            out(o7 + q) = (x >>> 56).toByte
            p += stride8
            q += 1
          }
          k += 1
        }
      }
      var i = m * t
      while (i < len) { out(i) = src(off + i); i += 1 }
    }

    def unshuffle(src: Array[Byte], len: Int, t: Int): Array[Byte] = {
      val out = new Array[Byte](len)
      unshuffleInto(src, len, t, out, 0)
      out
    }

    /** [[unshuffle]] of `src[0, len)` into `out[ooff, ooff+len)`: the
      * blosc decoder restores each block straight into the chunk.
      */
    def unshuffleInto(src: Array[Byte], len: Int, t: Int, out: Array[Byte], ooff: Int): Unit = {
      val n = len / t
      val m = n - n % 8
      if (m > 0) {
        val rowB = m >>> 3
        var k = 0
        while (k < t) {
          val outK = k
          val o0 = k * 8 * rowB
          val o1 = o0 + rowB; val o2 = o1 + rowB; val o3 = o2 + rowB
          val o4 = o3 + rowB; val o5 = o4 + rowB; val o6 = o5 + rowB; val o7 = o6 + rowB
          val stride8 = t << 3
          var q = 0
          var p = ooff + outK
          while (q < rowB) {
            var x = (src(o0 + q) & 0xffL) |
              ((src(o1 + q) & 0xffL) << 8) |
              ((src(o2 + q) & 0xffL) << 16) |
              ((src(o3 + q) & 0xffL) << 24) |
              ((src(o4 + q) & 0xffL) << 32) |
              ((src(o5 + q) & 0xffL) << 40) |
              ((src(o6 + q) & 0xffL) << 48) |
              ((src(o7 + q) & 0xffL) << 56)
            x = trans8x8(x) // the 8×8 bit transpose is an involution
            out(p) = x.toByte
            out(p + t) = (x >>> 8).toByte
            out(p + 2 * t) = (x >>> 16).toByte
            out(p + 3 * t) = (x >>> 24).toByte
            out(p + 4 * t) = (x >>> 32).toByte
            out(p + 5 * t) = (x >>> 40).toByte
            out(p + 6 * t) = (x >>> 48).toByte
            out(p + 7 * t) = (x >>> 56).toByte
            p += stride8
            q += 1
          }
          k += 1
        }
      }
      System.arraycopy(src, m * t, out, ooff + m * t, len - m * t)
    }
  }

  /** numcodecs `blosc`: the C-Blosc v1 container — 16-byte header
    * (version, versionlz, flags, typesize, nbytes, blocksize, cbytes, all
    * LE), per-block offset table, each block a sequence of
    * `[int32 csize][payload]` streams (csize == stream size marks a
    * stored stream), inner codec zlib/zstd (never split) or lz4 (split
    * into `typesize` streams per c-blosc's `split_block`: format
    * blosclz/lz4 only, typesize ≤ 16, blocksize/typesize ≥ 128, never the
    * leftover block), optional byte shuffle (`1`) or bitshuffle (`2`) per
    * block with the sub-unit remainder copied verbatim. This is what
    * `zarr.DirectoryStore` chunks look like, and the reference's
    * `--compressor zstd` / `lz4` write exactly this container with
    * BITSHUFFLE (upscale_streaming.py:103–108).
    *
    * `shuffle: -1` is numcodecs AUTOSHUFFLE: bitshuffle for 1-byte types,
    * byte shuffle otherwise (resolved against typesize at write time).
    * All shuffle modes are cross-validated against an independent
    * numpy/python implementation (ZarrInteropSpec, ZarrStoreSpec).
    *
    * Default clevel is 3 (r18 A/B on the ×15 headline: zstd-3 beat
    * zstd-5 on every paired rep — medians 95.0 vs 107.7 s — at
    * equal-or-smaller output, 1.1 vs 1.2 GB; PLANS.md "×15 zarr codec").
    * The reference-parity CLI flags (`lz4`, `zstd-bit`) pass clevel 5
    * explicitly, reproducing upscale_streaming.py:103–108 byte-for-byte.
    */
  final case class BloscCodec(
      cname: String = "zstd", clevel: Int = 3, shuffle: Int = 0, typesize: Int = 1)
      extends Codec {
    require(shuffle >= -1 && shuffle <= 2,
      s"blosc shuffle mode $shuffle unsupported (-1=auto, 0=none, 1=byte, 2=bit)")
    require(Set("zstd", "zlib", "lz4", "lz4hc").contains(cname),
      s"blosc inner codec $cname unsupported")
    require(typesize >= 1 && typesize <= 255, s"blosc typesize out of range: $typesize")
    val id: Option[String] = Some("blosc")

    private def inner: Codec = cname match {
      case "zstd" => ZstdCodec(clevel)
      case "zlib" => Zlib(clevel)
      case _ => Lz4Block // raw headerless lz4 blocks inside the container
    }
    // header bits 5-7 (blosc.h *_FORMAT codes; lz4 and lz4hc share 1)
    private def codecFlag: Int = cname match {
      case "zstd" => 4
      case "zlib" => 3
      case _ => 1
    }
    // numcodecs AUTOSHUFFLE resolves against the typesize at write time
    private def effShuffle: Int =
      if (shuffle == -1) { if (typesize == 1) 2 else 1 } else shuffle

    /** typesize drives the byte shuffle; the store sets it from the dtype. */
    private[graft] def withTypesize(t: Int): BloscCodec =
      copy(typesize = math.max(1, math.min(t, 255)))

    def compress(src: Array[Byte]): Array[Byte] = compress(src, 0)

    /** The container of `src`, a C-order chunk whose rows are `rowLen`
      * bytes ([[ZarrStore.encodeChunkBytes]] passes `chunkX · bpp`; `0`
      * means no row layout is known). Only the byte shuffle uses the hint:
      * a row equal to the row before it in the same block copies that
      * row's shuffled planes ([[ByteKernels.shuffleRowsInto]]), so a ×s
      * nearest-neighbour child shuffles each distinct row once. The output
      * bytes are the same with and without it.
      */
    override def compress(src: Array[Byte], rowLen: Int): Array[Byte] = {
      val t = typesize
      val sh = effShuffle
      // one block per typesize·8-aligned MB-scale unit; whole chunk if
      // small (t·8 alignment keeps full blocks bitshuffle-exact: the
      // element count per block is a multiple of 8)
      val blockSize = {
        val target = math.min(src.length, 1 << 22)
        val aligned = target - target % (t * 8)
        if (aligned <= 0) src.length else aligned
      }
      val nBlocks = math.max(1, (src.length + blockSize - 1) / blockSize)
      val headerLen = 16 + 4 * nBlocks
      // All per-block working memory is REUSED thread-local scratch (one
      // shuffled-block buffer, one zstd destination, one payload
      // accumulator, one reused native zstd context): the former
      // alloc-per-block form paid a zeroed multi-MB allocation per 4 MB
      // block — at the ×15 headline's 1.04 TB that is a full extra write
      // pass over the volume in zeroing alone, plus the GC churn of a TB
      // of humongous short-lived arrays (guide §1.2 "per-task work").
      val scr = BloscCodec.scratch.get()
      // worst case per stream is stored-verbatim: 4 + ne bytes; splits
      // only for lz4 (≤ 16), so src.length + 4·(t·nBlocks) bounds it
      val payload = scr.ensurePayload(src.length + 4 * (t * nBlocks) + 16)
      var pLen = 0
      val bstarts = new Array[Int](nBlocks)
      val zstdInner = cname == "zstd"
      var b = 0
      while (b < nBlocks) {
        bstarts(b) = headerLen + pLen
        val off = b * blockSize
        val len = math.min(blockSize, src.length - off)
        // shuffled blocks land in scratch; unshuffled blocks compress
        // straight from `src` at their offset — no copy at all
        var plainArr: Array[Byte] = src
        var plainOff: Int = off
        sh match {
          case 1 =>
            plainArr = scr.ensurePlain(len); plainOff = 0
            ByteKernels.shuffleRowsInto(src, off, len, t, rowLen, plainArr)
          case 2 =>
            plainArr = scr.ensurePlain(len); plainOff = 0
            BitShuffle.shuffleInto(src, off, len, t, plainArr)
          case _ => ()
        }
        val leftover = len != blockSize
        val nsplits =
          if (!leftover && BloscCodec.splitsBlock(codecFlag, t, blockSize)) t else 1
        val ne = len / nsplits
        var s = 0
        while (s < nsplits) {
          val sOff = plainOff + s * ne
          // compressed stream bytes land in (compArr, 0, compLen);
          // compLen = -1 marks incompressible -> store the raw stream
          var compArr: Array[Byte] = null
          var compLen = -1
          if (zstdInner) {
            val dst = scr.ensureDst(
              com.github.luben.zstd.Zstd.compressBound(ne.toLong).toInt)
            val n = scr.zctx(clevel)
              .compressByteArray(dst, 0, dst.length, plainArr, sOff, ne).toInt
            if (n < ne) { compArr = dst; compLen = n }
          } else {
            val part = java.util.Arrays.copyOfRange(plainArr, sOff, sOff + ne)
            val c = inner.compress(part)
            if (c.length < ne) { compArr = c; compLen = c.length }
          }
          val outLen = if (compLen >= 0) compLen else ne
          // [int32 csize][payload]; csize == ne marks a stored stream
          payload(pLen) = (outLen & 0xff).toByte
          payload(pLen + 1) = ((outLen >> 8) & 0xff).toByte
          payload(pLen + 2) = ((outLen >> 16) & 0xff).toByte
          payload(pLen + 3) = ((outLen >> 24) & 0xff).toByte
          pLen += 4
          if (compLen >= 0) System.arraycopy(compArr, 0, payload, pLen, compLen)
          else System.arraycopy(plainArr, sOff, payload, pLen, ne)
          pLen += outLen
          s += 1
        }
        b += 1
      }
      val total = headerLen + pLen
      val out = ByteKernels.allocBytes(total)
      val buf = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val flags = (sh match { case 1 => 0x1 case 2 => 0x4 case _ => 0x0 }) | (codecFlag << 5)
      buf.put(2.toByte).put(1.toByte).put(flags.toByte).put(t.toByte)
      buf.putInt(src.length).putInt(blockSize).putInt(total)
      var i = 0
      while (i < nBlocks) { buf.putInt(bstarts(i)); i += 1 }
      System.arraycopy(payload, 0, out, headerLen, pLen)
      out
    }

    def decompress(src: Array[Byte], rawLen: Int): Array[Byte] =
      BloscCodec.decode(src, rawLen)
  }

  object BloscCodec {
    /** Per-thread codec scratch: for the encoder one shuffled-block
      * buffer, one zstd destination buffer, one payload accumulator and one
      * reused native zstd context (the static `Zstd.compress` entry builds
      * and frees a native context per call); for the decoder one
      * shuffled-block buffer and one native zstd decompression context.
      * Executor task threads are pooled, so the working set is bounded by
      * thread count × ~4 block sizes and lives for the JVM — the per-block
      * allocation churn it replaces was ~2× the volume's logical bytes per
      * sink write.
      */
    private[volume] final class Scratch {
      private var plain: Array[Byte] = Array.emptyByteArray
      private var dst: Array[Byte] = Array.emptyByteArray
      private var payload: Array[Byte] = Array.emptyByteArray
      private var block: Array[Byte] = Array.emptyByteArray
      private var ctx: com.github.luben.zstd.ZstdCompressCtx = null
      private var ctxLevel: Int = Int.MinValue
      lazy val dctx: com.github.luben.zstd.ZstdDecompressCtx = new com.github.luben.zstd.ZstdDecompressCtx()
      def ensurePlain(n: Int): Array[Byte] = {
        if (plain.length < n) plain = ByteKernels.allocBytes(n)
        plain
      }
      def ensureDst(n: Int): Array[Byte] = {
        if (dst.length < n) dst = ByteKernels.allocBytes(n)
        dst
      }
      def ensurePayload(n: Int): Array[Byte] = {
        if (payload.length < n) payload = ByteKernels.allocBytes(n)
        payload
      }
      def ensureBlock(n: Int): Array[Byte] = {
        if (block.length < n) block = ByteKernels.allocBytes(n)
        block
      }
      def zctx(level: Int): com.github.luben.zstd.ZstdCompressCtx = {
        if (ctx == null) ctx = new com.github.luben.zstd.ZstdCompressCtx()
        if (ctxLevel != level) { ctx.setLevel(level); ctxLevel = level }
        ctx
      }
    }
    private[volume] val scratch: ThreadLocal[Scratch] =
      ThreadLocal.withInitial(() => new Scratch)

    /** c-blosc 1.21.x `split_block` (blosc.c): a non-leftover block is
      * split into `typesize` independently-compressed streams iff the
      * codec FORMAT is blosclz (0) or lz4/lz4hc (1) — never the
      * high-compression-ratio codecs zlib/zstd — and typesize ≤
      * MAX_SPLITS (16) and blocksize/typesize ≥ MIN_BUFFERSIZE (128).
      * Both sides recompute this from the chunk header, so writer and
      * reader must agree exactly.
      */
    private[volume] def splitsBlock(codecFormat: Int, t: Int, blockSize: Int): Boolean =
      (codecFormat == 0 || codecFormat == 1) &&
        t <= 16 && t >= 1 && blockSize % t == 0 && blockSize / t >= 128

    /** Decode any C-Blosc v1 buffer with inner codec zlib/zstd/lz4 and
      * shuffle none/byte/bit, independent of the writer's block/split
      * choices.
      */
    def decode(src: Array[Byte], rawLen: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.wrap(src).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val version = buf.get() & 0xff
      buf.get() // versionlz
      val flags = buf.get() & 0xff
      val t = buf.get() & 0xff
      val nbytes = buf.getInt()
      val blockSize = buf.getInt()
      buf.getInt() // cbytes
      require(version >= 1, s"bad blosc version $version")
      require(nbytes == rawLen, s"blosc nbytes $nbytes != expected $rawLen")
      val out = new Array[Byte](nbytes)
      if ((flags & 0x2) != 0) { // memcpyed
        System.arraycopy(src, 16, out, 0, nbytes)
        return out
      }
      val format = flags >> 5
      require(format == 1 || format == 3 || format == 4,
        s"blosc inner codec id $format unsupported (1=lz4, 3=zlib, 4=zstd)")
      val byteShuffle = (flags & 0x1) != 0
      val bitShuffle = (flags & 0x4) != 0
      require(!(byteShuffle && bitShuffle), "blosc flags set both byte and bit shuffle")
      val nBlocks = math.max(1, (nbytes + blockSize - 1) / blockSize)
      // streams of a shuffled block land in the thread's block buffer and
      // are unshuffled into `out`; an unshuffled block decodes in place
      val block = if (byteShuffle || bitShuffle) scratch.get().ensureBlock(math.min(blockSize, nbytes)) else null
      var b = 0
      while (b < nBlocks) {
        val off = b * blockSize
        val neblock = math.min(blockSize, nbytes - off)
        val leftover = neblock != blockSize
        val nsplits = if (!leftover && splitsBlock(format, t, blockSize)) t else 1
        val ne = neblock / nsplits
        val (dst, dOff) = if (block == null) (out, off) else (block, 0)
        var p = buf.getInt(16 + 4 * b)
        var s = 0
        while (s < nsplits) {
          val csize = buf.getInt(p)
          val at = dOff + s * ne
          if (csize == ne) System.arraycopy(src, p + 4, dst, at, ne)
          else format match {
            case 1 => Lz4Block.decompressInto(src, p + 4, dst, at, ne)
            case 3 => Zlib.inflateInto(src, p + 4, csize, dst, at, ne)
            case _ => ZstdCodec.decompressInto(src, p + 4, csize, dst, at, ne)
          }
          p += 4 + csize
          s += 1
        }
        if (byteShuffle) ByteKernels.unshuffleInto(block, 0, neblock, t, out, off)
        else if (bitShuffle) BitShuffle.unshuffleInto(block, neblock, t, out, off)
        b += 1
      }
      out
    }
  }

  /** Parsed `.zarray` metadata (shape/chunks in zarr's (z,y,x) row-major
    * order, matching the reference's array axis convention).
    */
  final case class ZarrMeta(
      shape: Seq[Long],
      chunks: Seq[Int],
      dtype: String,
      codec: Codec,
      fillValue: Long,
      dimSeparator: String = ".",
  ) {
    require(shape.length == 3 && chunks.length == 3, "ZarrStore handles 3-D arrays")
    def bigEndian: Boolean = dtype.startsWith(">")
    def bpp: Int = dtype.substring(2).toInt
    def elementType: String = MetOf.getOrElse(
      dtype.substring(1),
      throw new IllegalArgumentException(s"unsupported zarr dtype: $dtype"))
    def gridShape: Seq[Int] =
      shape.zip(chunks).map { case (d, c) => VolumeMeta.cells(d, c) }
    def chunkElems: Int = chunks.product
  }

  /** The exact `.zarray` document. Key order and formatting follow the
    * zarr v2 spec examples (python-zarr accepts any valid JSON; goldens in
    * ZarrStoreSpec pin this form).
    */
  def zarrayJson(m: ZarrMeta): String = {
    val comp = m.codec match {
      case Raw => "null"
      case Zlib(l) => s"""{"id": "zlib", "level": $l}"""
      case GzipCodec(l) => s"""{"id": "gzip", "level": $l}"""
      case ZstdCodec(l) => s"""{"id": "zstd", "level": $l}"""
      case Lz4Codec(a) => s"""{"id": "lz4", "acceleration": $a}"""
      case BloscCodec(cname, clevel, shuffle, _) =>
        s"""{"id": "blosc", "cname": "$cname", "clevel": $clevel, "shuffle": $shuffle, "blocksize": 0}"""
      case Lz4Block => throw new IllegalArgumentException(
        "raw lz4 blocks are a blosc-internal codec, not a zarr compressor")
    }
    s"""{
       |    "zarr_format": 2,
       |    "shape": [${m.shape.mkString(", ")}],
       |    "chunks": [${m.chunks.mkString(", ")}],
       |    "dtype": "${m.dtype}",
       |    "compressor": $comp,
       |    "fill_value": ${m.fillValue},
       |    "order": "C",
       |    "filters": null,
       |    "dimension_separator": "${m.dimSeparator}"
       |}""".stripMargin
  }

  /** A JSON number of a zarr document as a Long (`null` fill_value → 0). */
  private[volume] def num(j: JValue): Long = j match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case JDouble(d) => d.toLong
    case JDecimal(d) => d.toLong
    case JNull => 0L
    case other => throw new IllegalArgumentException(s"expected number, got $other")
  }

  def parseZarray(json: String): ZarrMeta = {
    val v = JsonMethods.parse(json)
    val JInt(fmt) = v \ "zarr_format"
    require(fmt == 2, s"only zarr v2 supported, got $fmt")
    val JArray(shape) = v \ "shape"
    val JArray(chunks) = v \ "chunks"
    val JString(dtype) = v \ "dtype"
    val JString(order) = v \ "order"
    require(order == "C", s"only C-order arrays supported, got $order")
    v \ "filters" match {
      case JNull | JNothing | JArray(Nil) => ()
      case f => throw new IllegalArgumentException(s"zarr filters unsupported: $f")
    }
    val codec = v \ "compressor" match {
      case JNull | JNothing => Raw
      case comp =>
        val JString(id) = comp \ "id"
        val level = comp \ "level" match { case JNothing => 5 case l => num(l).toInt }
        id match {
          case "zlib" => Zlib(level)
          case "gzip" => GzipCodec(level)
          case "zstd" => ZstdCodec(level)
          case "lz4" =>
            val acc = comp \ "acceleration" match { case JNothing => 1 case a => num(a).toInt }
            Lz4Codec(acc)
          case "blosc" =>
            val JString(cname) = comp \ "cname"
            val clevel = comp \ "clevel" match { case JNothing => 5 case l => num(l).toInt }
            val shuffle = comp \ "shuffle" match { case JNothing => 1 case s => num(s).toInt }
            BloscCodec(cname, clevel, shuffle) // typesize comes from each chunk's header on read
          case other => throw new IllegalArgumentException(s"unsupported zarr codec: $other")
        }
    }
    val sep = v \ "dimension_separator" match { case JString(s) => s case _ => "." }
    ZarrMeta(shape.map(num), chunks.map(num(_).toInt), dtype, codec, num(v \ "fill_value"), sep)
  }

  /** The array layout a write of `vol` with `codec` produces (blosc's
    * typesize set from the dtype; `.` separator — [[Zarr3Store]] swaps
    * in `/`).
    */
  private[graft] def metaOf(vol: VolumeMeta, codec: Codec): ZarrMeta = ZarrMeta(
    shape = Seq(vol.dimZ, vol.dimY, vol.dimX),
    chunks = Seq(vol.chunkZ, vol.chunkY, vol.chunkX),
    dtype = DtypeOf(vol.elementType),
    codec = forElements(codec, vol.bytesPerVoxel),
    fillValue = 0L)

  /** `codec` ready to encode `bpp`-byte elements: blosc's shuffle needs
    * the typesize, which a parsed document does not carry (it lives in
    * each chunk header).
    */
  private[graft] def forElements(codec: Codec, bpp: Int): Codec = codec match {
    case b: BloscCodec => b.withTypesize(bpp)
    case c => c
  }

  /** The codec a compressor name selects: the vocabulary of
    * `UpscaleCli --compressor` and of a first `format("zarr")` write's
    * `compressor` option.
    */
  private[graft] def codecNamed(compressor: String): Codec = compressor match {
    case "zstd" => ZstdCodec()
    case "zlib" => Zlib()
    case "blosc-zstd" => BloscCodec("zstd")
    case "blosc-zlib" => BloscCodec("zlib")
    // the reference CLI's exact output worlds (upscale_streaming.py:
    // 103-108): Blosc(cname, clevel=5, shuffle=BITSHUFFLE)
    case "lz4" => BloscCodec("lz4", 5, shuffle = 2)
    case "zstd-bit" => BloscCodec("zstd", 5, shuffle = 2)
    case "none" => Raw
    case other => throw new IllegalArgumentException(s"unknown --compressor: $other")
  }

  /** Write a ChunkVolume as a zarr v2 array directory: `.zarray` and
    * `.zattrs` from the driver, chunk files straight from executor tasks,
    * so the write parallelizes like the reference's dask `to_zarr` and
    * scales with the cluster, not the driver. Overwrite is ALL-OR-NOTHING
    * like the reference's pre-delete+rewrite (upscale_streaming.py:118–127),
    * as a [[Landing.Swap]]: a failure leaves the old store untouched.
    */
  def write(vol: ChunkVolume, path: String, codec: Codec = ZstdCodec(),
      extraAttrs: Map[String, String] = Map.empty): Unit =
    landArray(vol.chunks, path, v2Files(metaOf(vol.meta, codec), vol.meta, extraAttrs), append = false)

  /** A v2 array's `.zattrs`: spacing and provenance (user attrs per the
    * spec; zarr/dask readers ignore unknown keys). Spacing is stored
    * (x,y,z) like MHD's ElementSpacing so round-trips preserve the header
    * convention.
    */
  private[volume] def zattrs(meta: VolumeMeta, extraAttrs: Map[String, String]): String = {
    val attrs = Map(
      "graft:spacing" -> s"[${meta.spacingX}, ${meta.spacingY}, ${meta.spacingZ}]",
      "graft:elementType" -> ChunkVolume.jsonStr(meta.elementType),
    ) ++ extraAttrs.map { case (k, v) => k -> ChunkVolume.jsonStr(v) }
    attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"    ${ChunkVolume.jsonStr(k)}: $v" }
      .mkString("{\n", ",\n", "\n}")
  }

  /** The files of a v2 array of layout `zm`: `.zarray`, `.zattrs`
    * (spacing and `attrs`), and chunks keyed with the layout's separator.
    */
  private[graft] def v2Files(zm: ZarrMeta, meta: VolumeMeta, attrs: Map[String, String]): ArrayFiles = {
    val (sep, codec) = (zm.dimSeparator, forElements(zm.codec, meta.bytesPerVoxel))
    ArrayFiles(Seq(".zarray" -> zarrayJson(zm), ".zattrs" -> zattrs(meta, attrs)), zm, parseZarray,
      ChunkSink(chunkKey(sep, _, _, _), encodeChunkBytes(_, meta, codec)))
  }

  /** Append chunk files into a zarr v2 array directory — the
    * incremental-ingest building block: a re-landed chunk coordinate
    * replaces its own file, and each call publishes all-or-nothing
    * ([[Landing]]). The first call lands `.zarray` and `.zattrs` with its
    * chunks; later calls fail loud if `.zarray` describes another layout.
    * A [[ChunkStore]] value index in the array is dropped, as these chunks
    * would outdate it.
    */
  def appendChunks(
      chunks: org.apache.spark.sql.Dataset[Chunk],
      path: String,
      meta: VolumeMeta,
      codec: Codec = ZstdCodec()): Unit =
    landArray(chunks, path, v2Files(metaOf(meta, codec), meta, Map.empty), append = true)

  /** Validate, pad, and compress ONE chunk to its zarr file bytes — the
    * one encoder of the v2 writers (batch and DSv2) and the v3 writers
    * (`Zarr3Store`, plain and sharded) and so of the pyramid. The padded
    * payload's rows are `chunkX · bpp` bytes; the codec gets that row
    * length ([[Codec.compress]]`(src, rowLen)`), which blosc's byte
    * shuffle uses to copy repeated rows instead of re-shuffling them.
    */
  private[graft] def encodeChunkBytes(c: Chunk, meta: VolumeMeta, codec: Codec): Array[Byte] = {
    val (ckZ, ckY, ckX) = meta.chunkShape
    val bpp = meta.bytesPerVoxel
    requireOnGrid(c, meta)
    val full = c.nz == ckZ && c.ny == ckY && c.nx == ckX
    val payload =
      if (full) c.data
      else { // pad edge chunks to the full chunk shape with fill 0
        val padded = new Array[Byte](ckZ * ckY * ckX * bpp)
        ChunkKernels.placeBox(padded, ckY, ckX, bpp, 0, 0, 0, c.nz, c.ny, c.nx, c.data)
        padded
      }
    codec.compress(payload, ckX * bpp)
  }

  /** zarr requires a UNIFORM grid (edge chunks trail): reject a chunk
    * that is not exactly its cell of `meta`'s grid (e.g. raw decimate
    * output) instead of misplacing voxels — callers rechunk first. The
    * one grid check of every zarr writer, sharded included.
    */
  private[volume] def requireOnGrid(c: Chunk, meta: VolumeMeta): Unit =
    require(
      meta.cell(c.cz, c.cy, c.cx) == ((c.z0, c.y0, c.x0, c.nz, c.ny, c.nx)),
      s"chunk (${c.cz},${c.cy},${c.cx}) at (${c.z0},${c.y0},${c.x0}) size " +
        s"(${c.nz},${c.ny},${c.nx}) is not on the uniform (${meta.chunkZ},${meta.chunkY},${meta.chunkX}) " +
        "grid — rechunk before writing zarr")

  /** Read `.zarray` (+ spacing attr if present) into engine metadata. */
  def readMeta(path: String)(implicit fc: FioConf): (ZarrMeta, VolumeMeta) = {
    val dir = Fio.qualify(path)
    val zm = parseZarray(Fio.readString(Fio.child(dir, ".zarray")))
    val spacing = {
      val re = """"graft:spacing"\s*:\s*\[([^\]]*)\]""".r
      Fio.readStringIfExists(Fio.child(dir, ".zattrs"))
        .flatMap(re.findFirstMatchIn(_))
        .map(_.group(1).split(",").map(_.trim.toDouble))
        .filter(_.length == 3)
        .map(a => (a(0), a(1), a(2)))
        .getOrElse((1.0, 1.0, 1.0))
    }
    (zm, volumeMeta(zm, spacing))
  }

  /** Decode one chunk file's bytes to the engine's trimmed little-endian
    * payload for grid cell (cz,cy,cx); `None` bytes = absent file =
    * all-fill chunk. `file` names where the bytes came from (the chunk
    * key's path, or a shard file and inner cell) in a decode failure.
    */
  private[volume] def decodeChunk(
      bytes: Option[Array[Byte]], zm: ZarrMeta, vm: VolumeMeta,
      cz: Int, cy: Int, cx: Int, file: => String): Chunk = {
    val bpp = zm.bpp
    val (z0, y0, x0, nz, ny, nx) = vm.cell(cz, cy, cx)
    val data = bytes match {
      case None =>
        val fill = new Array[Byte](nz * ny * nx * bpp)
        if (zm.fillValue != 0L) {
          var i = 0
          while (i < nz * ny * nx) { ChunkKernels.encodeLong(zm.fillValue, fill, i, bpp); i += 1 }
        }
        fill
      case Some(raw) =>
        val full =
          try zm.codec.decompress(raw, zm.chunkElems * bpp)
          catch {
            case e: Exception => throw new IllegalStateException(
              s"zarr chunk ($cz,$cy,$cx) in $file failed to decode " +
                s"(${raw.length} bytes, codec ${zm.codec.id.getOrElse("raw")}): ${e.getMessage}", e)
          }
        if (zm.bigEndian) ChunkKernels.swapEndianInPlace(full, bpp)
        if (nz == vm.chunkZ && ny == vm.chunkY && nx == vm.chunkX) full
        else ChunkKernels.extractBox(full, vm.chunkY, vm.chunkX, bpp, 0, 0, 0, nz, ny, nx)
    }
    Chunk(cz, cy, cx, z0, y0, x0, nz, ny, nx, data)
  }

  /** Read a zarr v2 array directory as a ChunkVolume. The full chunk grid
    * is planned from `.zarray` alone (no directory listing); absent chunk
    * files decode as fill_value per the spec; a chunk filter on the
    * geometry columns prunes before any file is read, and a point lookup
    * reads its one chunk file on the driver ([[readArray]]).
    */
  def read(spark: SparkSession, path: String): ChunkVolume = {
    implicit val fc: FioConf = FioConf.of(spark)
    val (vm, load) = v2Cells(path)
    readArray(spark, vm, load)
  }

  /** The grid and the cell loader of the v2 array at `path`, from
    * `.zarray` alone: cell (cz, cy, cx) is the chunk file at its v2 key.
    * [[read]] plans over it, and a `format("zarr")` scan loads each cell
    * it keeps with it.
    */
  private[graft] def v2Cells(path: String)(implicit fc: FioConf): (VolumeMeta, ChunkVolume.CellLoader) = {
    val (zm, vm) = readMeta(path)
    (vm, chunkFiles(Fio.qualify(path), zm, vm, chunkKey(zm.dimSeparator, _, _, _)))
  }

  // ------------------------------------------------------------------
  // The zarr layout layer, shared by this store and the v3 dialect
  // ([[Zarr3Store]], plain and sharded). A dialect supplies only its
  // metadata documents, its chunk key, its per-chunk encoder and, when
  // sharded, its cell loader ([[ArrayFiles]]); the one landing step of a
  // chunk file ([[ChunkSink.land]]), the landing of a whole write through
  // [[Landing]] with the append document check, and the planned-grid
  // reader are written once, here.

  /** v2 chunk key: `z<sep>y<sep>x` in chunk-grid coordinates. */
  private[volume] def chunkKey(sep: String, cz: Int, cy: Int, cx: Int): String =
    s"$cz$sep$cy$sep$cx"

  /** Engine metadata for a zarr array's chunk grid. */
  private[volume] def volumeMeta(
      zm: ZarrMeta, spacing: (Double, Double, Double) = (1.0, 1.0, 1.0)): VolumeMeta = {
    val Seq(dz, dy, dx) = zm.shape
    val Seq(cz, cy, cx) = zm.chunks
    VolumeMeta.uniform(dz, dy, dx, cz, cy, cx, zm.elementType, spacing)
  }

  /** How one chunk becomes a file of its array: its key and its bytes.
    * [[land]] is the one step that writes a chunk file; every zarr writer
    * and appender, DSv2 included, lands each chunk through it into a
    * [[Landing]]'s directory, never at the chunk's live path.
    */
  private[graft] final case class ChunkSink(key: (Int, Int, Int) => String, encode: Chunk => Array[Byte]) {
    /** Encode `c` and write it under its key in `dir`; returns the key. */
    def land(dir: String, c: Chunk)(implicit fc: FioConf): String = {
      val k = key(c.cz, c.cy, c.cx)
      // FileSystem.create makes parents, so nested keys need no mkdirs
      Fio.writeBytes(Fio.child(dir, k), encode(c))
      k
    }
  }

  /** What a write of one array lands: its documents (name → body, the
    * array document first), the layout `zm` they describe, the `parse`r
    * of the array document, and its chunk sink. [[stage]] stages the
    * documents; an append first requires the store's to describe `zm`.
    */
  private[graft] final case class ArrayFiles(
      docs: Seq[(String, String)], zm: ZarrMeta, parse: String => ZarrMeta, sink: ChunkSink) {
    def stage(l: Landing): Unit = l.stageDocs(docs) { body =>
      val (onDisk, wanted) = (layoutOf(parse(body)), layoutOf(zm))
      require(onDisk == wanted,
        s"${l.dest}/${docs.head._1} describes $onDisk, but this append would write $wanted — " +
          "refusing to land chunk files the document would mis-describe")
    }
  }

  /** Land `chunks` as the array `files` describe at `path` through one
    * [[Landing]]: an append extends an existing array, any other write
    * replaces the store.
    */
  private[volume] def landArray(chunks: Dataset[Chunk], path: String, files: ArrayFiles, append: Boolean): Unit = {
    implicit val fc: FioConf = FioConf.of(chunks.sparkSession)
    Landing.run(path, if (append) Some(files.docs.head._1) else None) { l =>
      files.stage(l)
      landChunks(chunks, l.dir, files.sink)
      None
    }
  }

  /** Write `files` and `chunks` straight into `dir`, a directory a
    * caller's landing already stages (a pyramid level inside its group).
    */
  private[volume] def fillArray(chunks: Dataset[Chunk], dir: String, files: ArrayFiles): Unit = {
    implicit val fc: FioConf = FioConf.of(chunks.sparkSession)
    files.docs.foreach { case (name, body) => Fio.writeString(Fio.child(dir, name), body) }
    landChunks(chunks, dir, files.sink)
  }

  /** The layout an append must agree on; blosc's typesize is set from the
    * dtype on both sides, as the writer does.
    */
  private def layoutOf(m: ZarrMeta): String =
    s"shape [${m.shape.mkString(", ")}], chunks [${m.chunks.mkString(", ")}], " +
      s"dtype ${m.dtype}, codec ${forElements(m.codec, m.bpp)}, separator '${m.dimSeparator}'"

  /** Land every chunk through `sink` into `dir` from executor tasks. */
  private def landChunks(chunks: Dataset[Chunk], dir: String, sink: ChunkSink)(implicit fc: FioConf): Unit =
    chunks.foreachPartition((it: Iterator[Chunk]) => it.foreach(sink.land(dir, _)))

  /** The cell loader of an unsharded array: grid cell (cz, cy, cx) is
    * the chunk file at its `key`, an absent file decoding as fill_value.
    */
  private[volume] def chunkFiles(dir: String, zm: ZarrMeta, vm: VolumeMeta,
      key: (Int, Int, Int) => String)(implicit fc: FioConf): ChunkVolume.CellLoader =
    (cz, cy, cx) => {
      val file = Fio.child(dir, key(cz, cy, cx))
      decodeChunk(Fio.readAllIfExists(file), zm, vm, cz, cy, cx, file)
    }

  /** The number of contiguous C-order slices, one task each, that a read
    * of `cells` grid cells is cut into: min(cells, defaultParallelism),
    * at least one. [[readArray]] and a `format("zarr")` scan both cut this way.
    */
  private[graft] def gridSlices(spark: SparkSession, cells: Long): Int =
    math.max(1L, math.min(cells, spark.sparkContext.defaultParallelism.toLong)).toInt

  /** Read every cell of `vm`'s grid, planned from metadata alone (no
    * listing), through `load`. Two steps: each cell's geometry as plain
    * columns, from C-order linear cell indices over one `range` cut into
    * [[gridSlices]] contiguous slices, one task each, with no shuffle;
    * then `data` from a deterministic decode UDF in a projection over
    * them. Catalyst pushes a Column predicate on the
    * geometry below that projection, so a pruned read
    * ([[ChunkVolume.cropVoxels]]) loads only the cells it keeps; a full
    * scan loads every cell once. The returned volume carries `load` too,
    * so its [[ChunkVolume.pointLookup]] loads its one cell on the driver
    * and runs no job.
    */
  private[volume] def readArray(spark: SparkSession, vm: VolumeMeta,
      load: ChunkVolume.CellLoader): ChunkVolume = {
    import spark.implicits._
    val n = vm.nCells
    val cells = spark.range(0, n, 1, gridSlices(spark, n)).as[Long].map { idx =>
      val (cz, cy, cx) = vm.cellAt(idx)
      val (z0, y0, x0, nz, ny, nx) = vm.cell(cz, cy, cx)
      (cz, cy, cx, z0, y0, x0, nz, ny, nx)
    }.toDF("cz", "cy", "cx", "z0", "y0", "x0", "nz", "ny", "nx")
    val decode = udf((cz: Int, cy: Int, cx: Int) => load(cz, cy, cx).data).withName("zarr_chunk_decode")
    ChunkVolume.ofCells(cells.withColumn("data", decode($"cz", $"cy", $"cx")).as[Chunk], vm, load)
  }
}
