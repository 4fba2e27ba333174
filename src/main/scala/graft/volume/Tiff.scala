package graft.volume

import graft.io.{Fio, FioConf}
import org.apache.spark.sql.SparkSession
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Inflater

/** General TIFF scan (S5): classic TIFF (magic 42, 4-byte offsets) and
  * BigTIFF (magic 43), both byte orders, multi-strip AND tiled pages,
  * none / deflate / LZW / PackBits compression, optional horizontal
  * predictor, grayscale integer and float sample types — the input
  * surface `tifffile.imread` gives the reference's legacy path
  * (anno_upsampling.py:33, 43), rebuilt from the TIFF 6.0 / BigTIFF
  * specs. [[BigTiff]] remains the engine's own page-per-slice export
  * format; this reader accepts FOREIGN files the engine never wrote.
  *
  * Scale shape mirrors [[BigTiff.write]]: the driver parses only the IFD
  * chain and strip/tile tables with positioned reads — O(pages + strips)
  * metadata, never the pixel data, never `readAllBytes` of a multi-TB
  * file — and executor tasks then read/decode exactly their pages'
  * strips or tiles. One (1, height, width) chunk per page; rechunk
  * downstream for other layouts.
  *
  * Fail-loud boundaries (better a clear error than a silently wrong
  * volume): planar configuration 2, palette / multi-sample color,
  * float-predictor (3), compressions other than the four above, pages
  * over 2 GiB, and cyclic or unbounded IFD chains are rejected by name
  * at parse time.
  */
object Tiff {

  /** Hard ceiling on IFD count: a wild file whose next-IFD pointers walk
    * garbage must fail in bounded time, not OOM the driver's page list.
    */
  val MaxPages: Int = 1 << 20

  // TIFF SampleFormat: 1 unsigned, 2 signed, 3 IEEE float
  private val ByType: Map[(Int, Int), String] = Map(
    (8, 1) -> "MET_UCHAR", (8, 2) -> "MET_CHAR",
    (16, 1) -> "MET_USHORT", (16, 2) -> "MET_SHORT",
    (32, 1) -> "MET_UINT", (32, 2) -> "MET_INT",
    (32, 3) -> "MET_FLOAT", (64, 3) -> "MET_DOUBLE",
  )

  private val TypeSizes = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 6 -> 1, 8 -> 2, 9 -> 4, 16 -> 8, 17 -> 8)

  /** One IFD's decoded layout. `chunkOffsets`/`chunkBytes` hold the strip
    * tables for strip pages and the tile tables for tiled pages
    * (`tileWidth > 0`, left-to-right top-to-bottom tile order).
    */
  final case class Page(
      width: Int, height: Int, bits: Int, sampleFormat: Int,
      compression: Int, predictor: Int, rowsPerStrip: Int,
      chunkOffsets: Array[Long], chunkBytes: Array[Long],
      tileWidth: Int = 0, tileLength: Int = 0) {
    def tiled: Boolean = tileWidth > 0
  }

  final case class TiffMeta(bigEndian: Boolean, bigTiff: Boolean, pages: Seq[Page])

  /** Parse the IFD chain with positioned reads — strip DATA is never
    * touched on the driver.
    */
  def parseMeta(path: String)(implicit fc: FioConf): TiffMeta = {
    val f = Fio.openRandom(path)
    try {
      def readAt(pos: Long, n: Int): ByteBuffer =
        ByteBuffer.wrap(f.readAt(pos, n)) // order set after we know the header
      val head = new Array[Byte](16)
      f.readFully(0L, head)
      val bigEndian = (head(0), head(1)) match {
        case ('I', 'I') => false
        case ('M', 'M') => true
        case _ => throw new IllegalArgumentException(s"$path: not a TIFF (no II/MM byte-order mark)")
      }
      val ord = if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
      val hb = ByteBuffer.wrap(head).order(ord)
      val magic = hb.getShort(2) & 0xffff
      val bigTiff = magic match {
        case 42 => false
        case 43 =>
          require((hb.getShort(4) & 0xffff) == 8, s"$path: BigTIFF offset size must be 8")
          true
        case m => throw new IllegalArgumentException(s"$path: bad TIFF magic $m (want 42 or 43)")
      }
      var ifd = if (bigTiff) hb.getLong(8) else (hb.getInt(4) & 0xffffffffL)
      val entrySize = if (bigTiff) 20 else 12
      val countSize = if (bigTiff) 8 else 2
      val inlineMax = if (bigTiff) 8 else 4

      // entry value array, inline or via offset — SHORT/LONG/LONG8 widths.
      // Only called for tags the reader HANDLES: ancillary tags
      // (resolution RATIONALs, ASCII software strings, …) are skipped
      // before value parsing, so their field types never need decoding.
      def values(b: ByteBuffer, off: Int): (Int, Array[Long]) = {
        val tag = b.getShort(off) & 0xffff
        val tpe = b.getShort(off + 2) & 0xffff
        // untrusted 64-bit count: truncating to Int before validation
        // would wrap a forged value into a "plausible" size — reject at
        // parse time with a named error instead
        val rawCount = if (bigTiff) b.getLong(off + 4) else (b.getInt(off + 4) & 0xffffffffL)
        val elemSize = TypeSizes.getOrElse(tpe,
          throw new IllegalArgumentException(s"$path: unsupported TIFF field type $tpe for tag $tag"))
        require(rawCount >= 0 && rawCount * elemSize <= Int.MaxValue,
          s"$path: tag $tag declares $rawCount values of $elemSize B — " +
            "corrupt IFD entry count (value block would exceed 2 GiB)")
        val count = rawCount.toInt
        val total = elemSize * count
        val valOff = off + entrySize - inlineMax
        val data: ByteBuffer =
          if (total <= inlineMax) { val s = b.duplicate().order(ord); s.position(valOff); s }
          else {
            val ptr = if (bigTiff) b.getLong(valOff) else (b.getInt(valOff) & 0xffffffffL)
            readAt(ptr, total).order(ord)
          }
        val base = data.position()
        val out = new Array[Long](count)
        var i = 0
        while (i < count) {
          out(i) = elemSize match {
            case 1 => data.get(base + i) & 0xffL
            case 2 => data.getShort(base + i * 2) & 0xffffL
            case 4 => data.getInt(base + i * 4) & 0xffffffffL
            case 8 => data.getLong(base + i * 8)
          }
          i += 1
        }
        (tag, out)
      }

      val pages = Seq.newBuilder[Page]
      // a foreign file's next-IFD pointers are untrusted input: a cycle
      // must throw a named error, not hang the driver; a garbage chain
      // that never terminates must fail in bounded time, not OOM
      val seenIfds = scala.collection.mutable.HashSet.empty[Long]
      while (ifd != 0L) {
        require(seenIfds.add(ifd),
          s"$path: IFD chain revisits offset $ifd — cyclic next-IFD pointer")
        require(seenIfds.size <= MaxPages,
          s"$path: more than $MaxPages IFDs — corrupt or unbounded next-IFD chain")
        // the BigTIFF entry count is an untrusted 64-bit field: validate
        // the RAW value before .toInt (truncation could turn a forged
        // count into a negative or multi-GiB readAt), mirroring MaxPages
        val rawEntries = if (bigTiff) readAt(ifd, 8).order(ord).getLong(0)
                         else (readAt(ifd, 2).order(ord).getShort(0) & 0xffffL)
        require(rawEntries >= 0L && rawEntries <= 0xffffL,
          s"$path: IFD at $ifd declares $rawEntries entries — corrupt (want 0..65535)")
        val nEntries = rawEntries.toInt
        val block = readAt(ifd + countSize, nEntries * entrySize + inlineMax).order(ord)
        var width = 0; var height = 0; var bits = 8; var sf = 1
        var compression = 1; var rps = -1; var spp = 1; var planar = 1; var predictor = 1
        var photometric = 1
        var tileW = 0; var tileL = 0
        var offsets = Array.empty[Long]; var counts = Array.empty[Long]
        var tOffsets = Array.empty[Long]; var tCounts = Array.empty[Long]
        val handled = Set(256, 257, 258, 259, 262, 273, 277, 278, 279, 284, 317,
          322, 323, 324, 325, 339)
        var i = 0
        while (i < nEntries) {
          val tagOnly = block.getShort(i * entrySize) & 0xffff
          if (handled(tagOnly)) {
            // value parsing only for handled tags — ancillary entries
            // (RATIONAL resolutions, ASCII strings, …) are skipped whole,
            // whatever their field type
            val (tag, vs) = values(block, i * entrySize)
            tag match {
              case 256 => width = vs(0).toInt
              case 257 => height = vs(0).toInt
              case 258 =>
                require(vs.distinct.length == 1, s"$path: per-sample BitsPerSample differ")
                bits = vs(0).toInt
              case 259 => compression = vs(0).toInt
              case 262 => photometric = vs(0).toInt
              case 273 => offsets = vs
              case 277 => spp = vs(0).toInt
              case 278 => rps = vs(0).toInt
              case 279 => counts = vs
              case 284 => planar = vs(0).toInt
              case 317 => predictor = vs(0).toInt
              case 322 => tileW = vs(0).toInt
              case 323 => tileL = vs(0).toInt
              case 324 => tOffsets = vs
              case 325 => tCounts = vs
              case 339 => sf = vs(0).toInt
            }
          }
          i += 1
        }
        require(spp == 1, s"$path: SamplesPerPixel=$spp — only single-sample grayscale is supported")
        require(planar == 1, s"$path: PlanarConfiguration=$planar is not supported")
        require(predictor == 1 || predictor == 2,
          s"$path: Predictor=$predictor is not supported (none (1) and horizontal (2) only)")
        require(predictor == 1 || sf != 3,
          s"$path: Predictor=2 with floating-point samples is not supported")
        require(photometric == 0 || photometric == 1,
          s"$path: PhotometricInterpretation=$photometric — only grayscale (0/1) is supported")
        require(compression == 1 || compression == 5 || compression == 8 ||
            compression == 32946 || compression == 32773,
          s"$path: Compression=$compression — only none (1), LZW (5), deflate (8/32946) " +
            "and PackBits (32773) are supported")
        require(width > 0 && height > 0, s"$path: page missing ImageWidth/ImageLength")
        require(bits >= 8 && bits % 8 == 0,
          s"$path: BitsPerSample=$bits — only whole-byte sample widths are supported")
        // byte-count tables are untrusted input consumed as allocation
        // sizes on executors: a forged entry must die HERE with a named
        // parse error, not as a NegativeArraySizeException (or a 2 GiB
        // allocation) inside a task
        def requireSaneByteCounts(which: String, cs: Array[Long]): Unit = {
          var ci = 0
          while (ci < cs.length) {
            require(cs(ci) > 0L && cs(ci) <= Int.MaxValue,
              s"$path: $which[$ci]=${cs(ci)} bytes — outside (0, 2 GiB]; corrupt byte-count table")
            ci += 1
          }
        }
        // Int overflow guard BEFORE any executor allocates: a >=2 GiB page
        // must die here with a named error, not later as a
        // NegativeArraySizeException in a task
        val pageBytes = width.toLong * height.toLong * (bits / 8)
        require(pageBytes <= Int.MaxValue,
          s"$path: page $width x $height at ${bits / 8} B/sample is $pageBytes bytes — " +
            "exceeds the 2 GiB per-page chunk limit (split the stack or rechunk upstream)")
        val anyTile = tileW > 0 || tileL > 0 || tOffsets.nonEmpty || tCounts.nonEmpty
        if (anyTile) {
          require(tileW > 0 && tileL > 0 && tOffsets.nonEmpty && tCounts.nonEmpty,
            s"$path: tiled page is missing one of TileWidth/TileLength/TileOffsets/TileByteCounts")
          require(offsets.isEmpty && counts.isEmpty,
            s"$path: page carries both strip and tile tags")
          // full tiles are padded at the edges, so the tile buffer must fit too
          require(tileW.toLong * tileL.toLong * (bits / 8) <= Int.MaxValue,
            s"$path: tile $tileW x $tileL exceeds the 2 GiB buffer limit")
          val nTiles = VolumeMeta.cells(width, tileW).toLong * VolumeMeta.cells(height, tileL)
          require(tOffsets.length.toLong == nTiles && tCounts.length.toLong == nTiles,
            s"$path: tile count ${tOffsets.length}/${tCounts.length} disagrees with " +
              s"$width x $height at $tileW x $tileL (want $nTiles)")
          requireSaneByteCounts("TileByteCounts", tCounts)
          pages += Page(width, height, bits, sf, compression, predictor, -1,
            tOffsets, tCounts, tileW, tileL)
        } else {
          require(offsets.nonEmpty && offsets.length == counts.length,
            s"$path: StripOffsets/StripByteCounts missing or mismatched (${offsets.length} vs ${counts.length})")
          val rowsPerStrip = if (rps <= 0 || rps > height) height else rps
          require(offsets.length == VolumeMeta.cells(height, rowsPerStrip),
            s"$path: strip count ${offsets.length} disagrees with height $height / RowsPerStrip $rowsPerStrip")
          requireSaneByteCounts("StripByteCounts", counts)
          pages += Page(width, height, bits, sf, compression, predictor, rowsPerStrip,
            offsets, counts)
        }
        val nextOff = ifd + countSize + nEntries.toLong * entrySize
        ifd = if (bigTiff) readAt(nextOff, 8).order(ord).getLong(0)
              else (readAt(nextOff, 4).order(ord).getInt(0) & 0xffffffffL)
      }
      TiffMeta(bigEndian, bigTiff, pages.result())
    } finally f.close()
  }

  /** MHD element type for a TIFF (BitsPerSample, SampleFormat) pair. */
  def elementTypeOf(bits: Int, sampleFormat: Int): String =
    ByType.getOrElse((bits, sampleFormat),
      throw new IllegalArgumentException(
        s"unsupported TIFF sample type (bits=$bits, format=$sampleFormat)"))

  /** The first page of a stack, which every page must match in shape
    * and dtype.
    */
  private def firstPage(tm: TiffMeta, path: String): Page = {
    require(tm.pages.nonEmpty, s"no pages in $path")
    val p0 = tm.pages.head
    require(tm.pages.forall(p => p.width == p0.width && p.height == p0.height &&
        p.bits == p0.bits && p.sampleFormat == p0.sampleFormat),
      s"$path: pages disagree on shape/dtype")
    p0
  }

  /** The volume header of a TIFF stack as a synthetic [[MhdMeta]] — what
    * lets the CLI lifecycle (chunk planning, size estimate, admission
    * control, plan report) treat `--input vol.tif` exactly like an MHD,
    * the way the reference's legacy path feeds `tifffile.imread` output
    * into the same pipeline (anno_upsampling.py:33).
    */
  def mhdMeta(path: String)(implicit fc: FioConf): MhdMeta = {
    val tm = parseMeta(path)
    val p0 = firstPage(tm, path)
    val abs = Fio.qualify(path)
    MhdMeta(
      dimX = p0.width.toLong, dimY = p0.height.toLong, dimZ = tm.pages.length.toLong,
      elementType = elementTypeOf(p0.bits, p0.sampleFormat),
      spacingXyz = (1.0, 1.0, 1.0),
      byteOrderMsb = tm.bigEndian,
      dataFile = Fio.fileName(abs),
      mhdDir = Fio.parent(abs))
  }

  /** Decompress one strip to exactly `expected` bytes. */
  private def inflateStrip(raw: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(raw)
      val out = new Array[Byte](expected)
      var done = 0
      while (done < expected && !inf.finished()) {
        val n = inf.inflate(out, done, expected - done)
        require(n > 0 || !inf.needsInput(), "truncated deflate strip")
        done += n
      }
      require(done == expected, s"deflate strip inflated to $done bytes, expected $expected")
      out
    } finally inf.end()
  }

  /** TIFF-variant LZW (TIFF 6.0 §13) to exactly `expected` bytes:
    * MSB-first bit packing, ClearCode 256 / EOI 257, table entries from
    * 258, code width 9→12 switching as soon as entry #510/#1022/#2046 is
    * stored (the spec's early change). Corrupt streams throw, never
    * return short data.
    */
  private def lzwDecode(raw: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var outPos = 0
    val table = new Array[Array[Byte]](4096)
    var j = 0
    while (j < 256) { table(j) = Array(j.toByte); j += 1 }
    var tableSize = 258
    var width = 9
    var acc = 0L; var accBits = 0; var pos = 0
    def nextCode(): Int = {
      while (accBits < width && pos < raw.length) {
        acc = (acc << 8) | (raw(pos) & 0xffL); accBits += 8; pos += 1
      }
      if (accBits < width) 257 // ran off the end: treat as EOI, length check below catches
      else {
        accBits -= width
        ((acc >>> accBits) & ((1L << width) - 1)).toInt
      }
    }
    var prev: Array[Byte] = null
    var done = false
    while (!done) {
      val code = nextCode()
      if (code == 257) done = true
      else if (code == 256) { tableSize = 258; width = 9; prev = null }
      else {
        val entry: Array[Byte] =
          if (code < 256 || (code >= 258 && code < tableSize)) table(code)
          else if (code == tableSize && prev != null) { // KwKwK case
            val e = java.util.Arrays.copyOf(prev, prev.length + 1)
            e(prev.length) = prev(0); e
          } else throw new IllegalArgumentException(
            s"corrupt LZW stream: code $code with table size $tableSize")
        require(outPos + entry.length <= expected,
          s"LZW output exceeds expected $expected bytes")
        System.arraycopy(entry, 0, out, outPos, entry.length)
        outPos += entry.length
        if (prev != null && tableSize < 4096) {
          val ne = java.util.Arrays.copyOf(prev, prev.length + 1)
          ne(prev.length) = entry(0)
          table(tableSize) = ne
          tableSize += 1
          if (tableSize == (1 << width) - 1 && width < 12) width += 1
        }
        prev = entry
      }
    }
    require(outPos == expected, s"LZW strip decoded to $outPos bytes, expected $expected")
    out
  }

  /** PackBits (TIFF 6.0 §9) to exactly `expected` bytes. Encoders pack
    * per row, but runs never span rows, so decoding the concatenated
    * stream is equivalent.
    */
  private def packBitsDecode(raw: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = 0; var o = 0
    while (o < expected && i < raw.length) {
      val n = raw(i); i += 1
      if (n >= 0) {
        val len = n + 1
        require(i + len <= raw.length && o + len <= expected,
          s"corrupt PackBits literal run at byte ${i - 1}")
        System.arraycopy(raw, i, out, o, len)
        i += len; o += len
      } else if (n != -128) { // -128 is a no-op per spec
        val len = 1 - n
        require(i < raw.length && o + len <= expected,
          s"corrupt PackBits repeat run at byte ${i - 1}")
        java.util.Arrays.fill(out, o, o + len, raw(i))
        i += 1; o += len
      }
    }
    require(o == expected, s"PackBits strip decoded to $o bytes, expected $expected")
    out
  }

  /** Decode one strip/tile per its page's Compression tag. */
  private def decodeChunk(raw: Array[Byte], expected: Int, compression: Int): Array[Byte] =
    compression match {
      case 1 =>
        require(raw.length == expected,
          s"uncompressed strip has ${raw.length} bytes, expected $expected")
        raw
      case 5 => lzwDecode(raw, expected)
      case 32773 => packBitsDecode(raw, expected)
      case _ => inflateStrip(raw, expected) // 8 / 32946, gated in parseMeta
    }

  /** Undo Predictor=2 (horizontal differencing) in place: per row, each
    * sample is the wrapping sum of itself and its left neighbor. Runs on
    * the file-order bytes BEFORE any endian normalization, so samples are
    * read/written in `ord`.
    */
  private def undoPredictor(data: Array[Byte], rows: Int, rowSamples: Int,
      bpp: Int, bigEndian: Boolean): Unit = {
    val bb = ByteBuffer.wrap(data)
      .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var r = 0
    while (r < rows) {
      val base = r * rowSamples * bpp
      var i = 1
      bpp match {
        case 1 =>
          while (i < rowSamples) {
            data(base + i) = (data(base + i) + data(base + i - 1)).toByte; i += 1
          }
        case 2 =>
          while (i < rowSamples) {
            val o = base + i * 2
            bb.putShort(o, (bb.getShort(o) + bb.getShort(o - 2)).toShort); i += 1
          }
        case 4 =>
          while (i < rowSamples) {
            val o = base + i * 4
            bb.putInt(o, bb.getInt(o) + bb.getInt(o - 4)); i += 1
          }
        case 8 =>
          while (i < rowSamples) {
            val o = base + i * 8
            bb.putLong(o, bb.getLong(o) + bb.getLong(o - 8)); i += 1
          }
      }
      r += 1
    }
  }

  /** Scan any supported TIFF into a ChunkVolume: one (1, height, width)
    * chunk per page. Big-endian sample data is normalized to the engine's
    * little-endian chunk layout at read, same as [[MhdReader]] does for
    * ByteOrderMSB raws.
    */
  def read(spark: SparkSession, path: String): ChunkVolume = {
    implicit val fc: FioConf = FioConf.of(spark)
    val tm = parseMeta(path)
    val p0 = firstPage(tm, path)
    val elementType = elementTypeOf(p0.bits, p0.sampleFormat)
    val bpp = p0.bits / 8
    val meta = VolumeMeta.uniform(tm.pages.length, p0.height, p0.width, 1, p0.height, p0.width,
      elementType)
    // per-page strip/tile tables ship in the task closure: O(pages·strips)
    // longs — IFD metadata, not pixel data
    val pages = tm.pages.toArray
    val bigEndian = tm.bigEndian
    val (h, w) = (p0.height, p0.width)
    // guarded <= Int.MaxValue in parseMeta; Long math here so a bad page
    // could never wrap silently
    val sliceBytes = (h.toLong * w.toLong * bpp).toInt
    import spark.implicits._
    val chunks = spark.range(pages.length.toLong).mapPartitions { ids =>
      val file = Fio.taskRandom()
      ids.map { z =>
        val raf = file(path)
        val pg = pages(z.toInt)
        val data = new Array[Byte](sliceBytes)
        if (pg.tiled) {
          // left-to-right, top-to-bottom tile grid; edge tiles arrive
          // padded to the full tile size and are clipped on copy
          val tilesAcross = VolumeMeta.cells(pg.width, pg.tileWidth)
          val tileBytes = pg.tileWidth * pg.tileLength * bpp
          var t = 0
          while (t < pg.chunkOffsets.length) {
            val raw = raf.readAt(pg.chunkOffsets(t), pg.chunkBytes(t).toInt)
            val decoded = decodeChunk(raw, tileBytes, pg.compression)
            if (pg.predictor == 2)
              undoPredictor(decoded, pg.tileLength, pg.tileWidth, bpp, bigEndian)
            val ty = t / tilesAcross; val tx = t % tilesAcross
            val copyRows = math.min(pg.tileLength, pg.height - ty * pg.tileLength)
            val copyCols = math.min(pg.tileWidth, pg.width - tx * pg.tileWidth)
            var r = 0
            while (r < copyRows) {
              System.arraycopy(
                decoded, r * pg.tileWidth * bpp,
                data, ((ty * pg.tileLength + r) * pg.width + tx * pg.tileWidth) * bpp,
                copyCols * bpp)
              r += 1
            }
            t += 1
          }
        } else {
          var strip = 0
          var rowsDone = 0
          while (strip < pg.chunkOffsets.length) {
            val stripRows = math.min(pg.rowsPerStrip, pg.height - rowsDone)
            val expect = stripRows * pg.width * bpp
            val raw = raf.readAt(pg.chunkOffsets(strip), pg.chunkBytes(strip).toInt)
            val decoded = decodeChunk(raw, expect, pg.compression)
            if (pg.predictor == 2)
              undoPredictor(decoded, stripRows, pg.width, bpp, bigEndian)
            System.arraycopy(decoded, 0, data, rowsDone * pg.width * bpp, expect)
            rowsDone += stripRows
            strip += 1
          }
        }
        if (bigEndian) ChunkKernels.swapEndianInPlace(data, bpp)
        Chunk(z.toInt, 0, 0, z, 0L, 0L, 1, h, w, data)
      }
    }
    ChunkVolume(chunks, meta)
  }
}
