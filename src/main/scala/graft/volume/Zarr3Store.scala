package graft.volume

import graft.io.{Fio, FioConf}
import graft.volume.ZarrStore.{BloscCodec, Codec, GzipCodec, Raw, ZarrMeta, ZstdCodec, num}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Zarr v3 scan/write (zarr-specs v3.0 — the current spec, the one
  * OME-NGFF 0.5 targets): `zarr.json` metadata document, named
  * `data_type`s, a codec PIPELINE (`bytes` endianness codec + optional
  * compressor), and `c/`-prefixed slash-separated chunk keys. v3 is a
  * metadata and layout dialect over the v2 store's machinery, which is
  * exactly how zarr-python implemented it too: this object supplies only
  * its documents, its chunk key ([[chunkKey]]) and, for sharded arrays,
  * its per-shard encoder; the [[Landing]] of every write and append,
  * executor-side chunk landing, the append document check and the
  * planned-grid reader are [[ZarrStore]]'s layout layer, and the blosc
  * container incl. bitshuffle, zstd, chunk encode/decode and fill-value semantics are its
  * codecs. Supported codecs: `bytes` (both endians) alone, or followed by
  * ONE of `blosc` (all reference cnames/shuffles), `zstd`, `gzip`
  * (RFC-1952 — distinct from v2's RFC-1950 `zlib`). `sharding_indexed`
  * is fully supported: [[writeSharded]] lands one file per shard with
  * the spec's crc32c'd uint64-LE index, and [[read]] plans a sharded
  * array on its inner grid through the same planned-grid reader, each
  * cell loaded by positioned reads of its shard's index and blob
  * ([[ShardFile]] reads and verifies the index in one place);
  * [[parseZarrJson]], the unsharded parser the appender checks an
  * existing document with, refuses sharded documents by name.
  */
object Zarr3Store {

  /** v3 data_type name ↔ the engine's internal v2-style dtype tag. */
  private val NameOfDtype: Map[String, String] = Map(
    "u1" -> "uint8", "i1" -> "int8", "u2" -> "uint16", "i2" -> "int16",
    "u4" -> "uint32", "i4" -> "int32", "f4" -> "float32", "f8" -> "float64")
  private val DtypeOfName: Map[String, String] = NameOfDtype.map(_.swap)

  private def shuffleName(s: Int): String = s match {
    case 0 => "noshuffle"
    case 1 => "shuffle"
    case 2 => "bitshuffle"
    case other => throw new IllegalArgumentException(s"bad blosc shuffle $other")
  }

  private def shuffleOf(name: String): Int = name match {
    case "noshuffle" => 0
    case "shuffle" => 1
    case "bitshuffle" => 2
    case other => throw new IllegalArgumentException(s"bad blosc shuffle '$other'")
  }

  /** The `bytes`-led codec pipeline of `m`: the array pipeline of a
    * plain array, the inner pipeline of a sharded one.
    */
  private def pipelineJson(m: ZarrMeta): Seq[String] = {
    val endian = if (m.bigEndian) "big" else "little"
    s"""{"name": "bytes", "configuration": {"endian": "$endian"}}""" +: (m.codec match {
      case Raw => Nil
      case b: BloscCodec =>
        Seq(s"""{"name": "blosc", "configuration": {"cname": "${b.cname}", "clevel": ${b.clevel}, "shuffle": "${shuffleName(b.shuffle)}", "typesize": ${m.bpp}, "blocksize": 0}}""")
      case ZstdCodec(l) =>
        Seq(s"""{"name": "zstd", "configuration": {"level": $l, "checksum": false}}""")
      case GzipCodec(l) =>
        Seq(s"""{"name": "gzip", "configuration": {"level": $l}}""")
      case other => throw new IllegalArgumentException(
        s"codec ${other.id.getOrElse("?")} has no zarr v3 form here (use blosc/zstd/gzip/raw)")
    })
  }

  private def attrsJson(attrs: Map[String, String]): String =
    attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => ChunkVolume.jsonStr(k) + ": " + ChunkVolume.jsonStr(v) }
      .mkString(", ")

  /** An array document (spec key order) around its array `codecs`.
    * `attrs` lands under the spec's user-metadata `attributes` member —
    * the v3 home for the write provenance the v2 sink records in
    * `.zattrs`.
    */
  private def arrayJson(m: ZarrMeta, codecs: Seq[String], attrs: Map[String, String]): String =
    s"""{
       |    "zarr_format": 3,
       |    "node_type": "array",
       |    "shape": [${m.shape.mkString(", ")}],
       |    "data_type": "${NameOfDtype(m.dtype.substring(1))}",
       |    "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${m.chunks.mkString(", ")}]}},
       |    "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
       |    "fill_value": ${m.fillValue},
       |    "codecs": [
       |        ${codecs.mkString(",\n        ")}
       |    ],
       |    "attributes": {${attrsJson(attrs)}}
       |}""".stripMargin

  /** The `zarr.json` document for a plain array. */
  def zarrJson(m: ZarrMeta, attrs: Map[String, String] = Map.empty): String =
    arrayJson(m, pipelineJson(m), attrs)

  /** The `zarr.json` document for a SHARDED array: chunk_grid carries the
    * shard shape, the single array codec is `sharding_indexed` nesting
    * the inner pipeline, and the index pipeline is the zarr-python
    * default `[bytes le, crc32c]`.
    */
  def shardedZarrJson(
      m: ZarrMeta,
      sh: ShardingMeta,
      attrs: Map[String, String] = Map.empty): String = {
    val loc = if (sh.indexAtEnd) "end" else "start"
    val idxCodecs =
      """[{"name": "bytes", "configuration": {"endian": "little"}}""" +
        (if (sh.indexCrc32c) """, {"name": "crc32c"}]""" else "]")
    arrayJson(m, Seq(
      s"""{"name": "sharding_indexed", "configuration": {"chunk_shape": [${sh.innerChunks.mkString(", ")}], "codecs": [${pipelineJson(m).mkString(", ")}], "index_codecs": $idxCodecs, "index_location": "$loc"}}"""),
      attrs)
  }

  /** A `bytes`-led codec pipeline → (bigEndian, compressor). Shared by
    * the array-level pipeline of unsharded arrays and the INNER pipeline
    * inside a `sharding_indexed` configuration (the spec nests the same
    * grammar).
    */
  private def parsePipeline(codecs: List[JValue]): (Boolean, Codec) = {
    require(codecs.nonEmpty, "empty codec pipeline")
    val JString(c0name) = codecs.head \ "name"
    require(c0name == "bytes",
      s"first codec must be 'bytes', got '$c0name' (array->array codecs are not supported)")
    val bigEndian = codecs.head \ "configuration" \ "endian" match {
      case JString("big") => true
      case JString("little") | JNothing => false
      case other => throw new IllegalArgumentException(s"bad endian $other")
    }
    val codec: Codec = codecs.tail match {
      case Nil => Raw
      case c :: Nil =>
        val JString(name) = c \ "name"
        val conf = c \ "configuration"
        name match {
          case "blosc" =>
            val JString(cname) = conf \ "cname"
            val clevel = num(conf \ "clevel").toInt
            val JString(sh) = conf \ "shuffle"
            BloscCodec(cname, clevel, shuffleOf(sh))
          case "zstd" => ZstdCodec(num(conf \ "level").toInt)
          case "gzip" => GzipCodec(num(conf \ "level").toInt)
          case other => throw new IllegalArgumentException(
            s"unsupported zarr v3 codec '$other'")
        }
      case more => throw new IllegalArgumentException(
        s"codec pipelines with ${more.length} compressors are not supported")
    }
    (bigEndian, codec)
  }

  /** The sharding layer of a `sharding_indexed` array: inner-chunk grid
    * shape plus how the per-shard index is encoded and where it sits.
    * The OUTER chunk_grid chunk_shape is the SHARD shape (one file per
    * shard); [[ZarrMeta.codec]]/bigEndian describe the INNER pipeline.
    */
  final case class ShardingMeta(
      innerChunks: Seq[Int],
      indexCrc32c: Boolean,
      indexAtEnd: Boolean,
  ) {
    def innerGridPerShard(shardShape: Seq[Int]): Seq[Int] =
      shardShape.zip(innerChunks).map { case (s, i) => s / i }
    /** Index bytes: 16 per inner cell (+4 crc32c). */
    def indexLen(shardShape: Seq[Int]): Int =
      innerGridPerShard(shardShape).product * 16 + (if (indexCrc32c) 4 else 0)
  }

  def parseZarrJson(json: String): ZarrMeta = {
    val (zm, sharding) = parseZarrJsonAny(json)
    require(sharding.isEmpty,
      "sharding_indexed array passed to the unsharded parser — " +
        "use Zarr3Store.read (it dispatches) or parseZarrJsonAny")
    zm
  }

  /** Parse an array document, sharded or not. For `sharding_indexed`
    * arrays the returned [[ZarrMeta]] carries the SHARD shape in
    * `chunks` and the INNER pipeline in `codec`/`dtype` endianness;
    * the second element carries the sharding layout.
    */
  def parseZarrJsonAny(json: String): (ZarrMeta, Option[ShardingMeta]) = {
    val v = JsonMethods.parse(json)
    require(num(v \ "zarr_format") == 3, s"not a zarr v3 document")
    // the v3 spec REQUIRES readers to refuse documents carrying unknown
    // extension members marked "must_understand": true — silently
    // ignoring one could change how the data must be interpreted
    val knownMembers = Set(
      "zarr_format", "node_type", "shape", "data_type", "chunk_grid",
      "chunk_key_encoding", "fill_value", "codecs", "attributes",
      "dimension_names", "storage_transformers")
    v match {
      case JObject(members) =>
        members.foreach { case (key, value) =>
          if (!knownMembers.contains(key)) {
            val mu = value \ "must_understand"
            require(mu == JBool(false),
              s"zarr v3 document carries unknown extension member '$key' without " +
                "\"must_understand\": false — the spec requires refusing it")
          }
        }
      case other => throw new IllegalArgumentException(s"zarr.json is not an object: $other")
    }
    val JString(nodeType) = v \ "node_type"
    require(nodeType == "array", s"only array nodes supported, got '$nodeType'")
    val JArray(shape) = v \ "shape"
    val JString(dataType) = v \ "data_type"
    val tag = DtypeOfName.getOrElse(dataType,
      throw new IllegalArgumentException(s"unsupported zarr v3 data_type '$dataType'"))
    val grid = v \ "chunk_grid"
    val JString(gridName) = grid \ "name"
    require(gridName == "regular", s"only regular chunk grids supported, got '$gridName'")
    val JArray(chunkShape) = grid \ "configuration" \ "chunk_shape"
    val sep = v \ "chunk_key_encoding" match {
      case JNothing => "/"
      case cke =>
        (cke \ "name") match {
          case JString("default") => ()
          case JString(other) => throw new IllegalArgumentException(
            s"unsupported chunk_key_encoding '$other'")
          case _ => ()
        }
        cke \ "configuration" \ "separator" match {
          case JString(s) => s
          case _ => "/"
        }
    }
    require(sep == "/" || sep == ".", s"bad chunk key separator '$sep'")
    val JArray(codecs) = v \ "codecs"
    require(codecs.nonEmpty, "empty codec pipeline")
    // either a bytes-led pipeline (unsharded), or a single
    // sharding_indexed codec whose configuration nests the inner pipeline
    val isSharded = (codecs.head \ "name") == JString("sharding_indexed")
    val (bigEndian, codec, sharding) =
      if (!isSharded) {
        val (be, c) = parsePipeline(codecs)
        (be, c, None)
      } else {
        require(codecs.length == 1,
          s"sharding_indexed must be the ONLY array codec, found ${codecs.length}")
        val conf = codecs.head \ "configuration"
        val JArray(innerShape) = conf \ "chunk_shape"
        val JArray(innerCodecs) = conf \ "codecs"
        val (be, c) = parsePipeline(innerCodecs)
        val JArray(indexCodecs) = conf \ "index_codecs"
        // supported index pipelines: [bytes le] or [bytes le, crc32c]
        val idxNames = indexCodecs.map { ic => val JString(n) = ic \ "name"; n }
        val crc = idxNames match {
          case List("bytes") => false
          case List("bytes", "crc32c") => true
          case other => throw new IllegalArgumentException(
            s"unsupported index_codecs ${other.mkString("[", ", ", "]")} " +
              "(expected [bytes] or [bytes, crc32c])")
        }
        indexCodecs.head \ "configuration" \ "endian" match {
          case JString("little") | JNothing => ()
          case other => throw new IllegalArgumentException(
            s"shard index must be little-endian, got $other")
        }
        val atEnd = conf \ "index_location" match {
          case JString("end") | JNothing => true
          case JString("start") => false
          case other => throw new IllegalArgumentException(s"bad index_location $other")
        }
        (be, c, Some(ShardingMeta(innerShape.map(num(_).toInt), crc, atEnd)))
      }
    val endianTag = (if (tag.endsWith("1")) "|" else if (bigEndian) ">" else "<") + tag
    // integer data_types demand an integral fill_value: truncating 3.7 → 3
    // would silently rewrite what absent chunks decode to
    val fillValue = v \ "fill_value" match {
      case JDouble(d) if tag != "f4" && tag != "f8" =>
        require(d.isWhole,
          s"non-integral fill_value $d for integer data_type '$dataType'")
        d.toLong
      case other => num(other)
    }
    val shapeN = shape.map(num)
    val chunkN = chunkShape.map(num(_).toInt)
    require(shapeN.forall(_ > 0) && chunkN.forall(_ > 0),
      s"non-positive shape/chunk dims: shape=${shapeN.mkString(",")} chunks=${chunkN.mkString(",")}")
    sharding.foreach { sh =>
      require(sh.innerChunks.length == 3 && sh.innerChunks.forall(_ > 0),
        s"bad inner chunk_shape ${sh.innerChunks.mkString(",")}")
      require(chunkN.zip(sh.innerChunks).forall { case (s, i) => s % i == 0 },
        s"shard shape ${chunkN.mkString(",")} is not a multiple of inner " +
          s"chunk shape ${sh.innerChunks.mkString(",")} (spec requirement)")
    }
    (ZarrMeta(shapeN, chunkN, endianTag, codec, fillValue, sep), sharding)
  }

  private def metaOf(vol: VolumeMeta, codec: Codec): ZarrMeta =
    ZarrStore.metaOf(vol, codec).copy(dimSeparator = "/")

  /** v3 `default` chunk key: `c<sep>z<sep>y<sep>x` in chunk-grid
    * coordinates (shard-grid coordinates for a sharded array).
    */
  private[volume] def chunkKey(sep: String, cz: Int, cy: Int, cx: Int): String =
    "c" + sep + ZarrStore.chunkKey(sep, cz, cy, cx)

  private def readDoc(dir: String)(implicit fc: FioConf): (ZarrMeta, Option[ShardingMeta]) =
    parseZarrJsonAny(Fio.readString(Fio.child(dir, "zarr.json")))

  /** Write a ChunkVolume as a zarr v3 array: driver writes `zarr.json`,
    * executors land `c/z/y/x` chunk files (same all-or-nothing
    * [[Landing]] and executor-parallel scaling as the v2 writer).
    */
  def write(
      vol: ChunkVolume,
      path: String,
      codec: Codec = ZstdCodec(),
      extraAttrs: Map[String, String] = Map.empty): Unit =
    ZarrStore.landArray(vol.chunks, path, plainFiles(vol.meta, codec, extraAttrs), append = false)

  /** The files of a plain v3 array: `zarr.json` and `c/z/y/x` chunks. */
  private[volume] def plainFiles(meta: VolumeMeta, codec: Codec, attrs: Map[String, String]): ZarrStore.ArrayFiles = {
    val zm = metaOf(meta, codec)
    ZarrStore.ArrayFiles(Seq("zarr.json" -> zarrJson(zm, attrs)), zm, parseZarrJson,
      ZarrStore.ChunkSink(chunkKey("/", _, _, _), ZarrStore.encodeChunkBytes(_, meta, zm.codec)))
  }

  /** Append chunk files into a zarr v3 array — the incremental-ingest
    * building block (v3 chunks are independent files, so micro-batches
    * append idempotently; a re-landed coordinate replaces its own file).
    * The first call lands `zarr.json` with its chunks; later calls fail
    * loud if it describes another layout, or a sharded array. Each call
    * publishes all-or-nothing ([[Landing]]).
    */
  def appendChunks(
      chunks: org.apache.spark.sql.Dataset[Chunk],
      path: String,
      meta: VolumeMeta,
      codec: Codec = ZstdCodec()): Unit =
    ZarrStore.landArray(chunks, path, plainFiles(meta, codec, Map.empty), append = true)

  /** Read a zarr v3 array directory as a ChunkVolume: grid planned from
    * `zarr.json` alone, absent chunk files decode as fill_value, chunk
    * keys resolved through the `default` encoding (`c` prefix + the
    * configured separator). A sharded array reads on its INNER grid —
    * downstream operators see the fine granularity, exactly as if the
    * array were unsharded — with [[readInnerCell]] as the cell loader, so
    * a crop reads only the shard indexes and inner blobs it keeps.
    */
  def read(spark: SparkSession, path: String): ChunkVolume = {
    implicit val fc: FioConf = FioConf.of(spark)
    val dir = Fio.qualify(path)
    readDoc(dir) match {
      case (zm, Some(sh)) => ZarrStore.readArray(spark, innerVm(zm, sh), readInnerCell(dir, zm, sh, _, _, _)._1)
      case (zm, None) =>
        val vm = ZarrStore.volumeMeta(zm)
        ZarrStore.readArray(spark, vm, ZarrStore.chunkFiles(dir, zm, vm, chunkKey(zm.dimSeparator, _, _, _)))
    }
  }

  // ------------------------------------------------------------------
  // sharding_indexed (zarr v3 sharding codec): ONE file per shard holding
  // an inner grid of independently-compressed chunks plus a binary index
  // of (offset, nbytes) uint64-LE pairs in C-order over the shard's
  // inner cells, optionally crc32c-checksummed, at the start or end of
  // the file. This is how a v3 store holds 100 TB on object storage
  // without billions of keys: object count scales with SHARDS while read
  // granularity stays one INNER chunk — loading a cell GETs the index
  // range and one inner-chunk range, never the shard body. readInnerCell
  // below does exactly those positioned reads for every cell a sharded
  // read loads (scan, crop or pointLookup) and for pointLookupSharded,
  // whose evidence the point gate pins.

  /** Sentinel for an absent inner chunk: offset = nbytes = 2^64−1. */
  private val Missing = -1L

  /** The INNER-chunk view of a sharded array: inner chunk shape + the
    * inner pipeline, what [[ZarrStore.decodeChunk]] decodes a cell with.
    */
  private def innerMeta(zm: ZarrMeta, sh: ShardingMeta): ZarrMeta = zm.copy(chunks = sh.innerChunks)

  /** Engine metadata for the INNER chunk grid of a sharded array. */
  private def innerVm(zm: ZarrMeta, sh: ShardingMeta): VolumeMeta =
    ZarrStore.volumeMeta(innerMeta(zm, sh))

  /** Encode one SHARD chunk (the full shard extent, trimmed at array
    * edges) into its shard-file bytes: split into inner chunks on the
    * global inner grid, encode each through the inner pipeline, and put
    * the index after the data (the NGFF default, `index_location` "end";
    * `sh` must declare it). Inner cells wholly outside the array are
    * recorded missing.
    */
  private[volume] def encodeShard(
      c: Chunk, zm: ZarrMeta, sh: ShardingMeta, ivm: VolumeMeta): Array[Byte] = {
    ZarrStore.requireOnGrid(c, ZarrStore.volumeMeta(zm))
    val bpp = zm.bpp
    val Seq(iz, iy, ix) = sh.innerChunks
    val Seq(nIz, nIy, nIx) = sh.innerGridPerShard(zm.chunks)
    val nCells = nIz * nIy * nIx
    val entries = new Array[Long](nCells * 2)
    val blobs = new Array[Array[Byte]](nCells)
    // full (non-edge) inner cells all share one box size: reuse ONE
    // buffer across them — a fresh `new Array` per cell would zero-fill
    // 1 extra full pass over the volume (measured on the ×15 sharded
    // sink A/B; the compressor consumes the buffer synchronously, so
    // reuse is safe — only the compressed blob outlives the iteration)
    val fullLen = iz * iy * ix * bpp
    var fullBox: Array[Byte] = null
    var cell = 0
    var dataLen = 0L
    while (cell < nCells) {
      val lz = cell / (nIy * nIx); val rem = cell % (nIy * nIx)
      val ly = rem / nIx; val lx = rem % nIx
      // global inner-grid coordinate of this cell
      val gcz = c.cz * nIz + lz; val gcy = c.cy * nIy + ly; val gcx = c.cx * nIx + lx
      if (gcz >= ivm.ncz || gcy >= ivm.ncy || gcx >= ivm.ncx) {
        entries(cell * 2) = Missing; entries(cell * 2 + 1) = Missing
      } else {
        val (z0, y0, x0, nz, ny, nx) = ivm.cell(gcz, gcy, gcx)
        val box =
          if (nz == iz && ny == iy && nx == ix) {
            if (fullBox == null) fullBox = ByteKernels.allocBytes(fullLen)
            ChunkKernels.extractBoxInto(c.data, c.ny, c.nx, bpp,
              (z0 - c.z0).toInt, (y0 - c.y0).toInt, (x0 - c.x0).toInt, nz, ny, nx, fullBox)
            fullBox
          } else ChunkKernels.extractBox(c.data, c.ny, c.nx, bpp,
            (z0 - c.z0).toInt, (y0 - c.y0).toInt, (x0 - c.x0).toInt, nz, ny, nx)
        val inner = Chunk(gcz, gcy, gcx, z0, y0, x0, nz, ny, nx, box)
        blobs(cell) = ZarrStore.encodeChunkBytes(inner, ivm, zm.codec)
        // a pass-through codec (Raw) returns its INPUT by reference —
        // the reused buffer would alias every cell's blob; copy then
        if (blobs(cell) eq fullBox) blobs(cell) = fullBox.clone()
        dataLen += blobs(cell).length
      }
      cell += 1
    }
    val idxLen = sh.indexLen(zm.chunks)
    val total = dataLen + idxLen
    require(total <= Int.MaxValue,
      s"shard (${c.cz},${c.cy},${c.cx}) of $total bytes exceeds the 2 GiB " +
        "assembly limit — use a smaller shard shape")
    // fully overwritten: data cells pack contiguously, the index span
    // (16·nCells + optional crc) is written entry by entry below
    val out = ByteKernels.allocBytes(total.toInt)
    var off = 0L
    cell = 0
    while (cell < nCells) {
      if (blobs(cell) != null) {
        System.arraycopy(blobs(cell), 0, out, off.toInt, blobs(cell).length)
        entries(cell * 2) = off
        entries(cell * 2 + 1) = blobs(cell).length.toLong
        off += blobs(cell).length
      }
      cell += 1
    }
    val idxStart = (total - idxLen).toInt
    val idx = java.nio.ByteBuffer.wrap(out, idxStart, idxLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    entries.foreach(idx.putLong)
    if (sh.indexCrc32c) {
      val crcTmp = new java.util.zip.CRC32C
      crcTmp.update(out, idxStart, nCells * 16)
      idx.putInt(crcTmp.getValue.toInt)
    }
    out
  }

  /** One shard file opened for cell reads by positioned reads of `raf`:
    * the index is read from its declared location and its crc32c
    * verified when declared, and every cell's blob is bounds-checked
    * against the file before it is read.
    */
  private final class ShardFile(raf: graft.io.FioRandom, zm: ZarrMeta, sh: ShardingMeta) {
    val indexLen: Int = sh.indexLen(zm.chunks)
    require(raf.size >= indexLen, s"shard ${raf.path}: ${raf.size} bytes is shorter than its $indexLen-byte index")
    private val entries: Array[Long] = {
      val nCells = sh.innerGridPerShard(zm.chunks).product
      val idx = raf.readAt(if (sh.indexAtEnd) raf.size - indexLen else 0L, indexLen)
      if (sh.indexCrc32c) {
        val want = java.nio.ByteBuffer.wrap(idx, nCells * 16, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        val crc = new java.util.zip.CRC32C
        crc.update(idx, 0, nCells * 16)
        val got = crc.getValue.toInt
        require(got == want,
          f"shard ${raf.path}: index crc32c mismatch (stored 0x$want%08x, computed 0x$got%08x) — " +
            "refusing to address chunks off a corrupt index")
      }
      val buf = java.nio.ByteBuffer.wrap(idx, 0, nCells * 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.fill(nCells * 2)(buf.getLong)
    }

    /** Inner `cell`'s blob (C-order in the shard); `None` = missing = all fill_value. */
    def blob(cell: Int): Option[Array[Byte]] = {
      val off = entries(cell * 2); val len = entries(cell * 2 + 1)
      if (off == Missing) None
      else {
        require(off >= 0 && len >= 0 && len <= Int.MaxValue && off + len <= raf.size,
          s"shard ${raf.path}: inner cell $cell addresses [$off, ${off + len}) outside the file")
        Some(raf.readAt(off, len.toInt))
      }
    }
  }

  /** Inner cell (gcz, gcy, gcx) of a sharded array, read with positioned
    * reads of its one shard file (the index, then the cell's blob) and
    * decoded; an absent shard file or cell decodes as fill_value. With
    * the chunk come the bytes read and the file's size, `None` when the
    * shard file is absent: the evidence [[pointLookupSharded]] reports.
    */
  private def readInnerCell(dir: String, zm: ZarrMeta, sh: ShardingMeta, gcz: Int, gcy: Int, gcx: Int)(
      implicit fc: FioConf): (Chunk, Option[(Long, Long)]) = {
    val Seq(nIz, nIy, nIx) = sh.innerGridPerShard(zm.chunks)
    val cell = ((gcz % nIz) * nIy + gcy % nIy) * nIx + gcx % nIx
    val shardFile = Fio.child(dir, chunkKey(zm.dimSeparator, gcz / nIz, gcy / nIy, gcx / nIx))
    val raf = Fio.openRandomIfExists(shardFile)
    try {
      val read = raf.map { r =>
        val shard = new ShardFile(r, zm, sh)
        val blob = shard.blob(cell)
        (blob, (shard.indexLen + blob.map(_.length.toLong).getOrElse(0L), r.size))
      }
      (ZarrStore.decodeChunk(read.flatMap(_._1), innerMeta(zm, sh), innerVm(zm, sh), gcz, gcy, gcx,
        s"shard $shardFile (inner cell $cell)"),
        read.map(_._2))
    } finally raf.foreach(_.close())
  }

  /** Write a ChunkVolume as a SHARDED zarr v3 array: the volume's chunk
    * grid IS the shard grid (rechunk first to choose shard size), each
    * executor task assembles and lands its shards' files independently —
    * zero shuffle, the BigTiff positioned-write discipline at shard
    * granularity. `innerShape` must divide the volume's chunk shape.
    * Each shard's crc32c'd index sits at the end of its file (the NGFF
    * default); [[read]] accepts either index location.
    */
  def writeSharded(
      vol: ChunkVolume,
      path: String,
      innerShape: (Int, Int, Int),
      codec: Codec = ZstdCodec(),
      extraAttrs: Map[String, String] = Map.empty): Unit =
    ZarrStore.landArray(vol.chunks, path, shardedFiles(vol.meta, innerShape, codec, extraAttrs), append = false)

  /** The files of a sharded v3 array: `zarr.json` and a file per shard. */
  private[volume] def shardedFiles(m: VolumeMeta, innerShape: (Int, Int, Int), codec: Codec,
      attrs: Map[String, String]): ZarrStore.ArrayFiles = {
    val inner = Seq(innerShape._1, innerShape._2, innerShape._3)
    require(Seq(m.chunkZ, m.chunkY, m.chunkX).zip(inner).forall { case (s, i) => i > 0 && s % i == 0 },
      s"inner shape ${inner.mkString(",")} must divide the shard (chunk) shape " +
        s"(${m.chunkZ},${m.chunkY},${m.chunkX}) — rechunk the volume to the shard grid first")
    val sh = ShardingMeta(inner, indexCrc32c = true, indexAtEnd = true)
    val zm = metaOf(m, codec)
    val ivm = innerVm(zm, sh)
    ZarrStore.ArrayFiles(Seq("zarr.json" -> shardedZarrJson(zm, sh, attrs)), zm, parseZarrJson,
      ZarrStore.ChunkSink(chunkKey("/", _, _, _), encodeShard(_, zm, sh, ivm)))
  }

  /** Compact an UNSHARDED zarr v3 array into a sharded one — the
    * object-storage lifecycle step: streaming ingest lands fine-grained
    * chunk files ([[appendChunks]] is idempotent per chunk), and a
    * periodic compaction folds them into shards so the store's object
    * count stays bounded. One rechunk (each byte moves once) to the
    * shard grid, then the zero-shuffle sharded writer; reads dispatch
    * transparently before and after.
    */
  def compactToSharded(
      spark: SparkSession,
      srcPath: String,
      destPath: String,
      shardShape: (Int, Int, Int),
      innerShape: (Int, Int, Int),
      codec: Codec = ZstdCodec(),
      extraAttrs: Map[String, String] = Map.empty): Unit = {
    implicit val fc: FioConf = FioConf.of(spark)
    require(readDoc(Fio.qualify(srcPath))._2.isEmpty, s"$srcPath is already sharded — nothing to compact")
    writeSharded(
      read(spark, srcPath).rechunk(shardShape._1, shardShape._2, shardShape._3),
      destPath, innerShape, codec, extraAttrs = extraAttrs)
  }

  /** A sharded array's directory and layout; fails loud on an unsharded one. */
  private def openSharded(path: String)(implicit fc: FioConf): (String, ZarrMeta, ShardingMeta) = {
    val dir = Fio.qualify(path)
    val (zm, shOpt) = readDoc(dir)
    val sh = shOpt.getOrElse(throw new IllegalArgumentException(
      s"$path is not a sharded array — use Zarr3Store.read (+ cropVoxels for a box)"))
    (dir, zm, sh)
  }

  /** Evidence-carrying point lookup against a sharded store: TWO
    * positioned reads (the index range, then one inner chunk's range) on
    * ONE shard file — the object-storage P4 contract. `bytesRead` vs
    * `fileBytes` proves the shard body never streamed.
    */
  final case class ShardProbe(
      label: Long, shardsOpened: Int, bytesRead: Long, fileBytes: Long)

  def pointLookupSharded(path: String, z: Long, y: Long, x: Long)(
      implicit fc: FioConf): ShardProbe = {
    val (dir, zm, sh) = openSharded(path)
    require(z >= 0 && y >= 0 && x >= 0
      && z < zm.shape(0) && y < zm.shape(1) && x < zm.shape(2),
      s"point ($z,$y,$x) outside array ${zm.shape.mkString("x")}")
    val Seq(iz, iy, ix) = sh.innerChunks
    readInnerCell(dir, zm, sh, (z / iz).toInt, (y / iy).toInt, (x / ix).toInt) match {
      case (_, None) => ShardProbe(zm.fillValue, shardsOpened = 0, bytesRead = 0L, fileBytes = 0L)
      case (inner, Some((bytesRead, fileBytes))) =>
        ShardProbe(ChunkVolume.valueAt(inner, z, y, x, zm.bpp, innerVm(zm, sh).isUnsigned),
          shardsOpened = 1, bytesRead = bytesRead, fileBytes = fileBytes)
    }
  }
}
