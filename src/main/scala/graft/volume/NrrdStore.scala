package graft.volume

import graft.io.{Fio, FioConf}
import org.apache.spark.sql.SparkSession
import java.io.BufferedInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

/** NRRD scan/write (teem.sourceforge.net/nrrd/format.html) — the other
  * header+raw scientific format next to MHD (S-family): a text header up
  * to the first blank line, then the voxel payload attached in the same
  * file. Supported surface: `dimension: 3`, all integral + float element
  * types, `encoding: raw|gzip`, both byte orders (big-endian normalized
  * to little at read like the MHD path), `spacings`, comments,
  * `key:=value` pairs, and CRLF headers.
  *
  * Scale shapes by encoding:
  *   - `raw`: the payload is the same C-order layout as an MHD `.raw`,
  *     starting at `dataOffset`, so it goes through the one positioned
  *     scan [[RawPayload.scan]] — the driver parses the header only,
  *     executors read their chunks with the MHD plan (contiguous-run fast
  *     paths, partition cap); a 100 TB file never concentrates anywhere.
  *   - `gzip`: a single gzip stream is sequentially decodable ONLY, so
  *     the scan is one task that streams the decode and emits chunks a
  *     chunk-z SLAB at a time (working set = one slab, the reference
  *     streaming-upscaler's own budget — never the volume). That is the
  *     format's ceiling, not the engine's: convert to raw/zarr for
  *     parallel scans, which is exactly what production pipelines do
  *     with gzip-NRRD drops.
  */
object NrrdStore {

  private val TypeMap: Map[String, String] = Map(
    "uchar" -> "MET_UCHAR", "uint8" -> "MET_UCHAR", "uint8_t" -> "MET_UCHAR",
    "unsigned char" -> "MET_UCHAR",
    "char" -> "MET_CHAR", "int8" -> "MET_CHAR", "int8_t" -> "MET_CHAR",
    "signed char" -> "MET_CHAR",
    "ushort" -> "MET_USHORT", "uint16" -> "MET_USHORT", "uint16_t" -> "MET_USHORT",
    "unsigned short" -> "MET_USHORT",
    "short" -> "MET_SHORT", "int16" -> "MET_SHORT", "int16_t" -> "MET_SHORT",
    "uint" -> "MET_UINT", "uint32" -> "MET_UINT", "uint32_t" -> "MET_UINT",
    "unsigned int" -> "MET_UINT",
    "int" -> "MET_INT", "int32" -> "MET_INT", "int32_t" -> "MET_INT",
    "float" -> "MET_FLOAT", "double" -> "MET_DOUBLE",
  )

  private val NrrdName: Map[String, String] = Map(
    "MET_UCHAR" -> "uint8", "MET_CHAR" -> "int8",
    "MET_USHORT" -> "uint16", "MET_SHORT" -> "int16",
    "MET_UINT" -> "uint32", "MET_INT" -> "int32",
    "MET_FLOAT" -> "float", "MET_DOUBLE" -> "double",
  )

  final case class NrrdMeta(
      path: String,
      dimZ: Long, dimY: Long, dimX: Long,
      elementType: String,
      encoding: String,
      bigEndian: Boolean,
      spacingXyz: (Double, Double, Double),
      dataOffset: Long,
  ) {
    def bytesPerVoxel: Int = MhdMeta.BytesPerVoxel(elementType)
  }

  /** Field names this reader understands or can PROVABLY ignore (pure
    * annotation — orientation/space metadata that never changes where a
    * voxel's bytes live). Anything else fails loud below: a spec-valid
    * field like `byte skip`, `line skip`, or `data file` changes the
    * payload layout, and silently reading at the wrong offset would
    * decode shifted garbage with no error — the exact opposite of the
    * fail-loud contract this store promises.
    */
  private val KnownFields: Set[String] = Set(
    // layout-defining, parsed below
    "dimension", "sizes", "type", "encoding", "endian", "spacings",
    // pure annotation, provably layout-neutral
    "space", "space directions", "space origin", "space units",
    "space dimension", "kinds", "labels", "units", "content",
    "centers", "centerings", "thicknesses",
    "min", "max", "old min", "old max", "oldmin", "oldmax",
    "sample units", "measurement frame",
  )

  /** Parse the text header (driver-side, bounded): bytes up to the first
    * blank line, fail-loud on anything outside the supported surface —
    * including any field NOT in [[KnownFields]] (e.g. `byte skip`,
    * `line skip`, `data file`, `block size`), which would silently
    * corrupt the payload addressing if ignored.
    */
  def parseHeader(path: String)(implicit fc: FioConf): NrrdMeta = {
    val in = new BufferedInputStream(Fio.openStream(path))
    try {
      val sb = new StringBuilder
      var offset = 0L
      var blankRun = 0
      var done = false
      while (!done) {
        val b = in.read()
        require(b >= 0, s"$path: EOF before the blank line ending the NRRD header")
        offset += 1
        require(offset <= 65536, s"$path: header exceeds 64 KiB — not a supported NRRD")
        val c = b.toChar
        sb.append(c)
        if (c == '\n') {
          blankRun += 1
          if (blankRun == 2) done = true
        } else if (c != '\r') blankRun = 0
      }
      val lines = sb.toString.split("\r?\n").toSeq
      require(lines.nonEmpty && lines.head.matches("NRRD000[1-5]"),
        s"$path: missing NRRD magic, got '${lines.headOption.getOrElse("")}'")
      val fields = lines.tail
        .filterNot(l => l.isEmpty || l.startsWith("#") || l.contains(":=")) // comments / key-value pairs
        .flatMap { l =>
          val i = l.indexOf(": ")
          if (i < 0) None else Some(l.substring(0, i).toLowerCase -> l.substring(i + 2).trim)
        }.toMap
      val unknown = fields.keySet.diff(KnownFields)
      require(unknown.isEmpty,
        s"$path: unsupported NRRD field(s) ${unknown.toSeq.sorted.mkString("'", "', '", "'")} — " +
          "fields like 'byte skip'/'line skip'/'data file' change the payload layout; " +
          "refusing to guess rather than decode shifted voxels")

      val dim = fields.getOrElse("dimension", sys.error(s"$path: missing 'dimension'")).toInt
      require(dim == 3, s"$path: only 3-D NRRDs are supported, got dimension $dim")
      val sizes = fields.getOrElse("sizes", sys.error(s"$path: missing 'sizes'"))
        .split("\\s+").map(_.toLong)
      require(sizes.length == 3 && sizes.forall(_ > 0), s"$path: bad sizes ${sizes.mkString(" ")}")
      val tpe = fields.getOrElse("type", sys.error(s"$path: missing 'type'"))
      val elementType = TypeMap.getOrElse(tpe.toLowerCase,
        sys.error(s"$path: unsupported NRRD type '$tpe'"))
      val enc = fields.getOrElse("encoding", sys.error(s"$path: missing 'encoding'")) match {
        case "raw" => "raw"
        case "gzip" | "gz" => "gzip"
        case other => sys.error(s"$path: unsupported NRRD encoding '$other' (raw|gzip)")
      }
      val bpp = MhdMeta.BytesPerVoxel(elementType)
      val bigEndian = fields.get("endian") match {
        case Some("little") => false
        case Some("big") => true
        case Some(other) => sys.error(s"$path: bad endian '$other'")
        case None =>
          require(bpp == 1, s"$path: 'endian' is required for multi-byte type $tpe")
          false
      }
      val spacings = fields.get("spacings").map(_.split("\\s+").map(_.toDouble))
        .getOrElse(Array(1.0, 1.0, 1.0))
      require(spacings.length == 3, s"$path: bad spacings")
      // NRRD axes are FASTEST-FIRST: sizes/spacings are (x, y, z)
      NrrdMeta(path, dimZ = sizes(2), dimY = sizes(1), dimX = sizes(0),
        elementType = elementType, encoding = enc, bigEndian = bigEndian,
        spacingXyz = (spacings(0), spacings(1), spacings(2)),
        dataOffset = offset)
    } finally in.close()
  }

  def read(spark: SparkSession, path: String): ChunkVolume = {
    val n = parseHeader(path)(FioConf.of(spark))
    val (cz, cy, cx) = ChunkPlanner.chooseChunks((n.dimZ, n.dimY, n.dimX), n.bytesPerVoxel)
    read(spark, n, cz, cy, cx)
  }

  def read(spark: SparkSession, n: NrrdMeta, chunkZ: Int, chunkY: Int, chunkX: Int): ChunkVolume = {
    val meta = VolumeMeta.uniform(n.dimZ, n.dimY, n.dimX, chunkZ, chunkY, chunkX,
      n.elementType, n.spacingXyz)
    if (n.encoding == "raw") RawPayload.scan(spark, n.path, n.dataOffset, n.bigEndian, meta)
    else readGzip(spark, n, meta)
  }

  /** One sequential decode task: streams the gzip payload a chunk-z slab
    * at a time and slices each slab into its (cy, cx) chunks — the
    * format's inherent ceiling (see scaladoc above).
    */
  private def readGzip(spark: SparkSession, n: NrrdMeta, meta: VolumeMeta): ChunkVolume = {
    implicit val fc: FioConf = FioConf.of(spark)
    val (path, base, msb, bpp) = (n.path, n.dataOffset, n.bigEndian, meta.bytesPerVoxel)
    val (dimY, dimX) = (meta.dimY, meta.dimX)
    val (ncz, ncy, ncx) = (meta.ncz, meta.ncy, meta.ncx)
    import spark.implicits._
    // one element, ONE partition — and the body still guards on the ids
    // iterator so an empty partition can never duplicate the decode
    val chunks = spark.range(0, 1, 1, numPartitions = 1).mapPartitions { ids =>
      if (ids.isEmpty) Iterator.empty[Chunk] else {
      val fin = Fio.openStream(path)
      fin.seek(base) // FSDataInputStream positioned seek to the payload
      val gz = new GZIPInputStream(new BufferedInputStream(fin), 1 << 16)
      // close at task end, drained or not (.limit / abort)
      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        try gz.close() catch { case _: java.io.IOException => () }
      })
      def readFully(buf: Array[Byte], len: Int): Unit = {
        var off = 0
        while (off < len) {
          val r = gz.read(buf, off, len - off)
          require(r >= 0, s"$path: gzip payload truncated at slab byte $off of $len")
          off += r
        }
      }
      Iterator.range(0, ncz).flatMap { cz =>
        val nz = meta.cell(cz, 0, 0)._4
        val slabBytes = nz.toLong * dimY * dimX * bpp
        require(slabBytes <= Int.MaxValue,
          s"$path: gzip NRRD z-slab of $slabBytes bytes exceeds the 2 GiB JVM array " +
            "limit — a single gzip stream cannot be sliced finer than a chunk-z slab; " +
            "convert to raw NRRD or zarr for volumes with planes this large")
        val slab = new Array[Byte](slabBytes.toInt)
        readFully(slab, slab.length)
        if (msb) ChunkKernels.swapEndianInPlace(slab, bpp)
        Iterator.tabulate(ncy * ncx) { j =>
          val (cy, cx) = (j / ncx, j % ncx)
          val (z0, y0, x0, _, ny, nx) = meta.cell(cz, cy, cx)
          val data = ChunkKernels.extractBox(slab, dimY.toInt, dimX.toInt, bpp,
            0, y0.toInt, x0.toInt, nz, ny, nx)
          Chunk(cz, cy, cx, z0, y0, x0, nz, ny, nx, data)
        }
      }
      }
    }
    ChunkVolume(chunks, meta)
  }

  /** Export as attached-raw little-endian NRRD: the driver writes the
    * text header, executor tasks land the payload behind it
    * ([[RawPayload.write]]).
    */
  def write(vol: ChunkVolume, path: String): Unit = {
    val m = vol.meta
    val header =
      s"""NRRD0004
         |# graft volume export
         |type: ${NrrdName(m.elementType)}
         |dimension: 3
         |sizes: ${m.dimX} ${m.dimY} ${m.dimZ}
         |spacings: ${m.spacingX} ${m.spacingY} ${m.spacingZ}
         |endian: little
         |encoding: raw
         |""".stripMargin + "\n"
    val headerBytes = header.getBytes(StandardCharsets.US_ASCII)
    val base = headerBytes.length.toLong
    RawPayload.write(vol, path, base, base + m.nVoxels * m.bytesPerVoxel)(_.writeFully(0L, headerBytes))
  }
}
