package graft.volume

import graft.io.{Fio, FioConf}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import com.github.luben.zstd.Zstd
import java.nio.{ByteBuffer, ByteOrder}

/** Zarr-style chunked directory store (K1/K2): one compressed file per
  * chunk at `path/cz.cy.cx`, written directly from executor tasks with
  * zstd — the high-throughput volume sink, mirroring the reference's
  * `zarr.DirectoryStore` + Blosc-zstd layout (upscale_streaming.py:103–127)
  * without parquet's page/dictionary machinery in the hot path.
  * (The parquet chunk table, [[ChunkVolume.write]], remains the
  * SQL-queryable interop format.)
  *
  * Chunk file layout (v2, 64-byte little-endian header + zstd payload):
  * magic "GCS2"; z0 y0 x0 (i64); nz ny nx (i32); raw payload length (i32);
  * label min/max (i64, widened) — a per-chunk VALUE index, so "which
  * chunks contain label X" resolves from header peeks alone, no
  * decompression (min > max marks stats-absent, e.g. float volumes).
  * Volume metadata travels in the usual JSON sidecar.
  */
object ChunkStore {

  val Magic = 0x32534347 // "GCS2" little-endian
  val HeaderBytes = 64

  /** Consolidated per-chunk stats index: ONE driver read replaces N
    * 64-byte header peeks at planning time (at ~1M chunks, one file vs 1M
    * sequential opens). Text lines `cz.cy.cx lmin lmax`; chunk files stay
    * self-describing (the header remains the fallback + per-task truth).
    */
  val StatsIndexName = ".graft_stats"

  final case class Header(
      z0: Long, y0: Long, x0: Long,
      nz: Int, ny: Int, nx: Int,
      rawLen: Int, lmin: Long, lmax: Long)

  def readHeader(bytes: Array[Byte]): Header = {
    val buf = ByteBuffer.wrap(bytes, 0, HeaderBytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt == Magic, "not a GCS2 chunk file")
    Header(buf.getLong, buf.getLong, buf.getLong,
      buf.getInt, buf.getInt, buf.getInt, buf.getInt, buf.getLong, buf.getLong)
  }

  /** Overwrite semantics like the reference's rmtree, but ATOMIC and
    * without an O(files) driver delete (same [[AtomicDir]] protocol as
    * ZarrStore.write): the new store stages in a temp sibling and
    * publishes with O(1) renames, so a crashed overwrite can never leave
    * a mixed old/new store behind the old sidecar.
    */
  def write(vol: ChunkVolume, path: String, level: Int = 1,
      extraProvenance: Map[String, String] = Map.empty): Unit = {
    implicit val fc: FioConf = FioConf.of(vol.chunks.sparkSession)
    AtomicDir.stage(path) { dir =>
      appendChunks(vol.chunks, dir, vol.meta, level)
      ChunkVolume.writeSidecar(dir, vol.meta, extraProvenance)
    }
  }

  /** Append chunk files into an existing store (same file format, no
    * delete, no sidecar) — the incremental-ingest building block used by
    * the streaming path; a chunk re-appearing overwrites its own file
    * (idempotent per chunk coordinate). Each task returns its chunks'
    * (coord, lmin, lmax) stats, which merge into the consolidated
    * [[StatsIndexName]] index — stats ride back as the job result, so the
    * driver never re-reads what executors just wrote.
    */
  /** Stateful per-task chunk encoder: compresses and writes one GCS2
    * chunk file per call (reusing one compression buffer — multi-MB
    * chunks would otherwise churn 2 humongous allocations each through
    * the GC) and returns the chunk's (name, lmin, lmax) stats entry.
    * Shared by [[appendChunks]] and the DSv2 write path.
    */
  private[graft] final class ChunkFileEncoder(pathStr: String, meta: VolumeMeta, level: Int)(
      implicit fc: FioConf) extends Serializable {
    private val bpp = meta.bytesPerVoxel
    private val unsigned = meta.isUnsigned
    private val integral = !meta.isFloating
    private var dst: Array[Byte] = null

    def encode(c: Chunk): (String, Long, Long) = {
      val bound = Zstd.compressBound(c.data.length.toLong).toInt
      if (dst == null || dst.length < bound) dst = ByteKernels.allocBytes(bound)
      // reused native context (the static compress entry builds and frees
      // a native zstd context per chunk — measurable at ~200k chunks)
      val n = ZarrStore.BloscCodec.scratch.get().zctx(level)
        .compressByteArray(dst, 0, dst.length, c.data, 0, c.data.length).toInt
      // per-chunk label stats (the value index); min>max = absent.
      // ByteKernels.minMax widens one element per load — the per-byte
      // decodeLong fold was ~1/3 of the ×15 internal-sink encode stage.
      var lmin = Long.MaxValue
      var lmax = Long.MinValue
      if (integral) {
        val mm = ByteKernels.minMax(c.data, c.nz * c.ny * c.nx, bpp, unsigned)
        lmin = mm(0)
        lmax = mm(1)
      } else { lmin = 1L; lmax = 0L }
      val buf = ByteBuffer.allocate(HeaderBytes).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(Magic)
      buf.putLong(c.z0).putLong(c.y0).putLong(c.x0)
        .putInt(c.nz).putInt(c.ny).putInt(c.nx).putInt(c.data.length)
        .putLong(lmin).putLong(lmax)
      val out = Fio.createStream(Fio.child(pathStr, s"${c.cz}.${c.cy}.${c.cx}"))
      try { out.write(buf.array()); out.write(dst, 0, n) } finally out.close()
      (s"${c.cz}.${c.cy}.${c.cx}", lmin, lmax)
    }
  }

  def appendChunks(chunks: Dataset[Chunk], path: String, meta: VolumeMeta, level: Int = 1): Unit = {
    implicit val fc: FioConf = FioConf.of(chunks.sparkSession)
    val pathStr = Fio.qualify(path)
    Fio.mkdirs(pathStr)
    import chunks.sparkSession.implicits._
    val stats = chunks.mapPartitions { (it: Iterator[Chunk]) =>
      val enc = new ChunkFileEncoder(pathStr, meta, level)
      it.map(enc.encode)
    }.collect() // ~40 B per chunk: 1M chunks ≈ 40 MB on the driver, once per write
    mergeStatsIndex(pathStr, stats)
  }

  /** Merge (name, lmin, lmax) entries into the stats index atomically
    * (re-appended coords take the newest entry).
    */
  private[graft] def mergeStatsIndex(pathStr: String, entries: Seq[(String, Long, Long)])(
      implicit fc: FioConf): Unit = {
    val merged = readStatsIndex(pathStr).getOrElse(Map.empty) ++
      entries.map { case (n, lo, hi) => n -> (lo, hi) }
    val tmp = Fio.child(pathStr, StatsIndexName + ".tmp")
    val body = merged.toSeq.sorted
      .map { case (n, (lo, hi)) => s"$n $lo $hi" }
      .mkString("GRAFT_STATS 1\n", "\n", "\n")
    Fio.writeString(tmp, body)
    Fio.renameOverwrite(tmp, Fio.child(pathStr, StatsIndexName))
  }

  /** The consolidated stats index, if present: name -> (lmin, lmax). */
  def readStatsIndex(pathStr: String)(implicit fc: FioConf): Option[Map[String, (Long, Long)]] = {
    val body = Fio.readStringIfExists(Fio.child(pathStr, StatsIndexName))
    if (body.isEmpty) return None
    val lines = body.get.split("\n", -1).toSeq
    if (lines.isEmpty || lines.head != "GRAFT_STATS 1") return None
    Some(lines.drop(1).filter(_.nonEmpty).map { line =>
      val Array(n, lo, hi) = line.split(" ")
      n -> (lo.toLong, hi.toLong)
    }.toMap)
  }

  private[volume] def chunkFileNames(pathStr: String)(implicit fc: FioConf): Seq[String] =
    Fio.listNames(pathStr)
      .filter(_.matches("\\d+\\.\\d+\\.\\d+"))

  /** One chunk file's header and its decoded chunk. */
  private[graft] def decodeFile(pathStr: String, name: String)(implicit fc: FioConf): (Header, Chunk) = {
    val Array(cz, cy, cx) = name.split("\\.").map(_.toInt)
    val bytes = Fio.readAllBytes(Fio.child(pathStr, name))
    val h = readHeader(bytes)
    val data = new Array[Byte](h.rawLen)
    Zstd.decompressByteArray(data, 0, h.rawLen, bytes, HeaderBytes, bytes.length - HeaderBytes)
    (h, Chunk(cz, cy, cx, h.z0, h.y0, h.x0, h.nz, h.ny, h.nx, data))
  }

  def read(spark: SparkSession, path: String): ChunkVolume = {
    implicit val fc: FioConf = FioConf.of(spark)
    val meta = ChunkVolume.readSidecar(path)
    val pathStr = Fio.qualify(path)
    val names = chunkFileNames(pathStr)
    import spark.implicits._
    val chunks = spark.createDataset(names).repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(decodeFile(pathStr, _)._2))
    ChunkVolume(chunks, meta)
  }

  /** "Which chunks contain label X, and how often?" — candidates from ONE
    * read of the consolidated stats index when present (else distributed
    * 64-byte header peeks — still no decompression), then only the
    * candidate chunks decode for the exact count (the region-location
    * query, value-indexed: lookup_test2.py's semantics over a whole
    * store).
    */
  def findLabel(spark: SparkSession, path: String, label: Long): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    val meta = ChunkVolume.readSidecar(path)
    require(!meta.isFloating, "findLabel requires an integral element type")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    val pathStr = Fio.qualify(path)
    import spark.implicits._
    val candidateNames = readStatsIndex(pathStr) match {
      case Some(idx) =>
        chunkFileNames(pathStr).filter { name =>
          idx.get(name).forall { case (lo, hi) => lo <= label && label <= hi }
        }
      case None => chunkFileNames(pathStr)
    }
    val names = spark.createDataset(candidateNames)
      .repartition(spark.sparkContext.defaultParallelism)
    names
      .mapPartitions { it =>
        val hdr = new Array[Byte](HeaderBytes)
        it.filter { name =>
          val in = Fio.openStream(Fio.child(pathStr, name))
          try in.readFully(0L, hdr) finally in.close()
          val h = readHeader(hdr)
          h.lmin <= label && label <= h.lmax
        }
      }
      .mapPartitions(_.map { name =>
        val c = decodeFile(pathStr, name)._2
        val nElems = c.nz * c.ny * c.nx
        var count = 0L
        var i = 0
        while (i < nElems) {
          if (ChunkKernels.decodeLong(c.data, i, bpp, unsigned) == label) count += 1
          i += 1
        }
        (c.cz, c.cy, c.cx, count)
      })
      .toDF("cz", "cy", "cx", "n_occurrences")
      .filter(org.apache.spark.sql.functions.col("n_occurrences") > 0)
  }
}
