package graft.volume

import graft.io.{Fio, FioConf}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The value-indexed volume sink: a spec-compliant zarr v2 array
  * (`.zarray`, `.zattrs`, `cz.cy.cx` chunk files, plain zstd frames —
  * any zarr reader opens it; [[ZarrStore.read]] is this engine's) plus a
  * per-chunk label min/max index, `.graft_stats`, which the write job
  * returns so the driver never re-reads what executors just wrote.
  * [[findLabel]] answers "which chunks contain label X" from that index
  * and decodes only the candidates.
  */
object ChunkStore {

  /** The per-chunk stats index: ONE driver read at query planning. Text
    * lines `cz.cy.cx lmin lmax` after a `GRAFT_STATS 1` header.
    */
  val StatsIndexName = ".graft_stats"

  /** Chunk files are plain zstd level-1 frames. */
  private[volume] val Codec = ZarrStore.ZstdCodec(level = 1)

  /** One index entry: chunk key, lmin, lmax. */
  type IndexEntry = (String, Long, Long)

  /** Overwrite semantics like the reference's rmtree, but ATOMIC (a
    * [[Landing.Swap]]): a crashed overwrite never leaves a mixed old/new
    * store, and a published store always carries its index.
    */
  def write(vol: ChunkVolume, path: String, extraProvenance: Map[String, String] = Map.empty): Unit =
    land(vol.chunks, path, vol.meta, extraProvenance, append = false)

  /** Append chunk files into a store — the streaming path's building
    * block, as [[ZarrStore.appendChunks]], but a chunk re-appearing also
    * replaces its index entry once the files publish.
    */
  def appendChunks(chunks: Dataset[Chunk], path: String, meta: VolumeMeta): Unit =
    land(chunks, path, meta, Map.empty, append = true)

  /** Encode and land every chunk from executor tasks through one
    * [[Landing]], each task returning its chunks' `(key, lmin, lmax)`
    * (integral element types only), which the landing's commit writes
    * into the index.
    */
  private def land(chunks: Dataset[Chunk], path: String, meta: VolumeMeta,
      attrs: Map[String, String], append: Boolean): Unit = {
    implicit val fc: FioConf = FioConf.of(chunks.sparkSession)
    import chunks.sparkSession.implicits._
    val files = ZarrStore.v2Files(ZarrStore.metaOf(meta, Codec), meta, attrs)
    val (bpp, unsigned, integral) = (meta.bytesPerVoxel, meta.isUnsigned, !meta.isFloating)
    Landing.run(path, if (append) Some(".zarray") else None) { l =>
      files.stage(l)
      val (dir, sink) = (l.dir, files.sink)
      Some(chunks.mapPartitions(_.flatMap { c =>
        val key = sink.land(dir, c)
        if (!integral) None
        else {
          val mm = ByteKernels.minMax(c.data, c.nz * c.ny * c.nx, bpp, unsigned)
          Some((key, mm(0), mm(1)))
        }
      }).collect().toSeq) // ~40 B per chunk: 1M chunks ≈ 40 MB on the driver, once per write
    }
  }

  /** Merge (key, lmin, lmax) entries into the index of the store at
    * `dir` atomically (re-appended coords take the newest entry).
    */
  private[volume] def mergeStatsIndex(dir: String, entries: Seq[IndexEntry])(
      implicit fc: FioConf): Unit = {
    val merged = readStatsIndex(dir).getOrElse(Map.empty) ++
      entries.map { case (n, lo, hi) => n -> (lo, hi) }
    val tmp = Fio.child(dir, StatsIndexName + ".tmp")
    val body = merged.toSeq.sorted
      .map { case (n, (lo, hi)) => s"$n $lo $hi" }
      .mkString("GRAFT_STATS 1\n", "\n", "\n")
    Fio.writeString(tmp, body)
    Fio.renameOverwrite(tmp, Fio.child(dir, StatsIndexName))
  }

  /** The stats index, if present: chunk key -> (lmin, lmax). */
  def readStatsIndex(path: String)(implicit fc: FioConf): Option[Map[String, (Long, Long)]] = {
    val body = Fio.readStringIfExists(Fio.child(path, StatsIndexName))
    if (body.isEmpty) return None
    val lines = body.get.split("\n", -1).toSeq
    if (lines.isEmpty || lines.head != "GRAFT_STATS 1") return None
    Some(lines.drop(1).filter(_.nonEmpty).map { line =>
      val Array(n, lo, hi) = line.split(" ")
      n -> (lo.toLong, hi.toLong)
    }.toMap)
  }

  /** Drop the index of a store that an unindexed append is about to
    * publish chunks into ([[Landing.Append]]'s commit, for
    * [[ZarrStore.appendChunks]] and a `format("zarr")` append): its
    * entries would be stale, and without it [[findLabel]] decodes every
    * landed chunk — slower, never wrong.
    */
  private[volume] def dropStatsIndex(dir: String)(implicit fc: FioConf): Unit =
    Fio.delete(Fio.child(dir, StatsIndexName))

  /** "Which chunks contain label X, and how often?" over any zarr v2
    * store — the region-location query (lookup_test2.py's semantics over
    * a whole store). A grid cell is a candidate if the index has an entry
    * for it whose [lmin, lmax] holds X, or, lacking an entry (no index,
    * or a chunk landed without one), if its chunk file exists: an absent
    * chunk is fill, not data, and is never reported. The candidate
    * predicate runs below the planned-grid reader's decode, so only
    * candidate chunk files are read and decoded for the exact count.
    */
  def findLabel(spark: SparkSession, path: String, label: Long): DataFrame = {
    implicit val fc: FioConf = FioConf.of(spark)
    val (zm, meta) = ZarrStore.readMeta(path)
    require(!meta.isFloating, "findLabel requires an integral element type")
    val (dir, sep, bpp, unsigned) = (Fio.qualify(path), zm.dimSeparator, meta.bytesPerVoxel, meta.isUnsigned)
    val key = ZarrStore.chunkKey(sep, _: Int, _: Int, _: Int)
    val vol = ZarrStore.readArray(spark, meta, ZarrStore.chunkFiles(dir, zm, meta, key))
    val idx = readStatsIndex(dir)
    val candidate = udf { (cz: Int, cy: Int, cx: Int) =>
      val k = key(cz, cy, cx)
      idx.flatMap(_.get(k)) match {
        case Some((lo, hi)) => lo <= label && label <= hi
        case None => Fio.exists(Fio.child(dir, k))
      }
    }
    import spark.implicits._
    val cells = vol.chunks.filter(candidate(col("cz"), col("cy"), col("cx")))
    cells
      .map { c =>
        val nElems = c.nz * c.ny * c.nx
        var count = 0L
        var i = 0
        while (i < nElems) {
          if (ChunkKernels.decodeLong(c.data, i, bpp, unsigned) == label) count += 1
          i += 1
        }
        (c.cz, c.cy, c.cx, count)
      }
      .toDF("cz", "cy", "cx", "n_occurrences")
      .filter(col("n_occurrences") > 0)
  }
}
