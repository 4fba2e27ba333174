package graft.sources

import graft.volume.{Chunk, ChunkStore, ChunkVolume, VolumeMeta}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.io.{Fio, FioConf}
import java.util

/** DataSource V2 connector for the zarr-style chunk store (S4's idiomatic
  * end state per SURVEY §2.1): `spark.read.format("graftchunks")
  * .load(path)` exposes the store as a SQL-visible chunk table with
  * `SupportsPushDownFilters` on two independent axes:
  *
  *  - chunk-grid COORDINATE predicates (cz/cy/cx) prune whole files from
  *    their `cz.cy.cx` names — zero I/O at planning;
  *  - label VALUE predicates (lmin/lmax, the per-chunk min/max stats in
  *    the v2 header) prune by 64-byte header peeks — no decompression.
  *
  * One InputPartition per surviving file, so a point lookup plans exactly
  * one task reading exactly one file, and a "chunks containing label X"
  * query touches only value-candidate files.
  */
class ChunkStoreSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = ChunkStoreSource.Name

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChunkStoreSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("graftchunks requires a path"))
    new ChunkStoreTable(path)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object ChunkStoreSource {
  val Name = "graftchunks"

  val schema: StructType = StructType(Seq(
    StructField("cz", IntegerType, nullable = false),
    StructField("cy", IntegerType, nullable = false),
    StructField("cx", IntegerType, nullable = false),
    StructField("z0", LongType, nullable = false),
    StructField("y0", LongType, nullable = false),
    StructField("x0", LongType, nullable = false),
    StructField("nz", IntegerType, nullable = false),
    StructField("ny", IntegerType, nullable = false),
    StructField("nx", IntegerType, nullable = false),
    StructField("lmin", LongType, nullable = false),
    StructField("lmax", LongType, nullable = false),
    StructField("data", BinaryType, nullable = false),
  ))

  val CoordCols: Set[String] = Set("cz", "cy", "cx")
  val StatCols: Set[String] = Set("lmin", "lmax")

  /** Can a file with these known column values satisfy the filter?
    * Unknown/unrelated filter shapes keep the file (sound pruning).
    */
  private[sources] def filterKeeps(f: Filter, known: Map[String, Long]): Boolean = f match {
    case EqualTo(a, v: Number) if known.contains(a) => known(a) == v.longValue()
    case In(a, vs) if known.contains(a) => vs.exists(v => v.asInstanceOf[Number].longValue() == known(a))
    case LessThan(a, v: Number) if known.contains(a) => known(a) < v.longValue()
    case LessThanOrEqual(a, v: Number) if known.contains(a) => known(a) <= v.longValue()
    case GreaterThan(a, v: Number) if known.contains(a) => known(a) > v.longValue()
    case GreaterThanOrEqual(a, v: Number) if known.contains(a) => known(a) >= v.longValue()
    case And(l, r) => filterKeeps(l, known) && filterKeeps(r, known)
    case Or(l, r) => filterKeeps(l, known) || filterKeeps(r, known)
    case _ => true
  }

  /** Geometry of the first DSv2 write to a new `format` store: options
    * `dimZ dimY dimX chunkZ chunkY chunkX` (required) and `elementType`
    * (MET_* tag, default MET_UINT).
    */
  private[sources] def firstWriteMeta(opts: CaseInsensitiveStringMap, format: String): VolumeMeta = {
    def req(k: String): Long = {
      val v = opts.get(k)
      require(v != null,
        s"$format write to a new store requires option '$k' " +
          "(dimZ/dimY/dimX/chunkZ/chunkY/chunkX)")
      v.toLong
    }
    VolumeMeta.uniform(req("dimZ"), req("dimY"), req("dimX"),
      req("chunkZ").toInt, req("chunkY").toInt, req("chunkX").toInt,
      Option(opts.get("elementType")).getOrElse("MET_UINT"))
  }
}

class ChunkStoreTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graftchunks(`$path`)"
  override def schema(): StructType = ChunkStoreSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChunkStoreScanBuilder(path, ChunkPacking.targetBytes(options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ChunkStoreWriteBuilder(path, info)
}

/** DSv2 WRITE path for the internal store. Tasks compress and land GCS2
  * chunk files; each task's per-chunk (coord, lmin, lmax) stats ride
  * back in its `WriterCommitMessage`, and the DRIVER merges them into
  * the consolidated `.graft_stats` index at job commit — the DSv2-native
  * form of "stats ride back as the job result" (no collect(), and the
  * index only commits for writes that completed). lmin/lmax input
  * columns are ignored and recomputed from the payload, so the value
  * index can never be poisoned by a caller. First write to a new store
  * takes geometry options like the zarr writer (`dimZ..chunkX`,
  * `elementType`); appends reuse the existing sidecar metadata.
  *
  * Publication is ATOMIC via [[StoreStaging]], same protocol as the
  * zarr writer: overwrite swaps a temp sibling in with O(1) renames (no
  * O(files) driver truncate walk, a failed job leaves the old store
  * untouched); append stages under `.__staging/<id>/` and publishes
  * per-file renames at commit. The stats index merges into the staged
  * tree before a swap publishes it (a store is never visible without
  * its index) and into the destination after an append lands.
  */
class ChunkStoreWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write with BatchWrite {
    override def toBatch: BatchWrite = this

    // resolved on the driver in createBatchWriterFactory, consumed by
    // commit/abort (DSv2 calls them on the same BatchWrite instance)
    @volatile private var staging: StoreStaging = _

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
      implicit val fc: FioConf = FioConf.of(org.apache.spark.sql.SparkSession.active)
      val dest = Fio.qualify(path)
      graft.volume.AtomicDir.sweepLeftovers(dest)
      val appendToExisting = !doTruncate &&
        Fio.exists(Fio.child(dest, ChunkVolume.SidecarName))
      staging =
        if (appendToExisting) StoreStaging.Append(dest)
        else StoreStaging.Swap(dest)
      val writeDir = staging.writeDir
      Fio.mkdirs(writeDir)
      val opts = info.options
      val vm =
        if (appendToExisting) ChunkVolume.readSidecar(dest)
        else {
          val vm0 = ChunkStoreSource.firstWriteMeta(opts, ChunkStoreSource.Name)
          ChunkVolume.writeSidecar(writeDir, vm0, Map("writer" -> "dsv2"))
          vm0
        }
      val level = Option(opts.get("level")).map(_.toInt).getOrElse(1)
      new ChunkStoreWriterFactory(writeDir, vm, level, fc)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      implicit val fc: FioConf = FioConf.of(org.apache.spark.sql.SparkSession.active)
      val entries = messages.toSeq.flatMap {
        case m: ChunkStatsMessage => m.entries
        case _ => Seq.empty
      }
      staging.commit(dir => ChunkStore.mergeStatsIndex(dir, entries))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = staging.abort()
  }
}

final case class ChunkStatsMessage(entries: Seq[(String, Long, Long)])
    extends WriterCommitMessage

class ChunkStoreWriterFactory(dir: String, vm: VolumeMeta, level: Int, fc: FioConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val enc = new ChunkStore.ChunkFileEncoder(dir, vm, level)(fc)
      private val stats = Seq.newBuilder[(String, Long, Long)]

      override def write(row: InternalRow): Unit = {
        val c = Chunk(
          row.getInt(0), row.getInt(1), row.getInt(2),
          row.getLong(3), row.getLong(4), row.getLong(5),
          row.getInt(6), row.getInt(7), row.getInt(8),
          row.getBinary(11)) // lmin/lmax (9,10) ignored: recomputed from payload
        stats += enc.encode(c)
      }
      override def commit(): WriterCommitMessage = ChunkStatsMessage(stats.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

class ChunkStoreScanBuilder(path: String, targetBytes: Long)
    extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // prune files with coordinate/stat filters; row-level exactness is not
    // guaranteed for every shape → all filters stay as residuals
    val prunable = ChunkStoreSource.CoordCols ++ ChunkStoreSource.StatCols
    pushed = filters.filter(_.references.toSet.subsetOf(prunable))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new ChunkStoreScan(path, pushed, targetBytes)
}

class ChunkStoreScan(path: String, filters: Array[Filter], targetBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = ChunkStoreSource.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    implicit val fc: FioConf = FioConf.of(org.apache.spark.sql.SparkSession.active)
    val dir = Fio.qualify(path)
    val needStats = filters.exists(_.references.toSet.intersect(ChunkStoreSource.StatCols).nonEmpty)
    // value-stat pruning: ONE read of the consolidated index when present
    // (ChunkStore.write maintains it); per-file 64-byte header peeks only
    // as the fallback for stores written by older tools.
    val statsIndex: Map[String, (Long, Long)] =
      if (needStats) ChunkStore.readStatsIndex(dir).getOrElse(Map.empty)
      else Map.empty
    // uncompressed payload size per coordinate from the sidecar geometry
    // (zero extra I/O); compressed file size as the fallback proxy for
    // stores written by older tools without a sidecar
    val geom: Option[VolumeMeta] =
      try Some(ChunkVolume.readSidecar(path)) catch { case _: Exception => None }
    def payloadBytes(name: String): Long = geom match {
      case Some(vm) =>
        val Array(cz, cy, cx) = name.split("\\.").map(_.toInt)
        val (_, _, _, nz, ny, nx) = vm.cell(cz, cy, cx)
        math.max(1L, nz.toLong * ny * nx * vm.bytesPerVoxel)
      case None => Fio.size(Fio.child(dir, name))
    }
    val survivors = Fio.listNames(dir).iterator
      .filter(_.matches("\\d+\\.\\d+\\.\\d+"))
      .filter { name =>
        val Array(cz, cy, cx) = name.split("\\.").map(_.toLong)
        var known = Map("cz" -> cz, "cy" -> cy, "cx" -> cx)
        if (needStats) {
          val (lmin, lmax) = statsIndex.getOrElse(name, {
            // header-peek fallback — still no payload decompression
            val hdr = new Array[Byte](ChunkStore.HeaderBytes)
            val in = Fio.openStream(Fio.child(dir, name))
            try in.readFully(0L, hdr) finally in.close()
            val h = ChunkStore.readHeader(hdr)
            (h.lmin, h.lmax)
          })
          known ++= Map("lmin" -> lmin, "lmax" -> lmax)
        }
        filters.forall(f => ChunkStoreSource.filterKeeps(f, known))
      }
      .toSeq
      // deterministic row-major order → neighboring chunks pack together
      .sortBy { name =>
        val Array(cz, cy, cx) = name.split("\\.").map(_.toLong); (cz, cy, cx)
      }
    ChunkPacking.pack(survivors.iterator, payloadBytes, targetBytes)
      .map(g => ChunkFilesPartition(dir, g, fc): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new ChunkFileReaderFactory
}

final case class ChunkFilesPartition(dir: String, names: Seq[String], fc: FioConf) extends InputPartition

class ChunkFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChunkFilesPartition]
    new PartitionReader[InternalRow] {
      private val it = p.names.iterator
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (h, c) = ChunkStore.decodeFile(p.dir, it.next())(p.fc)
        row = new GenericInternalRow(Array[Any](
          c.cz, c.cy, c.cx, c.z0, c.y0, c.x0, c.nz, c.ny, c.nx, h.lmin, h.lmax, c.data))
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
