package graft.sources

import graft.io.{Fio, FioConf}
import graft.volume.{Chunk, Landing, UpscaleCli, VolumeMeta, ZarrStore}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util

/** DataSource V2 connector for spec-compliant zarr v2 array directories:
  * `spark.read.format("zarr").load(path)` exposes the chunk grid as a SQL
  * table with `SupportsPushDownFilters` on the chunk coordinates.
  *
  * Planning reads ONE file (`.zarray`) — the grid is a pure function of
  * shape/chunks, so coordinate predicates prune partitions with zero
  * directory I/O, and a point lookup plans exactly one task reading
  * exactly one chunk file. Absent chunk files decode as fill_value rows
  * per the zarr spec (the task probes existence, not the planner).
  */
class ZarrSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = ZarrSource.Name

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ZarrSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("zarr requires a path"))
    new ZarrTable(path)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object ZarrSource {
  val Name = "zarr"

  /** A chunk row (the [[graft.volume.Chunk]] fields): this source's table
    * and the streaming ingest's parquet input.
    */
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
    StructField("data", BinaryType, nullable = false),
  ))

  val CoordCols: Set[String] = Set("cz", "cy", "cx")

  /** Can a chunk with these known column values satisfy the filter?
    * Unknown/unrelated filter shapes keep the chunk (sound pruning).
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

  /** Geometry of the first DSv2 write to a new store: options
    * `dimZ dimY dimX chunkZ chunkY chunkX` (required) and `elementType`
    * (MET_* tag, default MET_UINT).
    */
  private[sources] def firstWriteMeta(opts: CaseInsensitiveStringMap): VolumeMeta = {
    def req(k: String): Long = {
      val v = opts.get(k)
      require(v != null,
        s"$Name write to a new store requires option '$k' " +
          "(dimZ/dimY/dimX/chunkZ/chunkY/chunkX)")
      v.toLong
    }
    VolumeMeta.uniform(req("dimZ"), req("dimY"), req("dimX"),
      req("chunkZ").toInt, req("chunkY").toInt, req("chunkX").toInt,
      Option(opts.get("elementType")).getOrElse("MET_UINT"))
  }
}

class ZarrTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"zarr(`$path`)"
  override def schema(): StructType = ZarrSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(path, ChunkPacking.targetBytes(options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ZarrWriteBuilder(path, info)
}

/** Groups pruned chunk coordinates into multi-chunk InputPartitions up to a
  * byte target — the moral equivalent of `spark.sql.files.maxPartitionBytes`
  * file packing. At the reference's 128 MB chunks and 100 TB, one task per
  * chunk file is ~800k tasks: schedulable, but task-launch overhead dominates
  * small-chunk stores and the driver holds ~800k partition objects. Packing
  * bounds the partition count by ceil(totalBytes / target) while coordinate
  * pruning stays per-chunk (a point lookup still plans exactly one partition
  * with exactly one chunk).
  */
object ChunkPacking {
  val OptionName = "maxPartitionBytes"
  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  def targetBytes(options: CaseInsensitiveStringMap): Long = {
    val t = options.getLong(OptionName, DefaultTargetBytes)
    require(t > 0, s"$OptionName must be positive, got $t")
    t
  }

  /** Greedy pack in input order (row-major grid order → neighboring chunks
    * share a partition). A single item never splits; a partition takes at
    * least one item regardless of size, so count ≤ max(1, items).
    */
  def pack[A](items: Iterator[A], sizeOf: A => Long, target: Long): Iterator[Seq[A]] =
    new Iterator[Seq[A]] {
      private val it = items.buffered
      override def hasNext: Boolean = it.hasNext
      override def next(): Seq[A] = {
        val group = Seq.newBuilder[A]
        var bytes = 0L
        var first = true
        while (it.hasNext && (first || bytes + sizeOf(it.head) <= target)) {
          val a = it.next()
          group += a
          bytes += sizeOf(a)
          first = false
        }
        group.result()
      }
    }
}

/** DSv2 WRITE path: `chunkDf.write.format("zarr").save(path)` lands chunk
  * files from executor tasks; the driver stages `.zarray` and `.zattrs`
  * up front (geometry from write options on first write, or the existing
  * store's metadata on append, `.zattrs` then only if absent). Rows must
  * match [[ZarrSource.schema]] (what `format("zarr")` reads and
  * `ChunkVolume.chunks.toDF` produces).
  *
  * The write goes through the batch writers' [[Landing]], each task
  * landing each chunk through their one step ([[ZarrStore.ChunkSink]]),
  * and publishes ATOMICALLY at job commit: a job that fails (or a driver
  * that crashes) before commit leaves the destination exactly as it was
  * (reference overwrite semantics, upscale_streaming.py:118–127).
  * `mode("overwrite")` and a first write are a swap: the array is staged
  * in a temp sibling and swapped in with O(1) renames — no O(files)
  * driver truncate walk, ever. `mode("append")` to an existing array
  * upserts chunk files idempotently (a re-landed coordinate replaces its
  * own file — the streaming-ingest contract): staged inside the store,
  * published by per-file atomic renames, so readers see each chunk
  * old-or-new, never torn.
  *
  * First-write options: `dimZ dimY dimX chunkZ chunkY chunkX`
  * (required), `elementType` (MET_* tag, default MET_UINT), and
  * `compressor` (same vocabulary as `UpscaleCli --compressor`,
  * default zstd).
  */
class ZarrWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write with BatchWrite {
    override def toBatch: BatchWrite = this

    // opened on the driver in createBatchWriterFactory, consumed by
    // commit/abort (DSv2 calls them on the same BatchWrite instance)
    @volatile private var landing: Landing = _

    override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
      implicit val fc: FioConf = FioConf.of(org.apache.spark.sql.SparkSession.active)
      landing = Landing.open(path, if (doTruncate) None else Some(".zarray"))
      val (zm, vm) = landing match {
        case _: Landing.Append => ZarrStore.readMeta(landing.dest)
        case _: Landing.Swap =>
          val opts = info.options
          val vm = ZarrSource.firstWriteMeta(opts)
          (ZarrStore.metaOf(vm, UpscaleCli.zarrCodec(Option(opts.get("compressor")).getOrElse("zstd"))), vm)
      }
      val files = ZarrStore.v2Files(zm, vm, Map.empty)
      files.stage(landing)
      new ZarrWriterFactory(landing.dir, files.sink, fc)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = landing.commit(None)
    override def abort(messages: Array[WriterCommitMessage]): Unit = landing.abort()
  }
}

private[sources] class ZarrWriterFactory(dir: String, sink: ZarrStore.ChunkSink, fc: FioConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit =
        sink.land(dir, Chunk(
          row.getInt(0), row.getInt(1), row.getInt(2),
          row.getLong(3), row.getLong(4), row.getLong(5),
          row.getInt(6), row.getInt(7), row.getInt(8),
          row.getBinary(9)))(fc)
      override def commit(): WriterCommitMessage = new WriterCommitMessage {}
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

class ZarrScanBuilder(path: String, targetBytes: Long)
    extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(_.references.toSet.subsetOf(ZarrSource.CoordCols))
    filters // all stay as residuals (pruning is file-granular, not row-exact)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new ZarrScan(path, pushed, targetBytes)
}

class ZarrScan(path: String, filters: Array[Filter], targetBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = ZarrSource.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    implicit val fc: FioConf = FioConf.of(org.apache.spark.sql.SparkSession.active)
    val (zm, vm) = ZarrStore.readMeta(path) // the ONLY planning I/O
    val pathStr = Fio.qualify(path)
    // prune per chunk (zero I/O — the grid is a pure function of the
    // metadata), then pack surviving coordinates to the byte target using
    // the uncompressed payload size (what the task must hold in memory)
    val coords = for {
      cz <- (0 until vm.ncz).iterator
      cy <- (0 until vm.ncy).iterator
      cx <- (0 until vm.ncx).iterator
      known = Map("cz" -> cz.toLong, "cy" -> cy.toLong, "cx" -> cx.toLong)
      if filters.forall(f => ZarrSource.filterKeeps(f, known))
    } yield (cz, cy, cx)
    val bpv = vm.bytesPerVoxel.toLong
    def payloadBytes(c: (Int, Int, Int)): Long = {
      val (_, _, _, nz, ny, nx) = vm.cell(c._1, c._2, c._3)
      nz.toLong * ny * nx * bpv
    }
    ChunkPacking.pack(coords, payloadBytes, targetBytes)
      .map(g => ZarrChunksPartition(pathStr, zm, vm, g, fc): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrReaderFactory
}

final case class ZarrChunksPartition(
    dir: String, zm: ZarrStore.ZarrMeta, vm: VolumeMeta,
    coords: Seq[(Int, Int, Int)], fc: FioConf) extends InputPartition

class ZarrReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZarrChunksPartition]
    new PartitionReader[InternalRow] {
      private val it = p.coords.iterator
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (cz, cy, cx) = it.next()
        val file = Fio.child(p.dir, ZarrStore.chunkKey(p.zm.dimSeparator, cz, cy, cx))
        val c = ZarrStore.decodeChunk(Fio.readAllIfExists(file)(p.fc), p.zm, p.vm, cz, cy, cx, file)
        row = new GenericInternalRow(Array[Any](
          c.cz, c.cy, c.cx, c.z0, c.y0, c.x0, c.nz, c.ny, c.nx, c.data))
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
