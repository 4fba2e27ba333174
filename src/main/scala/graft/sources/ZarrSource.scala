package graft.sources

import graft.io.FioConf
import graft.volume.{Chunk, ChunkVolume, Landing, VolumeMeta, ZarrStore}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.SparkSession
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
  * This file is only the DSv2 plumbing; how cells become tasks and how a
  * cell is read are the zarr layout layer's, as in [[ZarrStore.read]].
  * Planning reads ONE file (`.zarray`): the grid is a pure function of
  * shape/chunks, so coordinate predicates prune cells with zero directory
  * I/O, and the kept cells are cut into [[ZarrStore.gridSlices]]
  * contiguous C-order slices, one task each. A point lookup plans exactly
  * one task reading exactly one chunk file. Each cell loads through the
  * array's v2 cell loader ([[ZarrStore.v2Cells]]); an absent chunk file
  * decodes as fill_value rows per the zarr spec.
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
    // a null element never makes IN true
    case In(a, vs) if known.contains(a) => vs.exists(v => v != null && v.asInstanceOf[Number].longValue() == known(a))
    case LessThan(a, v: Number) if known.contains(a) => known(a) < v.longValue()
    case LessThanOrEqual(a, v: Number) if known.contains(a) => known(a) <= v.longValue()
    case GreaterThan(a, v: Number) if known.contains(a) => known(a) > v.longValue()
    case GreaterThanOrEqual(a, v: Number) if known.contains(a) => known(a) >= v.longValue()
    case And(l, r) => filterKeeps(l, known) && filterKeeps(r, known)
    case Or(l, r) => filterKeeps(l, known) || filterKeeps(r, known)
    case _ => true
  }

  /** The C-order linear indices in [from, until) of the cells of `vm`'s
    * grid that every one of `filters` keeps.
    */
  private[sources] def keptCells(vm: VolumeMeta, filters: Array[Filter], from: Long, until: Long): Iterator[Long] =
    Iterator.iterate(from)(_ + 1).takeWhile(_ < until).filter { idx =>
      val (cz, cy, cx) = vm.cellAt(idx)
      val known = Map("cz" -> cz.toLong, "cy" -> cy.toLong, "cx" -> cx.toLong)
      filters.forall(filterKeeps(_, known))
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
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = new ZarrScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ZarrWriteBuilder(path, info)
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
          (ZarrStore.metaOf(vm, ZarrStore.codecNamed(Option(opts.get("compressor")).getOrElse("zstd"))), vm)
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

class ZarrScanBuilder(path: String) extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(_.references.toSet.subsetOf(ZarrSource.CoordCols))
    filters // all stay as residuals (pruning is file-granular, not row-exact)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new ZarrScan(path, pushed)
}

class ZarrScan(path: String, filters: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = ZarrSource.schema
  override def toBatch: Batch = this

  /** The kept cells, cut as `spark.range` cuts a full read's grid: slice i
    * of s holds the kept cells of rank [i*k/s, (i+1)*k/s). A partition is
    * the linear index range from its slice's first kept cell to the next
    * slice's, so the driver holds O(slices) however many cells it keeps.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    implicit val fc: FioConf = FioConf.of(spark)
    val (vm, load) = ZarrStore.v2Cells(path) // the ONLY planning I/O
    val n = vm.nCells
    def kept = ZarrSource.keptCells(vm, filters, 0, n)
    val k = kept.foldLeft(0L)((c, _) => c + 1)
    if (k == 0) Array.empty
    else {
      val s = ZarrStore.gridSlices(spark, k)
      def slice(rank: Long): Long = ((rank + 1) * s - 1) / k // the slice of the rank-th kept cell
      val starts = kept.zipWithIndex
        .collect { case (idx, r) if r == 0 || slice(r) != slice(r - 1) => idx }
      (starts ++ Iterator(n)).sliding(2)
        .map { case Seq(from, until) => ZarrCellsPartition(vm, load, filters, from, until): InputPartition }
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new ZarrReaderFactory
}

/** The cells of `vm`'s grid with C-order linear indices in [from, until)
  * that `filters` keep, each read through `load`.
  */
final case class ZarrCellsPartition(
    vm: VolumeMeta, load: ChunkVolume.CellLoader, filters: Array[Filter],
    from: Long, until: Long) extends InputPartition

class ZarrReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZarrCellsPartition]
    new PartitionReader[InternalRow] {
      private val cells = ZarrSource.keptCells(p.vm, p.filters, p.from, p.until).map(p.vm.cellAt)
      private var row: InternalRow = _

      override def next(): Boolean = cells.hasNext && {
        val c = p.load.tupled(cells.next())
        row = new GenericInternalRow(Array[Any](
          c.cz, c.cy, c.cx, c.z0, c.y0, c.x0, c.nz, c.ny, c.nx, c.data))
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
