package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Co-located fact-fact joins via bucketed storage layout.
  *
  * A plain parquet fact-fact join (e.g. lineitem ⋈ orders on orderkey,
  * q2-style) pays a full shuffle of BOTH fact tables on every query. When
  * the same join recurs — the normal case for a curated 100 TB warehouse —
  * the storage layout should pay that shuffle ONCE, at write time:
  * `bucketBy(n, key)` hash-partitions files on disk and records the layout
  * in the catalog, so every later join on `key` between two tables with
  * the same bucket spec plans with ZERO shuffle exchanges (each task reads
  * matching bucket files from both sides). `sortBy(key)` additionally
  * pre-sorts within buckets so a single-file bucket needs no sort node.
  *
  * The reference has no analog (single-node memmaps don't shuffle); this is
  * pure engine surface for the harness star schema, the same "pay at write
  * time" trade a zarr array's chunk grid makes for chunk-coordinate pruning.
  */
object Bucketing {

  /** Write `df` as a bucketed + per-bucket-sorted external parquet table.
    *
    * The data lands under `path` (not the session warehouse, so repeated
    * driver runs from different working directories stay self-contained).
    * Any previous table/path is replaced — the write is idempotent.
    *
    * `repartition(buckets, key)` before the write uses the SAME hash Spark's
    * bucketing uses (Murmur3 pmod n), so each task holds exactly one
    * bucket's rows → one file per bucket → Spark can use the sortBy
    * metadata and skip the per-task sort at join time.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      key: String,
      buckets: Int,
  ): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true) // CTAS refuses non-empty locations
    df.repartition(buckets, col(key))
      .write
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Deterministic table name / path for a per-dataset bucketed mirror.
    * The name encodes EVERY parameter that shapes the mirror (key, bucket
    * count, projected columns) — a cache hit must mean "same layout and
    * same projection", not just "same source": a later caller asking for
    * different cols or a different bucket spec gets its own mirror, never
    * a silent reuse of the first one's.
    */
  def mirrorName(prefix: String, sfDir: String, key: String, buckets: Int,
      cols: Seq[String]): String = {
    // unambiguous projection encoding: NUL can't appear in a column name,
    // and the element count disambiguates any residual aliasing; MD5 (128
    // bits, 16-hex prefix) instead of 32-bit String.hashCode so a
    // collision can't silently reuse a wrong-shaped mirror
    val enc = cols.length + "\u0000" + cols.mkString("\u0000")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(enc.getBytes("UTF-8"))
    val colsHash = md5.take(8).map(b => f"$b%02x").mkString
    (prefix + "_" + sfDir + "_" + key + "_b" + buckets + "_" + colsHash)
      .replaceAll("[^A-Za-z0-9]", "_")
  }

  def mirrorPath(table: String): String =
    sys.props("java.io.tmpdir") + "/graft_bucketed/" + table

  /** Bucketed mirror of `sfDir/<source>.parquet` projected to `cols`,
    * bucketed on `key`; created (or replaced) on first use per session.
    * Returns the catalog table, whose scan carries the bucket layout.
    */
  def bucketedMirror(
      spark: SparkSession,
      sfDir: String,
      source: String,
      key: String,
      cols: Seq[String],
      buckets: Int,
  ): DataFrame = {
    val table = mirrorName(s"graft_bkt_$source", sfDir, key, buckets, cols)
    if (!spark.catalog.tableExists(table)) {
      val src = spark.read.parquet(s"$sfDir/$source.parquet")
        .select(cols.map(col): _*)
      writeBucketed(src, table, mirrorPath(table), key, buckets)
    }
    spark.table(table)
  }
}
