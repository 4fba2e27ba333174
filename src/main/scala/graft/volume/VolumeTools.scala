package graft.volume

import org.apache.spark.sql.SparkSession

/** The reference's small diagnostic scripts as one subcommand main, so a
  * user of each script has a drop-in entry point:
  *
  *  - `load-test <mhd> [z y x]`     — load_test.py: shape, dtype, sample voxel
  *  - `metadata <mhd>`              — print_metadata.py: spacing/dims/physical size
  *  - `verify <mhd> <store> <s> [z y x]` — verify_labels.py: the label-preservation
  *    spot check `orig[z,y,x] == upscaled[s·z, s·y, s·x]` against a written
  *    store (zarr v2 or v3, auto-detected)
  *  - `lookup <mhd> <region_csv> <z> <y> <x>` — lookup_test2.py: voxel point
  *    read + region-table join, "Unknown region ID" on miss
  *  - `head <region_csv>`           — lookup_test.py: first rows + count
  *
  * Each subcommand returns its transcript lines (testable); main prints.
  */
object VolumeTools {

  /** A store written by UpscaleCli: zarr v2 (`.zarray`; `--format
    * graftchunks` too) or zarr v3 (`zarr.json`, plain or sharded).
    */
  private def readStore(spark: SparkSession, path: String): ChunkVolume = {
    implicit val fc: graft.io.FioConf = graft.io.FioConf.of(spark)
    def has(doc: String) = graft.io.Fio.exists(graft.io.Fio.child(path, doc))
    if (has(".zarray")) ZarrStore.read(spark, path)
    else if (has("zarr.json")) Zarr3Store.read(spark, path)
    else throw new IllegalArgumentException(
      s"$path is not a zarr array: it holds neither .zarray (zarr v2) nor zarr.json (zarr v3)")
  }

  def loadTest(spark: SparkSession, mhdPath: String, z: Long, y: Long, x: Long): Seq[String] = {
    val meta = MhdMeta.parse(mhdPath)
    val vol = MhdReader.read(spark, mhdPath)
    val sample = vol.pointLookup(z, y, x)
    Seq(
      s"Shape (z,y,x): (${meta.dimZ}, ${meta.dimY}, ${meta.dimX})",
      s"Data type: ${meta.elementType}",
      s"Voxel ($z, $y, $x) = ${sample.getOrElse("out of bounds")}",
    )
  }

  def metadata(mhdPath: String): Seq[String] =
    ChunkPlanner.metadataReport(MhdMeta.parse(mhdPath)).linesIterator.toSeq

  /** verify_labels.py: compare one source voxel against its mapped
    * upscaled coordinate in a written store.
    */
  def verify(spark: SparkSession, mhdPath: String, storePath: String, s: Int,
      z: Long, y: Long, x: Long): Seq[String] = {
    val orig = MhdReader.read(spark, mhdPath).pointLookup(z, y, x)
    val up = readStore(spark, storePath).pointLookup(z * s, y * s, x * s)
    val verdict = (orig, up) match {
      case (Some(a), Some(b)) if a == b => "MATCH: label preserved"
      case (Some(a), Some(b)) => s"MISMATCH: $a != $b"
      case _ => "OUT OF BOUNDS"
    }
    Seq(
      s"Original @ ($z, $y, $x) = ${orig.getOrElse("?")}",
      s"Upscaled @ (${z * s}, ${y * s}, ${x * s}) = ${up.getOrElse("?")}",
      verdict,
    )
  }

  /** lookup_test2.py: point voxel read + region-ontology join. */
  def lookup(spark: SparkSession, mhdPath: String, csvPath: String,
      z: Long, y: Long, x: Long): Seq[String] = {
    val label = MhdReader.read(spark, mhdPath).pointLookup(z, y, x)
    label match {
      case None => Seq(s"Voxel ($z, $y, $x): out of bounds")
      case Some(id) =>
        val regions = RegionTable.readCsv(spark, csvPath)
        Seq(s"Voxel ($z, $y, $x) label = $id", RegionTable.lookupById(regions, id.toString))
    }
  }

  /** lookup_test.py: head + count of the region table. */
  def head(spark: SparkSession, csvPath: String, n: Int = 5): Seq[String] = {
    val regions = RegionTable.readCsv(spark, csvPath)
    val rows = regions.limit(n).collect().map { r =>
      s"${r.getLong(0)}  ${r.getString(1)}  ${r.getString(2)}  level=${r.get(3)} parent=${r.get(4)}"
    }
    rows.toSeq :+ s"Number of regions: ${regions.count()}"
  }

  def run(spark: SparkSession, argv: Seq[String]): Seq[String] = argv.toList match {
    case "load-test" :: mhd :: rest if rest.isEmpty || rest.length == 3 =>
      val zyx = if (rest.isEmpty) Seq(0L, 0L, 0L) else rest.map(_.toLong)
      loadTest(spark, mhd, zyx(0), zyx(1), zyx(2))
    case "metadata" :: mhd :: Nil => metadata(mhd)
    case "verify" :: mhd :: store :: s :: z :: y :: x :: Nil =>
      verify(spark, mhd, store, s.toInt, z.toLong, y.toLong, x.toLong)
    case "lookup" :: mhd :: csv :: z :: y :: x :: Nil =>
      lookup(spark, mhd, csv, z.toLong, y.toLong, x.toLong)
    case "head" :: csv :: Nil => head(spark, csv)
    case other => throw new IllegalArgumentException(
      s"usage: VolumeTools load-test|metadata|verify|lookup|head ... (got: ${other.mkString(" ")})")
  }

  def main(argv: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, argv.toIndexedSeq).foreach(println)
    finally spark.stop()
  }
}
