package graft.volume

import org.apache.spark.sql.SparkSession

/** The reference's CLI lifecycle (upscale_streaming_enhance.py:274–364,
  * SURVEY §3.2): parse → validate header → plan chunks → estimate cost →
  * print plan → admission control → (dry-run exit) → execute → commit
  * metadata. A user of `upscale.py`/`upscale_streaming_enhance.py` drives
  * the same flags here; output lines mirror the recorded transcripts
  * (Screenshots/upscale_streaming.png).
  *
  * Usage:
  *   graft.volume.UpscaleCli --input vol.mhd|vol.tif --output out_store
  *     [--scale 2] [--chunk-mb 128] [--mode labels|outline]
  *     [--pyramid-levels 1] [--max-gb 500] [--dry-run] [--force]
  *     [--format zarr|zarr3|zarr3-sharded|graftchunks]
  *     [--compressor zstd|zlib|blosc-zstd|blosc-zlib|lz4|zstd-bit|none]
  *
  * `--compressor lz4` / `zstd-bit` reproduce the reference CLI's exact
  * Blosc BITSHUFFLE output formats (upscale_streaming.py:103–108).
  * `--format graftchunks` writes a zarr v2 array (zstd level 1) plus its
  * per-chunk label value index ([[ChunkStore]]); `--compressor` does not
  * apply to it.
  */
object UpscaleCli {

  final case class Args(
      input: String = "",
      output: String = "",
      scale: Int = 2,
      chunkMb: Int = 128,
      mode: String = "labels",
      pyramidLevels: Int = 1,
      maxGb: Double = 500.0,
      dryRun: Boolean = false,
      force: Boolean = false,
      format: String = "zarr", // zarr (parity) | zarr3 | zarr3-sharded (object-storage) | graftchunks (zarr + value index)
      compressor: String = "zstd", // zstd|zlib|blosc-zstd|blosc-zlib|lz4|zstd-bit|none
  )

  def parseArgs(argv: Seq[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--input" :: v :: t => loop(t, acc.copy(input = v))
      case "--output" :: v :: t => loop(t, acc.copy(output = v))
      case "--scale" :: v :: t => loop(t, acc.copy(scale = v.toInt))
      case "--chunk-mb" :: v :: t => loop(t, acc.copy(chunkMb = v.toInt))
      case "--mode" :: v :: t => loop(t, acc.copy(mode = v))
      case "--pyramid-levels" :: v :: t => loop(t, acc.copy(pyramidLevels = v.toInt))
      case "--max-gb" :: v :: t => loop(t, acc.copy(maxGb = v.toDouble))
      case "--dry-run" :: t => loop(t, acc.copy(dryRun = true))
      case "--force" :: t => loop(t, acc.copy(force = true))
      case "--format" :: v :: t => loop(t, acc.copy(format = v))
      case "--compressor" :: v :: t => loop(t, acc.copy(compressor = v))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val a = loop(argv.toList, Args())
    require(a.input.nonEmpty, "--input is required")
    require(a.output.nonEmpty || a.dryRun, "--output is required unless --dry-run")
    require(a.scale >= 1, "--scale must be >= 1")
    require(a.mode == "labels" || a.mode == "outline", "--mode must be labels|outline")
    require(a.pyramidLevels >= 1, "--pyramid-levels must be >= 1")
    require(
      Set("zarr", "zarr3", "zarr3-sharded", "graftchunks").contains(a.format),
      "--format must be zarr|zarr3|zarr3-sharded|graftchunks")
    ZarrStore.codecNamed(a.compressor) // validate eagerly
    a
  }

  /** Run the lifecycle; returns the transcript lines (testable — the main
    * just prints them). Progress lines additionally stream through `live`
    * in real time during the execute phase. Throws on rejected admission
    * without --force.
    */
  def run(spark: SparkSession, a: Args, live: String => Unit = null): Seq[String] = {
    val out = Seq.newBuilder[String]
    // --input *.tif/*.tiff takes the reference's legacy TIFF path
    // (anno_upsampling.py:33): same lifecycle, general Tiff scan
    val isTiff = a.input.toLowerCase.endsWith(".tif") || a.input.toLowerCase.endsWith(".tiff")
    val meta = if (isTiff) Tiff.mhdMeta(a.input)
               else MhdMeta.parse(a.input) // parse + validate (required fields)
    val (z, y, x) = meta.shapeZyx
    out += s"Source shape (z,y,x): ($z, $y, $x), dtype=${meta.elementType}, spacing=${meta.spacingXyz}"
    val chunks =
      if (isTiff) (1, meta.dimY.toInt, meta.dimX.toInt) // TIFF page granularity
      else ChunkPlanner.chooseChunks(meta.shapeZyx, meta.bytesPerVoxel, a.chunkMb)
    out += (if (isTiff) s"Using input chunks (z,y,x): $chunks  (TIFF page granularity)"
            else s"Using input chunks (z,y,x): $chunks  (~${a.chunkMb} MB target per chunk)")
    val est = ChunkPlanner.estimateOutputGb(meta.shapeZyx, meta.bytesPerVoxel, a.scale, a.pyramidLevels)
    out += ChunkPlanner.planReport(meta, a.scale, a.chunkMb, chunks, a.mode, a.pyramidLevels,
      a.output, "zstd")
    ChunkPlanner.guard(a.scale, est, a.maxGb, a.pyramidLevels, a.force) match {
      case ChunkPlanner.Admitted => ()
      case ChunkPlanner.Rejected(reasons) =>
        throw new IllegalStateException(
          ("Refusing to run (use --force to override):" +: reasons.map("  - " + _)).mkString("\n"))
    }
    if (a.dryRun) {
      out += "Dry run: no compute executed."
      return out.result()
    }
    // allocation-free child buffers when the plan is a straight
    // upscale→sink stream (every sink writer is a strictly-consuming
    // foreachPartition); outline (halo shuffle), pyramid (multi-level
    // lineage) and the sharded rechunk keep the allocating form — see
    // ChunkVolume.upscale's contract
    val sinkStreams = a.mode != "outline" && a.pyramidLevels == 1 &&
      a.format != "zarr3-sharded"
    // MHD input takes the child-slab task plan (MhdReader.readUpscaled);
    // TIFF pages are read whole, then upscaled
    val upscaled =
      if (isTiff) Tiff.read(spark, a.input).upscale(a.scale, reuseChildBuffers = sinkStreams)
      else MhdReader.readUpscaled(spark, meta, chunks._1, chunks._2, chunks._3,
        a.scale, reuseChildBuffers = sinkStreams)
    val processed = if (a.mode == "outline") upscaled.outline() else upscaled
    out += s"Upscaled shape (z,y,x): (${z * a.scale}, ${y * a.scale}, ${x * a.scale})"
    val provenance = Map(
      "source" -> a.input, "scale" -> a.scale.toString, "mode" -> a.mode)
    val codec = ZarrStore.codecNamed(a.compressor)
    // ProgressBar parity (upscale.py:23): stage-level progress lines
    // stream to `live` DURING execute and join the transcript after.
    val (written, progress) = graft.plans.ProgressReporter.withProgress(spark.sparkContext, live) {
      if (a.pyramidLevels > 1) {
        PyramidWriter.write(processed, a.pyramidLevels, a.output, a.scale, codec)
        s"OME-Zarr pyramid (${a.pyramidLevels} levels)"
      } else if (a.format == "zarr") {
        ZarrStore.write(processed, a.output, codec, extraAttrs = provenance)
        s"Zarr array (${a.compressor})"
      } else if (a.format == "zarr3") {
        Zarr3Store.write(processed, a.output, codec, extraAttrs = provenance)
        s"Zarr v3 array (${a.compressor})"
      } else if (a.format == "zarr3-sharded") {
        // shard = 2× the chunk shape per axis, inner = the chunk shape:
        // 8× fewer objects at unchanged read granularity. No dim clamps:
        // an oversized shard is legal (grid cell count just hits 1) and
        // clamping could break the divisibility contract.
        val m = processed.meta
        Zarr3Store.writeSharded(processed.rechunk(m.chunkZ * 2, m.chunkY * 2, m.chunkX * 2),
          a.output, innerShape = m.chunkShape, codec, extraAttrs = provenance)
        s"Sharded zarr v3 array (${a.compressor})"
      } else {
        ChunkStore.write(processed, a.output, extraProvenance = provenance)
        "Chunk store"
      }
    }
    out ++= progress
    out += s"Finished. $written written to: ${a.output}"
    out.result()
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv.toIndexedSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a, live = line => Console.err.println(line)).foreach(println)
    finally spark.stop()
  }
}
