package graft.volume

/** Driver-side physical planning for chunked volumes — the analog of the
  * reference's `choose_chunks` (upscale_streaming.py:59–74) plus the size
  * estimation / admission-control layer of upscale_streaming_enhance.py
  * (:145–184, 331–345). All pure arithmetic over metadata; no data scan.
  */
object ChunkPlanner {

  /** Pick a (cz, cy, cx) chunk shape targeting ~targetMb per chunk:
    * start from (16, ≤512, ≤512), scale all dims by the cube root of the
    * byte ratio, clamp to the volume shape. Matches the reference
    * arithmetic exactly (incl. round-half-even, numpy/python `round`).
    */
  def chooseChunks(
      shapeZyx: (Long, Long, Long),
      bytesPerVoxel: Int,
      targetChunkMb: Int = 128,
  ): (Int, Int, Int) = {
    val (z, y, x) = shapeZyx
    val targetBytes = targetChunkMb.toLong * 1024 * 1024
    var cz = 16L
    var cy = math.min(512L, y)
    var cx = math.min(512L, x)
    val chunkBytes = cz * cy * cx * bytesPerVoxel
    if (chunkBytes > 0) {
      val scale = math.cbrt(targetBytes.toDouble / chunkBytes)
      cz = math.max(1L, math.min(z, math.rint(cz * scale).toLong))
      cy = math.max(1L, math.min(y, math.rint(cy * scale).toLong))
      cx = math.max(1L, math.min(x, math.rint(cx * scale).toLong))
    }
    (
      math.max(1L, math.min(z, cz)).toInt,
      math.max(1L, math.min(y, cy)).toInt,
      math.max(1L, math.min(x, cx)).toInt,
    )
  }

  /** Estimated stored output in GB for an upscale (+ the pyramid
    * overhead ≈ Σ 8^-i = 1/7 when levels > 1) —
    * upscale_streaming_enhance.py:145–167.
    */
  def estimateOutputGb(
      shapeZyx: (Long, Long, Long),
      bytesPerVoxel: Int,
      scale: Int,
      pyramidLevels: Int,
  ): Double = {
    val (z, y, x) = shapeZyx
    var baseBytes = z.toDouble * y * x * math.pow(scale.toDouble, 3) * bytesPerVoxel
    if (pyramidLevels > 1) baseBytes *= (1.0 + 1.0 / 7.0)
    baseBytes / math.pow(1024.0, 3)
  }

  /** An admission-control decision (upscale_streaming_enhance.py:331–341). */
  sealed trait Admission
  case object Admitted extends Admission
  final case class Rejected(reasons: Seq[String]) extends Admission

  /** The reference's safety guards: huge scale factors, estimated output
    * above the cap, or pyramid writes must be explicitly forced.
    */
  def guard(
      scale: Int,
      estGb: Double,
      maxGb: Double,
      pyramidLevels: Int,
      force: Boolean,
  ): Admission = {
    if (force) Admitted
    else {
      val reasons = Seq.newBuilder[String]
      if (scale > 20) reasons += s"scale=$scale > 20 (use force to override)"
      if (estGb > maxGb) reasons += f"estimated output $estGb%.2f GB exceeds max $maxGb%.2f GB"
      if (pyramidLevels > 1) reasons += s"pyramid write of $pyramidLevels levels (use force to override)"
      val r = reasons.result()
      if (r.isEmpty) Admitted else Rejected(r)
    }
  }

  /** EXPLAIN-style human-readable plan (upscale_streaming_enhance.py:170–184)
    * — returned, not printed, so it is testable and usable as a dry run.
    */
  def planReport(
      meta: MhdMeta,
      scale: Int,
      chunkMb: Int,
      chunks: (Int, Int, Int),
      mode: String,
      pyramidLevels: Int,
      outPath: String,
      compressor: String,
  ): String = {
    val (z, y, x) = meta.shapeZyx
    val est = estimateOutputGb(meta.shapeZyx, meta.bytesPerVoxel, scale, pyramidLevels)
    f"""Execution plan
       |  Input shape (z,y,x) : ($z, $y, $x)
       |  Input dtype         : ${meta.elementType} (${meta.bytesPerVoxel} bytes/voxel)
       |  Scale factor        : $scale
       |  Output shape (z,y,x): (${z * scale}, ${y * scale}, ${x * scale})
       |  Mode                : $mode
       |  Pyramid levels      : $pyramidLevels
       |  Chunk target (MB)   : $chunkMb
       |  Chunks (z,y,x)      : ${chunks.toString}
       |  Compressor          : $compressor
       |  Output path         : $outPath
       |  Estimated output    : $est%.2f GB
       |""".stripMargin
  }

  /** Metadata report (print_metadata.py): spacing, dims, physical size. */
  def metadataReport(meta: MhdMeta): String = {
    val (pz, py, px) = meta.physicalSizeMmZyx
    val (sx, sy, sz) = meta.spacingXyz
    f"""Volume metadata
       |  Dim size (x,y,z)    : (${meta.dimX}, ${meta.dimY}, ${meta.dimZ})
       |  Element type        : ${meta.elementType}
       |  Spacing um (x,y,z)  : ($sx%.3f, $sy%.3f, $sz%.3f)
       |  Physical mm (z,y,x) : ($pz%.3f, $py%.3f, $px%.3f)
       |  Voxels              : ${meta.nVoxels}
       |""".stripMargin
  }
}
