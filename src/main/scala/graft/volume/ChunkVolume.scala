package graft.volume

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** One dense sub-block of a chunked volume. `data` is a packed C-order
  * (z,y,x) little-endian byte block of nz·ny·nx elements.
  * (cz,cy,cx) is the chunk-grid coordinate; (z0,y0,x0) the global voxel
  * origin. Grid invariant maintained by every producer: chunks with
  * consecutive grid coordinates tile the volume contiguously per axis, so
  * chunk-coordinate adjacency == spatial adjacency (the halo exchange and
  * wrap-around semantics depend on exactly this).
  */
final case class Chunk(
    cz: Int, cy: Int, cx: Int,
    z0: Long, y0: Long, x0: Long,
    nz: Int, ny: Int, nx: Int,
    data: Array[Byte],
) {
  /** The ×s children of this chunk of `meta`'s grid with z-index
    * i ∈ [iLo, iHi) (ChunkKernels.upscaleChildrenSlab): child (i, j, k) is
    * cell (cz·s + i, cy·s + j, cx·s + k) of `meta.upscaled(s)`. `data` may
    * hold only this chunk's source rows from `srcZOff` on.
    */
  def children(s: Int, meta: VolumeMeta, srcZOff: Int, iLo: Int, iHi: Int, reuse: Boolean): Iterator[Chunk] = {
    val (gz, gy, gx) = meta.chunkShape
    ChunkKernels.upscaleChildrenSlab(data, srcZOff, nz, ny, nx, meta.bytesPerVoxel, s, iLo, iHi, reuse,
      Some((gz, gy, gx))).map { case (i, j, k, out) =>
      Chunk(cz * s + i, cy * s + j, cx * s + k,
        z0 * s + i.toLong * gz, y0 * s + j.toLong * gy, x0 * s + k.toLong * gx,
        ChunkKernels.childExtent(i, nz, gz, s), ChunkKernels.childExtent(j, ny, gy, s),
        ChunkKernels.childExtent(k, nx, gx, s), out)
    }
  }
}

/** Volume-level metadata carried on the driver (the Spark analog of the
  * reference's MHD-header dict + dask chunk grid — SURVEY.md §1.1).
  */
final case class VolumeMeta(
    dimZ: Long, dimY: Long, dimX: Long,
    chunkZ: Int, chunkY: Int, chunkX: Int,
    ncz: Int, ncy: Int, ncx: Int,
    elementType: String,
    spacingX: Double, spacingY: Double, spacingZ: Double,
) {
  def bytesPerVoxel: Int = MhdMeta.BytesPerVoxel(elementType)
  def isUnsigned: Boolean = elementType.startsWith("MET_U")
  def isFloating: Boolean = elementType == "MET_FLOAT" || elementType == "MET_DOUBLE"
  def nVoxels: Long = dimZ * dimY * dimX
  def chunkShape: (Int, Int, Int) = (chunkZ, chunkY, chunkX)
  def nCells: Long = ncz.toLong * ncy * ncx

  /** Grid cell (cz, cy, cx) at C-order linear cell index `idx`. */
  def cellAt(idx: Long): (Int, Int, Int) =
    ((idx / (ncy.toLong * ncx)).toInt, ((idx / ncx) % ncy).toInt, (idx % ncx).toInt)

  /** The meta of a ×s upscale: dims ×s on a uniform grid of this chunk shape. */
  def upscaled(s: Int): VolumeMeta = VolumeMeta.uniform(dimZ * s, dimY * s, dimX * s,
    chunkZ, chunkY, chunkX, elementType, (spacingX, spacingY, spacingZ))

  /** Origin and extent (z0, y0, x0, nz, ny, nx) of grid cell (cz,cy,cx):
    * the chunk dims, clipped at the volume's far edge.
    */
  def cell(cz: Int, cy: Int, cx: Int): (Long, Long, Long, Int, Int, Int) = {
    val z0 = cz.toLong * chunkZ; val y0 = cy.toLong * chunkY; val x0 = cx.toLong * chunkX
    (z0, y0, x0, math.min(chunkZ.toLong, dimZ - z0).toInt,
      math.min(chunkY.toLong, dimY - y0).toInt, math.min(chunkX.toLong, dimX - x0).toInt)
  }
}

object VolumeMeta {

  /** Cells of size `chunk` needed to cover `dim`. */
  def cells(dim: Long, chunk: Int): Int = ((dim + chunk - 1) / chunk).toInt

  /** The meta of a (dimZ, dimY, dimX) volume on a uniform
    * (chunkZ, chunkY, chunkX) grid, ragged at the far edges.
    */
  def uniform(dimZ: Long, dimY: Long, dimX: Long, chunkZ: Int, chunkY: Int, chunkX: Int,
      elementType: String, spacing: (Double, Double, Double) = (1.0, 1.0, 1.0)): VolumeMeta =
    VolumeMeta(dimZ, dimY, dimX, chunkZ, chunkY, chunkX,
      cells(dimZ, chunkZ), cells(dimY, chunkY), cells(dimX, chunkX), elementType,
      spacingX = spacing._1, spacingY = spacing._2, spacingZ = spacing._3)
}

/** A distributed dense 3D volume: Dataset[Chunk] + metadata. The engine's
  * scale-path representation (SURVEY.md §2.7): every transform below is
  * chunk-local (upscale, decimate), an aggregate of per-chunk partials, or
  * moves chunk bodies through the one scatter-and-assemble step
  * [[assemble]] (rechunk, outline, the halo stencils) — each body byte
  * once.
  */
final case class ChunkVolume(chunks: Dataset[Chunk], meta: VolumeMeta) {
  import ChunkVolume._

  private def spark: SparkSession = chunks.sparkSession

  /** The driver-side reader of one grid cell, set only by
    * [[ChunkVolume.ofCells]] on the volume a zarr reader returns. Every
    * derived volume (`copy`, upscale, rechunk, a filter) is a new
    * instance, so it has none and its lookups run on Spark.
    */
  private var cellLoader: Option[CellLoader] = None

  /** Nearest-neighbor ×s upscale (T1 scale path): each chunk emits its
    * children on `meta.upscaled(s)`'s grid (s³ for an interior chunk) —
    * embarrassingly parallel, zero shuffle, unlike the reference's output
    * rechunk (upscale_streaming.py:126).
    *
    * `reuseChildBuffers = true` emits every child in ONE shared per-task
    * buffer, eliding the JVM zeroing of s³ fresh arrays per input chunk —
    * a full extra memory-write pass over the upscaled volume (46% of the
    * ×15 kernel single-thread, OPTIMIZATION_r21.md §6). OPT-IN ONLY: the
    * downstream plan must be a strictly-streaming object chain that fully
    * consumes each chunk before the next (the foreachPartition sink
    * writers are; any plan that retains, collects, sorts or shuffles Chunk
    * objects is NOT). UpscaleIdentitySpec pins store-byte identity between
    * the two forms through every sink.
    */
  def upscale(s: Int, reuseChildBuffers: Boolean = false): ChunkVolume = {
    require(s >= 1, s"scale must be >= 1, got $s")
    if (s == 1) return this
    val m = meta // tasks capture the meta, not this volume
    import chunks.sparkSession.implicits._
    val out = chunks.flatMap(_.children(s, m, srcZOff = 0, iLo = 0, iHi = s, reuseChildBuffers))
    ChunkVolume(out, meta.upscaled(s))
  }

  /** Stride-2 decimation (T3) on the global lattice; chunk-local. */
  def decimate(): ChunkVolume = {
    val bpp = meta.bytesPerVoxel
    import chunks.sparkSession.implicits._
    val out = chunks.flatMap { c =>
      val (z0, y0, x0, nz, ny, nx, data) =
        ChunkKernels.decimate(c.data, c.z0, c.y0, c.x0, c.nz, c.ny, c.nx, bpp)
      if (nz == 0 || ny == 0 || nx == 0) Iterator.empty
      else Iterator.single(Chunk(c.cz, c.cy, c.cx, z0, y0, x0, nz, ny, nx, data))
    }
    ChunkVolume(out, meta.copy(
      dimZ = (meta.dimZ + 1) / 2, dimY = (meta.dimY + 1) / 2, dimX = (meta.dimX + 1) / 2,
      chunkZ = (meta.chunkZ + 1) / 2, chunkY = (meta.chunkY + 1) / 2, chunkX = (meta.chunkX + 1) / 2))
  }

  /** Multiscale pyramid: level 0 = this, level i+1 = decimate(level i). */
  def pyramid(levels: Int): Seq[ChunkVolume] = {
    require(levels >= 1, s"levels must be >= 1, got $levels")
    (1 until levels).scanLeft(this)((prev, _) => prev.decimate())
  }

  /** 2×2×2 MEAN-pooled pyramid level (floor of the block mean) — the
    * intensity-volume downscale the OME-NGFF ecosystem defaults to,
    * where [[decimate]] is the label-volume one (the reference's own
    * choice for its categorical atlas, upscale_streaming_enhance.py:125).
    *
    * Chunk grids need not align with the 2-block lattice (this fixture's
    * (5,6,7) grid deliberately doesn't): each chunk reduces ITSELF to
    * partial (sum, count) rows at pooled granularity — a chunk-local
    * kernel pass emitting ~n/8 rows per chunk — and one groupBy merges
    * the ≤8 partials of each straddled boundary block. The shuffle
    * carries only the POOLED lattice partials (~volume/8 + boundary
    * terms); the chunk bodies never move. Volume-edge blocks average
    * their in-range voxels (count < 8), matching the SQL group-by
    * semantics exactly.
    *
    * Returns the level-1 VOXEL frame; chunk-store re-packing is
    * [[ChunkVolume.fromVoxels]] / rechunk (T4, each byte moves once).
    */
  def meanPoolVoxels: DataFrame = {
    require(!meta.isFloating, s"meanPoolVoxels requires an integral element type, got ${meta.elementType}")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    import chunks.sparkSession.implicits._
    chunks.flatMap { c =>
      // pooled-lattice extent this chunk touches (coords are non-negative)
      val pz0 = c.z0 / 2; val py0 = c.y0 / 2; val px0 = c.x0 / 2
      val onz = ((c.z0 + c.nz - 1) / 2 - pz0 + 1).toInt
      val ony = ((c.y0 + c.ny - 1) / 2 - py0 + 1).toInt
      val onx = ((c.x0 + c.nx - 1) / 2 - px0 + 1).toInt
      val sums = new Array[Long](onz * ony * onx)
      val cnts = new Array[Long](onz * ony * onx)
      var z = 0
      while (z < c.nz) {
        val oz = ((c.z0 + z) / 2 - pz0).toInt
        var y = 0
        while (y < c.ny) {
          val oy = ((c.y0 + y) / 2 - py0).toInt
          var x = 0
          while (x < c.nx) {
            val ox = ((c.x0 + x) / 2 - px0).toInt
            val o = (oz * ony + oy) * onx + ox
            sums(o) += ChunkKernels.decodeLong(c.data, (z * c.ny + y) * c.nx + x, bpp, unsigned)
            cnts(o) += 1
            x += 1
          }
          y += 1
        }
        z += 1
      }
      Iterator.range(0, onz * ony * onx).filter(cnts(_) > 0).map { o =>
        val oz = o / (ony * onx); val rem = o % (ony * onx)
        (pz0 + oz, py0 + rem / onx, px0 + rem % onx, sums(o), cnts(o))
      }
    }.toDF("z", "y", "x", "s", "n")
      .groupBy(col("z"), col("y"), col("x"))
      .agg(expr("sum(s) div sum(n)").as("label"))
  }

  /** 2×2×2 MAX-pooled pyramid level, chunk form — see [[meanPoolVoxels]]
    * for the partial-rows design (this is the same shape with max
    * partials instead of (sum, count) pairs: each chunk reduces itself
    * to per-pooled-block maxima, one groupBy merges the ≤8 partials of
    * straddled boundary blocks). The mask / distance-map downscale,
    * where a block survives iff ANY of its voxels did.
    */
  def maxPoolVoxels: DataFrame = {
    require(!meta.isFloating, s"maxPoolVoxels requires an integral element type, got ${meta.elementType}")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    import chunks.sparkSession.implicits._
    chunks.flatMap { c =>
      val pz0 = c.z0 / 2; val py0 = c.y0 / 2; val px0 = c.x0 / 2
      val onz = ((c.z0 + c.nz - 1) / 2 - pz0 + 1).toInt
      val ony = ((c.y0 + c.ny - 1) / 2 - py0 + 1).toInt
      val onx = ((c.x0 + c.nx - 1) / 2 - px0 + 1).toInt
      val maxs = Array.fill(onz * ony * onx)(Long.MinValue)
      var z = 0
      while (z < c.nz) {
        val oz = ((c.z0 + z) / 2 - pz0).toInt
        var y = 0
        while (y < c.ny) {
          val oy = ((c.y0 + y) / 2 - py0).toInt
          var x = 0
          while (x < c.nx) {
            val ox = ((c.x0 + x) / 2 - px0).toInt
            val o = (oz * ony + oy) * onx + ox
            val v = ChunkKernels.decodeLong(c.data, (z * c.ny + y) * c.nx + x, bpp, unsigned)
            if (v > maxs(o)) maxs(o) = v
            x += 1
          }
          y += 1
        }
        z += 1
      }
      Iterator.range(0, onz * ony * onx).filter(maxs(_) != Long.MinValue).map { o =>
        val oz = o / (ony * onx); val rem = o % (ony * onx)
        (pz0 + oz, py0 + rem / onx, px0 + rem % onx, maxs(o))
      }
    }.toDF("z", "y", "x", "m")
      .groupBy(col("z"), col("y"), col("x"))
      .agg(max(col("m")).as("label"))
  }

  /** Outline / edge extraction (T2 scale path): a voxel keeps its label
    * iff it differs from ≥1 of its 6 face neighbors, with wrap-around at
    * the volume edges (da.roll parity, upscale_streaming_enhance.py:107–119).
    * The faces-only, thickness-1, wrapping case of the halo stencils:
    * each chunk's core and its 6 face planes go through [[assemble]], a
    * plane that crosses the volume edge landing in the far cell's pad
    * ([[haloPieces]]), then one kernel pass reads the padded frame. Body
    * bytes move once plus the face planes (≈ 2·(1/cz+1/cy+1/cx) of the
    * body), vs SIX body shuffles for the long-form self-join.
    */
  def outline(): ChunkVolume = {
    val bpp = meta.bytesPerVoxel
    import chunks.sparkSession.implicits._
    val out = assemble(haloPieces(1, facesOnly = true, wrap = true), pad = 1) { c =>
      Iterator.single(c.copy(data = ChunkKernels.outline(c.data, c.nz, c.ny, c.nx, bpp)))
    }
    ChunkVolume(out, meta)
  }

  /** 3×3×3 box-filter SUM with full 26-neighbor halo exchange — the
    * general dense-stencil pattern (smoothing / local density /
    * convolution) that [[outline]]'s 6-face exchange is the special case
    * of. Each chunk sends the thickness-1 slab adjacent to each of its
    * 26 grid neighbors (the diagonal slabs are asymptotically free), the
    * receiver assembles a zero-padded (nz+2)·(ny+2)·(nx+2) frame and one
    * dense kernel pass sums the 27 neighbors of every core cell. Volume
    * edges are ZERO-padded: a blur must not bleed across the volume
    * boundary.
    *
    * Returns voxel rows (z,y,x,boxsum) for the relational surface —
    * sums of uint32 labels exceed the input dtype, and the store has no
    * 8-byte integer element type, so a chunk-native result would be a
    * lossy cast. Body bytes move once ([[assemble]]); a separable 3-pass
    * (z,y,x) variant trades 3 body moves for face-only halos and wins
    * only when chunks are so small the diagonal shell dominates.
    */
  def boxSumVoxels: DataFrame =
    haloStencilVoxels("boxsum", facesOnly = false)(ChunkKernels.boxSum3(_, _, _, _, _, _))

  /** 6-neighbor grayscale EROSION (min filter) as voxel rows — see
    * [[morphVoxels]].
    */
  def erodeVoxels: DataFrame = morphVoxels(isMin = true)

  /** 6-neighbor grayscale DILATION (max filter) as voxel rows — see
    * [[morphVoxels]].
    */
  def dilateVoxels: DataFrame = morphVoxels(isMin = false)

  /** Morphological min/max over the face-adjacent cross (the 6-neighbor
    * structuring element that matches [[outline]]'s boundary test and the
    * CC gates' 6-adjacency). Same halo machinery as [[boxSumVoxels]] but
    * the cross kernel only reads FACE neighbors, so only the 6 face planes
    * ship — no edge/corner slabs. Zero padding at the volume border means
    * a nonnegative volume ERODES to 0 on its outermost shell (out-of-volume
    * is background) while dilation is unaffected; binary opening/closing
    * compose the two forms.
    */
  private def morphVoxels(isMin: Boolean): DataFrame =
    haloStencilVoxels("label", facesOnly = true)(
      ChunkKernels.morph6(_, _, _, _, _, _, isMin))

  /** Distance transform by erosion peeling, capped at `cap`: per voxel,
    * min(manhattan distance to the nearest background voxel or volume
    * border, cap); background stays 0. The chunk form runs ALL cap−1
    * peeling rounds locally after ONE halo exchange of thickness cap−1
    * (a k-round stencil needs a radius-k neighborhood, shipped once —
    * the deep-halo pattern), vs the voxel form's cap−1 chained shuffle
    * aggregations. Halo bytes ≈ 2(cap−1)·(1/cz+1/cy+1/cx) of the body;
    * requires cap−1 ≤ every chunk dim (at scale chunks ≫ cap — tiny
    * chunks would need multi-hop halos).
    */
  def erosionDepthVoxels(cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val t = cap - 1
    // the halo is ONE hop: every chunk incl. grid remainders must be at
    // least t thick, or a radius-t neighborhood would span 2+ chunks
    def minDim(dim: Long, chunk: Int): Long =
      if (dim % chunk == 0) chunk.toLong else math.min(chunk.toLong, dim % chunk)
    val mins = (minDim(meta.dimZ, meta.chunkZ), minDim(meta.dimY, meta.chunkY), minDim(meta.dimX, meta.chunkX))
    require(t <= mins._1 && t <= mins._2 && t <= mins._3,
      s"cap-1 = $t exceeds a chunk dimension (incl. remainders) $mins — rechunk first")
    haloStencilVoxels("depth", facesOnly = false, thickness = math.max(t, 1))(
      ChunkKernels.erodeDepth(_, _, _, _, _, _, math.max(t, 1), t))
  }

  /** ROI crop: voxels of the half-open box [z0,z1)×[y0,y1)×[x0,x1),
    * PRUNED at the chunk level first by [[intersecting]] (the P4
    * point-lookup contract generalized to boxes), then each surviving
    * chunk trims to its intersection with one extractBox. No shuffle
    * anywhere; cost is O(chunks ∩ ROI).
    */
  def cropVoxels(z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long): DataFrame = {
    require(z0 < z1 && y0 < y1 && x0 < x1, s"empty ROI [$z0,$z1)×[$y0,$y1)×[$x0,$x1)")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    import chunks.sparkSession.implicits._
    intersecting(z0, z1, y0, y1, x0, x1)
      .flatMap { c =>
        val bz = math.max(z0, c.z0); val ez = math.min(z1, c.z0 + c.nz)
        val by = math.max(y0, c.y0); val ey = math.min(y1, c.y0 + c.ny)
        val bx = math.max(x0, c.x0); val ex = math.min(x1, c.x0 + c.nx)
        val (nz, ny, nx) = ((ez - bz).toInt, (ey - by).toInt, (ex - bx).toInt)
        val box = ChunkKernels.extractBox(c.data, c.ny, c.nx, bpp,
          (bz - c.z0).toInt, (by - c.y0).toInt, (bx - c.x0).toInt, nz, ny, nx)
        Iterator.range(0, nz * ny * nx).map { i =>
          val z = i / (ny * nx); val rem = i % (ny * nx)
          (bz + z, by + rem / nx, bx + rem % nx, ChunkKernels.decodeLong(box, i, bpp, unsigned))
        }
      }
      .toDF("z", "y", "x", "label")
  }

  /** The chunks that meet the half-open box [z0,z1)×[y0,y1)×[x0,x1), as
    * one Column predicate on the geometry columns. On a zarr read
    * Catalyst pushes it below the decode projection, so a dropped chunk's
    * file is never read. Chunks from an MHD or TIFF scan are all read,
    * then dropped here.
    */
  private def intersecting(z0: Long, z1: Long, y0: Long, y1: Long, x0: Long, x1: Long): Dataset[Chunk] =
    chunks.filter(col("z0") < z1 && lit(z0) < col("z0") + col("nz")
      && col("y0") < y1 && lit(y0) < col("y0") + col("ny")
      && col("x0") < x1 && lit(x0) < col("x0") + col("nx"))

  /** Maximum-intensity projection along z, chunk form: each chunk
    * collapses its own z-extent to ONE (ny·nx) plane locally (body never
    * leaves the task), then planes merge per (y, x) in a map-side-
    * combined MAX aggregation — the shuffle carries ncz plane rows per
    * column chunk, ~1/chunkZ of the volume.
    */
  def mipZVoxels: DataFrame = {
    require(!meta.isFloating, s"mipZ requires an integral element type, got ${meta.elementType}")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    import chunks.sparkSession.implicits._
    chunks
      .flatMap { c =>
        val plane = new Array[Long](c.ny * c.nx)
        java.util.Arrays.fill(plane, Long.MinValue)
        var i = 0
        val n = c.nz * c.ny * c.nx
        while (i < n) {
          val v = ChunkKernels.decodeLong(c.data, i, bpp, unsigned)
          val j = i % (c.ny * c.nx)
          if (v > plane(j)) plane(j) = v
          i += 1
        }
        Iterator.range(0, c.ny * c.nx).map { j =>
          (c.y0 + j / c.nx, c.x0 + j % c.nx, plane(j))
        }
      }
      .toDF("y", "x", "label")
      .groupBy(col("y"), col("x"))
      .agg(max(col("label")).as("label"))
  }

  /** Per-label intensity statistics against a SECOND, identically-gridded
    * volume — the atlas-overlay quantification every registered-atlas
    * workflow ends in (this volume carries region labels, `intensity`
    * carries the measurement; reference: the ADMBA atlas is upscaled
    * precisely to be laid over imaging volumes). The two chunk streams
    * co-locate by chunk coordinate (one hash exchange each — chunk
    * bodies move once, nothing is amplified), each aligned pair folds to
    * per-chunk per-label partials (sum/count/min/max — a few rows per
    * label per chunk), and one tiny aggregation merges partials. At
    * 100 TB the shuffle after the join carries O(labels·chunks) partial
    * rows, never voxels.
    */
  def regionStatsAgainst(intensity: ChunkVolume): DataFrame = {
    val m = meta; val im = intensity.meta
    require(m.dimZ == im.dimZ && m.dimY == im.dimY && m.dimX == im.dimX
      && m.chunkZ == im.chunkZ && m.chunkY == im.chunkY && m.chunkX == im.chunkX,
      s"volumes must share dims and chunk grid: $m vs $im")
    require(!m.isFloating && !im.isFloating, "integral element types required")
    val (bppL, unsL) = (m.bytesPerVoxel, m.isUnsigned)
    val (bppI, unsI) = (im.bytesPerVoxel, im.isUnsigned)
    import chunks.sparkSession.implicits._
    chunks
      .joinWith(intensity.chunks,
        chunks("cz") === intensity.chunks("cz")
          && chunks("cy") === intensity.chunks("cy")
          && chunks("cx") === intensity.chunks("cx"))
      .flatMap { case (lc, ic) =>
        val n = lc.nz * lc.ny * lc.nx
        require(ic.nz == lc.nz && ic.ny == lc.ny && ic.nx == lc.nx,
          s"misaligned chunk (${lc.cz},${lc.cy},${lc.cx})")
        val acc = scala.collection.mutable.LongMap.empty[Array[Long]]
        var i = 0
        while (i < n) {
          val l = ChunkKernels.decodeLong(lc.data, i, bppL, unsL)
          val v = ChunkKernels.decodeLong(ic.data, i, bppI, unsI)
          val a = acc.getOrElseUpdate(l, Array(0L, 0L, Long.MaxValue, Long.MinValue))
          a(0) += v; a(1) += 1
          if (v < a(2)) a(2) = v
          if (v > a(3)) a(3) = v
          i += 1
        }
        acc.iterator.map { case (l, a) => (l, a(0), a(1), a(2), a(3)) }
      }
      .toDF("label", "s", "n", "mn", "mx")
      .groupBy(col("label"))
      .agg(sum(col("s")).as("sum_i"), sum(col("n")).as("n_voxels"),
        min(col("mn")).as("min_i"), max(col("mx")).as("max_i"))
      .select(col("label"), col("n_voxels"), col("sum_i"), col("min_i"), col("max_i"))
  }

  /** The halo stencils' plumbing: [[haloPieces]] without wrap (volume
    * edges are ZERO-padded, deliberately unlike [[outline]]'s wrap-around
    * roll parity), [[assemble]] with pad `thickness`, then
    * `kernel(padded, nz, ny, nx, bpp, unsigned)` produces the core cells
    * in C order. Zero bytes decode as 0 under every integral dtype, so
    * the untouched pad IS the zero padding.
    */
  private def haloStencilVoxels(outName: String, facesOnly: Boolean, thickness: Int = 1)(
      kernel: (Array[Byte], Int, Int, Int, Int, Boolean) => Array[Long]): DataFrame = {
    require(!meta.isFloating, s"halo stencil requires an integral element type, got ${meta.elementType}")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    import chunks.sparkSession.implicits._
    assemble(haloPieces(thickness, facesOnly, wrap = false), pad = thickness) { c =>
      val out = kernel(c.data, c.nz, c.ny, c.nx, bpp, unsigned)
      Iterator.range(0, c.nz * c.ny * c.nx).map { i =>
        val z = i / (c.ny * c.nx); val rem = i % (c.ny * c.nx)
        (c.z0 + z, c.y0 + rem / c.nx, c.x0 + rem % c.nx, out(i))
      }
    }.toDF("z", "y", "x", outName)
  }

  /** Each chunk as its own core piece plus the thickness-`t` slab it owes
    * each grid neighbor: the 6 face neighbors when `facesOnly` (kernels
    * that read no diagonal neighbor), else all 26 (faces = planes, edges
    * = lines, corners = blocks; the shell is ≈ 2t·(1/cz+1/cy+1/cx) of the
    * body). Past the volume edge there is no neighbor (zero padding)
    * unless `wrap`: then the slab goes to the cell on the far side with
    * its origin shifted by ∓dim, so it lands in that cell's −t…−1 or
    * n…n+t−1 pad — which also covers the 1- and 2-cell axes.
    */
  private def haloPieces(t: Int, facesOnly: Boolean, wrap: Boolean): Dataset[Piece] = {
    val bpp = meta.bytesPerVoxel
    val (ncz, ncy, ncx) = (meta.ncz, meta.ncy, meta.ncx)
    val (dimZ, dimY, dimX) = (meta.dimZ, meta.dimY, meta.dimX)
    import chunks.sparkSession.implicits._
    chunks.flatMap { c =>
      // the cell one step `d` from `cell` on an axis of `n` cells and
      // extent `dim`, and the origin shift of a slab sent there
      def hop(cell: Int, d: Int, n: Int, dim: Long): Option[(Int, Long)] =
        if (cell + d < 0) Option.when(wrap)((n - 1, dim))
        else if (cell + d >= n) Option.when(wrap)((0, -dim))
        else Some((cell + d, 0L))
      // local start and extent of the slab toward `d` on an axis of extent `n`
      def cut(d: Int, n: Int): (Int, Int) = {
        val k = math.min(t, n)
        if (d == 1) (n - k, k) else if (d == -1) (0, k) else (0, n)
      }
      val slabs = for {
        dz <- -1 to 1; dy <- -1 to 1; dx <- -1 to 1
        if (dz != 0 || dy != 0 || dx != 0) && (!facesOnly || dz.abs + dy.abs + dx.abs == 1)
        (tz, sz) <- hop(c.cz, dz, ncz, dimZ)
        (ty, sy) <- hop(c.cy, dy, ncy, dimY)
        (tx, sx) <- hop(c.cx, dx, ncx, dimX)
      } yield {
        val (bz, bnz) = cut(dz, c.nz); val (by, bny) = cut(dy, c.ny); val (bx, bnx) = cut(dx, c.nx)
        (tz, ty, tx, false, c.z0 + bz + sz, c.y0 + by + sy, c.x0 + bx + sx, bnz, bny, bnx,
          ChunkKernels.extractBox(c.data, c.ny, c.nx, bpp, bz, by, bx, bnz, bny, bnx))
      }
      Iterator.single((c.cz, c.cy, c.cx, true, c.z0, c.y0, c.x0, c.nz, c.ny, c.nx, c.data)) ++ slabs
    }
  }

  /** Re-block to a new uniform chunk grid (T4, the reference's
    * `up.rechunk(out_chunks)` — upscale_streaming.py:126), an explicit
    * opt-in: each chunk cuts the sub-boxes that meet target cells and
    * [[assemble]] places them into each target cell, allocated once from
    * the new grid. Shuffled bytes = the volume body exactly once (no
    * halo, no amplification).
    */
  def rechunk(newChunkZ: Int, newChunkY: Int, newChunkX: Int): ChunkVolume = {
    val bpp = meta.bytesPerVoxel
    val grid = VolumeMeta.uniform(meta.dimZ, meta.dimY, meta.dimX, newChunkZ, newChunkY, newChunkX,
      meta.elementType, (meta.spacingX, meta.spacingY, meta.spacingZ))
    import chunks.sparkSession.implicits._
    val pieces = chunks.flatMap { c =>
      for {
        tz <- ((c.z0 / newChunkZ) to ((c.z0 + c.nz - 1) / newChunkZ)).iterator
        ty <- ((c.y0 / newChunkY) to ((c.y0 + c.ny - 1) / newChunkY)).iterator
        tx <- ((c.x0 / newChunkX) to ((c.x0 + c.nx - 1) / newChunkX)).iterator
      } yield {
        // intersection of this chunk with target chunk (tz,ty,tx), global
        val gz0 = math.max(c.z0, tz * newChunkZ); val gz1 = math.min(c.z0 + c.nz, (tz + 1) * newChunkZ)
        val gy0 = math.max(c.y0, ty * newChunkY); val gy1 = math.min(c.y0 + c.ny, (ty + 1) * newChunkY)
        val gx0 = math.max(c.x0, tx * newChunkX); val gx1 = math.min(c.x0 + c.nx, (tx + 1) * newChunkX)
        val (bnz, bny, bnx) = ((gz1 - gz0).toInt, (gy1 - gy0).toInt, (gx1 - gx0).toInt)
        (tz.toInt, ty.toInt, tx.toInt, false, gz0, gy0, gx0, bnz, bny, bnx, ChunkKernels.extractBox(
          c.data, c.ny, c.nx, bpp, (gz0 - c.z0).toInt, (gy0 - c.y0).toInt, (gx0 - c.x0).toInt, bnz, bny, bnx))
      }
    }
    ChunkVolume(assemble(pieces, pad = 0, Some(grid))(Iterator.single(_)), grid)
  }

  /** The one step that moves chunk bodies ([[rechunk]], [[outline]], the
    * halo stencils): ONE groupByKey on the pieces' target cells, then
    * each cell places its pieces by global origin (`ChunkKernels.placeBox`)
    * into one zeroed frame, the cell's extent padded by `pad` voxels a
    * side, and `emit` turns the cell — a Chunk whose `data` is that
    * frame — into output rows. The extent is `grid.cell` when a grid is
    * given (pieces stream into the frame), else the cell's core piece's:
    * [[decimate]] leaves a grid that is not uniform, so `meta.cell` would
    * misplace a halo stencil run on it. Each body byte moves once.
    */
  private def assemble[U: Encoder](pieces: Dataset[Piece], pad: Int, grid: Option[VolumeMeta] = None)(
      emit: Chunk => Iterator[U]): Dataset[U] = {
    val bpp = meta.bytesPerVoxel
    import chunks.sparkSession.implicits._
    pieces.groupByKey(p => (p._1, p._2, p._3)).flatMapGroups { (key, it) =>
      val (cz, cy, cx) = key
      val (parts, (z0, y0, x0, nz, ny, nx)) = grid match {
        case Some(g) => (it, g.cell(cz, cy, cx))
        case None =>
          val all = it.toArray
          val core = all.find(_._4).get
          (all.iterator, (core._5, core._6, core._7, core._8, core._9, core._10))
      }
      val (py, px) = (ny + 2 * pad, nx + 2 * pad)
      val frame = new Array[Byte]((nz + 2 * pad) * py * px * bpp)
      parts.foreach { case (_, _, _, _, gz0, gy0, gx0, bnz, bny, bnx, data) =>
        ChunkKernels.placeBox(frame, py, px, bpp,
          (gz0 - z0 + pad).toInt, (gy0 - y0 + pad).toInt, (gx0 - x0 + pad).toInt, bnz, bny, bnx, data)
      }
      emit(Chunk(cz, cy, cx, z0, y0, x0, nz, ny, nx, frame))
    }
  }

  /** Long-form VoxelTable view: DataFrame(z,y,x,label) — for joining into
    * the relational surface. Integral element types only.
    */
  def toVoxels: DataFrame = {
    require(!meta.isFloating, s"toVoxels requires an integral element type, got ${meta.elementType}")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    import chunks.sparkSession.implicits._
    chunks.flatMap { c =>
      Iterator.range(0, c.nz).flatMap { z =>
        Iterator.range(0, c.ny).flatMap { y =>
          Iterator.range(0, c.nx).map { x =>
            val i = (z * c.ny + y) * c.nx + x
            (c.z0 + z, c.y0 + y, c.x0 + x, ChunkKernels.decodeLong(c.data, i, bpp, unsigned))
          }
        }
      }
    }.toDF("z", "y", "x", "label")
  }

  /** Full-volume upscale verification, chunk form (J2 scale path —
    * verify_labels.py's invariant generalized to EVERY voxel without
    * materializing rows): each upscaled child chunk joins its parent
    * chunk (a join over CHUNK rows, |chunks|·s³ of them, not voxels) and
    * a byte kernel asserts label preservation element-wise. Returns
    * one row: (n_checked, n_match). `up` must be on `meta.upscaled(s)`'s
    * grid (dims, chunk shape and grid counts; not spacing), else the join
    * would silently drop children: IllegalArgumentException.
    */
  def verifyUpscale(up: ChunkVolume, s: Int): DataFrame = {
    def grid(m: VolumeMeta) = s"dims (${m.dimZ},${m.dimY},${m.dimX}) " +
      s"chunks (${m.chunkZ},${m.chunkY},${m.chunkX}) grid (${m.ncz},${m.ncy},${m.ncx})"
    require(grid(up.meta) == grid(meta.upscaled(s)),
      s"verifyUpscale: ${grid(up.meta)} is not the x$s grid of ${grid(meta)}")
    val bpp = meta.bytesPerVoxel
    val (gz, gy, gx) = meta.chunkShape
    import chunks.sparkSession.implicits._
    val parents = chunks
      .map(c => (c.cz, c.cy, c.cx, c.ny, c.nx, c.data))
      .toDF("pz", "py", "px", "pny", "pnx", "pdata")
    val children = up.chunks
      .map(c => (c.cz / s, c.cy / s, c.cx / s, c.cz % s, c.cy % s, c.cx % s, c.nz, c.ny, c.nx, c.data))
      .toDF("pz", "py", "px", "i", "j", "k", "nz", "ny", "nx", "data")
    children.join(parents, Seq("pz", "py", "px"))
      .select(col("i"), col("j"), col("k"), col("nz"), col("ny"), col("nx"),
        col("data"), col("pny"), col("pnx"), col("pdata"))
      .as[(Int, Int, Int, Int, Int, Int, Array[Byte], Int, Int, Array[Byte])]
      .map { case (i, j, k, nz, ny, nx, data, pny, pnx, pdata) =>
        var checked = 0L
        var matched = 0L
        var zc = 0
        while (zc < nz) {
          val sz = (i * gz + zc) / s
          var yc = 0
          while (yc < ny) {
            val sy = (j * gy + yc) / s
            var xc = 0
            while (xc < nx) {
              val sx = (k * gx + xc) / s
              val ci = (zc * ny + yc) * nx + xc
              val pi = (sz * pny + sy) * pnx + sx
              checked += 1
              var b = 0
              var eq = true
              while (b < bpp && eq) {
                if (data(ci * bpp + b) != pdata(pi * bpp + b)) eq = false
                b += 1
              }
              if (eq) matched += 1
              xc += 1
            }
            yc += 1
          }
          zc += 1
        }
        (checked, matched)
      }
      .toDF("c", "m")
      .agg(sum(col("c")).as("n_checked"), sum(col("m")).as("n_match"))
  }

  /** Label histogram, chunk form (A-hist scale path): counts accumulate
    * inside each chunk's byte kernel (one map per chunk), then a partial+
    * final aggregate merges (label, n) pairs — the volume body never
    * explodes into rows. The long-form twin is [[VoxelOps.histogram]].
    */
  def histogram(): DataFrame = {
    require(!meta.isFloating, "histogram decodes integral labels")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    import chunks.sparkSession.implicits._
    chunks.flatMap { c =>
      val counts = new java.util.HashMap[Long, Long]()
      val n = c.nz * c.ny * c.nx
      var i = 0
      while (i < n) {
        val label = ChunkKernels.decodeLong(c.data, i, bpp, unsigned)
        counts.merge(label, 1L, (a, b) => a + b)
        i += 1
      }
      import scala.jdk.CollectionConverters._
      counts.asScala.iterator.map { case (k, v) => (k, v) }
    }.toDF("label", "n_partial")
      .groupBy(col("label")).agg(sum(col("n_partial")).as("n"))
      .orderBy(col("label"))
  }

  /** Long-form view for floating element types: DataFrame(z,y,x,value). */
  def toVoxelsDouble: DataFrame = {
    require(meta.isFloating, s"toVoxelsDouble requires MET_FLOAT/MET_DOUBLE, got ${meta.elementType}")
    val bpp = meta.bytesPerVoxel
    import chunks.sparkSession.implicits._
    chunks.flatMap { c =>
      Iterator.range(0, c.nz).flatMap { z =>
        Iterator.range(0, c.ny).flatMap { y =>
          Iterator.range(0, c.nx).map { x =>
            val i = (z * c.ny + y) * c.nx + x
            val bits = ChunkKernels.decodeLong(c.data, i, bpp, unsigned = true)
            val v = if (bpp == 4) java.lang.Float.intBitsToFloat(bits.toInt).toDouble
                    else java.lang.Double.longBitsToDouble(bits)
            (c.z0 + z, c.y0 + y, c.x0 + x, v)
          }
        }
      }
    }.toDF("z", "y", "x", "value")
  }

  /** Point lookup WITHOUT a volume scan (P4): the value at (z, y, x), or
    * `None` off the array. On the volume a zarr reader returns, the owning
    * grid cell is found from `meta` and read and decoded on the driver by
    * the reader's own cell loader, so the lookup runs no Spark job and
    * reads one chunk file (a shard's index and one blob when sharded), as
    * verify_labels.py:21 / view_with_labels.py:24 read one zarr chunk.
    * Every other volume, a volume derived from a zarr read included, runs
    * a job: the one-voxel box of [[intersecting]] keeps only the owning
    * chunk, then one element is decoded. Its predicate prunes below the
    * decode on a zarr grid; MHD and TIFF reads still read their chunks in
    * partition order until the owner turns up.
    */
  def pointLookup(z: Long, y: Long, x: Long): Option[Long] = {
    require(!meta.isFloating, "pointLookup decodes integral labels")
    val bpp = meta.bytesPerVoxel
    val unsigned = meta.isUnsigned
    cellLoader match {
      case Some(load) =>
        if (z < 0 || y < 0 || x < 0 || z >= meta.dimZ || y >= meta.dimY || x >= meta.dimX) None
        else Some(valueAt(load((z / meta.chunkZ).toInt, (y / meta.chunkY).toInt, (x / meta.chunkX).toInt),
          z, y, x, bpp, unsigned))
      case None =>
        import chunks.sparkSession.implicits._
        intersecting(z, z + 1, y, y + 1, x, x + 1)
          .map(valueAt(_, z, y, x, bpp, unsigned))
          .take(1).headOption
    }
  }
}

object ChunkVolume {

  /** Assemble a ChunkVolume from a dense VoxelTable (z,y,x,label) on a
    * uniform chunk grid — the inverse of toVoxels. Voxels absent from the
    * input decode as 0 (background).
    */
  def fromVoxels(
      vox: DataFrame,
      dimZ: Long, dimY: Long, dimX: Long,
      chunkZ: Int, chunkY: Int, chunkX: Int,
      elementType: String = "MET_UINT",
      spacing: (Double, Double, Double) = (1.0, 1.0, 1.0),
  ): ChunkVolume = {
    val meta = VolumeMeta.uniform(dimZ, dimY, dimX, chunkZ, chunkY, chunkX, elementType, spacing)
    val bpp = meta.bytesPerVoxel
    val spark = vox.sparkSession
    import spark.implicits._
    val out = vox
      .select(col("z").cast("long"), col("y").cast("long"), col("x").cast("long"), col("label").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey { case (z, y, x, _) => ((z / chunkZ).toInt, (y / chunkY).toInt, (x / chunkX).toInt) }
      .mapGroups { (key, it) =>
        val (cz, cy, cx) = key
        val (z0, y0, x0, nz, ny, nx) = meta.cell(cz, cy, cx)
        val data = new Array[Byte](nz * ny * nx * bpp)
        it.foreach { case (z, y, x, label) =>
          val i = ((z - z0).toInt * ny + (y - y0).toInt) * nx + (x - x0).toInt
          ChunkKernels.encodeLong(label, data, i, bpp)
        }
        Chunk(cz, cy, cx, z0, y0, x0, nz, ny, nx, data)
      }
    ChunkVolume(out, meta)
  }

  /** A box of chunk body bound for grid cell (cz, cy, cx) — whether it
    * is that cell's own core, its global origin (z0, y0, x0), extents
    * (nz, ny, nx) and C-order bytes — the unit [[ChunkVolume.assemble]]
    * moves.
    */
  private type Piece = (Int, Int, Int, Boolean, Long, Long, Long, Int, Int, Int, Array[Byte])

  /** Reads grid cell (cz, cy, cx) of a volume's `meta` on the driver. */
  private[graft] type CellLoader = (Int, Int, Int) => Chunk

  /** The volume of a store reader whose `chunks` hold, at each grid cell
    * of `meta`, exactly the chunk `load` returns for it: its
    * [[ChunkVolume.pointLookup]] calls `load` instead of running a job.
    */
  private[volume] def ofCells(chunks: Dataset[Chunk], meta: VolumeMeta, load: CellLoader): ChunkVolume = {
    val v = ChunkVolume(chunks, meta)
    v.cellLoader = Some(load)
    v
  }

  /** The element of chunk `c` at global voxel (z, y, x), which `c` must hold. */
  private[volume] def valueAt(c: Chunk, z: Long, y: Long, x: Long, bpp: Int, unsigned: Boolean): Long =
    ChunkKernels.decodeLong(c.data,
      ((z - c.z0).toInt * c.ny + (y - c.y0).toInt) * c.nx + (x - c.x0).toInt, bpp, unsigned)

  private[volume] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
