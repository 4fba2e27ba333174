package graft.volume

/** Per-chunk array kernels for dense volumes. All kernels operate on packed
  * C-order (z,y,x) byte blocks with a fixed element width `bpp`, which makes
  * them dtype-agnostic: nearest-neighbor upscale, decimation, and
  * boundary extraction only ever MOVE or BIT-COMPARE elements, never
  * interpret them (the moral equivalent of the reference's NumPy kernels —
  * upscale_streaming.py:94–99, upscale_streaming_enhance.py:107–139).
  *
  * Everything here is driver-free, shuffle-free, allocation-tight Scala run
  * inside executor tasks via ChunkVolume's flatMap/mapGroups plumbing.
  */
object ChunkKernels {

  /** Nearest-neighbor ×s upscale of one chunk, emitted as child chunks on
    * the OUTPUT's uniform grid of chunk shape `grid` (default: this chunk's
    * dims), so NO shuffle/rechunk is needed at any scale (unlike the
    * reference, which rechunks the 3375×-larger array back to input chunk
    * shape — Screenshots/upscale_streaming.png). Per axis, child i covers
    * parent-local output planes [i·g, min((i+1)·g, s·n)): s children of
    * the parent's dims for an interior chunk, fewer for a ragged edge
    * chunk, the last one trailing. Returns (i, j, k, childData) tuples.
    *
    * Emits only the children with z-index i ∈ [iLo, iHi) (all when
    * iLo = 0, iHi = s), from a source Z-SLAB: `data` holds the chunk's
    * source rows from `srcZOff` on in C order, while nz/ny/nx stay the FULL
    * chunk dims. Child i of extent cnz touches source z ∈ [⌊i·gz/s⌋,
    * ⌊(i·gz + cnz − 1)/s⌋], which the caller must cover: RawPayload.scan
    * plans a ×s upscale as one task per (chunk, child z-slab).
    *
    * `reuse = true` makes every full-size child SHARE one buffer (a
    * trailing child gets its own), overwritten on each `next()`: it elides
    * the JVM zeroing of s³ fresh arrays, measured at 46% of the ×15 kernel
    * (OPTIMIZATION_r21.md §6).
    * CONTRACT: callers must fully consume each child (encode/write/fold)
    * before advancing the iterator, and must never retain, collect, sort
    * or shuffle the emitted arrays — safe for the strictly-streaming
    * foreachPartition sink writers, NOT for general Dataset lineage (see
    * [[ChunkVolume.upscale]]). Every byte of the shared buffer is
    * overwritten for every child (each output row is either arraycopied
    * from an earlier row of the SAME child or element-filled in full),
    * pinned by UpscaleIdentitySpec against the allocating form.
    */
  def upscaleChildrenSlab(
      data: Array[Byte],
      srcZOff: Int,
      nz: Int,
      ny: Int,
      nx: Int,
      bpp: Int,
      s: Int,
      iLo: Int,
      iHi: Int,
      reuse: Boolean,
      grid: Option[(Int, Int, Int)] = None,
  ): Iterator[(Int, Int, Int, Array[Byte])] = {
    require(s >= 1, s"scale must be >= 1, got $s")
    val (gz, gy, gx) = grid.getOrElse((nz, ny, nx))
    require(nz <= gz && ny <= gy && nx <= gx, s"chunk ($nz,$ny,$nx) exceeds its grid cell ($gz,$gy,$gx)")
    val srcRowBytes = nx * bpp
    var shared: Array[Byte] = null
    for {
      i <- Iterator.range(iLo, iHi); cnz = childExtent(i, nz, gz, s) if cnz > 0
      j <- Iterator.range(0, s); cny = childExtent(j, ny, gy, s) if cny > 0
      k <- Iterator.range(0, s); cnx = childExtent(k, nx, gx, s) if cnx > 0
    } yield {
      val outRowBytes = cnx * bpp
      // fully overwritten below (allocBytes documents the measured
      // uninitialized-allocation discard)
      val out =
        if (reuse && cnz == gz && cny == gy && cnx == gx) {
          if (shared == null) shared = ByteKernels.allocBytes(gz * gy * gx * bpp)
          shared
        } else ByteKernels.allocBytes(cnz * cny * cnx * bpp)
      var lastSrcRowStart = -1
      var lastOutRowStart = -1
      var zc = 0
      while (zc < cnz) {
        val srcZ = (i * gz + zc) / s - srcZOff
        var yc = 0
        while (yc < cny) {
          val srcY = (j * gy + yc) / s
          val srcRowStart = (srcZ * ny + srcY) * srcRowBytes
          val outRowStart = (zc * cny + yc) * outRowBytes
          if (srcRowStart == lastSrcRowStart) {
            // same source row as the previous output row: bulk copy
            System.arraycopy(out, lastOutRowStart, out, outRowStart, outRowBytes)
          } else {
            var xc = 0
            while (xc < cnx) {
              val srcX = (k * gx + xc) / s
              System.arraycopy(data, srcRowStart + srcX * bpp, out, outRowStart + xc * bpp, bpp)
              xc += 1
            }
            lastSrcRowStart = srcRowStart
            lastOutRowStart = outRowStart
          }
          yc += 1
        }
        zc += 1
      }
      (i, j, k, out)
    }
  }

  /** Child i's extent on an axis of parent extent n, grid chunk g: ≤ 0 past the last. */
  def childExtent(i: Int, n: Int, g: Int, s: Int): Int = math.min(g, s * n - i * g)

  /** Stride-2 decimation on GLOBAL parity (so chunk boundaries don't shift
    * the sampling lattice). Returns (z0', y0', x0', nz', ny', nx', data')
    * — the decimated chunk's origin and dims in the level-(i+1) grid.
    * Empty chunks (no even-coordinate voxel in range) return nz'=0.
    */
  def decimate(
      data: Array[Byte],
      z0: Long,
      y0: Long,
      x0: Long,
      nz: Int,
      ny: Int,
      nx: Int,
      bpp: Int,
  ): (Long, Long, Long, Int, Int, Int, Array[Byte]) = {
    // first even global coordinate in [c0, c0+n)
    def firstEven(c0: Long): Long = c0 + (c0 % 2 + 2) % 2
    val ze = firstEven(z0); val ye = firstEven(y0); val xe = firstEven(x0)
    val onz = math.max(0L, (z0 + nz - ze + 1) / 2).toInt
    val ony = math.max(0L, (y0 + ny - ye + 1) / 2).toInt
    val onx = math.max(0L, (x0 + nx - xe + 1) / 2).toInt
    val out = ByteKernels.allocBytes(onz * ony * onx * bpp)
    val lz = (ze - z0).toInt; val ly = (ye - y0).toInt; val lx = (xe - x0).toInt
    var oz = 0
    while (oz < onz) {
      var oy = 0
      while (oy < ony) {
        val srcBase = (((lz + 2 * oz) * ny + (ly + 2 * oy)) * nx + lx) * bpp
        val outBase = ((oz * ony + oy) * onx) * bpp
        var ox = 0
        while (ox < onx) {
          System.arraycopy(data, srcBase + 2 * ox * bpp, out, outBase + ox * bpp, bpp)
          ox += 1
        }
        oy += 1
      }
      oz += 1
    }
    (ze / 2, ye / 2, xe / 2, onz, ony, onx, out)
  }

  /** 6-neighborhood outline stencil over the core cells of a
    * (nz+2)·(ny+2)·(nx+2) frame whose pad holds the face neighbors
    * (wrap-around is the caller's halo exchange — da.roll parity,
    * upscale_streaming_enhance.py:107–119). A voxel keeps its element iff
    * it differs bitwise from ≥1 face neighbor, else zeros, so any dtype
    * works. Returns nz·ny·nx elements in C order.
    */
  def outline(padded: Array[Byte], nz: Int, ny: Int, nx: Int, bpp: Int): Array[Byte] = {
    val py = ny + 2; val px = nx + 2
    val out = new Array[Byte](nz * ny * nx * bpp)

    @inline def neq(i: Int, j: Int): Boolean = {
      var b = 0
      while (b < bpp) {
        if (padded(i * bpp + b) != padded(j * bpp + b)) return true
        b += 1
      }
      false
    }

    var z = 0
    while (z < nz) {
      var y = 0
      while (y < ny) {
        val base = ((z + 1) * py + (y + 1)) * px + 1
        var x = 0
        while (x < nx) {
          val i = base + x
          if (neq(i, i + py * px) || neq(i, i - py * px) || neq(i, i + px) || neq(i, i - px) ||
              neq(i, i + 1) || neq(i, i - 1))
            System.arraycopy(padded, i * bpp, out, ((z * ny + y) * nx + x) * bpp, bpp)
          // else: leave zeros
          x += 1
        }
        y += 1
      }
      z += 1
    }
    out
  }

  /** Copy the local box [bz,bz+bnz)×[by,by+bny)×[bx,bx+bnx) out of a
    * (nz,ny,nx) chunk into a new contiguous block (the scatter step of
    * rechunk and the halo exchanges).
    */
  def extractBox(
      data: Array[Byte], ny: Int, nx: Int, bpp: Int,
      bz: Int, by: Int, bx: Int, bnz: Int, bny: Int, bnx: Int,
  ): Array[Byte] = {
    val out = ByteKernels.allocBytes(bnz * bny * bnx * bpp)
    extractBoxInto(data, ny, nx, bpp, bz, by, bx, bnz, bny, bnx, out)
    out
  }

  /** [[extractBox]] into a CALLER-OWNED buffer (must be exactly the box
    * size) — the hot-loop form: a sink cutting a TB-scale volume into
    * sub-chunks (the zarr3 sharded writer's inner cells) would otherwise
    * allocate AND zero-fill one fresh array per cell, and the JVM's
    * mandatory zeroing of `new Array` is a full extra write pass over
    * the entire volume. Every byte of `out` is overwritten.
    */
  def extractBoxInto(
      data: Array[Byte], ny: Int, nx: Int, bpp: Int,
      bz: Int, by: Int, bx: Int, bnz: Int, bny: Int, bnx: Int,
      out: Array[Byte],
  ): Unit = {
    require(out.length == bnz * bny * bnx * bpp,
      s"extractBoxInto buffer ${out.length} != box ${bnz * bny * bnx * bpp}")
    var z = 0
    while (z < bnz) {
      var y = 0
      while (y < bny) {
        System.arraycopy(
          data, (((bz + z) * ny + (by + y)) * nx + bx) * bpp,
          out, ((z * bny + y) * bnx) * bpp,
          bnx * bpp)
        y += 1
      }
      z += 1
    }
  }

  /** Place a (bnz,bny,bnx) block into a (nz,ny,nx) chunk at local offset
    * (bz,by,bx) (the assemble step of rechunk and the halo exchanges).
    */
  def placeBox(
      dst: Array[Byte], ny: Int, nx: Int, bpp: Int,
      bz: Int, by: Int, bx: Int, bnz: Int, bny: Int, bnx: Int,
      src: Array[Byte],
  ): Unit = {
    var z = 0
    while (z < bnz) {
      var y = 0
      while (y < bny) {
        System.arraycopy(
          src, ((z * bny + y) * bnx) * bpp,
          dst, (((bz + z) * ny + (by + y)) * nx + bx) * bpp,
          bnx * bpp)
        y += 1
      }
      z += 1
    }
  }

  /** Decode one element at linear index `i` to a widened Long
    * (little-endian packing; unsigned types widen, signed sign-extend).
    */
  def decodeLong(data: Array[Byte], i: Int, bpp: Int, unsigned: Boolean): Long = {
    var v = 0L
    var b = 0
    while (b < bpp) {
      v |= (data(i * bpp + b) & 0xffL) << (8 * b)
      b += 1
    }
    if (!unsigned && bpp < 8) {
      val shift = 64 - 8 * bpp
      (v << shift) >> shift // sign-extend
    } else v
  }

  /** Encode a widened Long back to `bpp` little-endian bytes at index `i`. */
  def encodeLong(v: Long, data: Array[Byte], i: Int, bpp: Int): Unit = {
    var b = 0
    while (b < bpp) {
      data(i * bpp + b) = ((v >>> (8 * b)) & 0xff).toByte
      b += 1
    }
  }

  /** 3×3×3 box SUM over the core cells of a zero-padded
    * (nz+2)·(ny+2)·(nx+2) byte frame (see [[ChunkVolume.boxSumVoxels]]
    * for the halo assembly). Separable inside the kernel: one 1-D
    * 3-tap pass per axis — 9 adds per cell instead of 27, exact integer
    * arithmetic throughout. Returns nz·ny·nx sums in C order.
    */
  def boxSum3(padded: Array[Byte], nz: Int, ny: Int, nx: Int, bpp: Int, unsigned: Boolean): Array[Long] = {
    val pz = nz + 2; val py = ny + 2; val px = nx + 2
    // pass 1 (x): A has dims (pz, py, nx)
    val a = new Array[Long](pz * py * nx)
    var z = 0
    while (z < pz) {
      var y = 0
      while (y < py) {
        val rowBase = (z * py + y) * px
        var x = 0
        while (x < nx) {
          a((z * py + y) * nx + x) =
            decodeLong(padded, rowBase + x, bpp, unsigned) +
            decodeLong(padded, rowBase + x + 1, bpp, unsigned) +
            decodeLong(padded, rowBase + x + 2, bpp, unsigned)
          x += 1
        }
        y += 1
      }
      z += 1
    }
    // pass 2 (y): B has dims (pz, ny, nx)
    val b = new Array[Long](pz * ny * nx)
    z = 0
    while (z < pz) {
      var y = 0
      while (y < ny) {
        var x = 0
        while (x < nx) {
          b((z * ny + y) * nx + x) =
            a((z * py + y) * nx + x) +
            a((z * py + y + 1) * nx + x) +
            a((z * py + y + 2) * nx + x)
          x += 1
        }
        y += 1
      }
      z += 1
    }
    // pass 3 (z): out has dims (nz, ny, nx)
    val out = new Array[Long](nz * ny * nx)
    z = 0
    while (z < nz) {
      var i = 0
      val n = ny * nx
      while (i < n) {
        out(z * n + i) = b(z * n + i) + b((z + 1) * n + i) + b((z + 2) * n + i)
        i += 1
      }
      z += 1
    }
    out
  }

  /** 6-neighbor (face-adjacent cross) grayscale morphology over the core
    * cells of a zero-padded (nz+2)·(ny+2)·(nx+2) byte frame (halo assembly
    * in [[ChunkVolume]]). `isMin = true` is EROSION (min over self + 6 face
    * neighbors — the zero pad makes out-of-volume read as 0, so a nonneg
    * volume erodes to 0 at its border), `isMin = false` is DILATION (max;
    * the zero pad never wins on a nonnegative volume). Binary open/close
    * compose these; on label volumes they are the standard grayscale
    * min/max filters. Returns nz·ny·nx values in C order.
    */
  def morph6(padded: Array[Byte], nz: Int, ny: Int, nx: Int, bpp: Int, unsigned: Boolean, isMin: Boolean): Array[Long] = {
    val py = ny + 2; val px = nx + 2
    val out = new Array[Long](nz * ny * nx)
    var z = 0
    while (z < nz) {
      var y = 0
      while (y < ny) {
        val base = ((z + 1) * py + (y + 1)) * px + 1
        var x = 0
        while (x < nx) {
          val i = base + x
          var v = decodeLong(padded, i, bpp, unsigned)
          @inline def acc(j: Int): Unit = {
            val n = decodeLong(padded, j, bpp, unsigned)
            if (if (isMin) n < v else n > v) v = n
          }
          acc(i - 1); acc(i + 1)
          acc(i - px); acc(i + px)
          acc(i - py * px); acc(i + py * px)
          out((z * ny + y) * nx + x) = v
          x += 1
        }
        y += 1
      }
      z += 1
    }
    out
  }

  /** Erosion-peeling distance transform over a zero-padded frame with pad
    * thickness `t`: runs `rounds` binary 6-neighbor erosions locally and
    * returns, per core cell, 0 for background else 1 + (# rounds
    * survived) == min(manhattan distance to nearest background/border,
    * rounds + 1). Pad cells erode too — after r rounds cells within
    * pad distance t − r of the core are still exact, so the core is
    * exact for rounds ≤ t (the deep-halo contract [[ChunkVolume]]
    * enforces).
    */
  def erodeDepth(padded: Array[Byte], nz: Int, ny: Int, nx: Int, bpp: Int,
      unsigned: Boolean, t: Int, rounds: Int): Array[Long] = {
    val pz = nz + 2 * t; val py = ny + 2 * t; val px = nx + 2 * t
    val n = pz * py * px
    var fg = new Array[Boolean](n)
    var i = 0
    while (i < n) { fg(i) = decodeLong(padded, i, bpp, unsigned) != 0; i += 1 }
    val out = new Array[Long](nz * ny * nx)
    @inline def coreIdx(z: Int, y: Int, x: Int) = ((z + t) * py + (y + t)) * px + (x + t)
    var z = 0
    while (z < nz) {
      var y = 0
      while (y < ny) {
        var x = 0
        while (x < nx) {
          if (fg(coreIdx(z, y, x))) out((z * ny + y) * nx + x) = 1L
          x += 1
        }
        y += 1
      }
      z += 1
    }
    var r = 0
    var next = new Array[Boolean](n)
    while (r < rounds) {
      java.util.Arrays.fill(next, false)
      var zz = 1
      while (zz < pz - 1) {
        var yy = 1
        while (yy < py - 1) {
          val rowBase = (zz * py + yy) * px
          var xx = 1
          while (xx < px - 1) {
            val j = rowBase + xx
            next(j) = fg(j) && fg(j - 1) && fg(j + 1) && fg(j - px) && fg(j + px) &&
              fg(j - py * px) && fg(j + py * px)
            xx += 1
          }
          yy += 1
        }
        zz += 1
      }
      val swap = fg; fg = next; next = swap
      z = 0
      while (z < nz) {
        var y = 0
        while (y < ny) {
          var x = 0
          while (x < nx) {
            if (fg(coreIdx(z, y, x))) out((z * ny + y) * nx + x) += 1L
            x += 1
          }
          y += 1
        }
        z += 1
      }
      r += 1
    }
    out
  }

  /** In-place big-endian → little-endian element swap (reader-side
    * normalization of ByteOrderMSB=True raws, upscale_streaming.py:51–53).
    */
  def swapEndianInPlace(data: Array[Byte], bpp: Int): Unit = {
    if (bpp > 1) {
      var i = 0
      while (i < data.length) {
        var a = 0
        var b = bpp - 1
        while (a < b) {
          val t = data(i + a); data(i + a) = data(i + b); data(i + b) = t
          a += 1; b -= 1
        }
        i += bpp
      }
    }
  }
}
