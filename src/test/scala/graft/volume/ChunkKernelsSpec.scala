package graft.volume

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM kernel tests against brute-force reference implementations of
  * the reference's NumPy semantics (repeat / stride slice / roll stencil).
  * Parameter spaces are swept exhaustively — small dims cover every
  * alignment/edge combination.
  */
class ChunkKernelsSpec extends AnyFunSuite {

  /** little-endian u32 pack of a label function over (nz,ny,nx). */
  private def pack(nz: Int, ny: Int, nx: Int, f: (Int, Int, Int) => Long): Array[Byte] = {
    val data = new Array[Byte](nz * ny * nx * 4)
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx)
      ChunkKernels.encodeLong(f(z, y, x), data, (z * ny + y) * nx + x, 4)
    data
  }

  private def at(data: Array[Byte], ny: Int, nx: Int, z: Int, y: Int, x: Int): Long =
    ChunkKernels.decodeLong(data, (z * ny + y) * nx + x, 4, unsigned = true)

  test("decodeLong/encodeLong round-trip, signed and unsigned widths") {
    for (bpp <- Seq(1, 2, 4, 8)) {
      val maxU = if (bpp == 8) Long.MaxValue else (1L << (8 * bpp)) - 1
      for (v <- Seq(0L, 1L, maxU / 2, maxU)) {
        val a = new Array[Byte](bpp)
        ChunkKernels.encodeLong(v, a, 0, bpp)
        assert(ChunkKernels.decodeLong(a, 0, bpp, unsigned = true) === v)
      }
      // signed: -1 must sign-extend
      val a = new Array[Byte](bpp)
      ChunkKernels.encodeLong(-1L, a, 0, bpp)
      assert(ChunkKernels.decodeLong(a, 0, bpp, unsigned = false) === -1L)
    }
  }

  test("swapEndianInPlace reverses element bytes") {
    val a = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    ChunkKernels.swapEndianInPlace(a, 4)
    assert(a.toSeq === Seq[Byte](4, 3, 2, 1, 8, 7, 6, 5))
  }

  test("upscaleChildren: label preservation, coverage, s^3 count (exhaustive sweep)") {
    for (nz <- 1 to 4; ny <- 1 to 4; nx <- 1 to 4; s <- 1 to 3) {
      def label(z: Int, y: Int, x: Int): Long = (z * 100 + y * 10 + x + 7).toLong
      val data = pack(nz, ny, nx, label)
      val children = ChunkKernels.upscaleChildrenSlab(data, 0, nz, ny, nx, 4, s,
        iLo = 0, iHi = s, reuse = false).toSeq
      assert(children.size === s * s * s)
      for ((i, j, k, child) <- children; zc <- 0 until nz; yc <- 0 until ny; xc <- 0 until nx) {
        val gz = i * nz + zc; val gy = j * ny + yc; val gx = k * nx + xc
        val expected = label(gz / s, gy / s, gx / s)
        assert(at(child, ny, nx, zc, yc, xc) === expected,
          s"child($i,$j,$k) voxel($zc,$yc,$xc) global($gz,$gy,$gx) dims($nz,$ny,$nx) scale=$s")
      }
    }
  }

  test("decimate: global-parity stride slice (exhaustive sweep, arbitrary origin)") {
    for (nz <- 1 to 4; ny <- 1 to 4; nx <- 1 to 4; z0 <- 0L to 3L; y0 <- 0L to 2L; x0 <- 0L to 2L) {
      def label(z: Long, y: Long, x: Long): Long = z * 10000 + y * 100 + x
      val data = pack(nz, ny, nx, (z, y, x) => label(z0 + z, y0 + y, x0 + x))
      val (oz0, oy0, ox0, onz, ony, onx, out) =
        ChunkKernels.decimate(data, z0, y0, x0, nz, ny, nx, 4)
      val expected = for {
        z <- z0 until (z0 + nz) if z % 2 == 0
        y <- y0 until (y0 + ny) if y % 2 == 0
        x <- x0 until (x0 + nx) if x % 2 == 0
      } yield (z / 2, y / 2, x / 2, label(z, y, x))
      assert(onz.toLong * ony * onx === expected.size.toLong,
        s"dims($nz,$ny,$nx) origin($z0,$y0,$x0)")
      for ((ez, ey, ex, ev) <- expected) {
        val oz = (ez - oz0).toInt; val oy = (ey - oy0).toInt; val ox = (ex - ox0).toInt
        assert(at(out, ony, onx, oz, oy, ox) === ev)
      }
    }
  }

  test("outline: matches brute-force 6-neighbor wrap-around stencil") {
    // single chunk == whole volume: halo planes are the wrap-around faces
    val (nz, ny, nx) = (5, 4, 6)
    def label(z: Int, y: Int, x: Int): Long = (z / 2 * 100 + y / 2 * 10 + x / 3).toLong
    val data = pack(nz, ny, nx, label)
    import ChunkKernels._
    val out = outline(
      data, nz, ny, nx, 4,
      zm = planeZ(data, nz - 1, ny, nx, 4), zp = planeZ(data, 0, ny, nx, 4),
      ym = planeY(data, ny - 1, nz, ny, nx, 4), yp = planeY(data, 0, nz, ny, nx, 4),
      xm = planeX(data, nx - 1, nz, ny, nx, 4), xp = planeX(data, 0, nz, ny, nx, 4))
    for (z <- 0 until nz; y <- 0 until ny; x <- 0 until nx) {
      val v = label(z, y, x)
      val differs = Seq(
        label((z + 1) % nz, y, x), label((z + nz - 1) % nz, y, x),
        label(z, (y + 1) % ny, x), label(z, (y + ny - 1) % ny, x),
        label(z, y, (x + 1) % nx), label(z, y, (x + nx - 1) % nx),
      ).exists(_ != v)
      val expected = if (differs) v else 0L
      assert(at(out, ny, nx, z, y, x) === expected, s"voxel($z,$y,$x)")
    }
  }
}
