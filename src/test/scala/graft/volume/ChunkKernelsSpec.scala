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
    // interior parents (grid chunk = parent extent) make s children per
    // axis with the parent's dims; ragged parents (grid chunk > extent)
    // make ⌈s·n/c⌉, the last one trailing
    val ragged = Seq((1, 2, 3) -> (2, 3, 5), (3, 1, 2) -> (4, 4, 3), (2, 3, 1) -> (5, 4, 2),
      (3, 3, 3) -> (4, 5, 7))
    val cases =
      (for (nz <- 1 to 4; ny <- 1 to 4; nx <- 1 to 4; s <- 1 to 3) yield ((nz, ny, nx), (nz, ny, nx), s)) ++
        (for ((n, g) <- ragged; s <- Seq(2, 3, 7, 15)) yield (n, g, s))
    for (((nz, ny, nx), (cz, cy, cx), s) <- cases) {
      def label(z: Int, y: Int, x: Int): Long = (z * 100 + y * 10 + x + 7).toLong
      def count(n: Int, c: Int) = (s * n + c - 1) / c
      val what = s"dims($nz,$ny,$nx) grid($cz,$cy,$cx) scale=$s"
      val data = pack(nz, ny, nx, label)
      val children = ChunkKernels.upscaleChildrenSlab(data, 0, nz, ny, nx, 4, s,
        iLo = 0, iHi = s, reuse = false, grid = Some((cz, cy, cx))).toSeq
      assert(children.size === count(nz, cz) * count(ny, cy) * count(nx, cx), what)
      if ((nz, ny, nx) == ((cz, cy, cx))) assert(children.size === s * s * s, what)
      val covered = scala.collection.mutable.HashSet.empty[(Int, Int, Int)]
      for ((i, j, k, child) <- children) {
        val (cnz, cny, cnx) = (math.min(cz, s * nz - i * cz), math.min(cy, s * ny - j * cy),
          math.min(cx, s * nx - k * cx))
        assert(child.length === cnz * cny * cnx * 4, s"child($i,$j,$k) size, $what")
        for (zc <- 0 until cnz; yc <- 0 until cny; xc <- 0 until cnx) {
          val gz = i * cz + zc; val gy = j * cy + yc; val gx = k * cx + xc
          assert(covered.add((gz, gy, gx)), s"($gz,$gy,$gx) covered twice, $what")
          assert(at(child, cny, cnx, zc, yc, xc) === label(gz / s, gy / s, gx / s),
            s"child($i,$j,$k) voxel($zc,$yc,$xc) global($gz,$gy,$gx) $what")
        }
      }
      // exactly [0, s·n)³: every output voxel once, none outside
      assert(covered.size === s * nz * s * ny * s * nx, what)
      assert(covered.forall { case (z, y, x) => z < s * nz && y < s * ny && x < s * nx }, what)
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
    def face(bz: Int, by: Int, bx: Int, bnz: Int, bny: Int, bnx: Int): Array[Byte] =
      extractBox(data, ny, nx, 4, bz, by, bx, bnz, bny, bnx)
    val out = outline(
      data, nz, ny, nx, 4,
      zm = face(nz - 1, 0, 0, 1, ny, nx), zp = face(0, 0, 0, 1, ny, nx),
      ym = face(0, ny - 1, 0, nz, 1, nx), yp = face(0, 0, 0, nz, 1, nx),
      xm = face(0, 0, nx - 1, nz, ny, 1), xp = face(0, 0, 0, nz, ny, 1))
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
