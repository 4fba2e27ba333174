package graft.volume

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Java hot-loop kernels (r21 encode-path optimization) to the
  * straightforward Scala forms they replaced: the fused single-pass blosc
  * byte-shuffle and its row-repeat form must emit exactly the per-plane
  * strided layout, the unshuffle must invert it, and the
  * widened min/max must equal a decodeLong fold, for every element width
  * and signedness — including non-multiple-of-8 element counts and
  * sub-typesize tails, the edges the unrolled loops special-case.
  */
class ByteKernelsSpec extends AnyFunSuite {

  private def rng(seed: Long) = new scala.util.Random(seed)

  /** The reference shuffle: plane k holds byte k of each element, tail
    * verbatim (the pre-r21 BloscCodec.shuffleBytes).
    */
  private def shuffleRef(src: Array[Byte], off: Int, len: Int, t: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    val n = len / t
    var k = 0
    while (k < t) {
      var i = 0
      while (i < n) { out(k * n + i) = src(off + i * t + k); i += 1 }
      k += 1
    }
    var r = n * t
    while (r < len) { out(r) = src(off + r); r += 1 }
    out
  }

  test("shuffleInto matches the per-plane reference for all widths and ragged sizes") {
    val r = rng(42)
    for {
      t <- Seq(1, 2, 3, 4, 5, 8, 16)
      nElems <- Seq(0, 1, 7, 8, 9, 63, 64, 65, 1000, 4093)
      tail <- Seq(0, 1, t - 1).distinct.filter(_ >= 0)
    } {
      val len = nElems * t + tail
      val src = new Array[Byte](len + 13)
      r.nextBytes(src)
      val off = 13
      val srcShifted = new Array[Byte](len + off)
      System.arraycopy(src, 0, srcShifted, off, len)
      val expect = shuffleRef(srcShifted, off, len, t)
      val got = new Array[Byte](len)
      ByteKernels.shuffleInto(srcShifted, off, len, t, got)
      assert(java.util.Arrays.equals(expect, got),
        s"shuffle mismatch at t=$t nElems=$nElems tail=$tail")
    }
  }

  test("shuffleInto leaves bytes past len untouched in an oversized buffer") {
    val r = rng(7)
    val src = new Array[Byte](100)
    r.nextBytes(src)
    val out = new Array[Byte](160)
    java.util.Arrays.fill(out, 0x5a.toByte)
    ByteKernels.shuffleInto(src, 0, 100, 4, out)
    for (i <- 100 until 160) assert(out(i) == 0x5a.toByte, s"byte $i clobbered")
  }

  /** `nRows` rows of `rowLen` bytes, row r a copy of distinct row
    * `rowOf(r)`, then `extra` more bytes (a cut last row plus any tail).
    */
  private def rows(r: scala.util.Random, rowLen: Int, nRows: Int, extra: Int)(rowOf: Int => Int): Array[Byte] = {
    val distinct = Array.fill(nRows)(Array.fill[Byte](rowLen)(r.nextInt().toByte))
    val out = new Array[Byte](nRows * rowLen + extra)
    for (i <- 0 until nRows) System.arraycopy(distinct(rowOf(i)), 0, out, i * rowLen, rowLen)
    for (i <- nRows * rowLen until out.length) out(i) = out(i - rowLen)
    out
  }

  private val patterns: Seq[(String, Int => Int)] = Seq(
    "all rows equal" -> (_ => 0), "no rows equal" -> identity, "alternating rows" -> (_ % 2),
    "rows repeated 3x" -> (_ / 3), "rows repeated 15x" -> (_ / 15))

  /** Cut `src` into blocks of `block` bytes as the blosc encoder does and
    * shuffle each with the row hint into a buffer holding garbage, so a
    * row copied from outside its block cannot pass.
    */
  private def checkBlocks(src: Array[Byte], t: Int, rowLen: Int, block: Int, what: String): Unit = {
    var off = 0
    while (off < src.length) {
      val len = math.min(block, src.length - off)
      val out = Array.fill[Byte](len + 8)(0x5a.toByte)
      ByteKernels.shuffleRowsInto(src, off, len, t, rowLen, out)
      assert(java.util.Arrays.equals(out, 0, len, shuffleRef(src, off, len, t), 0, len),
        s"row shuffle mismatch: $what block at $off (len $len)")
      assert(out.drop(len).forall(_ == 0x5a.toByte), s"bytes past len written: $what block at $off")
      off += len
    }
  }

  test("shuffleRowsInto equals the per-plane reference: row patterns, mid-row blocks, leftover block, tails") {
    val r = rng(17)
    for {
      t <- Seq(1, 2, 3, 4, 8)
      rowElems <- Seq(1, 5, 8, 11, 33)
      (name, rowOf) <- patterns
    } {
      val rowLen = rowElems * t
      for {
        nRows <- Seq(1, 2, 7, 40)
        extra <- Seq(0, t, rowLen / 2 / t * t + 1, rowLen - 1).distinct // cut row, len % t tail
        block <- Seq(rowLen, 2 * rowLen, t * 8, t * 8 * 5, 3 * rowLen + t * 8, Int.MaxValue)
      } {
        val src = rows(r, rowLen, nRows, extra)(rowOf)
        val b = math.max(t, block - block % t)
        checkBlocks(src, t, rowLen, b, s"$name t=$t rowLen=$rowLen rows=$nRows extra=$extra block=$b")
      }
    }
  }

  test("shuffleRowsInto: a block's first row never copies from the block before, even when equal") {
    val r = rng(23)
    for (t <- Seq(2, 3, 4, 8)) {
      val rowLen = 12 * t
      // every row equal: a copy across the block start would read the
      // garbage-filled buffer (or before it) and mismatch
      val src = rows(r, rowLen, 30, 0)(_ => 0)
      for (block <- Seq(rowLen, rowLen + t, 2 * rowLen - t, 3 * rowLen, 5 * t))
        checkBlocks(src, t, rowLen, block, s"t=$t block=$block")
      // a block that starts mid-row at an element boundary, whose first
      // whole row equals the one straddling the start
      for (off <- Seq(t, rowLen - t, rowLen + 3 * t)) {
        val len = src.length - off
        val out = Array.fill[Byte](len)(0x5a.toByte)
        ByteKernels.shuffleRowsInto(src, off, len - len % t, t, rowLen, out)
        assert(java.util.Arrays.equals(out, 0, len - len % t, shuffleRef(src, off, len - len % t, t), 0,
          len - len % t), s"t=$t off=$off")
      }
    }
  }

  test("shuffleRowsInto on 4 MiB blosc blocks: rows that divide the block and rows that do not") {
    val r = rng(31)
    // 2112 = 528 uint32 voxels, the ×15 atlas chunk's row, does not divide
    // 4 MiB; 4096 does. Two blocks plus a leftover block with a tail.
    for ((t, rowLen) <- Seq(4 -> 2112, 4 -> 4096, 2 -> 1000, 8 -> 2112)) {
      val nRows = (9 << 20) / rowLen
      val src = rows(r, rowLen, nRows, 5)(_ / 15)
      val block = (1 << 22) - (1 << 22) % (t * 8)
      checkBlocks(src, t, rowLen, block, s"t=$t rowLen=$rowLen")
    }
  }

  test("shuffleRowsInto without a usable row hint is shuffleInto") {
    val r = rng(5)
    for (t <- Seq(1, 2, 3, 4, 8); len <- Seq(0, 1, t * 8, t * 37 + 1)) {
      val src = Array.fill[Byte](len)(r.nextInt().toByte)
      // hint 0 or negative, a hint ≥ len, a hint that is not a multiple of t
      for (hint <- Seq(0, -t, len, len + t, t * 4 + (if (t > 1) 1 else 0)).distinct) {
        val out = new Array[Byte](len)
        ByteKernels.shuffleRowsInto(src, 0, len, t, hint, out)
        assert(out.toSeq === shuffleRef(src, 0, len, t).toSeq, s"t=$t len=$len hint=$hint")
      }
    }
  }

  test("unshuffleInto inverts the shuffle at any output offset, tail verbatim") {
    val r = rng(13)
    for {
      t <- Seq(1, 2, 3, 4, 5, 8, 16)
      nElems <- Seq(0, 1, 7, 8, 9, 64, 65, 1000)
      tail <- Seq(0, 1, t - 1).distinct.filter(_ >= 0)
    } {
      val len = nElems * t + tail
      val plain = Array.fill[Byte](len)(r.nextInt().toByte)
      val shuffled = new Array[Byte](len + 3)
      System.arraycopy(shuffleRef(plain, 0, len, t), 0, shuffled, 3, len)
      val out = Array.fill[Byte](len + 20)(0x5a.toByte)
      ByteKernels.unshuffleInto(shuffled, 3, len, t, out, 11)
      assert(java.util.Arrays.equals(out, 11, 11 + len, plain, 0, len), s"t=$t nElems=$nElems tail=$tail")
      assert((out.take(11) ++ out.drop(11 + len)).forall(_ == 0x5a.toByte), s"t=$t: bytes outside written")
    }
  }

  test("minMax equals a decodeLong fold for every width and signedness") {
    val r = rng(99)
    for {
      bpp <- Seq(1, 2, 3, 4, 8)
      unsigned <- Seq(true, false)
      nElems <- Seq(1, 2, 17, 1000)
    } {
      val data = new Array[Byte](nElems * bpp)
      r.nextBytes(data)
      var emn = Long.MaxValue
      var emx = Long.MinValue
      var i = 0
      while (i < nElems) {
        val v = ChunkKernels.decodeLong(data, i, bpp, unsigned)
        if (v < emn) emn = v
        if (v > emx) emx = v
        i += 1
      }
      val mm = ByteKernels.minMax(data, nElems, bpp, unsigned)
      assert(mm(0) == emn && mm(1) == emx,
        s"minMax mismatch at bpp=$bpp unsigned=$unsigned n=$nElems: " +
          s"got (${mm(0)},${mm(1)}) want ($emn,$emx)")
    }
  }

  test("minMax covers extreme values exactly (unsigned widening, signed sign-extend)") {
    // all-0xff elements: unsigned max vs signed -1
    for (bpp <- Seq(1, 2, 4, 8)) {
      val data = Array.fill[Byte](bpp * 3)(0xff.toByte)
      val u = ByteKernels.minMax(data, 3, bpp, true)
      val s = ByteKernels.minMax(data, 3, bpp, false)
      val expectedU = if (bpp == 8) -1L else (1L << (8 * bpp)) - 1
      assert(u(0) == expectedU && u(1) == expectedU)
      assert(s(0) == -1L && s(1) == -1L)
    }
  }

  test("allocBytes returns a usable array of the exact size") {
    for (n <- Seq(0, 1, 13, 1 << 20)) {
      val a = ByteKernels.allocBytes(n)
      assert(a.length == n)
      if (n > 0) { a(0) = 1; a(n - 1) = 2 } // writable end to end
    }
  }
}
