package graft.volume

import java.nio.file.{Files, Path}

/** Small header+raw fixtures (MHD+RAW, raw NRRD) whose voxel (z,y,x)
  * holds an analytic value, so any misplaced, dropped or byte-swapped
  * voxel shows as a mismatch.
  */
object MhdFixture {

  /** The fixture's value at (z,y,x), truncated to `bpp` bytes. */
  def value(z: Long, y: Long, x: Long, bpp: Int): Long = {
    val v = z * 1000003L + y * 1009L + x * 7L + 11L
    if (bpp >= 8) v else v & ((1L << (8 * bpp)) - 1)
  }

  /** The C-order payload, each value's bytes in the requested order. */
  private def payload(dz: Int, dy: Int, dx: Int, bpp: Int, msb: Boolean): Array[Byte] = {
    val bytes = new Array[Byte](dz * dy * dx * bpp)
    var i = 0
    for (z <- 0 until dz; y <- 0 until dy; x <- 0 until dx) {
      val v = value(z, y, x, bpp)
      for (b <- 0 until bpp) {
        // little-endian value bytes, flipped when the header says MSB
        val shift = if (msb) (bpp - 1 - b) * 8 else b * 8
        bytes(i) = ((v >> shift) & 0xff).toByte
        i += 1
      }
    }
    bytes
  }

  /** Write `fix.mhd` + `fix.raw` into `dir`; returns the .mhd path. */
  def write(dir: Path, dz: Int, dy: Int, dx: Int,
      elementType: String, bpp: Int, msb: Boolean): String = {
    Files.write(dir.resolve("fix.raw"), payload(dz, dy, dx, bpp, msb))
    val mhd = dir.resolve("fix.mhd")
    Files.writeString(mhd,
      s"""ObjectType = Image
         |NDims = 3
         |DimSize = $dx $dy $dz
         |ElementType = $elementType
         |ByteOrderMSB = ${if (msb) "True" else "False"}
         |ElementDataFile = fix.raw
         |""".stripMargin)
    mhd.toString
  }

  /** Write `fix.nrrd` into `dir`: a raw-encoded NRRD of NRRD type
    * `nrrdType` carrying the same payload behind its text header;
    * returns its path.
    */
  def writeNrrd(dir: Path, dz: Int, dy: Int, dx: Int,
      nrrdType: String, bpp: Int, msb: Boolean): String = {
    val header =
      s"""NRRD0004
         |# analytic fixture
         |type: $nrrdType
         |dimension: 3
         |sizes: $dx $dy $dz
         |endian: ${if (msb) "big" else "little"}
         |encoding: raw
         |
         |""".stripMargin.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val nrrd = dir.resolve("fix.nrrd")
    Files.write(nrrd, header ++ payload(dz, dy, dx, bpp, msb))
    nrrd.toString
  }
}
