package graft.volume

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** NrrdStore contract: header parsing (CRLF, comments, key:=value,
  * ignored space fields), fail-loud rejection outside the supported
  * surface, write→read round-trips, gzip == raw equality, and foreign
  * interop against the independent python encoder.
  */
class NrrdSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): Path = {
    val d = Files.createTempDirectory("graft_nrrdspec")
    d.toFile.deleteOnExit()
    d
  }

  private def writeHeader(p: Path, body: String): String = {
    Files.write(p, body.getBytes(StandardCharsets.US_ASCII))
    p.toString
  }

  private def vox = spark.range(5 * 4 * 3).select(
    expr("id div 12").as("z"), expr("(id div 3) % 4").as("y"),
    expr("id % 3").as("x"), (col("id") % 7 * 100).as("label"))

  private def collectVox(v: ChunkVolume): Map[(Long, Long, Long), Long] =
    v.toVoxels.collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap

  test("write → read round-trip on a non-aligned chunk grid") {
    // one chunk shape per write case: full planes and full-x rows land one
    // run per chunk plane, general chunks one run per row
    val files = Seq("full plane" -> (2, 4, 3), "full-x rows" -> (2, 3, 3),
        "general row runs" -> (2, 3, 2)).map { case (name, (cz, cy, cx)) =>
      val vol = ChunkVolume.fromVoxels(vox, 5, 4, 3, cz, cy, cx)
      val p = tmp().resolve("rt.nrrd").toString
      NrrdStore.write(vol, p)
      val back = NrrdStore.read(spark, p)
      assert(back.meta.elementType === vol.meta.elementType, name)
      assert(collectVox(back) === collectVox(vol), name)
      Files.readAllBytes(java.nio.file.Paths.get(p))
    }
    // the file is a function of the voxels, not of the chunking
    assert(files.forall(java.util.Arrays.equals(_, files.head)))
  }

  test("parseHeader: CRLF, comments, key:=value, and space fields are all handled") {
    val hdr = "NRRD0004\r\n# a comment\r\ntype: uint16\r\ndimension: 3\r\n" +
      "sizes: 3 4 5\r\nspace directions: (1,0,0) (0,1,0) (0,0,1)\r\n" +
      "mykey:=ignored\r\nendian: big\r\nencoding: gzip\r\n\r\n"
    val p = writeHeader(tmp().resolve("h.nrrd"), hdr)
    val m = NrrdStore.parseHeader(p)
    assert((m.dimZ, m.dimY, m.dimX) === ((5L, 4L, 3L)))
    assert(m.elementType === "MET_USHORT" && m.encoding === "gzip" && m.bigEndian)
    assert(m.dataOffset === hdr.length)
  }

  test("fail-loud: bad magic, unsupported dimension/encoding/type, missing endian") {
    val d = tmp()
    def boom(name: String, body: String): Unit = {
      val p = writeHeader(d.resolve(name), body)
      intercept[Exception](NrrdStore.parseHeader(p))
    }
    boom("magic.nrrd", "NRRD9999\ntype: uint8\ndimension: 3\nsizes: 1 1 1\nencoding: raw\n\n")
    boom("dim.nrrd", "NRRD0004\ntype: uint8\ndimension: 2\nsizes: 4 4\nencoding: raw\n\n")
    boom("enc.nrrd", "NRRD0004\ntype: uint8\ndimension: 3\nsizes: 1 1 1\nencoding: hex\n\n")
    boom("type.nrrd", "NRRD0004\ntype: block\ndimension: 3\nsizes: 1 1 1\nencoding: raw\n\n")
    // multi-byte type without an endian field must not guess
    boom("endian.nrrd", "NRRD0004\ntype: uint16\ndimension: 3\nsizes: 1 1 1\nencoding: raw\n\n")
    // truncated header (no blank line)
    boom("trunc.nrrd", "NRRD0004\ntype: uint8\n")
    // layout-affecting fields this reader does not implement must REFUSE,
    // not silently read the payload at the wrong offset
    val okBase = "NRRD0004\ntype: uint8\ndimension: 3\nsizes: 1 1 1\nencoding: raw\n"
    boom("bskip.nrrd", okBase + "byte skip: 8\n\n")
    boom("lskip.nrrd", okBase + "line skip: 2\n\n")
    boom("detached.nrrd", okBase + "data file: payload.raw\n\n")
    boom("block.nrrd", okBase + "block size: 16\n\n")
    boom("unknown.nrrd", okBase + "some future field: 1\n\n")
  }

  test("foreign interop: python gzip big-endian == python raw little-endian == formula") {
    val d = tmp()
    def gen(name: String, args: String*): String = {
      val p = d.resolve(name).toString
      val cmd = Seq("python3", "tools/gen_nrrd_fixture.py", p) ++ args
      assert(scala.sys.process.Process(cmd).! === 0)
      p
    }
    val gz = NrrdStore.read(spark, gen("g.nrrd", "--encoding", "gzip", "--endian", "be", "--dim", "8", "--crlf"))
    val raw = NrrdStore.read(spark, gen("r.nrrd", "--encoding", "raw", "--endian", "le", "--dim", "8"))
    val a = collectVox(gz); val b = collectVox(raw)
    assert(a === b)
    assert(a((7, 7, 7)) === 111L && a((0, 0, 0)) === 0L && a.size === 512)
  }

  test("header fuzz: truncations and bit flips parse or fail LOUD — never hang or misparse silently") {
    val valid = ("NRRD0004\ntype: uint16\ndimension: 3\nsizes: 3 4 5\n" +
      "endian: little\nencoding: raw\n\n").getBytes(StandardCharsets.US_ASCII)
    val d = tmp()
    val cases =
      (0 until valid.length by 3).map(valid.take) ++
        (0 until valid.length by 5).map { i =>
          val m = valid.clone(); m(i) = (m(i) ^ 0x5a).toByte; m
        }
    cases.zipWithIndex.foreach { case (bytes, i) =>
      val p = d.resolve(s"fz$i.nrrd")
      Files.write(p, bytes)
      scala.util.Try(NrrdStore.parseHeader(p.toString)) match {
        case scala.util.Success(m) =>
          // if it still parses, it must be the VALID metadata (a flip that
          // survived hit a comment-irrelevant byte) or have sane dims
          assert(m.dimZ > 0 && m.dimY > 0 && m.dimX > 0)
        case scala.util.Failure(e) => assert(e.isInstanceOf[Exception])
      }
    }
    // unbounded-header guard: 100 KiB with no blank line fails at the
    // 64 KiB bound instead of reading forever
    val big = d.resolve("big.nrrd")
    Files.write(big, ("NRRD0004\n" + "# x\n" * 30000).getBytes(StandardCharsets.US_ASCII))
    val ex = intercept[Exception](NrrdStore.parseHeader(big.toString))
    assert(ex.getMessage.contains("64 KiB"))
  }

  test("gzip payload truncation dies with a named error, not a silent short volume") {
    val d = tmp()
    val p = d.resolve("full.nrrd").toString
    assert(scala.sys.process.Process(
      Seq("python3", "tools/gen_nrrd_fixture.py", p, "--encoding", "gzip", "--dim", "8")).! === 0)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    val cut = d.resolve("cut.nrrd")
    Files.write(cut, bytes.take(bytes.length - 20))
    val ex = intercept[Exception] {
      NrrdStore.read(spark, cut.toString).toVoxels.count()
    }
    assert(ex.getMessage != null)
  }
}
