package graft.volume

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.util.Try

/** Every positioned scan reads through the task-scoped handle
  * (`Fio.taskRandom`), so a partition whose iterator is never drained —
  * `pointLookup` ends in `.take(1)` — still closes its source file when
  * the task ends. Open descriptors are counted in `/proc/self/fd`: local
  * mode runs the executors in this JVM.
  */
class TaskHandleSpec extends AnyFunSuite with SparkSpec {

  /** Descriptors of this process open on `file`. */
  private def openLinks(file: String): Int = {
    val target = Paths.get(file).toRealPath()
    val it = Files.list(Paths.get("/proc/self/fd"))
    try it.toArray.count(p =>
      Try(Files.readSymbolicLink(p.asInstanceOf[Path])).toOption.contains(target))
    finally it.close()
  }

  test("point lookups leave no source file open: MHD, TIFF and raw NRRD") {
    assume(Files.isDirectory(Paths.get("/proc/self/fd")), "needs /proc/self/fd")
    val d = Files.createTempDirectory("task_handles")
    val (dz, dy, dx) = (6, 5, 4)
    val mhd = MhdMeta.parse(MhdFixture.write(d, dz, dy, dx, "MET_UINT", 4, msb = false))
    val nrrd = MhdFixture.writeNrrd(d, dz, dy, dx, "uint32", 4, msb = false)
    val tif = d.resolve("fix.tif").toString
    BigTiff.write(MhdReader.read(spark, mhd, 2, dy, dx), tif)
    val sources = Seq[(String, String, () => ChunkVolume)](
      ("MHD", d.resolve("fix.raw").toString, () => MhdReader.read(spark, mhd, 2, dy, dx)),
      ("TIFF", tif, () => Tiff.read(spark, tif)),
      ("raw NRRD", nrrd, () => NrrdStore.read(spark, NrrdStore.parseHeader(nrrd), 2, dy, dx)))
    for ((name, file, vol) <- sources; (z, y, x) <- Seq((0L, 0L, 0L), (3L, 2L, 1L), (5L, 4L, 3L))) {
      assert(vol().pointLookup(z, y, x) === Some(MhdFixture.value(z, y, x, 4)), s"$name ($z,$y,$x)")
      assert(openLinks(file) === 0, s"$name: source still open after the lookup at ($z,$y,$x)")
    }
  }
}
