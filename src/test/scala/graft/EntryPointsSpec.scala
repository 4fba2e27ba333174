package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the set of runnable entry points in `src/main` to the documented
  * ones, so a new measurement main is either documented here or deleted.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val documented =
    Set("Bench", "Verify", "PlanDump", "UpscaleCli", "LookupRepl", "VolumeTools", "ByteBpeTrainMain")

  private val objectDecl = """(?m)^\s*(?:private\S*\s+)?object\s+(\w+)""".r
  private val mainDecl = """def\s+main\s*\(|static\s+void\s+main\s*\(|extends\s+App\b""".r

  /** Names of the objects (or Java classes) in `src` that declare a main. */
  private def mains(src: String): Set[String] = {
    val objects = objectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    mainDecl.findAllMatchIn(src).map { m =>
      objects.filter(_._1 < m.start).lastOption.map(_._2)
        .orElse("""class\s+(\w+)""".r.findFirstMatchIn(src).map(_.group(1)))
        .getOrElse(s"<unnamed main at offset ${m.start}>")
    }.toSet
  }

  test("every main under src/main is a documented entry point") {
    val walk = Files.walk(Paths.get("src/main"))
    val files = try walk.iterator.asScala.toList finally walk.close()
    val sources = files.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".scala") || n.endsWith(".java")
    }
    assert(sources.nonEmpty, "no sources found; run from the repository root")
    val found = sources.flatMap((p: Path) => mains(Files.readString(p))).toSet
    assert(found === documented)
  }
}
