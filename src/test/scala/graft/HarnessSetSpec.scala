package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's runnable entry points are a fixed set: the query bench
  * and the oracle dump (`Bench`, `Verify`) and four harnesses — sf1+ data
  * generation, core scaling, plan dumps and the end-to-end drive.
  * Per-layer measurement is perfbench's `--trace 1`; a one-off experiment
  * belongs in `src/test` (like `tools.RaceWriter`), not in `src/main`. */
class HarnessSetSpec extends AnyFunSuite {

  private val expected = Set("graft.Bench", "graft.Verify",
    "graft.tools.GenSf1", "graft.tools.ScaleCores", "graft.tools.PlanDump",
    "graft.tools.Drive")

  /** Fully qualified names of the objects in `file` that define `main` or
    * extend `App`. Each `def main` belongs to the nearest object before it. */
  private def mainObjects(file: Path): Seq[String] = {
    val src = Files.readString(file)
    val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src)
      .map(_.group(1) + ".").getOrElse("")
    val token = """\bobject\s+(\w+)(\s+extends\s+App\b)?|\bdef\s+main\s*\(""".r
    var current: Option[String] = None
    token.findAllMatchIn(src).flatMap { m =>
      if (m.group(1) != null) {
        current = Some(m.group(1))
        if (m.group(2) != null) current else None
      } else current
    }.map(pkg + _).toSeq
  }

  test("src/main defines exactly the known main entry points") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val mains =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(mainObjects).toSet
      finally files.close()
    assert(mains == expected,
      s"added: ${(mains -- expected).toSeq.sorted}; " +
        s"missing: ${(expected -- mains).toSeq.sorted}")
  }
}
