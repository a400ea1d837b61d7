package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's runnable entry points are a fixed set: the query bench
  * and the oracle dump (`Bench`, `Verify`) and four harnesses — sf1+ data
  * generation, core scaling, plan dumps and the end-to-end drive.
  * Per-layer measurement is perfbench's `--trace 1`; a one-off experiment
  * belongs in `src/test` (like `tools.RaceWriter`), not in `src/main`.
  * Only these harnesses print or read environment variables. */
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

  /** Each line of a main source outside `skip` (by default the harnesses:
    * `Bench`, `Verify`, `tools/`) that matches `pattern`, as
    * `path:line: text`. */
  private def harnessOnly(pattern: scala.util.matching.Regex,
                          skip: Seq[String] = Seq("graft/Bench.scala",
                            "graft/Verify.scala", "graft/tools")): Seq[String] = {
    val root = Paths.get("src", "main", "scala")
    val skipped = skip.map(root.resolve)
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !skipped.exists(p.startsWith))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      })
      .toList
    finally files.close()
  }

  test("the library reads no environment variable and prints nothing") {
    // configuration is table options and Spark conf; output is logging
    val hits = harnessOnly("""\bsys\.env\b|\bSystem\.getenv\b|\bprintln\b""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main has one parquet decoder: Spark's reader factories") {
    // batch scans, merges and streams all decode through Spark's parquet
    // reader; a hand-written one (parquet's Group API, a ParquetReader)
    // drifts from it on every type it does not list
    val hits = harnessOnly(
      """org\.apache\.parquet\.example|org\.apache\.parquet\.hadoop\.ParquetReader|\bParquetReader\b""".r,
      skip = Nil)
    assert(hits.isEmpty, hits.mkString("\n"))
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
