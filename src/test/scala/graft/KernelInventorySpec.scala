package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md's kernel inventory names every file in
  * `src/main/scala/graft/functions/` once, with why it stays: a kernel
  * added without a row, or a row left behind by a deleted kernel,
  * fails here. Paths are relative to the project root (sbt's working
  * directory). */
class KernelInventorySpec extends AnyFunSuite {

  test("kernel inventory: one COVERAGE.md row per functions/*.scala file") {
    val kernels = new File("src/main/scala/graft/functions").listFiles()
      .map(_.getName).filter(_.endsWith(".scala")).sorted.toSeq
    assert(kernels.nonEmpty)
    val src = Source.fromFile("COVERAGE.md", "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val rows = lines.dropWhile(!_.startsWith("## Kernel inventory")).drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("| `"))
      .map(_.split('|')(1).trim.stripPrefix("`").stripSuffix("`"))
    assert(rows.distinct.size === rows.size, rows.diff(rows.distinct))
    assert(kernels.filterNot(rows.contains).isEmpty,
      s"no inventory row for ${kernels.filterNot(rows.contains)}")
    assert(rows.filterNot(kernels.contains).isEmpty,
      s"inventory rows without a file: ${rows.filterNot(kernels.contains)}")
  }
}
