package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every `spark.graft.*` key read under `src/main` is documented in the
  * README "Configuration" table, and the table lists no key the code
  * no longer reads — a new knob has to come with its evidence row. */
class ConfKeysSpec extends AnyFunSuite {
  private val keyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val tableRow = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)` \\|".r

  private def codeKeys: Set[String] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap((p: Path) => keyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    finally files.close()
  }

  private def readmeKeys: Set[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala
    lines.dropWhile(_ != "## Configuration").drop(1)
      .takeWhile(!_.startsWith("## "))
      .flatMap(l => tableRow.findFirstMatchIn(l).map(_.group(1)))
      .toSet
  }

  test("README Configuration table matches the spark.graft keys the code reads") {
    val code = codeKeys
    val doc = readmeKeys
    assert(code.nonEmpty && doc.nonEmpty)
    assert((code -- doc).isEmpty,
      s"keys read in src/main but missing from README: ${(code -- doc).toSeq.sorted.mkString(", ")}")
    assert((doc -- code).isEmpty,
      s"README lists keys src/main no longer reads: ${(doc -- code).toSeq.sorted.mkString(", ")}")
  }
}
