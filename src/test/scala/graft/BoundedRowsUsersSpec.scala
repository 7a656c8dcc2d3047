package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every dual-regime decision goes through [[Regimes]]: outside
  * `Regimes.scala` (and `Verify.scala`, whose banner reports the flag)
  * no code line reads the force flag, stats file bytes, or runs a
  * bounded `limit(n + 1).count()` probe, and no operator under
  * `graft/llm` drains a frame with `Checkpoints.countAndCollect`
  * itself. A source scan, so no SparkSession is needed.
  */
class BoundedRowsUsersSpec extends AnyFunSuite {

  private val RegimeProbes =
    """\b(forceDistributed|getContentSummary)\b|\.limit\(.*\+\s*1\)\s*\.count\(\)""".r
  private val Drain = """\bcountAndCollect\b""".r

  /** The checkout root: sbt forks the test JVM there. */
  private val main: Path = Paths.get("").toAbsolutePath.resolve("src/main/scala/graft")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** `file:line: text` for each code line matching `pattern`; comment
    * lines and trailing `//` comments are skipped. */
  private def offenders(files: Seq[Path], pattern: Regex): Seq[String] =
    files.sorted.flatMap { f =>
      Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex.collect {
        case (line, i) if {
          val t = line.trim
          !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
            pattern.findFirstIn(t.split("//", 2)(0)).isDefined
        } => s"${main.relativize(f)}:${i + 1}: ${line.trim}"
      }
    }

  test("the scan flags the readers outside llm/") {
    // guards against a pattern or path that silently matches nothing
    val regimes = offenders(Seq(main.resolve("Regimes.scala")), RegimeProbes)
    Seq("forceDistributed", "getContentSummary", ".count()").foreach { p =>
      assert(regimes.exists(_.contains(p)), regimes)
    }
    val drains = offenders(scalaFiles(main), Drain).map(_.takeWhile(_ != ':'))
    assert(drains.contains("Regimes.scala"), drains)
    assert(drains.exists(_.startsWith("operators/")), drains)
  }

  test("only Regimes.scala and Verify.scala read the force flag or probe sizes") {
    val allowed = Set("Regimes.scala", "Verify.scala").map(main.resolve)
    val found = offenders(scalaFiles(main).filterNot(allowed), RegimeProbes)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no llm/ code line reads the force flag or calls countAndCollect") {
    val llm = scalaFiles(main.resolve("llm"))
    assert(llm.nonEmpty)
    val found = Seq(RegimeProbes, Drain).flatMap(offenders(llm, _))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
