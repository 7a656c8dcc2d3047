package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The operators under `graft/llm` decide between their driver and
  * distributed forms only through [[Regimes.boundedRows]]: no code line
  * there reads the force flag or drains a frame with
  * `Checkpoints.countAndCollect` itself. A source scan, so no
  * SparkSession is needed.
  */
class BoundedRowsUsersSpec extends AnyFunSuite {

  private val Forbidden = """\b(forceDistributed|countAndCollect)\b""".r

  /** The checkout root: sbt forks the test JVM there. */
  private val main: Path = Paths.get("").toAbsolutePath.resolve("src/main/scala/graft")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** `file:line: text` for each code line naming a forbidden call;
    * comment lines and trailing `//` comments are skipped. */
  private def offenders(files: Seq[Path]): Seq[String] =
    files.sorted.flatMap { f =>
      Files.readAllLines(f, StandardCharsets.UTF_8).asScala.zipWithIndex.collect {
        case (line, i) if {
          val t = line.trim
          !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
            Forbidden.findFirstIn(t.split("//", 2)(0)).isDefined
        } => s"${main.relativize(f)}:${i + 1}: ${line.trim}"
      }
    }

  test("the scan flags the readers outside llm/") {
    // guards against a pattern or path that silently matches nothing
    val seen = offenders(scalaFiles(main)).map(_.takeWhile(_ != ':'))
    assert(seen.contains("Regimes.scala"), seen)
    assert(seen.exists(_.startsWith("operators/")), seen)
  }

  test("no llm/ code line reads the force flag or calls countAndCollect") {
    val llm = scalaFiles(main.resolve("llm"))
    assert(llm.nonEmpty)
    val found = offenders(llm)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
