package graft

import java.lang.reflect.Modifier
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain` entry point the repository names — in `scripts/`,
  * `README.md` and the sources' run and regeneration comments — must
  * still exist. Deleting a main that `release.sh`, `gate.sh` or an
  * oracle's regeneration note invokes fails here instead of at the
  * next release. No SparkSession needed.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val RunMain = """runMain\s+([A-Za-z_][\w.]*\.[A-Za-z_]\w*)""".r

  /** The checkout root: sbt forks the test JVM there. */
  private val root: Path = Paths.get("").toAbsolutePath

  private def textFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  /** fqcn -> the files that name it. */
  private lazy val named: Map[String, Seq[String]] =
    (textFiles(root.resolve("scripts")) ++ textFiles(root.resolve("src")) :+
      root.resolve("README.md"))
      .flatMap { f =>
        val text = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        RunMain.findAllMatchIn(text).map(m => m.group(1) -> root.relativize(f).toString)
      }
      .groupMap(_._1)(_._2)
      .map { case (fqcn, files) => fqcn -> files.distinct.sorted }

  test("the scan finds the scripts' entry points") {
    // guards against a pattern that silently matches nothing
    Seq("graft.Verify", "graft.Bench", "graft.GenSf1", "graft.GenSf10",
      "graft.Sf10Spot").foreach { fqcn =>
      assert(named.contains(fqcn), s"$fqcn not found; found ${named.keys.toSeq.sorted}")
    }
  }

  test("every runMain entry point loads and has a static main(Array[String])") {
    val loader = getClass.getClassLoader
    val broken = named.toSeq.sortBy(_._1).flatMap { case (fqcn, files) =>
      val problem =
        try {
          val m = Class.forName(fqcn, false, loader)
            .getMethod("main", classOf[Array[String]])
          if (Modifier.isStatic(m.getModifiers)) None else Some("main is not static")
        } catch {
          case _: ClassNotFoundException => Some("class not found")
          case _: NoSuchMethodException => Some("no main(Array[String])")
        }
      problem.map(p => s"$fqcn ($p), named in ${files.mkString(", ")}")
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }
}
