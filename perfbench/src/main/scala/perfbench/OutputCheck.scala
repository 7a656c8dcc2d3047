package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Reads a committed `writeTsv` output tree back and summarizes it in
  * the form [[EnaExpected]] predicts: rows, loci resolved through the
  * idmapping, and an order-independent row digest. */
object OutputCheck {
  final case class Observed(rows: Long, resolvedLoci: Long, digest: Long)

  /** 64-bit FNV-1a over `division|row`. */
  def rowHash(division: String, row: String): Long = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = {
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    }
    mix(division); h = (h ^ '|') * 0x100000001b3L; mix(row)
    h
  }

  def read(outDir: File): Observed = {
    require(new File(outDir, "_SUCCESS").isFile, s"no committed output in $outDir")
    var rows = 0L
    var digest = 0L
    val resolved = new java.util.HashSet[String]()
    for {
      dir <- Option(outDir.listFiles()).toSeq.flatten.sortBy(_.getName)
      if dir.isDirectory && dir.getName.startsWith("division=")
      part <- Option(dir.listFiles()).toSeq.flatten
      if part.getName.startsWith("part-")
    } {
      val division = dir.getName.stripPrefix("division=")
      Files.readAllLines(part.toPath, StandardCharsets.UTF_8).asScala.foreach { row =>
        rows += 1
        digest += rowHash(division, row)
        val f = row.split('\t')
        if (f(1).startsWith(EnaCorpus.MappedPrefix)) resolved.add(f(0) + "\t" + f(2))
      }
    }
    Observed(rows, resolved.size.toLong, digest)
  }
}
