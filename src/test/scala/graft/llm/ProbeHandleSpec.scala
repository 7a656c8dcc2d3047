package graft.llm

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Broadcast probes are handles the caller holds: each build reads its
  * sources as they are now, and no build leaves anything behind in the
  * session's function registry.
  */
class ProbeHandleSpec extends AnyFunSuite with SparkSpec {

  /** The one data file under `dir` and its Hadoop checksum file. */
  private def dataAndCrc(dir: Path): (Path, Path) = {
    val files = Files.list(dir)
    val data = try files.toArray.map(_.asInstanceOf[Path])
      .filter(p => !p.getFileName.toString.startsWith(".")).toSeq
    finally files.close()
    assert(data.size === 1, s"expected one data file under $dir")
    (data.head, dir.resolve(s".${data.head.getFileName}.crc"))
  }

  test("a probe built after the eval set changes on disk reads the new text") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_probe_eval")
    def writeEval(text: String, path: Path): Unit =
      Seq((100L, text, 0)).toDF("doc_id", "text", "part").coalesce(1)
        .write.mode("overwrite").partitionBy("part").json(path.toString)
    val evalPath = root.resolve("eval")
    writeEval("alpha beta gamma", evalPath)
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four")).toDF("doc_id", "text")
    def kept(decon: (DataFrame, DataFrame) => DataFrame): Set[Long] =
      decon(docs, spark.read.json(evalPath.toString).select("doc_id", "text"))
        .collect().map(_.getLong(0)).toSet
    val exact = (d: DataFrame, e: DataFrame) => Decontaminate.decontaminate(d, e)
    val bloom = (d: DataFrame, e: DataFrame) =>
      Decontaminate.bloomDecontaminate(d, e, numBits = 1L << 12)
    assert(kept(exact) === Set(2L))
    assert(kept(bloom) === Set(2L))

    // Rewrite the eval file in place, checksum included, so that no
    // directory entry changes: the listing of the set's root, partition
    // directory mtimes included, reads exactly as before.
    val partDir = evalPath.resolve("part=0")
    val dirMtime = Files.getLastModifiedTime(partDir)
    val staged = root.resolve("staged")
    writeEval("one two three", staged)
    val (oldData, oldCrc) = dataAndCrc(partDir)
    val (newData, newCrc) = dataAndCrc(staged.resolve("part=0"))
    Files.write(oldData, Files.readAllBytes(newData))
    Files.write(oldCrc, Files.readAllBytes(newCrc))
    assert(Files.getLastModifiedTime(partDir) === dirMtime)

    assert(kept(exact) === Set(1L))
    assert(kept(bloom) === Set(1L))
  }

  test("building each probe twice adds no session function and serves equal rows") {
    val s = spark
    import s.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val eval = Seq((100L, "beta gamma delta epsilon")).toDF("doc_id", "text")
    val keys = TextDedup.gramHashes(eval, 3).select(col("gh").as("k"))
      .union(Seq(1L, 7L, 12345L).toDF("k"))
    def twice(build: => Column => Column): Unit = {
      val Seq(a, b) = Seq(build, build).map(probe =>
        keys.select(col("k"), probe(col("k"))).collect().toSet)
      assert(a === b)
    }
    twice(Decontaminate.buildGramSetProbe(eval, 3)
      .getOrElse(fail("a one-document eval set must take the probe regime")))
    twice(Decontaminate.buildGramBloomProbe(eval, 3, numBits = 1L << 12))
    twice(TextAnalysis.buildGramCmsProbe(eval, 3, width = 256))
    twice(graft.operators.DyadicCms.buildRankProbe(
      Seq(3L, 5L, 9L).toDF("v"), "v", levels = 4, width = 256))
    assert(registry.listFunction().toSet -- before === Set.empty)
    assert(before -- registry.listFunction() === Set.empty)
  }
}
