package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Deterministic `documents` table in the sf0.1 test data's shape:
  * `(doc_id, text, lang, source, n_chars)`, a 31-word vocabulary,
  * 20–90 tokens per document, 20 round-robin sources. About 4% of
  * documents are exact copies and 8% near copies (1–3 token edits) of
  * an earlier document, so every dedup stage has work to do. */
object DocsCorpus {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "the", "spark", "line", "column", "order", "small", "big", "sort",
    "fast", "slow", "value", "scan", "vector", "part", "query", "agg",
    "table", "hash", "filter", "customer", "stream", "key", "group",
    "merge", "batch", "join", "row", "data", "index", "plan")
  private val Langs = IndexedSeq("en", "en", "en", "en", "zh", "de", "fr", "es")

  private val Schema = MessageTypeParser.parseMessageType(
    "message documents { required int64 doc_id; required binary text (STRING); " +
      "required binary lang (STRING); required binary source (STRING); " +
      "required int64 n_chars; }")

  /** Writes `dir/documents.parquet` as `files` parquet files, doc ids
    * dealt round-robin; returns its size in bytes. */
  def generate(dir: Path, seed: Long, docs: Int, files: Int): Long = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    val texts = new Array[Array[String]](docs)
    val rows = (0 until docs).map { i =>
      val r = rnd.nextInt(100)
      val toks =
        if (i > 10 && r < 4) texts(rnd.nextInt(i)).clone()
        else if (i > 10 && r < 12) {
          val t = texts(rnd.nextInt(i)).clone()
          for (_ <- 0 until 1 + rnd.nextInt(3))
            t(rnd.nextInt(t.length)) = Vocab(rnd.nextInt(Vocab.length))
          t
        } else Array.fill(20 + rnd.nextInt(71))(Vocab(rnd.nextInt(Vocab.length)))
      texts(i) = toks
      val text = toks.mkString(" ")
      (i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
    val table = dir.resolve("documents.parquet")
    Files.createDirectories(table)
    val groups = new SimpleGroupFactory(Schema)
    for (f <- 0 until files) {
      val w = ExampleParquetWriter.builder(new LocalOutputFile(table.resolve(f"part-$f%05d.parquet")))
        .withType(Schema).build()
      try rows.indices.filter(_ % files == f).foreach { i =>
        val (id, text, lang, source, n) = rows(i)
        w.write(groups.newGroup().append("doc_id", id).append("text", text)
          .append("lang", lang).append("source", source).append("n_chars", n))
      } finally w.close()
    }
    sizeOf(table.toFile)
  }

  private def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
    else f.length
}
