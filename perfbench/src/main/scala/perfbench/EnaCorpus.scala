package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.Executors
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Shape of one generated ENA corpus.
  *
  * @param files          `.dat.gz` files written (pruned ones included)
  * @param recordsPerFile EMBL records per file
  * @param decoyMappings  idmapping rows for protein ids absent from the
  *                       corpus: a real idmapping covers all of UniProt,
  *                       and its row count is what picks the regime
  */
final case class EnaShape(files: Int, recordsPerFile: Int, decoyMappings: Long)

/** What the generator knows the build must produce. `digest` is the
  * wrapping sum of [[OutputCheck.rowHash]] over every expected output
  * row, so it does not depend on row order or partitioning. */
final case class EnaExpected(
    files: Int,
    prunedFiles: Int,
    gzBytes: Long,
    textBytes: Long,
    records: Long,
    loci: Long,
    mappedLoci: Long,
    rows: Long,
    digest: Long,
    idmappingRows: Long)

/** Deterministic EMBL corpus + idmapping generator.
  *
  * Records look like ENA entries: ID/AC/DE/OS/OC headers, a source
  * feature, gene and CDS features with qualifiers and multi-line
  * translations, and an SQ block. Protein ids have the `ABC12345.1`
  * shape `EmblLines.ProteinIdPattern` accepts. Mixed in at fixed rates:
  * malformed ID lines (tombstoned), Eukaryota non-fungal records
  * (dropped by the taxonomy filter), CDS blocks without a range
  * (dropped), origin-spanning joins on circular records, files under
  * `sequence/` without a division token (pruned), and a `wgs/` tree.
  *
  * The expected output is derived here from the generator's own view
  * of each record, independently of the program's parser.
  */
object EnaCorpus {
  /** Share of corpus protein ids the idmapping maps (1 or 2 ids each). */
  val MappedShare = 0.7
  /** Every id the idmapping maps to starts with this; fallback
    * `db_xref` ids never do, so a TSV row shows whether its locus was
    * resolved through the idmapping. */
  val MappedPrefix = "A0A"

  private val Alnum = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  private val Acids = "ACDEFGHIKLMNPQRSTVWY"
  private val Bases = "acgt"

  private def letters3(i: Int): String = {
    val a = ('A' + i / 676 % 26).toChar
    val b = ('A' + i / 26 % 26).toChar
    val c = ('A' + i % 26).toChar
    s"$a$b$c"
  }

  /** `n` in decimal, zero-padded to `width` digits. `f"%0Nd"` goes
    * through `String.format`, too slow for a million decoy ids. */
  private def padded(n: Long, width: Int): String = {
    val d = n.toString
    "0" * (width - d.length) + d
  }

  private def alnum(rnd: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += Alnum.charAt(rnd.nextInt(Alnum.length)); i += 1 }
    sb.toString
  }

  /** Where file `f` goes, and whether the division prune drops it. */
  private def fileRel(f: Int): (String, Boolean) = f % 20 match {
    case 0 => (f"sequence/std/hum$f%05d_HUM_1.dat.gz", true)
    case 1 | 2 | 3 | 4 => (f"wgs/public/wds/WDS$f%05d.dat.gz", false)
    case 5 | 6 => (f"wgs/suppressed/wdt/WDT$f%05d.dat.gz", false)
    case k =>
      val tok = Seq("PRO", "ENV", "FUN", "PHG")(k % 4)
      val sub = if (k % 2 == 0) "con" else "std"
      (f"sequence/$sub/rel_${sub}_$f%05d_${tok}_1.dat.gz", false)
  }

  private def division(rel: String): String =
    if (rel.startsWith("wgs/")) rel.split('/').take(3).mkString("-")
    else "sequence-" + rel.split('/')(1)

  /** Independent restatement of the coordinate rule: linear takes the
    * extreme endpoints; circular takes the complement of the largest
    * gap, with ties going to the wrap gap. */
  private def normalize(ranges: Seq[(Long, Long)], circular: Boolean,
      len: Long): (Long, Long) =
    if (!circular) {
      val ends = ranges.flatMap { case (a, b) => Seq(a, b) }
      (ends.min, ends.max)
    } else {
      val s = ranges.sortBy(_._1)
      val wrap = (len - s.last._2) + (s.head._1 - 1)
      val gaps = s.indices.dropRight(1).map(i => s(i + 1)._1 - s(i)._2 - 1)
      val best = if (gaps.isEmpty) -1 else gaps.indices.maxBy(gaps)
      if (best >= 0 && gaps(best) > wrap) (s(best + 1)._1, s(best)._2)
      else (s.head._1, s.last._2)
    }

  private final case class FilePart(
      gz: Long, text: Long, records: Long, loci: Long, mapped: Long,
      rows: Long, digest: Long, mapping: Seq[(String, String)])

  private def writeFile(root: Path, seed: Long, shape: EnaShape, f: Int): FilePart = {
    val (rel, pruned) = fileRel(f)
    val div = division(rel)
    val target = root.resolve(rel)
    Files.createDirectories(target.getParent)
    val rnd = new SplittableRandom(seed * 1000003L + f)
    val sb = new java.lang.StringBuilder(1 << 16)
    val mapping = mutable.ArrayBuffer.empty[(String, String)]
    var loci = 0L; var mapped = 0L; var rows = 0L; var digest = 0L
    var cds = 0
    def line(s: String): Unit = { sb.append(s); sb.append('\n') }

    for (r <- 0 until shape.recordsPerFile) {
      val acc = f"G${letters3(f % 17576)}$r%06d"
      val len = 2000L + rnd.nextInt(60000)
      val circular = rnd.nextInt(5) == 0
      val malformed = rnd.nextInt(100) == 0
      val taxon = rnd.nextInt(100) match {
        case k if k < 4 => "Eukaryota; Metazoa; Chordata; Mammalia."
        case k if k < 6 => "Eukaryota; Fungi; Dikarya; Ascomycota."
        case k if k < 9 => "Viruses; Duplodnaviria; Caudoviricetes."
        case _ => "Bacteria; Pseudomonadota; Gammaproteobacteria."
      }
      val topo = if (circular) "circular" else "linear"
      if (malformed) line(s"ID   $acc; SV 1; $topo; genomic DNA; STD; PRO")
      else line(s"ID   $acc; SV 1; $topo; genomic DNA; STD; PRO; $len BP.")
      line("XX"); line(s"AC   $acc;"); line("XX")
      line(s"DE   Synthetic genome fragment $acc.")
      line("XX"); line("OS   Synthetic organism")
      line(s"OC   $taxon")
      line("XX"); line("FH   Key             Location/Qualifiers"); line("FH")
      line(s"FT   source          1..$len")
      line("FT                   /organism=\"Synthetic organism\"")
      line("FT                   /mol_type=\"genomic DNA\"")
      val live = !malformed && !(taxon.contains("Eukaryota") && !taxon.contains(" Fungi"))
      var idx = 1
      for (_ <- 0 until 1 + rnd.nextInt(4)) {
        val lo = 1L + rnd.nextInt((len - 1200).toInt)
        val hi = lo + 90 + rnd.nextInt(1000)
        if (rnd.nextBoolean()) {
          line(s"FT   gene            $lo..$hi")
          line("FT                   /locus_tag=\"LT_" + acc + "_" + idx + "\"")
        }
        val unparseable = rnd.nextInt(50) == 0
        val (locText, ranges, complement) =
          if (unparseable) (s"$lo", Seq.empty[(Long, Long)], false)
          else if (circular && rnd.nextInt(5) == 0) {
            val a = len - rnd.nextInt(400); val b = 1L + rnd.nextInt(600)
            (s"join($a..$len,1..$b)", Seq((a, len), (1L, b)), false)
          } else rnd.nextInt(20) match {
            case k if k < 10 => (s"$lo..$hi", Seq((lo, hi)), false)
            case k if k < 15 => (s"complement($lo..$hi)", Seq((lo, hi)), true)
            case k if k < 18 =>
              val m = lo + (hi - lo) / 2
              (s"join($lo..$m,${m + 40}..${hi + 40})", Seq((lo, m), (m + 40, hi + 40)), false)
            case 18 =>
              val m = lo + (hi - lo) / 2
              (s"complement(join($lo..$m,${m + 31}..${hi + 31}))",
                Seq((lo, m), (m + 31, hi + 31)), true)
            case _ => (s"<$lo..>$hi", Seq((lo, hi)), false)
          }
        // long locations wrap onto a continuation line, as in real entries
        if (locText.length > 24 && locText.contains(",")) {
          val cut = locText.indexOf(',') + 1
          line(s"FT   CDS             ${locText.substring(0, cut)}")
          line(s"FT                   ${locText.substring(cut)}")
        } else line(s"FT   CDS             $locText")
        line("FT                   /codon_start=1")
        line("FT                   /transl_table=11")
        line("FT                   /product=\"hypothetical protein\"")
        val pids = (0 until (if (rnd.nextInt(30) == 0) 2 else 1)).map { _ =>
          cds += 1; f"${letters3(f % 17576)}$cds%05d.1"
        }
        val hasPid = rnd.nextInt(10) != 0
        if (hasPid)
          pids.foreach(p => line("FT                   /protein_id=\"" + p + "\""))
        val xrefs =
          if (rnd.nextInt(10) < 7) Seq(s"Q${alnum(rnd, 5)}") else Seq.empty[String]
        xrefs.foreach(x => line("FT                   /db_xref=\"UniProtKB/TrEMBL:" + x + "\""))
        val prot = new StringBuilder
        for (_ <- 0 until 40 + rnd.nextInt(120)) prot += Acids.charAt(rnd.nextInt(Acids.length))
        val chunks = prot.toString.grouped(58).toSeq
        line("FT                   /translation=\"" + chunks.head +
          (if (chunks.size == 1) "\"" else ""))
        chunks.tail.zipWithIndex.foreach { case (c, i) =>
          line("FT                   " + c + (if (i == chunks.size - 2) "\"" else ""))
        }
        // idmapping rows for this CDS's protein ids; a protein id with no
        // /protein_id qualifier in the file can still be mapped (it never
        // matches, like a stale mapping)
        val mappedIds = pids.map { p =>
          if (rnd.nextDouble() < MappedShare) {
            val ids = (0 until 1 + rnd.nextInt(2)).map(_ => MappedPrefix + alnum(rnd, 7)).distinct
            ids.foreach(u => mapping += ((p, u)))
            // a duplicate mapping row: the resolve dedups per protein id
            if (rnd.nextInt(50) == 0) mapping += ((p, ids.head))
            ids
          } else Seq.empty[String]
        }
        if (live && !pruned && ranges.nonEmpty) {
          val (s, e) = normalize(ranges, circular, len)
          val rev = if (hasPid) mappedIds.flatten else Seq.empty
          val ids = if (rev.nonEmpty) rev else xrefs
          loci += 1
          if (rev.nonEmpty) mapped += 1
          ids.foreach { u =>
            val row = s"$acc\t$u\t$idx\t${if (circular) 0 else 1}\t${if (complement) 0 else 1}\t$s\t$e"
            digest += OutputCheck.rowHash(div, row)
            rows += 1
          }
          idx += 1
        }
      }
      line("XX")
      line(s"SQ   Sequence $len BP; 0 A; 0 C; 0 G; 0 T; 0 other;")
      for (k <- 1 to 3 + rnd.nextInt(5)) {
        val seq = new StringBuilder
        for (_ <- 0 until 6) {
          for (_ <- 0 until 10) seq += Bases.charAt(rnd.nextInt(4))
          seq += ' '
        }
        line(f"     $seq%s${k * 60}%9d")
      }
      line("//")
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    val out = new GZIPOutputStream(Files.newOutputStream(target), 1 << 16)
    try out.write(bytes) finally out.close()
    FilePart(Files.size(target), bytes.length,
      if (pruned) 0 else shape.recordsPerFile, loci, mapped, rows, digest,
      mapping.toSeq)
  }

  /** Writes the corpus under `root/corpus` and the idmapping parquet
    * under `root/idmapping.parquet`; returns what the build must produce.
    * Needs no Spark session, so it can run while one starts. */
  def generate(root: Path, seed: Long, shape: EnaShape, threads: Int): EnaExpected = {
    val corpus = root.resolve("corpus")
    val idmapping = root.resolve("idmapping.parquet")
    Files.createDirectories(idmapping)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // decoys: 'D', a letter and six digits never collide with the
    // corpus's three-letter + five-digit protein ids
    val perPart = (shape.decoyMappings + threads - 1) / threads
    val decoys = (0 until threads).map { t =>
      Future {
        val from = t * perPart
        val until = math.min(shape.decoyMappings, from + perPart)
        writeMapping(idmapping.resolve(f"part-$t%05d-decoys.parquet"),
          (from until until).iterator.map(i =>
            ("D" + ('A' + i % 26).toChar + padded(i % 1000000, 6) + "." + i / 1000000,
              MappedPrefix + padded(i * 7919L % 10000000L, 7))))
      }
    }
    val parts =
      try {
        val ps = Await.result(Future.sequence((0 until shape.files).map(f =>
          Future(writeFile(corpus, seed, shape, f)))), Duration.Inf)
        writeMapping(idmapping.resolve("part-corpus.parquet"), ps.iterator.flatMap(_.mapping))
        Await.result(Future.sequence(decoys), Duration.Inf)
        ps
      } finally pool.shutdown()

    EnaExpected(
      files = shape.files,
      prunedFiles = (0 until shape.files).count(f => fileRel(f)._2),
      gzBytes = parts.map(_.gz).sum,
      textBytes = parts.map(_.text).sum,
      records = parts.map(_.records).sum,
      loci = parts.map(_.loci).sum,
      mappedLoci = parts.map(_.mapped).sum,
      rows = parts.map(_.rows).sum,
      digest = parts.map(_.digest).sum,
      idmappingRows = parts.map(_.mapping.size.toLong).sum + shape.decoyMappings)
  }

  private val MappingSchema = MessageTypeParser.parseMessageType(
    "message idmapping { required binary foreign_id (STRING); " +
      "required binary uniprot_id (STRING); }")

  private def writeMapping(file: Path, rows: Iterator[(String, String)]): Unit = {
    val groups = new SimpleGroupFactory(MappingSchema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(MappingSchema).build()
    try rows.foreach { case (f, u) =>
      w.write(groups.newGroup().append("foreign_id", f).append("uniprot_id", u))
    } finally w.close()
  }

  def corpusRoot(root: Path): String = root.resolve("corpus").toString
  def idmappingPath(root: Path): String = root.resolve("idmapping.parquet").toString

  /** Corpus directories must not themselves look like ENA tree levels:
    * the division prune and the output layout read `sequence`/`wgs`
    * anywhere in the path. */
  def checkRoot(root: File): Unit = {
    val p = root.getAbsolutePath
    require(!p.contains("sequence") && !p.contains("wgs/"),
      s"work directory path must not contain 'sequence' or 'wgs/': $p")
  }
}
