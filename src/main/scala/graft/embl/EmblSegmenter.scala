package graft.embl

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Observability counters for the segmentation stage (A5 — the analog
  * of the reference's per-task logging, parse_embl.py:150-154 and the
  * driver-loop tallies, dask_tskmgr.py:160-163). Spark accumulators:
  * cheap, executor-side, readable on the driver after any action.
  * (Task retries can over-count — fine for observability, never used
  * for semantics.)
  */
final case class SegMetrics(
    tombstonedRecords: LongAccumulator,
    taxonomyDropped: LongAccumulator,
    droppedCdsBlocks: LongAccumulator,
    emittedLoci: LongAccumulator) extends Serializable

object SegMetrics {
  def apply(sc: SparkContext): SegMetrics = SegMetrics(
    sc.longAccumulator("ena.tombstoned_records"),
    sc.longAccumulator("ena.taxonomy_dropped_records"),
    sc.longAccumulator("ena.dropped_cds_blocks"),
    sc.longAccumulator("ena.emitted_loci"))
}

/** One CDS locus, flattened with its chromosome (Record) attributes —
  * the `loci` relation of SURVEY.md §1.3. Replaces the reference's
  * mutable `Record`/`Locus` object graph (parse_embl.py:53-303).
  *
  * @param locus_idx 1-based order of CDS appearance within the record
  *                  (the reference's `Record.count`, parse_embl.py:110)
  * @param direction 0 = complement strand, 1 = forward (parse_embl.py:147)
  * @param chr_struct 1 = linear, 0 = circular (parse_embl.py:341)
  */
final case class LocusRow(
    file_path: String,
    ena_id: String,
    chr_struct: Int,
    chr_len: Long,
    locus_idx: Int,
    direction: Int,
    start: Long,
    end: Long,
    uniprot_ids: Seq[String],
    protein_ids: Seq[String])

/** EMBL flat-file record segmentation (SURVEY.md §2.1 S5): a
  * per-partition streaming state machine over `(file_path, line)` rows
  * that reproduces the reference's `process_file` control flow
  * (parse_embl.py:444-570) — flush-on-ID-line, flush-on-new-feature-
  * block, flush-on-EOF (here: on file change or iterator end), the
  * line-prefix prefilter (F1), the taxonomy anti-filter (F2), the CDS
  * gate (F5), and tombstoning of malformed/unknown-structure records
  * (F3/F4).
  *
  * Input rows must be in file order within each file, and each file's
  * rows contiguous. The batch reader ([[graft.sources.EmblDataSource]])
  * streams a partition's whole files one after another, and gzip inputs
  * are never split, so this holds by construction.
  *
  * Memory is O(one record's loci), matching the reference's streaming
  * profile — nothing holds a whole file.
  */
object EmblSegmenter {

  /** Mirror of the reference's `Record` (parse_embl.py:53-194). */
  private final class RecordState(
      val enaId: String,
      val chrStruct: Int,
      val chrLen: Long,
      val filePath: String,
      metrics: Option[SegMetrics]) {
    private var count = 1
    private val loci = mutable.ArrayBuffer.empty[LocusRow]
    private val curLines = mutable.ArrayBuffer.empty[String]

    def isLive: Boolean = enaId.nonEmpty
    def hasLocusLines: Boolean = curLines.nonEmpty
    def appendLine(line: String): Unit = curLines += line

    /** Mirror of `Record.add_locus` (parse_embl.py:116-194). */
    def addLocus(): Unit = {
      val scrubbed = EmblLines.scrubLocationText(curLines.mkString)
      val ranges = EmblLines.locRanges(scrubbed)
      if (ranges.nonEmpty) {
        val (s, e) = Coords.normalizeLocation(ranges, chrStruct, chrLen)
        val direction = if (scrubbed.contains("complement")) 0 else 1
        // insertion-ordered distinct sets (A3) — deterministic, unlike
        // the reference's unordered python sets (row-set equal).
        val uniprot = mutable.LinkedHashSet.empty[String]
        val protein = mutable.LinkedHashSet.empty[String]
        curLines.foreach { line =>
          // a line matches at most one of the two XREF patterns
          // (parse_embl.py:21-32,162-177)
          EmblLines.uniprotId(line) match {
            case Some(u) => uniprot += u
            case None    => EmblLines.proteinId(line).foreach(protein += _)
          }
        }
        loci += LocusRow(filePath, enaId, chrStruct, chrLen, count,
          direction, s, e, uniprot.toSeq, protein.toSeq)
        count += 1
        metrics.foreach(_.emittedLoci.add(1))
      } else {
        // loc-parse failure: drop the block, don't increment (py:150-154)
        metrics.foreach(_.droppedCdsBlocks.add(1))
      }
      curLines.clear()
    }

    /** Flush any pending CDS block, then emit the record's loci if it is
      * live — the combined `add_locus` + `process_record` emission path
      * (parse_embl.py:494-507,568 + 196-255 minus the DB join, which is
      * relational downstream, see [[EnaPipeline]]).
      */
    def finishRecord(): Seq[LocusRow] = {
      if (curLines.nonEmpty) addLocus()
      if (isLive) loci.toSeq else Seq.empty
    }
  }

  private def dead(path: String) = new RecordState("", -1, 0L, path, None)

  /** Segment an ordered stream of `(file_path, line)` into loci. A
    * `null` line marks a file whose read failed partway: the record in
    * flight is dropped rather than emitted truncated.
    */
  def segment(
      rows: Iterator[(String, String)],
      metrics: Option[SegMetrics] = None): Iterator[LocusRow] = {
    var state: RecordState = dead("")
    var curPath: String = null

    def step(path: String, line: String): Seq[LocusRow] = {
      val crossed =
        if (curPath != null && path != curPath) {
          val out = state.finishRecord() // EOF flush of previous file
          state = dead(path)
          out
        } else Seq.empty
      curPath = path

      if (line == null) {
        state = dead(path) // file cut short: drop the record in flight
        crossed
      } else if (!(line.startsWith("FT   ") || line.startsWith("ID   ") ||
            line.startsWith("OC   "))) {
        crossed // F1 prefix prefilter (parse_embl.py:488-489)
      } else if (line.startsWith("ID   ")) {
        // flush + emit previous record, start the next (py:494-520)
        val out = crossed ++ state.finishRecord()
        val id = EmblLines.parseIdLine(line)
        if (id.enaId.isEmpty) metrics.foreach(_.tombstonedRecords.add(1))
        state = new RecordState(id.enaId, id.chrStruct, id.chrLen, path, metrics)
        out
      } else if (line.startsWith("OC   ") &&
                 EmblLines.ocLineDropsRecord(line)) {
        // F2 taxonomy anti-filter (py:527-535); count only live records
        // so a dead record's OC lines don't double-count
        if (state.isLive) metrics.foreach(_.taxonomyDropped.add(1))
        state = dead(path)
        crossed
      } else if (!state.isLive) {
        crossed // tombstoned record: skip everything (py:540-541)
      } else if (EmblLines.isFeatureStart(line)) {
        // new feature block: flush pending CDS, gate on CDS (py:545-559)
        if (state.hasLocusLines) state.addLocus()
        if (line.startsWith("FT   CDS ")) state.appendLine(line)
        crossed
      } else if (state.hasLocusLines && line.startsWith("FT    ")) {
        state.appendLine(line) // continuation line (py:564-565)
        crossed
      } else {
        crossed
      }
    }

    // `++` is by-name: the final flush sees the last state when the
    // line stream is exhausted (the reference's EOF flush, py:568).
    rows.flatMap { case (p, l) => step(p, l) } ++ state.finishRecord()
  }
}
