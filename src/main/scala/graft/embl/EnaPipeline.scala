package graft.embl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.EmblDataSource

/** The end-to-end ENA pipeline as ONE lazy Spark plan (SURVEY.md §3):
  * pruned EMBL scan with in-reader segmentation -> idmapping join ->
  * fallback coalesce -> explode -> 7-column relation -> TSV
  * sink partitioned by source-tree division.
  *
  * Replaces the reference's dynamic Dask graph + per-record MySQL
  * round-trips (dask_tskmgr.py:110-257, mysql_database.py:50-134): file
  * discovery is Spark's InMemoryFileIndex (S1/S2), the per-record
  * `IN`-list query amortizes into a single hash join (J1/J2), and the
  * scratch-then-move staging is the built-in FileOutputCommitter (S11).
  *
  * Scale notes (100 TB): gzip inputs are non-splittable, so a file is
  * never split across tasks; Spark's own file-scan classes bin-pack
  * whole files into tasks by bytes (`spark.sql.files.maxPartitionBytes`
  * / `openCostInBytes`), so a tiny-file storm costs tasks in proportion
  * to its volume, not its file count, while a large file gets a task of
  * its own. Id resolution is one join-first plan whose join strategy
  * Catalyst chooses; see [[resolveIds]].
  */
object EnaPipeline {

  /** Division-token prune for `sequence/` trees (S3, dask_tasks.py:82-85):
    * keeps bacteria/fungi/phage/env divisions only.
    */
  val DivisionTokenRegex = "_(ENV|PRO|FUN|PHG)_"

  /** S3 as a `file_path` predicate: a file whose DIRECTORY path contains
    * "sequence" is kept only if its path matches [[DivisionTokenRegex]]
    * (dask_tasks.py:82-85); every other file is kept. Written as SQL so
    * that a file index can evaluate it per listed file without an
    * analyzer; the batch scan applies it at listing, the streaming
    * ingest as a row filter.
    */
  val DivisionPrune: Column =
    expr(s"NOT file_path RLIKE 'sequence.*/' OR file_path RLIKE '$DivisionTokenRegex'")

  /** X11 (dask_tasks.py:138-154): derive the output-layout division from
    * the source path: `.../wgs/public/wds/x.dat.gz` -> `wgs-public-wds`,
    * `.../sequence/con/x.dat.gz` -> `sequence-con`.
    *
    * Documented divergence from the reference: the reference's
    * `findall((wgs)/(\w*)/(\w*)|(sequence)/(\w*))[0]` takes the
    * LEFTMOST match in the path string, so a pathological path
    * containing both `sequence/x/` and later `wgs/a/b/` would classify
    * as `sequence-x` there but `wgs-a-b` here (wgs pattern checked
    * first). Real ENA trees never nest one tree inside the other, so
    * the branch order is unobservable in practice; kept for the simpler
    * column expression.
    */
  def divisionFromPath(path: Column): Column = {
    val p = "(wgs)/(\\w*)/(\\w*)"
    val wgs = concat_ws("-",
      regexp_extract(path, p, 1),
      regexp_extract(path, p, 2),
      regexp_extract(path, p, 3))
    val seqDiv = concat_ws("-",
      lit("sequence"), regexp_extract(path, "sequence/(\\w*)", 1))
    when(path.rlike("wgs/\\w*/\\w*"), wgs)
      .when(path.rlike("sequence/\\w*"), seqDiv)
      .otherwise(lit("unknown"))
  }

  /** X12 (dask_tasks.py:141,171): filename stem of a `*.dat.gz` path. */
  def fileStem(path: Column): Column =
    regexp_extract(path, "/(\\w+)\\.dat\\.gz$", 1)

  /** S1/S2/S3/S4/S5: recursive discovery + glob + divisional prune +
    * gzip scan + record segmentation, yielding the flattened `loci`
    * relation. This is the `format("embl")` relation typed as
    * [[LocusRow]]; the segmentation counters ride on its table instance.
    */
  def readLoci(
      spark: SparkSession,
      roots: Seq[String],
      applyDivisionPrune: Boolean = true,
      metrics: Option[SegMetrics] = None): Dataset[LocusRow] = {
    import spark.implicits._
    EmblDataSource.load(spark, roots, applyDivisionPrune, metrics).as[LocusRow]
  }

  /** S5 over a line relation: ordered `(file_path, value)` lines ->
    * loci, for callers that hold lines rather than files, such as the
    * streaming ingest or a materialized text scan. Each file's lines
    * must be contiguous and in order within one partition.
    */
  def segmentLines(
      spark: SparkSession,
      lines: DataFrame,
      metrics: Option[SegMetrics] = None): Dataset[LocusRow] = {
    import spark.implicits._
    lines
      .select(col("file_path"), col("value"))
      .as[(String, String)]
      .mapPartitions(it => EmblSegmenter.segment(it, metrics))
  }

  /** J1/J2/A1/X9/X10/F7 (SURVEY.md §2.3-2.4): resolve each locus's
    * protein ids against the `idmapping(foreign_id, uniprot_id)` side
    * relation, fall back to parse-time UniProt ids when nothing mapped,
    * and explode to the reference's 7-column output schema
    * (parse_embl.py:226-255).
    *
    * One declarative plan: the narrow `(locus key, pid)` projection
    * joins the raw idmapping (J1), `distinct` on `(key, pid,
    * uniprot_id)` dedups per protein id (A1, mysql_database.py:120-129),
    * and only the matches are grouped per locus before the left-outer
    * join back. Reverse-mapped ids keep their multiplicity across
    * protein ids, as the reference emits one row per list element
    * (parse_embl.py:236,252). That relies on `protein_ids` being a
    * distinct set per locus, which the segmenter guarantees; a repeated
    * pid would otherwise count once.
    *
    * `broadcastIdMap` is a join hint only: `true` broadcasts the
    * idmapping into J1, `false` leaves the strategy to Catalyst and
    * AQE. The hint exists for sources whose size Catalyst cannot see,
    * such as a V1 JDBC relation (see `EnaMain.chooseBroadcastRegime`).
    */
  def resolveIds(
      loci: Dataset[LocusRow],
      idmapping: DataFrame,
      broadcastIdMap: Boolean = false): DataFrame = {
    // the composite natural key: unique per locus (one EMBL record per
    // ena_id per file; locus_idx numbers loci within the record, W1),
    // so the two reads of `keyed` agree under any upstream partitioning
    val key = Seq("file_path", "ena_id", "locus_idx")
    val keyCols = key.map(col)
    val keyed = loci.toDF()
    val side = if (broadcastIdMap) broadcast(idmapping) else idmapping
    val rev = keyed
      .select(keyCols :+ explode(col("protein_ids")).as("pid"): _*)
      .join(side, col("pid") === col("foreign_id")) // J1 inner: misses add nothing
      .select(keyCols :+ col("pid") :+ col("uniprot_id"): _*)
      .distinct() // A1: per-pid dedup, multiplicity across pids kept
      .groupBy(keyCols: _*)
      .agg(collect_list(col("uniprot_id")).as("rev_ids"))
    keyed
      .join(rev, key, "left_outer") // J2: an unmapped locus gets null rev_ids
      .withColumn("ids_final",
        when(size(col("rev_ids")) > 0, col("rev_ids"))
          .otherwise(col("uniprot_ids"))) // X9 fallback coalesce
      .withColumn("uniprot_id", explode(col("ids_final"))) // X10
      .select( // F7: the reference's 7-column schema (parse_embl.py:255)
        col("ena_id"), col("uniprot_id"), col("locus_idx").as("locus_count"),
        col("chr_struct"), col("direction"), col("start"), col("end"),
        col("file_path"))
  }

  /** Full pipeline: roots + idmapping -> 7-column relation. */
  def enaTab(
      spark: SparkSession,
      roots: Seq[String],
      idmapping: DataFrame,
      broadcastIdMap: Boolean = false,
      metrics: Option[SegMetrics] = None): DataFrame =
    resolveIds(readLoci(spark, roots, metrics = metrics), idmapping,
      broadcastIdMap)

  /** S9/S10/S12: headerless TSV sink, one directory per source-tree
    * division (the reference's output layout, dask_tasks.py:138-162),
    * ordered within partitions by source path like the reference's
    * lexicographic concat (dask_tskmgr.py:234-241).
    *
    * Documented layout divergences from the reference:
    * directories are Hive-style `division=wgs-public-wds` (Spark's
    * partitioned-write convention, self-describing on read-back) vs the
    * reference's bare `wgs-public-wds`; and the CSV writer quotes a
    * field if it ever contained a tab/quote, where the reference writes
    * raw `\t`-joined lines (parse_embl.py:255) — unobservable for ENA
    * ids, which are `\w+` tokens. Renaming dirs post-write would re-add
    * the reference layout if a downstream consumer required it; use
    * [[writeTsvConcat]] for the reference's single-`ena.tab` shape.
    */
  def writeTsv(enaTab: DataFrame, outDir: String): Unit =
    enaTab
      .withColumn("division", divisionFromPath(col("file_path")))
      .sortWithinPartitions(col("file_path"))
      .drop(col("file_path"))
      .write
      .partitionBy("division")
      .option("sep", "\t")
      .option("header", "false")
      .mode("overwrite")
      .csv(outDir)

  /** S12/O2 full-fidelity mode: ONE globally ordered TSV, the analog of
    * the reference's lexicographically sorted byte-concat into `ena.tab`
    * (dask_tskmgr.py:234-241). Total order: source path first (the
    * reference's file sort), then a deterministic within-file key.
    * `coalesce(1)` funnels the final write through a single task — a
    * deliberate single-writer bottleneck, same as the reference's
    * client-side concat; use [[writeTsv]] for the parallel layout.
    */
  def writeTsvConcat(enaTab: DataFrame, outDir: String): Unit =
    enaTab
      .orderBy(col("file_path"), col("ena_id"), col("locus_count"),
        col("uniprot_id"))
      .drop(col("file_path"))
      .coalesce(1)
      .write
      .option("sep", "\t")
      .option("header", "false")
      .mode("overwrite")
      .csv(outDir)
}
