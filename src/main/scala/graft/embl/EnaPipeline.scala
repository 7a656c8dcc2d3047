package graft.embl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.EmblDataSource

/** The end-to-end ENA pipeline as ONE lazy Spark plan (SURVEY.md §3):
  * pruned EMBL scan with in-reader segmentation -> broadcast idmapping
  * join -> fallback coalesce -> explode -> 7-column relation -> TSV
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
  * its own. Id resolution has two regimes: a broadcast id-map for small
  * mappings and a shuffle join for UniProt-scale ones (~1e9 rows).
  * `EnaMain.chooseBroadcastRegime` picks one from a bounded probe of
  * the idmapping; the join condition is declarative either way.
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
    * Reverse-mapped ids keep multiplicity across protein ids (the
    * reference emits one row per list element, parse_embl.py:236,252) —
    * dedup happens only per protein id (`collect_set`, the A1 analog of
    * mysql_database.py:120-129).
    */
  def resolveIds(
      loci: Dataset[LocusRow],
      idmapping: DataFrame,
      broadcastIdMap: Boolean = true): DataFrame = {
    val mapped = idmapping
      .groupBy(col("foreign_id"))
      .agg(collect_set(col("uniprot_id")).as("mapped_ids")) // A1

    // forced oracle runs pin the shuffle regime — the true-UniProt
    // (~1e9 mapping rows) plan — regardless of the caller's choice
    val resolved =
      if (broadcastIdMap && !graft.Regimes.forceDistributed) {
        // Broadcast regime: ship the aggregated foreign_id -> ids map to
        // every executor and resolve each locus's protein_ids per-row —
        // a map-side hash join with NO explode / join / regroup. The
        // former declarative path exploded protein_ids and then
        // re-assembled rows with a groupBy on a unique locus id: a full
        // shuffle of every locus whose grouping reduces nothing. The map
        // materializes driver-side exactly when a broadcast build side
        // would have anyway.
        val spark = loci.sparkSession
        val idMap: Map[String, Array[String]] = mapped.collect()
          .map(r => r.getString(0) -> r.getSeq[String](1).toArray).toMap
        val bc = spark.sparkContext.broadcast(idMap)
        val resolve = udf { pids: Seq[String] =>
          // reference semantics (parse_embl.py:236): per-pid dedup (A1's
          // collect_set) but multiplicity KEPT across protein ids
          if (pids == null) Seq.empty[String]
          else pids.flatMap(p => bc.value.getOrElse(p, Array.empty[String]))
        }
        loci.toDF().withColumn("rev_ids", resolve(col("protein_ids")))
      } else {
        // Shuffle regime (true UniProt scale, ~1e9 mapping rows). The
        // wide locus rows go through ONE exchange (the final join-back);
        // the J1 join and its regroup shuffle only the narrow
        // (locus key, pid) projection — not the full rows, which the
        // earlier explode->join->regroup-on-everything plan dragged
        // through every stage.
        // The locus key is the composite NATURAL key (file_path,
        // ena_id, locus_idx) — unique per locus by construction (one
        // EMBL record per ena_id per file; locus_idx numbers loci
        // within the record, W1). A natural key agrees between the two
        // evaluations of this subtree (rev and the join-back) under ANY
        // upstream partitioning, unlike the previous
        // monotonically_increasing_id, whose correctness hung on the
        // scan being shuffle-free and listing order stable (a tripwire
        // for any future upstream change).
        val key = Seq("file_path", "ena_id", "locus_idx")
        val keyed = loci.toDF()
        val rev = keyed
          .select((key.map(col) :+ explode(col("protein_ids")).as("pid")): _*)
          .join(mapped, col("pid") === col("foreign_id")) // J1 inner: misses add nothing
          .groupBy(key.map(col): _*)
          .agg(flatten(collect_list(col("mapped_ids"))).as("rev_ids"))
        keyed
          .join(rev, key, "left_outer") // J2 via the null side
          .withColumn("rev_ids",
            coalesce(col("rev_ids"), typedLit(Seq.empty[String])))
      }

    resolved
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
      broadcastIdMap: Boolean = true,
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
