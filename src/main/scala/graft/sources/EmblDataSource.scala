package graft.sources

import java.io.{BufferedReader, FileNotFoundException, IOException, InputStreamReader}
import java.util
import java.util.OptionalLong
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, PlanDataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.embl.{EmblSegmenter, EnaPipeline, LocusRow, SegMetrics}

/** DataSource V2 connector exposing an EMBL flat-file tree as a table
  * of loci: `spark.read.format("embl").load(root)`, usable from pure
  * SQL (`CREATE TABLE ena USING embl LOCATION ...`). It is the only
  * batch EMBL reader: [[graft.embl.EnaPipeline.readLoci]] is this
  * relation typed as [[LocusRow]].
  *
  * Physical layout: files are listed the way Spark's file sources list
  * them and packed into input partitions by bytes with Spark's own rule
  * (`spark.sql.files.maxPartitionBytes`, `openCostInBytes`,
  * `minPartitionNum`). A file is never split — gzip is non-splittable
  * and the segmentation state machine needs each file whole — so a
  * partition is a run of whole files that stream, one after another,
  * through a single segmenter. Column pruning pushes into the reader:
  * unneeded fields are never materialized into rows
  * (`SupportsPushDownRequiredColumns`).
  *
  * Options: `divisionPrune` (default true) applies the S3 filename
  * prune to `sequence/` trees at file-listing time — partition pruning
  * in the proper sense: pruned files are never opened.
  */
class EmblDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "embl"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EmblDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EmblTable(properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = false
}

object EmblDataSource {
  /** The loci relation schema (mirrors [[LocusRow]]). */
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("ena_id", StringType),
    StructField("chr_struct", IntegerType),
    StructField("chr_len", LongType),
    StructField("locus_idx", IntegerType),
    StructField("direction", IntegerType),
    StructField("start", LongType),
    StructField("end", LongType),
    StructField("uniprot_ids", ArrayType(StringType)),
    StructField("protein_ids", ArrayType(StringType))))

  /** `format("embl").option("divisionPrune", ...).load(roots: _*)`, with
    * the segmentation counters attached to the table instance, which no
    * option string can carry.
    */
  def load(
      spark: SparkSession,
      roots: Seq[String],
      divisionPrune: Boolean,
      metrics: Option[SegMetrics]): DataFrame = {
    val options = Map(
      "paths" -> new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(roots.toArray),
      "divisionPrune" -> divisionPrune.toString)
    val relation = DataSourceV2Relation.create(new EmblTable(options, metrics),
      None, None, new CaseInsensitiveStringMap(options.asJava))
    PlanDataset.ofRows(spark, relation)
  }
}

private[sources] class EmblTable(
    properties: Map[String, String], metrics: Option[SegMetrics] = None)
    extends Table with SupportsRead {
  override def name(): String =
    s"embl(${properties.getOrElse("path", properties.getOrElse("paths", "?"))})"
  override def schema(): StructType = EmblDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EmblScanBuilder(options, properties, metrics)
}

private[sources] class EmblScanBuilder(
    options: CaseInsensitiveStringMap, tableProps: Map[String, String],
    metrics: Option[SegMetrics])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = EmblDataSource.Schema
  private var pathFilters: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `file_path` predicates prune at FILE level (every row of a file
    * shares its file_path — a whole-file skip, the scan-time analog of
    * partition pruning). All filters are also returned for post-scan
    * re-evaluation, which keeps the contract trivially correct.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pathFilters = filters.filter {
      case EqualTo("file_path", _) | StringContains("file_path", _) |
           StringStartsWith("file_path", _) | StringEndsWith("file_path", _) => true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pathFilters

  // DataFrame reads deliver path via scan options; CREATE TABLE ...
  // USING embl delivers it via the table properties (OPTIONS/LOCATION)
  private def opt(key: String): Option[String] =
    Option(options.get(key)).orElse(tableProps.get(key))

  override def build(): Scan = {
    val paths = opt("paths").map(EmblScanBuilder.parsePaths)
      .orElse(opt("path").map(Seq(_)))
      .orElse(opt("location").map(Seq(_)))
      .getOrElse(Seq.empty)
    val prune = opt("divisionPrune").forall(_.toBoolean)
    new EmblScan(paths, prune, required, pathFilters, metrics)
  }
}

private[sources] object EmblScanBuilder {
  /** `DataFrameReader.load(p1, p2, ...)` delivers the multi-path list
    * as a JSON-encoded array string in the `paths` option (the same
    * convention Spark's own FileDataSourceV2 decodes); a raw
    * comma-separated list is accepted for hand-written
    * `OPTIONS (paths '...')` DDL. The former split(",") mangled JSON
    * arrays into nonexistent bracket-wrapped paths (ADVICE r3).
    */
  def parsePaths(raw: String): Seq[String] =
    if (raw.trim.startsWith("["))
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(raw, classOf[Array[String]]).toSeq
    else raw.split(",").toSeq
}

/** Built by the optimizer, where the active session is the querying
  * one; it is kept, since listing, packing and the reader factory must
  * all obey that session's conf even when another session is active at
  * execution time.
  */
private[sources] class EmblScan(
    roots: Seq[String], divisionPrune: Boolean, required: StructType,
    pathFilters: Array[Filter] = Array.empty,
    metrics: Option[SegMetrics] = None,
    spark: SparkSession = SparkSession.active)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"EmblScan(roots=${roots.mkString(",")}, prune=$divisionPrune, " +
      s"columns=${required.fieldNames.mkString(",")})"

  /** S1/S2/S3 at listing time, once per scan: recursive walk, `*.dat.gz`
    * glob, divisional filename prune, `file_path` filters. Spark's
    * `InMemoryFileIndex` does the walk: it skips `_`/`.`-prefixed names,
    * lists wide trees in parallel and builds no owner/permission-bearing
    * `LocatedFileStatus` per file (on the local FS that copy forks a
    * shell per file). One index per root, so a root given twice is read
    * twice. The index lists a nonexistent root as empty; here that is
    * an error (matching `spark.read.parquet`), while an existing but
    * empty tree is a clean zero-partition scan.
    */
  private lazy val files: Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    val tokenRe = EnaPipeline.DivisionTokenRegex.r
    val listing = Map("recursiveFileLookup" -> "true", "pathGlobFilter" -> "*.dat.gz")
    roots.flatMap { root =>
      val p = new HPath(root)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p))
        throw new FileNotFoundException(s"embl source root does not exist: $root")
      new InMemoryFileIndex(spark, Seq(fs.makeQualified(p)), listing, None)
        .allFiles()
        .filter { f =>
          val path = f.getPath.toString
          // reference semantics (dask_tasks.py:82-85): only files whose
          // DIRECTORY path contains "sequence" are division-pruned
          (!divisionPrune || !path.matches(".*sequence.*/.*") ||
            tokenRe.findFirstIn(path).isDefined) && matchesPathFilters(path)
        }
        .sortBy(_.getPath.toString)
    }
  }

  private def matchesPathFilters(f: String): Boolean =
    pathFilters.forall {
      case EqualTo("file_path", v) => f == v.toString
      case StringContains("file_path", v) => f.contains(v)
      case StringStartsWith("file_path", v) => f.startsWith(v)
      case StringEndsWith("file_path", v) => f.endsWith(v)
      case _ => true
    }

  /** Spark's file-source packing over whole files: largest first, each
    * file charged its length plus `openCostInBytes`, partitions closed
    * at `FilePartition.maxSplitBytes`. Many small files share a task;
    * one large file gets a task of its own.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, files.toArray)))
    val whole = files.sortBy(-_.getLen).map { f =>
      PartitionedFileUtil.getPartitionedFile(
        FileStatusWithMetadata(f), f.getPath, InternalRow.empty, 0, f.getLen)
    }
    FilePartition.getFilePartitions(spark, whole, maxSplit).toArray
  }

  /** The file source's estimate: listed bytes times the session's
    * compression factor, so the planner sizes joins over this relation
    * as it sized them over the text scan.
    */
  override def estimateStatistics(): Statistics = {
    val bytes = (spark.sessionState.conf.fileCompressionFactor *
      files.map(_.getLen).sum).toLong
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }

  /** The session Hadoop conf is captured HERE, at planning time, and
    * broadcast once per scan, as `FileSourceScanExec` does: a blank
    * `new Configuration()` on the reader side would silently drop every
    * session-level `spark.hadoop.*` setting — S3 credentials,
    * endpoints, custom FS impls — so remote filesystems would list
    * while planning but fail to open in tasks. The corrupt/missing-file
    * policies are read here too, as `FileScanRDD` reads them.
    */
  override def createReaderFactory(): PartitionReaderFactory = {
    val sqlConf = spark.sessionState.conf
    new EmblReaderFactory(required,
      spark.sparkContext.broadcast(
        new SerializableConfiguration(spark.sessionState.newHadoopConf())),
      sqlConf.ignoreCorruptFiles, sqlConf.ignoreMissingFiles, metrics)
  }
}

private[sources] class EmblReaderFactory(
    required: StructType,
    confBc: Broadcast[SerializableConfiguration],
    ignoreCorruptFiles: Boolean,
    ignoreMissingFiles: Boolean,
    metrics: Option[SegMetrics])
    extends PartitionReaderFactory {
  def conf: SerializableConfiguration = confBc.value

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EmblPartitionReader(
      partition.asInstanceOf[FilePartition].files.toSeq.map(_.toPath),
      required, conf.value, ignoreCorruptFiles, ignoreMissingFiles, metrics)
}

/** Streams a partition's gzip EMBL files, in order, through ONE
  * segmentation state machine (it flushes a record on file change),
  * emitting only the pruned columns. O(one record) memory.
  *
  * A file that cannot be read fails the task with an error naming it,
  * unless the session ignores such files: a missing file
  * (`spark.sql.files.ignoreMissingFiles`) is skipped, and a corrupt or
  * truncated one (`spark.sql.files.ignoreCorruptFiles`) ends where the
  * read failed — its complete records are kept, the record in flight is
  * dropped. A missing file fails even when corrupt files are ignored,
  * as in `FileScanRDD`.
  */
private[sources] class EmblPartitionReader(
    files: Seq[HPath], required: StructType,
    conf: org.apache.hadoop.conf.Configuration,
    ignoreCorruptFiles: Boolean, ignoreMissingFiles: Boolean,
    metrics: Option[SegMetrics])
    extends PartitionReader[InternalRow] {

  private var open: BufferedReader = _

  private def closeOpen(): Unit =
    if (open != null) { open.close(); open = null }

  /** One file's `(path, line)` rows; a `null` line ends a file whose
    * read failed partway (see [[EmblSegmenter.segment]]). */
  private def lines(file: HPath): Iterator[(String, String)] = {
    val path = file.toString
    new Iterator[(String, String)] {
      private var line: String = _
      private var ready = false // `line` is the next row's
      private var done = false

      private def advance(): Unit = try {
        if (open == null) {
          val in = file.getFileSystem(conf).open(file)
          open = try new BufferedReader(new InputStreamReader(
            new GZIPInputStream(in), "UTF-8"))
          catch { case e: Throwable => in.close(); throw e } // bad gzip header
        }
        line = open.readLine()
        if (line == null) finish() else ready = true
      } catch {
        case e: FileNotFoundException if ignoreMissingFiles =>
          EmblPartitionReader.log.warn(s"Skipped missing file: $path", e)
          finish()
        case e @ (_: RuntimeException | _: IOException)
            if ignoreCorruptFiles && !e.isInstanceOf[FileNotFoundException] =>
          EmblPartitionReader.log.warn(s"Skipped the rest of the corrupted file: $path", e)
          finish()
          line = null
          ready = true
        case e @ (_: RuntimeException | _: IOException) =>
          throw new IOException(s"Encountered error while reading EMBL file $path", e)
      }

      private def finish(): Unit = { done = true; closeOpen() }

      override def hasNext: Boolean = {
        if (!ready && !done) advance()
        ready
      }
      override def next(): (String, String) = {
        if (!hasNext) throw new NoSuchElementException(path)
        ready = false
        (path, line)
      }
    }
  }

  private val loci = EmblSegmenter.segment(files.iterator.flatMap(lines), metrics)

  // column-pruned projection: required field name -> LocusRow getter
  private val getters: Array[LocusRow => Any] = required.fieldNames.map {
    case "file_path" => (r: LocusRow) => UTF8String.fromString(r.file_path)
    case "ena_id" => (r: LocusRow) => UTF8String.fromString(r.ena_id)
    case "chr_struct" => (r: LocusRow) => r.chr_struct
    case "chr_len" => (r: LocusRow) => r.chr_len
    case "locus_idx" => (r: LocusRow) => r.locus_idx
    case "direction" => (r: LocusRow) => r.direction
    case "start" => (r: LocusRow) => r.start
    case "end" => (r: LocusRow) => r.end
    case "uniprot_ids" => (r: LocusRow) =>
      ArrayData.toArrayData(r.uniprot_ids.map(UTF8String.fromString).toArray)
    case "protein_ids" => (r: LocusRow) =>
      ArrayData.toArrayData(r.protein_ids.map(UTF8String.fromString).toArray)
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  private var current: LocusRow = _

  override def next(): Boolean =
    if (loci.hasNext) { current = loci.next(); true } else false

  override def get(): InternalRow =
    new GenericInternalRow(getters.map(g => g(current)): Array[Any])

  override def close(): Unit = closeOpen()
}

private object EmblPartitionReader {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[EmblPartitionReader])
}
