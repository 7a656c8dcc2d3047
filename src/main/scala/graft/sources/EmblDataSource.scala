package graft.sources

import java.io.FileNotFoundException
import java.util
import java.util.zip.GZIPInputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, PlanDataset, SparkSession}
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BoundReference, Expression, GenericInternalRow, Predicate}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{PartitionReader, PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitionDirectory, PartitionSpec, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FilePartitionReaderFactory, FileScan, FileScanBuilder, PartitionReaderFromIterator}
import org.apache.spark.sql.sources.DataSourceRegister
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
  * The scan runs on Spark's own V2 file-source classes, in the shape of
  * its text source (`FileScanBuilder`, `FileScan`,
  * `FilePartitionReaderFactory`): Spark prunes columns, packs whole
  * files into tasks by bytes (`spark.sql.files.maxPartitionBytes`,
  * `openCostInBytes`, `minPartitionNum`), estimates the scan's size and
  * applies `ignoreCorruptFiles` / `ignoreMissingFiles` per file. The
  * connector owns the schema, the listing policy ([[EmblFileIndex]])
  * and the per-file reader, which streams one gzip file through
  * [[EmblSegmenter.segment]]. A file is never split: gzip is
  * non-splittable and a record needs its file whole.
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

  /** Built by the optimizer, where the active session is the querying
    * one; the scan keeps it, since listing, packing and the reader
    * factory must all obey that session's conf even when another
    * session is active at execution time.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // DataFrame reads deliver path via scan options; CREATE TABLE ...
    // USING embl delivers it via the table properties (OPTIONS/LOCATION)
    def opt(key: String): Option[String] =
      Option(options.get(key)).orElse(properties.get(key))
    val roots = opt("paths").map(EmblScanBuilder.parsePaths)
      .orElse(opt("path").map(Seq(_)))
      .orElse(opt("location").map(Seq(_)))
      .getOrElse(Seq.empty)
    val spark = SparkSession.active
    new EmblScanBuilder(spark,
      new EmblFileIndex(spark, roots, opt("divisionPrune").forall(_.toBoolean)), metrics)
  }
}

private[sources] class EmblScanBuilder(
    spark: SparkSession, index: EmblFileIndex, metrics: Option[SegMetrics])
    extends FileScanBuilder(spark, index, EmblDataSource.Schema) {
  override def build(): EmblScan =
    EmblScan(spark, index, readDataSchema(), partitionFilters, dataFilters, metrics)
}

private[sources] object EmblScanBuilder {
  /** `DataFrameReader.load(p1, p2, ...)` delivers the multi-path list
    * as a JSON-encoded array string in the `paths` option (the same
    * convention Spark's own FileDataSourceV2 decodes); a raw
    * comma-separated list is accepted for hand-written
    * `OPTIONS (paths '...')` DDL.
    */
  def parsePaths(raw: String): Seq[String] =
    if (raw.trim.startsWith("["))
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(raw, classOf[Array[String]]).toSeq
    else raw.split(",").toSeq
}

/** S1/S2/S3 at listing time, once per scan: recursive walk, `*.dat.gz`
  * glob and the division prune, then the pushed `file_path` filters per
  * [[listFiles]] call. Spark's `InMemoryFileIndex` does the walk: it
  * skips `_`/`.`-prefixed names, lists wide trees in parallel and
  * builds no owner/permission-bearing `LocatedFileStatus` per file (on
  * the local FS that copy forks a shell per file). Roots are qualified
  * and deduplicated first, so a root given twice is listed and read
  * once; each distinct root then gets its own index, keeping the files
  * in root order. The walk lists a nonexistent root as empty;
  * here that is an error (matching `spark.read.parquet`), while an
  * existing but empty tree is a clean zero-partition scan.
  */
private[sources] class EmblFileIndex(
    spark: SparkSession, roots: Seq[String], divisionPrune: Boolean)
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {
  override def rootPaths: Seq[HPath] = roots.map(new HPath(_))

  private lazy val files: Seq[FileStatus] = {
    val keep = EmblFileIndex.pathMatcher(
      if (divisionPrune) Seq(PlanDataset.expression(EnaPipeline.DivisionPrune)) else Nil)
    rootPaths.map { p =>
      val fs = p.getFileSystem(hadoopConf)
      if (!fs.exists(p))
        throw new FileNotFoundException(s"embl source root does not exist: $p")
      fs.makeQualified(p)
    }.distinct.flatMap { q =>
      new InMemoryFileIndex(spark, Seq(q), EmblFileIndex.Listing, None)
        .allFiles().filter(keep).sortBy(_.getPath.toString)
    }
  }

  override def allFiles(): Seq[FileStatus] = files

  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(EmblFileIndex.pathMatcher(dataFilters)).toArray))

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override protected def leafFiles: mutable.LinkedHashMap[HPath, FileStatus] =
    mutable.LinkedHashMap.from(files.map(f => f.getPath -> f))
  override protected def leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] =
    files.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray }
  override def refresh(): Unit = ()
}

private object EmblFileIndex {
  val Listing = Map("recursiveFileLookup" -> "true", "pathGlobFilter" -> "*.dat.gz")

  /** The predicates among `filters` that read `file_path` alone, as one
    * test on a listed file: every row of a file carries its path, so
    * such a predicate keeps or drops the whole file. Any other
    * predicate passes every file; Spark applies all pushed filters
    * again above the scan.
    */
  def pathMatcher(filters: Seq[Expression]): FileStatus => Boolean = {
    val onPath = filters.filter { f =>
      val cols = f.collect { case a: Attribute => a.name }
      cols.nonEmpty && cols.forall(_ == "file_path")
    }
    if (onPath.isEmpty) _ => true
    else {
      val p = Predicate.createInterpreted(onPath.reduce(And).transform {
        case _: Attribute => BoundReference(0, StringType, nullable = true)
      })
      f => p.eval(InternalRow(UTF8String.fromString(f.getPath.toString)))
    }
  }
}

private[sources] case class EmblScan(
    sparkSession: SparkSession,
    fileIndex: PartitioningAwareFileIndex,
    readDataSchema: StructType,
    partitionFilters: Seq[Expression],
    dataFilters: Seq[Expression],
    metrics: Option[SegMetrics]) extends FileScan {
  override def dataSchema: StructType = EmblDataSource.Schema
  override def readPartitionSchema: StructType = new StructType()
  override def isSplitable(path: HPath): Boolean = false

  /** The session Hadoop conf is captured here, at planning time, and
    * broadcast once per scan, as Spark's file sources do: a blank
    * `Configuration` on the reader side would drop every session-level
    * `spark.hadoop.*` setting (S3 credentials, endpoints, custom FS
    * impls), so remote filesystems would list but fail to open in tasks.
    */
  override def createReaderFactory(): PartitionReaderFactory =
    EmblReaderFactory(readDataSchema, sparkSession.sparkContext.broadcast(
      new SerializableConfiguration(sparkSession.sessionState.newHadoopConf())), metrics)
}

/** Reads one gzip EMBL file as loci: its lines, in order, through one
  * segmenter, emitting only the pruned columns. O(one record) memory.
  * A read that fails partway ends the file's iterator before the record
  * in flight is emitted, so `ignoreCorruptFiles` keeps exactly the
  * file's complete records.
  */
private[sources] case class EmblReaderFactory(
    readDataSchema: StructType,
    confBc: Broadcast[SerializableConfiguration],
    metrics: Option[SegMetrics]) extends FilePartitionReaderFactory {
  // reads both ignore flags from the session conf, here on the driver
  override val options: FileSourceOptions = new FileSourceOptions(Map.empty[String, String])

  def conf: SerializableConfiguration = confBc.value

  // column-pruned projection: required field name -> LocusRow getter
  @transient private lazy val getters: Array[LocusRow => Any] = readDataSchema.fieldNames.map {
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

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val path = file.toPath
    val in = try path.getFileSystem(conf.value).open(path) catch {
      // Spark's V2 reader would skip a missing file under
      // ignoreCorruptFiles alone; like FileScanRDD, only
      // ignoreMissingFiles skips one
      case e: FileNotFoundException if !options.ignoreMissingFiles =>
        throw new SparkException(s"EMBL file does not exist: ${file.urlEncodedPath}", e)
    }
    // Hadoop's LineReader hands out every complete line it decoded
    // before a read error; a java.io Reader drops the chunk in hand
    val reader = try new LineReader(new GZIPInputStream(in))
      catch { case e: Throwable => in.close(); throw e } // bad gzip header
    val line = new Text()
    val name = path.toString
    val lines = Iterator.continually(reader.readLine(line)).takeWhile(_ > 0)
      .map(_ => (name, line.toString))
    new PartitionReaderFromIterator[InternalRow](EmblSegmenter.segment(lines, metrics)
        .map(l => new GenericInternalRow(getters.map(g => g(l))))) {
      override def close(): Unit = reader.close()
    }
  }
}
