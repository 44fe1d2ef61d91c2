package graft.engine

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{CodecStreams, HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType,
  StructField, StructType}

/** Source readers (SURVEY.md section 2.1, S1-S2).
  *
  * The reference ingests CSV header-aware, multi-line, RFC-4180 quote-escaped
  * (csv_to_parquet.py:22-27) with every column landing as string, then asserts
  * types via cast (Cleaning.castNormalize). `csv` reproduces that read,
  * reading the header on the driver; at scale prefer `csvWithSchema` — an
  * explicit StructType lets the reader parse directly into typed columns
  * (one less projection; malformed rows surface at scan time).
  *
  * Parquet has one reader, [[parquet]]: it alone decides how a scan gets its
  * schema (one footer, read on the driver), and no other module in the
  * library or the query registry builds a parquet read of its own
  * (`SourcesSpec` walks the sources to keep it so).
  */
object Sources {

  val csvOptions: Map[String, String] = Map(
    "header" -> "true",
    "multiLine" -> "true",
    "quote" -> "\"",
    "escape" -> "\"")

  /** Reference-faithful read: all columns StringType (no inferSchema).
    * Spark takes the header from the first record of the first non-empty
    * file, read in a job; here the driver reads it, with Spark's own parser
    * settings and header clean-up (empty names become `_cN`, duplicates get
    * their index appended), from the first non-empty data file in full-path
    * order — the files of one table share one header. Any error falls back
    * to plain `spark.read`, so errors stay Spark's own.
    * SCALE CAVEAT: `multiLine=true` makes each CSV file non-splittable (a
    * record may span a newline, so Spark assigns one task per FILE). Fine for
    * many modest files; for few huge files use [[csvSplittable]] and
    * pre-clean embedded newlines upstream.
    */
  def csv(spark: SparkSession, path: String): DataFrame =
    Try(headerSchema(spark, path)).fold(_ => spark.read.options(csvOptions).csv(path),
      spark.read.options(csvOptions).schema(_).csv(path))

  private def headerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(csvOptions, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(csvOptions)
    def firstRecord(file: FileStatus) = Using.resource(
        CodecStreams.createInputStream(hadoopConf, file.getPath)) { in =>
      val parser = new CsvParser(options.asParserSettings)
      parser.beginParsing(in, options.charset)
      try Option(parser.parseNext()) finally parser.stopParsing()
    }
    val header = dataFiles(hadoopConf, path).flatMap(firstRecord).next()
    StructType(CSVUtils.makeSafeHeader(header, conf.caseSensitiveAnalysis, options)
      .map(StructField(_, StringType)))
  }

  /** Scale-preferred read: parse straight into the declared schema. */
  def csvWithSchema(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.options(csvOptions).schema(schema).csv(path)

  /** Splittable variant (multiLine off): records cannot span lines, so large
    * files are split into many tasks — the 100 TB ingestion path when the
    * producer guarantees newline-free fields.
    */
  def csvSplittable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.options(csvOptions - "multiLine").schema(schema).csv(path)

  /** Permissive typed read with corrupt-record capture: rows that fail to
    * parse into `schema` land whole in `_corrupt_record` (other columns
    * null) instead of killing the job — the quarantine pattern for dirty
    * feeds at scale (count/route the bad rows, never FAILFAST a 100 TB
    * load). Spark requires the corrupt column declared in the read schema;
    * filtering on it alone also requires a materialization barrier
    * (`cache`) per the Spark docs — callers splitting good/bad should
    * cache the returned frame first.
    */
  val CorruptCol = "_corrupt_record"
  def csvPermissive(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.options(csvOptions - "multiLine")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(schema.add(CorruptCol, org.apache.spark.sql.types.StringType))
      .csv(path)

  /** The parquet reader: every library and query read of a parquet table
    * goes through here, so building the DataFrame costs no job. Spark
    * (without mergeSchema) takes the schema of the first data file by path
    * but reads its footer in a job; here the driver reads it, by Spark's rule
    * (stored row schema, else type conversion). Partition columns still come
    * from the paths. Anything else (no data file, summary files, an error)
    * falls back to plain `spark.read.parquet`, so errors stay Spark's own.
    * Directories of mixed schemas need [[parquetMergedSchema]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    withFooterSchema(spark, path)(_.parquet(path))

  /** `read` over a reader carrying the schema of the first data file under
    * `probe` (a directory or a file), read on the driver; with no schema
    * (plain inference, in a job) when that footer read fails. */
  private[engine] def withFooterSchema(spark: SparkSession, probe: String)(
      read: DataFrameReader => DataFrame): DataFrame =
    Try(footerSchema(spark, probe)).fold(_ => read(spark.read),
      s => read(spark.read.schema(s)))

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val file = dataFiles(conf, path).next()
    val footer = Using.resource(
      ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf)))(_.getFooter)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The maximum of the integral `column` over `df`, answered from the
    * parquet footers on the driver with no job: `Some(max)`, `Some(None)`
    * when no row holds a value (no rows, or all null). It answers only when
    * `df.select(column)` optimizes to a bare scan of an unpartitioned
    * parquet relation and every row group of every file carries usable
    * statistics for a signed INT32/INT64 column of that name; anything else
    * (a filter, a union, an RDD, Hive partitions, a non-integral type, a
    * file without statistics or without the column, a read error) is `None`
    * and the caller computes the maximum itself. The footers are read one
    * after another, so the cost grows with the number of files. */
  def footerMax(df: DataFrame, column: String): Option[Option[Long]] =
    df.select(df.col(column)).queryExecution.optimizedPlan match {
      case Project(Seq(a: AttributeReference), r: LogicalRelation) => footerMax(r, a)
      case r: LogicalRelation if r.output.size == 1 => footerMax(r, r.output.head)
      case _ => None
    }

  private def footerMax(r: LogicalRelation, a: AttributeReference): Option[Option[Long]] =
    r.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
          fs.partitionSchema.isEmpty &&
          Seq(ByteType, ShortType, IntegerType, LongType).contains(a.dataType) =>
        val conf = fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
        Try(fs.location.inputFiles.toSeq.map(f => fileMax(conf, f, a.name)))
          .toOption.flatMap(maxOfAll)
      case _ => None
    }

  /** The maximum over parts that each answered, or `None` if one did not. */
  private def maxOfAll(parts: Seq[Option[Option[Long]]]): Option[Option[Long]] =
    if (parts.forall(_.isDefined)) Some(parts.flatten.flatten.maxOption) else None

  /** One file's maximum of `name` from its row-group statistics; `None`
    * when the file cannot answer. */
  private def fileMax(conf: Configuration, file: String, name: String)
      : Option[Option[Long]] = {
    val footer = Using.resource(
      ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf)))(_.getFooter)
    val signedInt = footer.getFileMetaData.getSchema.getFields.asScala.exists(t =>
      t.getName == name && t.isPrimitive &&
        Seq(PrimitiveTypeName.INT32, PrimitiveTypeName.INT64)
          .contains(t.asPrimitiveType.getPrimitiveTypeName) &&
        (t.getLogicalTypeAnnotation match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        }))
    if (!signedInt) None
    else maxOfAll(footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { b =>
      b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(name))).flatMap { c =>
        val st = c.getStatistics
        if (st == null || st.isEmpty) None
        else if (st.hasNonNullValue) Some(Some(st.genericGetMax.asInstanceOf[Number].longValue))
        else if (st.isNumNullsSet && st.getNumNulls == c.getValueCount) Some(None)
        else None
      }
    })
  }

  /** The data files under `path`, lazily, depth-first in full-path order,
    * over what Spark lists as data (no `_`/`.` names but partition
    * directories, no in-flight copies). Summary files throw: their reader
    * rules are Spark's to apply. */
  private def dataFiles(conf: Configuration, path: String): Iterator[FileStatus] = {
    val fs = new Path(path).getFileSystem(conf)
    def walk(s: FileStatus): Iterator[FileStatus] = if (!s.isDirectory) Iterator(s) else {
      val kids = fs.listStatus(s.getPath).map(k => k.getPath.getName -> k)
      require(!kids.exists(k => k._1 == "_metadata" || k._1 == "_common_metadata"))
      kids.filterNot { case (n, _) => (n.startsWith("_") && !n.contains("=")) ||
          n.startsWith(".") || n.endsWith("._COPYING_") }
        .sortBy { case (n, k) => if (k.isDirectory) n + "/" else n }
        .iterator.flatMap(k => walk(k._2))
    }
    walk(fs.getFileStatus(new Path(path)))
  }

  /** JSON-lines read with a declared schema. Schema-first for the same
    * reasons as [[csvWithSchema]] — inference costs a full extra pass over
    * the data (prohibitive at scale) and may widen types run-to-run; a
    * declared StructType parses in one pass into stable types. One JSON
    * object per line keeps files splittable (the multiLine option has the
    * same one-task-per-file hazard as CSV).
    */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Schema-evolution read: union the schemas of all files in the directory
    * (columns absent in older files surface as nulls). Off by default in
    * Spark because footer-merging costs a pass over file metadata — turn it
    * on per-read exactly where a table has actually evolved.
    */
  def parquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Schema validation probe (final_dim_load.py:97-101): fail fast with the
    * full missing-column list instead of a mid-job analysis error.
    */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing required columns: ${missing.mkString(", ")}")
    df
  }
}
