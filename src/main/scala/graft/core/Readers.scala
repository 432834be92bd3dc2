package graft.core

import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFileLinesReader, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, NullType, StructType}

/** Source readers — SURVEY.md §2.1 (S1–S9, S13).
  *
  * Capability-equivalent to the reference's `common/evidence.py:230-285`
  * (`read_path` format auto-detection) plus the per-parser scan options
  * (forced schema `ClinGen.py:64-70`, multiline CSV
  * `common/evidence.py:156-157`, nullValue `IMPC.py:179-190`, metadata-row
  * skip `ClinGen.py:66-70`), re-expressed on `DataFrameReader`.
  *
  * Scale notes: building a DataFrame here runs no Spark job, with these
  * exceptions:
  *   - JSON without a schema runs an inference job over its input;
  *   - parquet runs a job that reads a file footer for its schema;
  *   - CSV/TSV schema inference ([[readPath]]) runs on the driver only
  *     when Spark would read the input in one task: one file that is
  *     compressed with a non-splittable codec (gzip) or no larger than
  *     Spark's split size `FilePartition.maxSplitBytes`, i.e.
  *     min(`maxPartitionBytes`, max(`openCostInBytes`, (size +
  *     `openCostInBytes`) / `minPartitionNum`)) — under `local[4]` with
  *     default confs, about 4 MB. Directories, globs and multi-split
  *     files keep Spark's distributed inference: two jobs, one for the
  *     header and one pass over every line.
  * Schema-forced CSV skips inference altogether, so parsers that know
  * their schema should pass one.
  */
object Readers {

  /** S1/S2/S3: delimited scan with the option surface the reference uses. */
  def csv(
      spark: SparkSession,
      path: String,
      sep: String = ",",
      header: Boolean = true,
      schema: Option[StructType] = None,
      multiLine: Boolean = false,
      nullValue: Option[String] = None,
      inferSchema: Boolean = false,
  ): DataFrame = {
    var r = spark.read.options(csvOptions(sep, header, multiLine, nullValue))
    schema.foreach(s => r = r.schema(s))
    if (schema.isEmpty && inferSchema) r = r.option("inferSchema", "true")
    r.csv(path)
  }

  /** The reader options [[csv]] passes to Spark's CSV source. */
  private def csvOptions(
      sep: String,
      header: Boolean,
      multiLine: Boolean,
      nullValue: Option[String],
  ): Map[String, String] =
    Map(
      "sep" -> sep,
      "header" -> header.toString,
      "multiLine" -> multiLine.toString,
      "quote" -> "\"",
      "escape" -> "\"",
    ) ++ nullValue.map("nullValue" -> _)

  /** TSV shorthand (the dominant delimited format in the reference). */
  def tsv(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None,
      header: Boolean = true,
      inferSchema: Boolean = false,
  ): DataFrame =
    csv(spark, path, sep = "\t", header = header, schema = schema, inferSchema = inferSchema)

  /** S4: skip N leading metadata lines, then parse as CSV with a forced
    * schema (reference: ClinGen's 6 junk header lines, `ClinGen.py:66-70`).
    *
    * The reference used `monotonically_increasing_id` + filter, which is
    * only correct single-partition. Scale-correct version: read lines,
    * zipWithIndex (a narrow, order-preserving op), drop the first N
    * globally, and feed the remainder to the CSV parser.
    */
  def csvSkipRows(
      spark: SparkSession,
      path: String,
      skipRows: Int,
      schema: StructType,
      sep: String = ",",
      header: Boolean = true,
  ): DataFrame = {
    import spark.implicits._
    val lines: Dataset[String] = spark.read.textFile(path)
    val body = lines.rdd
      .zipWithIndex()
      .filter { case (_, i) => i >= skipRows.toLong }
      .map(_._1)
    val bodyDs = spark.createDataset(body)
    spark.read
      .option("sep", sep)
      .option("header", header.toString)
      .schema(schema)
      .csv(bodyDs)
  }

  /** S5/S6: JSON-lines scan (incl. .json.gz, recursive directories). */
  def json(spark: SparkSession, path: String, recursive: Boolean = false): DataFrame =
    spark.read.option("recursiveFileLookup", recursive.toString).json(path)

  /** S7: parquet scan. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC scan — the other columnar lake format warehouses standardize on
    * (predicate pushdown and column pruning work exactly as for parquet;
    * SourcesSpec asserts a round-trip).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S8: format auto-detect by extension (reference `read_path`,
    * `common/evidence.py:230-285`). Directories default to parquet unless
    * they contain JSON parts.
    */
  def readPath(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase.stripSuffix(".gz").stripSuffix(".bz2")
    if (lower.endsWith(".parquet")) parquet(spark, path)
    else if (lower.endsWith(".orc")) orc(spark, path)
    else if (lower.endsWith(".xlsx"))
      Xlsx.read(spark, path, Xlsx.sheetNames(path).head)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl") || lower.endsWith(".ndjson"))
      json(spark, path)
    else if (lower.endsWith(".tsv") || lower.endsWith(".tab")) inferredCsv(spark, path, sep = "\t")
    else if (lower.endsWith(".csv")) inferredCsv(spark, path, sep = ",")
    else {
      val f = new java.io.File(path)
      if (f.isDirectory && Option(f.list()).exists(_.exists(_.contains(".json"))))
        json(spark, path, recursive = true)
      else parquet(spark, path)
    }
  }

  /** A header-true, `inferSchema` CSV scan whose schema, when Spark would
    * infer it in one task, comes from the driver instead of Spark's jobs.
    */
  private def inferredCsv(spark: SparkSession, path: String, sep: String): DataFrame = {
    val options = csvOptions(sep, header = true, multiLine = false, nullValue = None)
    val schema = inferCsvSchemaOnDriver(spark, path, options + ("inferSchema" -> "true"))
    csv(spark, path, sep = sep, schema = schema, inferSchema = true)
  }

  /** Spark's CSV schema inference for a one-task file, run on the driver;
    * `None` for any input Spark would not read in one task (see
    * [[readsInOneTask]]); the caller then lets Spark infer.
    *
    * The steps are those of Spark's `TextInputCSVDataSource.infer`, calling
    * the same Spark code: `CSVOptions` built as `CSVFileFormat` builds
    * them; the header is the first line that is not all spaces (Spark's
    * Dataset rule, `length(trim(value)) > 0`, where SQL `trim` strips
    * spaces only), parsed and made safe by `makeSafeHeader`; every line
    * left by the Iterator rule of `CSVUtils.filterCommentAndEmpty` (which
    * also drops tab-only lines), minus copies of the header
    * (`filterHeaderLine`), is tokenized and folded through
    * `CSVInferSchema.inferRowType`; `toStructFields` names the result. An
    * input with no header line gets the empty schema, as in Spark. The
    * options never set `samplingRatio`, so no sampling step applies.
    */
  private def inferCsvSchemaOnDriver(
      spark: SparkSession,
      path: String,
      options: Map[String, String],
  ): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConfWithOptions(options)
    singleFile(hadoopConf, path).filter(readsInOneTask(spark, options, _)).map { status =>
      // Inference reads SQLConf.get (datetime parser policy, timestamp
      // type); pin it to this session's conf whatever thread calls.
      SQLConf.withExistingConf(conf) {
        val parsed = new CSVOptions(
          options, conf.csvColumnPruning, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
        def isHeader(line: String): Boolean =
          line.exists(_ != ' ') && !(parsed.isCommentSet && line.startsWith(parsed.comment.toString))
        withFileLines(hadoopConf, status) { lines =>
          // Lines before the header are all spaces or comments, which the
          // Iterator filter below drops as well.
          val content = lines.dropWhile(!isHeader(_)).buffered
          val headerRow = content.headOption.map(new CsvParser(parsed.asParserSettings).parseLine(_))
          headerRow match {
            case Some(firstRow) if firstRow != null =>
              val firstLine = content.head
              val header = CSVUtils.makeSafeHeader(firstRow, conf.caseSensitiveAnalysis, parsed)
              val inference = new CSVInferSchema(parsed)
              val tokenizer = new CsvParser(parsed.asParserSettings)
              val dataLines = CSVUtils.filterCommentAndEmpty(content, parsed)
              val rootTypes = CSVUtils.filterHeaderLine(dataLines, firstLine, parsed)
                .map(tokenizer.parseLine)
                .foldLeft(Array.fill[DataType](header.length)(NullType))(inference.inferRowType)
              StructType(inference.toStructFields(rootTypes, header))
            case _ => StructType(Nil)
          }
        }
      }
    }
  }

  /** Whether Spark reads `status` in one task when it infers a CSV schema
    * (a text scan of the file): the file's codec is not splittable (gzip),
    * or the file fits in one split of `FilePartition.maxSplitBytes`, which
    * weighs `maxPartitionBytes`, `openCostInBytes` and `minPartitionNum`
    * (default: the session's parallelism). Both tests are Spark's own
    * code, so the driver path replaces only inference Spark would run on
    * one core anyway.
    */
  private def readsInOneTask(spark: SparkSession, options: Map[String, String], status: FileStatus): Boolean = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val splitBytes = FilePartition.maxSplitBytes(session, Seq(PartitionDirectory(InternalRow.empty, Array(status))))
    status.getLen <= splitBytes || !new TextFileFormat().isSplitable(session, options, status.getPath)
  }

  /** The status of `path` when it names one visible file; `None` for
    * globs (Spark expands `{}[]*?\`), directories, hidden names (`_`/`.`
    * prefixes, which Spark's listing treats specially) and missing paths.
    */
  private def singleFile(hadoopConf: Configuration, path: String): Option[FileStatus] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else {
      val p = new Path(path)
      val fs = p.getFileSystem(hadoopConf)
      scala.util.Try(fs.getFileStatus(p)).toOption.filter { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
    }

  /** Streams a file's lines on the driver through Spark's own line reader
    * (`HadoopFileLinesReader`: the Hadoop FS of the path, the compression
    * codec its extension names, `\n`/`\r`/`\r\n` line ends), decoded as
    * UTF-8 — the lines Spark's text and CSV scans see when no `lineSep` or
    * `encoding` option is set, as in this object. The reader is closed
    * when `f` returns, so `f` must consume what it needs.
    */
  private def withFileLines[T](hadoopConf: Configuration, status: FileStatus)(f: Iterator[String] => T): T = {
    val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(status.getPath), 0L, status.getLen)
    val reader = new HadoopFileLinesReader(file, hadoopConf)
    try f(reader.map(t => new String(t.getBytes, 0, t.getLength, StandardCharsets.UTF_8)))
    finally reader.close()
  }

  /** S10: multi-row-header delimited scan (reference CvdiGeneBurden Excel
    * sheets with pandas `header=[0,1,2]` + horizontal ffill,
    * `CvdiGeneBurden.py:100-150`; Excel itself is out of engine scope —
    * inputs arrive pre-converted to CSV, this reproduces the multiindex
    * flattening).
    *
    * The first `headerRows` lines are read — streamed on the driver with
    * no Spark job when `path` names one file, else taken from Spark's text
    * scan of the directory or glob — each row forward-filled horizontally
    * (merged-cell semantics), and the per-column name is the '_'-joined
    * non-empty parts. Data rows are then parsed with [[csvSkipRows]] under
    * the synthesized all-string schema.
    */
  def csvMultiHeader(
      spark: SparkSession,
      path: String,
      headerRows: Int,
      sep: String = ",",
  ): DataFrame = {
    // Through the Hadoop FS (not java.io): works on hdfs://, s3://, ….
    val hadoopConf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    val headerLines = singleFile(hadoopConf, path) match {
      case Some(status) => withFileLines(hadoopConf, status)(_.take(headerRows).toList)
      case None => spark.read.textFile(path).take(headerRows).toList
    }
    val cells = headerLines.map(_.split(java.util.regex.Pattern.quote(sep), -1).toSeq)
    val names = multiHeaderNames(cells)
    val schema = StructType(names.map(n => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
    csvSkipRows(spark, path, skipRows = headerRows, schema = schema, sep = sep, header = false)
  }

  /** The multiindex flattening shared by [[csvMultiHeader]] and
    * [[Xlsx.read]]: each header row forward-fills horizontally (merged-
    * cell semantics), a column's name is the '_'-join of its distinct
    * non-empty parts, unnamed columns become `_cI`.
    */
  private[core] def multiHeaderNames(cells: List[Seq[String]]): Seq[String] = {
    val width = cells.map(_.length).max
    val filled = cells.map { row =>
      row.padTo(width, "").scanLeft("") { (prev, c) => if (c.trim.isEmpty) prev else c.trim }.drop(1)
    }
    (0 until width).map { i =>
      val parts = filled.map(_(i)).filter(_.nonEmpty).distinct
      if (parts.isEmpty) s"_c$i" else parts.mkString("_")
    }
  }

  /** S13: local curated collection → DataFrame (reference literal maps,
    * e.g. `BrainCRISPR.py:112-116`). Small: always broadcast-join these.
    */
  def fromPairs(spark: SparkSession, pairs: Seq[(String, String)], keyCol: String, valCol: String): DataFrame = {
    import spark.implicits._
    pairs.toDF(keyCol, valCol)
  }

  /** Loads a testdata table from a scale-factor directory (TESTDATA.md). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
