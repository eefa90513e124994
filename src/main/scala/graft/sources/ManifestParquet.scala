package graft.sources

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetInputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet plumbing for the manifest table's DATA files.
  *
  * The manifest table's commit protocol (versioned-manifest CAS, see
  * [[ManifestSink]]) is format-agnostic; this object supplies the
  * production data-file format the protocol publishes:
  *
  *   - '''write''': each DSv2 task opens a plain parquet-hadoop
  *     [[ParquetWriter]] whose `WriteSupport` is Spark's own
  *     [[ParquetWriteSupport]] — the identical row encoding `df.write
  *     .parquet` produces, configured through a self-contained Hadoop
  *     conf so the executor-side writer needs no SparkSession.
  *   - '''read''': scans go through Spark's
  *     [[VectorizedParquetRecordReader]] — the same columnar decoder
  *     behind native parquet scans — handing whole [[org.apache.spark
  *     .sql.vectorized.ColumnarBatch]]es to DSv2 when every file in the
  *     scan is parquet, and per-row views otherwise. Column pruning is
  *     applied at the reader (the requested schema), so a 2-column
  *     projection of a 20-column table decodes 2 columns.
  *   - '''compact''': bins merge via [[ParquetFileWriter#appendFile]] —
  *     raw row-group copy, no decode/re-encode — preserving the
  *     byte-exactness the TSV format got from concatenation.
  *
  * Hadoop conf: the XML resources are parsed ONCE per JVM
  * ([[baseConf]]); every write, footer read, merge and reader open works
  * on a private copy of that parsed conf, so a file's fixed cost is its
  * own I/O, not a resource parse.
  *
  * Legacy `.tsv` data files (the pre-round-6 demo encoding) remain
  * readable; only the extension dispatches the decoder.
  */
object ManifestParquet {

  /** The per-JVM parsed conf. Forced on creation so copies clone parsed
    * properties instead of re-reading the resources. */
  private lazy val baseConf: Configuration = {
    val c = new Configuration()
    c.size()
    c
  }

  /** A private, mutable copy of [[baseConf]] for one file operation. */
  private def freshConf(): Configuration = new Configuration(baseConf)

  /** Write-side Hadoop conf: every key [[ParquetWriteSupport.init]]
    * requires, set explicitly (there is no session to inherit from on an
    * executor). No timestamp/decimal columns exist in manifest tables
    * (long/int/double/boolean/string only), so the rebase/timestamp
    * settings are inert but must be present. */
  private def writeConf(schema: StructType): Configuration = {
    val conf = freshConf()
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
    conf
  }

  private class RowBuilder(out: org.apache.parquet.io.OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](out) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Open a parquet writer for one task's data file. Mode.CREATE: the
    * file name is attempt-unique (UUID), so an existing target means a
    * logic bug, not a retry — fail instead of overwriting.
    * `rowGroupBytes` (table property `write.parquet.row-group-bytes`)
    * sizes row groups — the skip granularity of the row-group-level
    * predicate pushdown in [[openRead]]: smaller groups skip finer but
    * carry more footer metadata; parquet's 128 MB default is the
    * production sweet spot. */
  def open(file: Path, schema: StructType,
      rowGroupBytes: Long = ParquetWriter.DEFAULT_BLOCK_SIZE.toLong)
      : ParquetWriter[InternalRow] = {
    val conf = writeConf(schema)
    new RowBuilder(HadoopOutputFile.fromPath(new HPath(file.toString), conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.CREATE)
      .withRowGroupSize(rowGroupBytes)
      .build()
  }

  /** Open a vectorized reader over the `physSchema` columns of `file`:
    * PHYSICAL column names under their TABLE types, in file-schema order
    * (manifest append enforces a uniform schema, so file order == table
    * order). The requested Spark types drive decoding, so a type-WIDENED
    * table (int→long / float→double via ALTER COLUMN TYPE) reads old
    * narrow files through Spark's widening updaters
    * (`ParquetVectorUpdaterFactory.IntegerToLongUpdater` etc.) with no
    * per-file branch. `returnBatches` flips between ColumnarBatch handoff
    * (DSv2 columnar scan) and per-row views (row scan / streaming) — the
    * DECODE is vectorized either way.
    *
    * `filter` applies at ROW-GROUP granularity — the reader consults
    * each group's stats/dictionary/bloom and never decodes (or reads)
    * groups the predicate proves empty, exactly what native parquet
    * scans do via `ParquetInputFormat`. This is the production
    * `initialize(split, context)` path:
    *
    *   - the requested schema arrives via `SPARK_ROW_REQUESTED_SCHEMA`,
    *     clipped against the file schema by Spark's own
    *     `ParquetReadSupport`;
    *   - the filter rides the conf under `ParquetInputFormat`'s key and
    *     is applied by `HadoopReadOptions` when the footer is read —
    *     each EXECUTOR task prunes from its own footer; the driver
    *     never fans out footer reads (the Iceberg division of labor:
    *     manifest stats prune files, footers prune row groups);
    *   - page-level column-index filtering is disabled: whole surviving
    *     groups surface and Spark's residual FilterExec does row-level
    *     work, so a translation can only OVER-deliver, never drop rows.
    *
    * The five converter conf keys are set explicitly — the
    * Configuration-based `ParquetToSparkSchemaConverter` ctor
    * dereferences them without defaults. Values mirror
    * [[writeConf]]'s dialect (no binary-as-string, no INT96). */
  def openRead(file: String, physSchema: StructType, filter: Option[FilterPredicate],
      returnBatches: Boolean): VectorizedParquetRecordReader = {
    val conf = freshConf()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, physSchema.json)
    // physical names are exact identifiers: clip by exact name
    conf.set(SQLConf.CASE_SENSITIVE.key, "true")
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    filter.foreach(f => ParquetInputFormat.setFilterPredicate(conf, f))
    conf.setBoolean("parquet.filter.columnindex.enabled", false)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(file), 0L, java.nio.file.Files.size(java.nio.file.Paths.get(file)),
      Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val r = new VectorizedParquetRecordReader(/* useOffHeap = */ false, /* capacity = */ 4096)
    try {
      r.initialize(split, ctx)
      if (returnBatches) r.enableReturningBatches()
      r
    } catch { case t: Throwable => r.close(); throw t }
  }

  /** One footer read of `file`. */
  private def withFooter[T](file: String)(f: ParquetMetadata => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), freshConf()))
    try f(r.getFooter) finally r.close()
  }

  /** Top-level field name → parquet primitive type name (one footer
    * read). Under schema evolution the scan uses it to decide which
    * requested columns exist in a given file (the rest null-fill), and
    * row-group filtering uses it as the type-widening probe: a file whose
    * physical primitive is NARROWER than the table type (INT32 under a
    * BIGINT column after ALTER COLUMN TYPE) is read unpruned. */
  def footerPrimitiveTypes(file: String): Map[String, String] =
    withFooter(file)(_.getFileMetaData.getSchema.getFields.asScala.map { f =>
      f.getName -> (if (f.isPrimitive) f.asPrimitiveType().getPrimitiveTypeName.name
        else "GROUP")
    }.toMap)

  /** Number of row groups in `file` (one footer read) — fixture/spec
    * support for the row-group skipping proofs. */
  def rowGroupCount(file: String): Int = withFooter(file)(_.getBlocks.size)

  /** Stable string form of a file's physical parquet schema — the
    * compaction grouping key under schema evolution (raw row-group
    * append requires byte-identical schemas within a bin). */
  def footerSchemaString(file: String): String =
    withFooter(file)(_.getFileMetaData.getSchema.toString)

  /** Merge `members` (all parquet, same schema by the manifest's append
    * invariant) into `dest` by raw row-group append — the compaction
    * rewrite. Returns nothing; the caller publishes the manifest entry.
    * Key-value footer metadata (including Spark's schema annotation) is
    * carried over from the first member so readers of the merged file
    * see exactly what they saw on the originals. */
  def appendMerge(dest: Path, members: Seq[Path]): Unit = {
    val (schema, keyValueMeta) = withFooter(members.head.toString)(f =>
      (f.getFileMetaData.getSchema, f.getFileMetaData.getKeyValueMetaData))
    val conf = freshConf()
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(new HPath(dest.toString), conf),
      schema, ParquetFileWriter.Mode.CREATE,
      ParquetWriter.DEFAULT_BLOCK_SIZE.toLong, ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
    writer.start()
    members.foreach { m =>
      writer.appendFile(HadoopInputFile.fromPath(new HPath(m.toString), conf))
    }
    writer.end(keyValueMeta)
  }
}
