package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the test corpus (one parquet file per table under an sf dir).
  *
  * These are plain parquet scans — column pruning and predicate pushdown
  * reach the scan automatically because every query builds a declarative
  * plan on top of them (check `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {

  /** One corpus table through [[readParquet]]: the schema comes from one
    * footer read on the driver with Spark's own converter and session
    * conf, so building the frame starts no Spark job; Spark's inference
    * still decides in [[readParquet]]'s fallback cases. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without the schema-inference job.
    *
    * With `mergeSchema` off, Spark infers a parquet schema from ONE file's
    * footer — but reads that footer inside a task, so every plain read
    * starts a Spark job before the query exists. Here the driver reads
    * the same footer itself: the first visible data file in path order
    * (listed through the path's own Hadoop `FileSystem`, descending only
    * until a directory holds a file), converted by
    * `ParquetFileFormat.readSchemaFromFooter` with a converter built from
    * the session conf — the calls Spark's inference task makes. The
    * schema is then passed in, so Spark still lists the files and
    * discovers partition columns (`day_dt` comes last, typed as inferred).
    *
    * Spark infers as before when `mergeSchema` is on (every footer
    * counts), when a parquet summary file is present (Spark prefers it),
    * when no data file is found, or when listing or the footer read
    * fails — so a missing path still raises `PATH_NOT_FOUND` and an empty
    * directory `UNABLE_TO_INFER_SCHEMA`, both Spark's own errors. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  private val SummaryFiles = Set(ParquetFileWriter.PARQUET_METADATA_FILE,
                                 ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      dataFiles(fs, fs.getFileStatus(root)).nextOption()
        .filterNot(f => SummaryFiles(f.getPath.getName))
        .map { f =>
          val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
            new ParquetToSparkSchemaConverter(sqlConf))
        }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The names Spark's file index skips: `_x` unless a `k=v` partition
    * or a summary file, `.x`, and `x._COPYING_`. */
  private def hidden(name: String): Boolean =
    !SummaryFiles(name) && ((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_"))

  /** Files under `st` in path order, lazily, without hidden names.
    * Summary files sort first in their directory, so one in a directory
    * the walk reaches comes out before that directory's data files. */
  private def dataFiles(fs: FileSystem, st: FileStatus): Iterator[FileStatus] =
    if (st.isFile) Iterator.single(st)
    else fs.listStatus(st.getPath)
      .filterNot(e => hidden(e.getPath.getName))
      .sortBy(e => (!SummaryFiles(e.getPath.getName), e.getPath.getName))
      .iterator.flatMap(dataFiles(fs, _))

  /** Document ids SPREAD across the cluster, for per-doc codec/fixture
    * kernels: the documents scan is one small parquet split at fixture
    * scales, so a heavy `mapPartitions` downstream would serialize on a
    * single task (measured: the Vorbis near-dup read 6.0 s on one core,
    * 0.96 s spread). The partition count is explicit because AQE
    * coalesces a count-less repartition of a bare-longs shuffle right
    * back to one partition. At warehouse scale the scan has thousands
    * of splits and the shuffle (longs only) is noise — while still
    * rebalancing skewed per-doc payload sizes. */
  def docIds(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    load(spark, dir, "documents").select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** The events table's `ts` normalizes to a session-tz TIMESTAMP (UTC
    * sessions everywhere) whatever the snapshot's physical type:
    *
    *  - TIMESTAMP(NANOS) parquet (earlier snapshots): Spark cannot
    *    represent nanos (µs max); sessions set
    *    `spark.sql.legacy.parquet.nanosAsLong=true`, so `ts` arrives as a
    *    nanos-since-epoch long — truncate to micros exactly like DuckDB's
    *    TIMESTAMP_NS → TIMESTAMP cast does.
    *  - timestamp[us] without a zone (current snapshots): Spark infers
    *    TIMESTAMP_NTZ, which `unix_micros` et al. reject — cast to
    *    TIMESTAMP, which under the UTC session keeps the wall time
    *    identical to DuckDB's naive read.
    *
    * Either way both engines see the same micros-precision instants. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer DIV, not `/`: ns epochs (~1.7e18) overflow double's exact range
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
