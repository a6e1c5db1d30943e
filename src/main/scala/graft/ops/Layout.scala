package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Physical data layout for scan efficiency: Z-order clustering keys,
  * range-clustered writes, and small-file compaction.
  *
  * At 100 TB the scan is the cost, and the scan is only cheap if file-
  * level min/max statistics let the reader SKIP files. Sorting by one
  * column clusters one predicate dimension; interleaving the bits of two
  * dimensions (Z-order) clusters both at once, so point/range predicates
  * on EITHER column map to a bounded set of files. Compaction rewrites
  * the many small files that incremental appends accumulate (each file
  * costs a task + a footer fetch) into target-sized ones.
  */
object Layout {

  private val Bits = 16

  /** Z-order (Morton) key: the low [[Bits]] bits of `x` and `y`
    * interleaved — x in the even positions, y in the odd. Pure integer
    * arithmetic, identical in any engine.
    *
    * PRECONDITION: `x` and `y` must be NON-NEGATIVE. The 16-bit mask
    * takes two's-complement low bits, so a negative input aliases onto
    * the same key as some positive value (−1 → 0xFFFF) and destroys the
    * locality the key exists for. Callers re-base signed dimensions to a
    * non-negative range first (as [[zorderQuery]] does with its epoch). */
  def zorderKey(x: Column, y: Column): Column = {
    val xm = x.bitwiseAND(lit((1L << Bits) - 1))
    val ym = y.bitwiseAND(lit((1L << Bits) - 1))
    (0 until Bits).map { i =>
      shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Epoch base for the time bucket: minutes are taken RELATIVE to this
    * instant before masking to [[Bits]], so the 16-bit window covers ~45
    * days from the corpus epoch instead of silently wrapping absolute
    * epoch-minutes every 45 days (which would alias distant times onto
    * the same key bits and destroy time-dimension skipping). A real
    * deployment re-bases per partition (e.g. per day_dt). */
  private val MinuteEpochUs = 1704067200000000L // 2024-01-01T00:00:00Z

  /** Oracle query: the Z-key of (user_id, minutes since the corpus epoch)
    * per event — the clustering key [[clusteredWrite]] lays files out
    * by. */
  def zorderQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
              // integer FLOOR division, spelled out: Spark's `div` is
              // IntegralDivide (truncates toward zero) while DuckDB's `//`
              // floors, so for pre-epoch timestamps (negative micros) the
              // two would bucket one minute apart. The correction term
              // subtracts 1 exactly when truncation rounded up — floor
              // semantics on both engines for any sign. (`/` on doubles is
              // no alternative: ulp-boundary truncation disagrees.)
              expr(s"""(unix_micros(ts) - ${MinuteEpochUs}L) div 60000000
                      | - (case when (unix_micros(ts) - ${MinuteEpochUs}L) % 60000000 < 0
                      |         then 1 else 0 end)""".stripMargin)
                .as("minute"))
      .withColumn("zkey", zorderKey(col("user_id"), col("minute")))
      .select(col("event_id"), col("user_id"), col("minute"), col("zkey"))

  val zorderOracle: String = {
    val terms = (0 until Bits).map { i =>
      s"(((user_id & ${(1L << Bits) - 1}) >> $i & 1) << ${2 * i}) | " +
        s"(((minute & ${(1L << Bits) - 1}) >> $i & 1) << ${2 * i + 1})"
    }.mkString(" | ")
    s"""WITH e AS (
       |  SELECT event_id, user_id,
       |         (epoch_us(CAST(ts AS TIMESTAMP)) - $MinuteEpochUs) // 60000000 AS minute
       |  FROM events)
       |SELECT event_id, user_id, minute, $terms AS zkey
       |FROM e
       |""".stripMargin
  }

  /** Write `df` clustered by `key` into `numFiles` range-partitioned,
    * internally sorted files — the layout that gives file-level min/max
    * statistics their skipping power. */
  def clusteredWrite(df: DataFrame, key: Column, path: String,
                     numFiles: Int): Unit =
    df.repartitionByRange(numFiles, key)
      .sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Compaction PLAN over a file manifest: pack manifest-ordered files
    * into bins of ~`targetBytes` by the streaming-merge rule
    * `bin = exclusive_prefix_sum(bytes) div target` — consecutive files
    * group together (preserving any clustering the manifest order
    * carries, e.g. partition path or commit time), every bin except
    * possibly the last reaches the target, and a bin overflows the
    * target by at most one file (the classic next-fit grouping real
    * table-format compactors use; bin-minimal packing would reorder
    * files and destroy the clustering).
    *
    * The prefix sum is [[Rnk.globalCumsum]] — the distributed two-pass,
    * NOT a single-partition window — so the planner itself scales to a
    * manifest of millions of files: one range partitioning of the
    * manifest plus a partition-count-sized offset table. Returns one row
    * per bin: file count, total bytes, and the [first, last] file-id
    * range the compactor should rewrite together. */
  def compactionPlan(manifest: DataFrame, fileId: Column, bytes: Column,
                     targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    Rnk.globalCumsum(
        manifest.select(fileId.as("file_id"), bytes.as("bytes")),
        Seq(col("file_id")), col("bytes"), "cum_before")
      .withColumn("bin", expr(s"cum_before div ${targetBytes}L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
           min(col("file_id")).as("first_file"),
           max(col("file_id")).as("last_file"))
  }

  /** Oracle query: the compaction plan for the documents "manifest"
    * (doc_id as file id, n_chars as file bytes) at an 8 KiB target —
    * ~19 bins over the corpus snapshot. */
  def compactionQuery(spark: SparkSession, dir: String): DataFrame =
    compactionPlan(Tables.documents(spark, dir),
      col("doc_id"), col("n_chars"), CompactTarget)

  private val CompactTarget = 8192L

  val compactionOracle: String =
    s"""WITH c AS (
       |  SELECT doc_id, n_chars,
       |         coalesce(sum(n_chars) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM documents)
       |SELECT CAST(cum // $CompactTarget AS BIGINT) AS bin,
       |       CAST(count(*) AS BIGINT) AS n_files,
       |       CAST(sum(n_chars) AS BIGINT) AS total_bytes,
       |       CAST(min(doc_id) AS BIGINT) AS first_file,
       |       CAST(max(doc_id) AS BIGINT) AS last_file
       |FROM c GROUP BY 1
       |""".stripMargin

  /** Compact a parquet directory to ~`targetBytes` files: one coalesce
    * (no shuffle) sized from the current on-disk footprint, written to
    * `destPath`. Incremental-append warehouses run this out-of-band. */
  def compact(spark: SparkSession, srcPath: String, destPath: String,
              targetBytes: Long): Long = {
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(src).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    Tables.readParquet(spark, srcPath).coalesce(files)
      .write.mode(SaveMode.Overwrite).parquet(destPath)
    files.toLong
  }

  /** ROW-GROUP AUDIT: read the parquet FOOTERS of a dataset (no data
    * pages touched) and emit one row per row group — file, ordinal, row
    * count, compressed/uncompressed byte size. The layout-governance
    * readout behind [[compactionPlan]]'s sizing decisions and the
    * `maxPartitionBytes` tuning at 100 TB: a table whose row groups are
    * 4 MB needs compaction before scan parallelism means anything, one
    * whose groups are 2 GB can't split. Footers are read in TASKS (one
    * per file partition), so a million-file lake audits in parallel;
    * driver traffic is the audit rows, not the footers. */
  def rowGroups(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = Tables.readParquet(spark, path).inputFiles.toSeq
    spark.createDataset(files)
      .repartition(math.max(1, math.min(files.size, 32))) // 0 files ⇒ empty frame, not IAE
      .mapPartitions { fs =>
        val conf = new org.apache.hadoop.conf.Configuration()
        fs.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            reader.getFooter.getBlocks.asScala.toList.zipWithIndex.map {
              case (b, i) =>
                val name = f.substring(f.lastIndexOf('/') + 1)
                val chunks = b.getColumns.asScala
                (name, i, b.getRowCount,
                  chunks.map(_.getTotalSize).sum,
                  chunks.map(_.getTotalUncompressedSize).sum)
            }
          } finally reader.close()
        }
      }
      .toDF("file", "row_group_id", "num_rows", "compressed_bytes",
        "uncompressed_bytes")
  }
}
