package graft.connect

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.core.Tables

/** The reference's two-layer snapshot warehouse (SURVEY §1.1) as a
  * storage-agnostic surface: `{entity}_pre` staging replaced per run,
  * `{entity}` history appended per run keyed by the injected load date.
  *
  * The reference binds this to PostgreSQL over single-partition JDBC
  * (utils.py:145-163) — its #1 bottleneck. This parquet implementation
  * partitions history by `day_dt`, so every "today's snapshot" read
  * (`DAY_DT = current_date()` in the reference,
  * m_customer_sales_report_task.py:82-84) becomes a partition-pruned scan
  * instead of a full-table filter; a JDBC-backed implementation plugs in
  * through the same trait with partitioned writes.
  */
trait Warehouse {
  def writeStaging(df: DataFrame, entity: String): Unit
  def appendHistory(df: DataFrame, entity: String): Unit

  /** Idempotent per-micro-batch history append for streaming sinks:
    * replaying batch `batchId` after a failure must OVERWRITE that
    * batch's own slice instead of appending a second copy (foreachBatch
    * is at-least-once). The written history carries a `batch_id`
    * lineage column. */
  def appendHistoryBatch(df: DataFrame, entity: String, batchId: Long): Unit

  def readStaging(spark: SparkSession, entity: String): DataFrame
  def readHistory(spark: SparkSession, entity: String): DataFrame
}

/** @param env environment → physical-prefix routing: prod keeps
  *   `raw`/`legacy`, anything else lands in `dev_raw`/`dev_legacy` under
  *   the same root (reference: utils.py:190-211). Default prod preserves
  *   the un-prefixed layout for callers that manage isolation by root
  *   path instead. */
final class ParquetWarehouse(root: String,
                             env: graft.core.EnvSchema = graft.core.EnvSchema("prod"))
    extends Warehouse {
  private def stagingPath(entity: String) = s"$root/${env.resolve("raw")}/${entity}_pre"
  private def historyPath(entity: String) = s"$root/${env.resolve("legacy")}/$entity"

  /** ATOMIC snapshot publish via a manifest-pointer swap. A plain
    * `SaveMode.Overwrite` deletes the old snapshot before the new one is
    * committed — a crashed writer leaves a torn (empty or partial)
    * staging table for every reader until the next successful run.
    * Instead each run writes a fresh VERSION directory and then swaps a
    * one-line `_CURRENT` pointer file to it with an atomic rename;
    * readers resolve the pointer, so they see the complete old snapshot
    * until the instant the complete new one exists, never anything in
    * between (crash-simulation-proved in ConnectSpec). Superseded
    * versions are cleaned up best-effort AFTER the swap. On an
    * HDFS-compatible store the same pointer rename is atomic; an
    * S3-style store would swap a manifest object instead. */
  def writeStaging(df: DataFrame, entity: String): Unit = {
    import org.apache.hadoop.fs.Path
    val base = stagingPath(entity)
    val version = f"v${System.nanoTime()}%020d"
    df.write.mode(SaveMode.Overwrite).parquet(s"$base/$version")
    // pointer swap through the Hadoop FileSystem API, NOT java.nio: the
    // root may be any registered scheme (file://, hdfs://, a mock
    // object-store scheme in the contract spec) — path handling must not
    // assume a local filesystem
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(conf)
    val tmp = new Path(basePath, s"._current_$version.tmp")
    val out = fs.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    val cur = new Path(basePath, "_CURRENT")
    // POSIX rename over an existing file is an atomic replace; on an FS
    // whose rename refuses existing targets (HDFS semantics), fall back
    // to delete+rename — the window is pointer-sized, and HDFS callers
    // would use FileContext's Rename.OVERWRITE there
    if (!fs.rename(tmp, cur)) {
      fs.delete(cur, false)
      if (!fs.rename(tmp, cur))
        throw new java.io.IOException(s"staging pointer swap failed: $cur")
    }
    // best-effort: drop superseded version dirs AFTER the swap (a real
    // object store would age these out by retention instead)
    fs.listStatus(basePath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v") &&
                   s.getPath.getName != version)
      .foreach(old => scala.util.Try(fs.delete(old.getPath, true)))
  }

  /** Day-scoped IDEMPOTENT history publish: dynamic partition overwrite
    * replaces exactly the `day_dt` partitions present in this run's
    * frame and touches nothing else. Plain append (the reference's mode,
    * utils.py:162) double-loads a day when a crashed run is retried;
    * here the retry heals its own partial day — the injected-RunDate
    * backfill story and the crash story are the same mechanism. Work in
    * flight stays invisible (the committer stages under `_temporary`,
    * which parquet readers ignore) until job commit. */
  def appendHistory(df: DataFrame, entity: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day_dt")
      .parquet(historyPath(entity))

  def appendHistoryBatch(df: DataFrame, entity: String, batchId: Long): Unit = {
    // dynamic partition overwrite: only the partitions present in this
    // batch (its own day_dt × batch_id slices) are replaced — a replayed
    // epoch rewrites itself, other batches' data is untouched
    import org.apache.spark.sql.functions.lit
    df.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day_dt", "batch_id")
      .parquet(historyPath(entity))
  }

  /** The current staging snapshot: `_CURRENT`'s version directory, read
    * through [[graft.core.Tables.readParquet]] — the schema comes from one
    * footer, read on the driver with Spark's own converter and session
    * conf, so no Spark job starts; Spark's inference is kept for the
    * fallback cases (a never-written entity's `PATH_NOT_FOUND` among
    * them). */
  def readStaging(spark: SparkSession, entity: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val base = stagingPath(entity)
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(basePath, "_CURRENT")
    if (fs.exists(cur)) {
      val in = fs.open(cur)
      val version =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      Tables.readParquet(spark, s"$base/$version")
    } else
      // never-written entity: same PATH_NOT_FOUND analysis error a plain
      // staging read raises (the gate-abort spec relies on it)
      Tables.readParquet(spark, base)
  }

  /** The whole history, `day_dt` last as a partition column, read
    * through [[graft.core.Tables.readParquet]]: the data schema comes from
    * one footer (the first day's first file), read on the driver with
    * Spark's own converter and session conf, so no Spark job starts;
    * Spark still discovers the partitions, and its inference is kept
    * for the fallback cases. */
  def readHistory(spark: SparkSession, entity: String): DataFrame =
    Tables.readParquet(spark, historyPath(entity))
}
