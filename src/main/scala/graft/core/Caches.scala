package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry of the frames graft operators persist
  * INTERNALLY (multi-consumer cuts whose lifetime outlives the operator
  * call: LSH/IVF indexes, signature tables, range-partitioned rank
  * inputs). An operator that persists an intermediate its RETURNED frame
  * depends on cannot unpersist before returning — so it registers the
  * cache here, and the session owner releases them in one call:
  *
  * {{{
  *   val topk = Similarity.ivfTopK(spark, dir)
  *   topk.write.parquet(out)
  *   Caches.release(spark)   // drops every operator-internal persist
  * }}}
  *
  * `release` is the library's contract with long-lived sessions (Bench
  * and Verify call it between queries); it only touches graft-tracked
  * frames, never caches the user created — unlike
  * `spark.catalog.clearCache()`, which drops both.
  */
object Caches {

  private val tracked =
    scala.collection.mutable.Map.empty[SparkSession,
      scala.collection.mutable.ListBuffer[Dataset[_]]]

  /** Persist `ds` (MEMORY_AND_DISK by default) and register it for
    * [[release]] by its session. Returns `ds` for inline use. */
  def track[T](ds: Dataset[T],
               level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] =
    synchronized {
      ds.persist(level)
      tracked.getOrElseUpdate(ds.sparkSession,
        scala.collection.mutable.ListBuffer.empty) += ds
      ds
    }

  /** Forget `ds` without unpersisting — for operators that manage an
    * early unpersist themselves on some code path. */
  def untrack(ds: Dataset[_]): Unit = synchronized {
    tracked.get(ds.sparkSession).foreach(_ -= ds)
  }

  /** Unpersist every graft-tracked frame of `spark` (blocking=false: the
    * executors free blocks asynchronously). */
  def release(spark: SparkSession): Unit = {
    val toDrop = synchronized { tracked.remove(spark) }
    toDrop.foreach(_.foreach(_.unpersist()))
  }

  /** Evaluate `body`, then unpersist the frames tracked for `spark` while
    * it ran — for a caller that consumes an operator's result entirely
    * inside `body` (a write, a count), so its internal persists can go
    * without touching frames tracked before. Runs on failure too. */
  def releasing[T](spark: SparkSession)(body: => T): T = {
    val before = synchronized {
      tracked.get(spark).fold(Set.empty[Dataset[_]])(_.toSet)
    }
    try body
    finally {
      val added = synchronized {
        tracked.get(spark).fold(Seq.empty[Dataset[_]]) { buf =>
          val fresh = buf.filterNot(before).toSeq
          buf --= fresh
          fresh
        }
      }
      added.foreach(_.unpersist())
    }
  }

  /** Number of live tracked frames for `spark` (spec hook). */
  def liveCount(spark: SparkSession): Int = synchronized {
    tracked.get(spark).map(_.size).getOrElse(0)
  }

  /** `ds.trackPersist()` — persist + register in one postfix call. */
  implicit class TrackedDataset[T](private val ds: Dataset[T]) extends AnyVal {
    def trackPersist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] =
      track(ds, level)
  }
}

/** Scan-parallelism guard.
  *
  * A single parquet file with one row group is one non-splittable input
  * split, so EVERY stage before the first shuffle — tokenizing, shingle
  * hashing, digest building — runs in one task no matter how many cores
  * the session has. Local test fixtures are exactly such files; a
  * 100 TB table is thousands of splits and never hits this. [[spread]]
  * makes the guard explicit: repartition ONLY when the scan carries
  * fewer partitions than the session's core count, so at cluster scale
  * it inserts nothing, and on under-split local inputs it spends one
  * narrow-row shuffle to buy full-width map stages. */
object Spread {
  def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
}
