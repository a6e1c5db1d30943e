package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; Test/fork is
  * on, so this is the only SparkContext in the process). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts, counted by job group. A marker job runs in
    * the same group after `body`; the listener bus delivers events in
    * order, so once the marker is visible every earlier job of the group
    * is too. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "jobs started by a spec body")
    try { body; sc.parallelize(Seq(1), 1).count() }
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var ids = sc.statusTracker.getJobIdsForGroup(group)
    while (ids.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      ids = sc.statusTracker.getJobIdsForGroup(group)
    }
    assert(ids.nonEmpty, "the marker job never reached the status tracker")
    ids.length - 1
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_spark_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
