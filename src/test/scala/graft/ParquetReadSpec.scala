package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DateType, LongType}
import graft.connect.ParquetWarehouse
import graft.core.{EnvSchema, Tables}

/** `Tables.readParquet` takes the schema from one footer read on the
  * driver: the frame must carry exactly the schema `spark.read.parquet`
  * infers, and building it must start no Spark job. */
class ParquetReadSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The helper's frame, after checking it started no job and carries
    * Spark's own inferred schema for `path`. */
  private def readsLikeSpark(path: String): DataFrame = {
    var df: DataFrame = null
    assert(jobsDuring { df = Tables.readParquet(spark, path) } == 0, path)
    assert(df.schema == spark.read.parquet(path).schema, path)
    df
  }

  test("every sf0.01 table reads with Spark's schema and no job") {
    val dir = s"${new java.io.File(sf).getParent}/sf0.01" // beside the spec fixture
    // the plain read's inference job is what the helper saves
    assert(jobsDuring(spark.read.parquet(s"$dir/region.parquet")) > 0)
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"))
      readsLikeSpark(s"$dir/$t.parquet")
  }

  test("TIMESTAMP(NANOS) converts as Spark does under nanosAsLong") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val path = s"${tmpDir("graft_nanos")}/events.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(readsLikeSpark(path).schema("ts").dataType == LongType)
  }

  test("warehouse history and staging read with Spark's schema and no job") {
    import spark.implicits._
    val root = tmpDir("graft_read_wh")
    val wh = new ParquetWarehouse(root)
    for (d <- Seq("2024-06-01", "2024-06-02"))
      wh.appendHistory(Seq((1L, "a", 2.5)).toDF("id", "v", "x")
        .withColumn("day_dt", lit(java.sql.Date.valueOf(d))), "sales")
    val hist = readsLikeSpark(s"$root/${EnvSchema("prod").resolve("legacy")}/sales")
    assert(hist.schema.last.name == "day_dt")
    assert(hist.schema.last.dataType == DateType)
    assert(hist.count() == 2)
    assert(jobsDuring(wh.readHistory(spark, "sales")) == 0)

    wh.writeStaging(Seq((1L, "a")).toDF("id", "v"), "sales")
    val base = s"$root/${EnvSchema("prod").resolve("raw")}/sales_pre"
    val version = new String(Files.readAllBytes(Paths.get(s"$base/_CURRENT")), "UTF-8").trim
    readsLikeSpark(s"$base/$version")
    assert(jobsDuring(wh.readStaging(spark, "sales")) == 0)
  }

  test("a non-file scheme is listed through its own FileSystem") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockObjectStoreFs].getName)
    val path = s"mockfs://${tmpDir("graft_read_mockfs")}/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(path)
    assert(readsLikeSpark(path).count() == 1)
  }

  test("missing and empty paths raise Spark's own errors") {
    val missing = intercept[AnalysisException] {
      Tables.readParquet(spark, s"${tmpDir("graft_read_missing")}/nope")
    }
    assert(missing.getCondition == "PATH_NOT_FOUND")
    val empty = intercept[AnalysisException] {
      Tables.readParquet(spark, tmpDir("graft_read_empty"))
    }
    assert(empty.getCondition == "UNABLE_TO_INFER_SCHEMA")
  }

  test("mergeSchema=true merges every file's columns as Spark does") {
    import spark.implicits._
    val path = tmpDir("graft_read_merge") + "/t"
    Seq((1L, "a")).toDF("id", "a").write.parquet(path)
    Seq((2L, 3.5)).toDF("id", "b").write.mode("append").parquet(path)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = Tables.readParquet(spark, path).schema
      assert(merged == spark.read.parquet(path).schema)
      assert(merged.fieldNames.toSet == Set("id", "a", "b"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
