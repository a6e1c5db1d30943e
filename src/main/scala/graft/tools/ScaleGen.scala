package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Self-similar scale-up generator: builds an sfN snapshot from sf0.1 by
  * unioning `copies` key-shifted replicas, so sf0.1→sf1 scaling ratios
  * can be measured empirically (round-5 verdict item — the first
  * evidence for the 100× claims beyond plan shapes).
  *
  * Key discipline: every primary key and its foreign references shift by
  * the same `i × (max+1)` stride, so each replica is a closed star —
  * joins never cross replicas and per-key group counts scale linearly,
  * which is exactly how a real 10× corpus behaves. Dimension tables
  * (region, nation) stay fixed, like the real world. Document TEXT is
  * salted per replica (every token gets a replica suffix) so cross-copy
  * shingle/fingerprint collisions are zero: without the salt every doc
  * would have 9 exact clones and the dedup pair count would explode
  * combinatorially instead of scaling linearly. Embeddings keep their
  * vectors (vec_id shifted) — embedding-similarity queries are NOT part
  * of the scale suite because identical vectors across replicas would
  * likewise inflate near-dup pairs. `events` replicates with
  * user_id/event_id strides at unchanged timestamps — 10× traffic
  * intensity with per-user session structure preserved (ts is read
  * under nanosAsLong and written as plain int64, which `Tables.events`
  * consumes identically).
  *
  * Usage: runMain graft.tools.ScaleGen [srcDir] [dstDir] [copies]
  * Defaults: /root/testdata/sf0.1 → /tmp/graft_sf1 × 10.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark, src, dst, copies)
    finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    def read(t: String): DataFrame = graft.core.Tables.load(spark, src, t)
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"wrote $t")
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // fixed dims
    write("region", read("region"))
    write("nation", read("nation"))

    val cust = read("customer"); val cStride = stride(cust, "c_custkey")
    val supp = read("supplier"); val sStride = stride(supp, "s_suppkey")
    val part = read("part");     val pStride = stride(part, "p_partkey")
    val ord  = read("orders");   val oStride = stride(ord, "o_orderkey")
    val li   = read("lineitem")
    val docs = read("documents"); val dStride = stride(docs, "doc_id")
    val emb  = read("embeddings"); val vStride = stride(emb, "vec_id")

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => shift(df, i)).reduce(_ union _)

    write("customer", replicate(cust)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * cStride))))
    write("supplier", replicate(supp)((d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * sStride))))
    write("part", replicate(part)((d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * pStride))))
    write("orders", replicate(ord)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * oStride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cStride))))
    write("lineitem", replicate(li)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * oStride))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pStride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sStride))))
    // token-level salt: replica i rewrites every token w -> w·ci, so
    // within-replica similarity is untouched and cross-replica shingle
    // overlap is zero (replica 0 keeps the original corpus verbatim)
    write("documents", replicate(docs)((d, i) =>
      (if (i == 0) d
       else d.withColumn("text",
         regexp_replace(col("text"), "(\\S+)", "$1" + s"c$i")))
        .withColumn("doc_id", col("doc_id") + lit(i * dStride))
        .withColumn("n_chars", length(col("text")).cast("long"))))
    write("embeddings", replicate(emb)((d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * vStride))))
    val ev = read("events")
    val uStride = stride(ev, "user_id"); val eStride = stride(ev, "event_id")
    write("events", replicate(ev)((d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * eStride))
        .withColumn("user_id", col("user_id") + lit(i * uStride))))
  }
}
