package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.connect.{Csv, Jdbc, JdbcConfig, ParquetWarehouse, Rest}
import graft.core.RunDate
import graft.pipelines.{Ingestion, Marts}
import graft.reconcile.Reconcile

/** One unit of client work: a registry query or one pipeline step. It
  * returns named values that the correctness gate checks against the
  * generator's planted truth (empty for registry queries, whose result
  * rows are checked against the DuckDB oracle instead). */
final case class Op(name: String, kind: String, run: Ctx => Map[String, Double])

/** What an op sees: the session, the generated inputs, the run directory,
  * and whether this is the verification batch (results written out). */
final class Ctx(val spark: SparkSession, val inputs: String, val out: String,
                val tracer: Tracer, val cores: Int) {
  var verify = false

  /** Time `body` into a counter of the traced run. */
  def timed[T](counter: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally tracer.add(counter, (System.nanoTime() - t0) / 1e9)
  }

  /** Run a registry builder with the build property set on the thread's
    * jobs, so jobs it starts count as eager jobs and its interval becomes
    * a build span. */
  def build(op: Long, name: String)(body: => DataFrame): DataFrame = {
    val t0 = Harness.nowMs()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.BuildProperty, "1")
    try timed("ops.build_s")(body)
    finally {
      sc.setLocalProperty(Tracer.BuildProperty, null)
      tracer.span(Span(tracer.nextId(), op, "build", name, op, t0, Harness.nowMs()))
    }
  }
}

object Workloads {
  /** Where each workload's tables are (the warm-up reads one). */
  def dataDir(workload: String, inputs: String): String = workload match {
    case "etl_nightly" => s"$inputs/day0/mart_input"
    case _             => s"$inputs/data"
  }

  def registry(name: String): Op = {
    val fn = graft.SparkEntry.queries(name)
    Op(name, "registry", { ctx =>
      val op = ctx.spark.sparkContext.getLocalProperty(Tracer.OpProperty).toLong
      val df = ctx.build(op, name)(fn(ctx.spark, s"${ctx.inputs}/data"))
      if (ctx.verify) df.write.mode(SaveMode.Overwrite).parquet(s"${ctx.out}/results/$name")
      else df.write.format("noop").mode(SaveMode.Overwrite).save()
      Map.empty
    })
  }

  /** The curation pass, in pipeline order: text statistics and quality,
    * dedup (exact, MinHash-LSH over ShingleHash, SimHash60), the IVF ANN
    * index (DotProduct), and the image/audio/PDF payload queries. */
  val corpusOps: Seq[String] = Seq(
    "q_text_stats", "q_text_quality", "q_dedup_exact", "q_dedup_minhash_lsh",
    "q_dedup_simhash", "q_sim_ann_ivf", "q_image_neardup",
    "q_audio_neardup_flac", "q_pdf_extract")

  /** The ops of timed batch `b` (from 1). The curation pass is the same
    * every batch; the nightly DAG loads two consecutive run dates per batch,
    * `2b - 1` and `2b`, each reconciled against the date before it. */
  def batch(workload: String, inputs: String, b: Int): Seq[Op] = workload match {
    case "corpus_curation" => corpusOps.map(registry)
    case "etl_nightly" =>
      Etl.days(inputs).sliding(2).toSeq.slice(2 * b - 2, 2 * b).flatMap {
        case Seq(previous, d) => Etl.dayOps(previous, d)
      }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Ops re-run after the timed region to write results for the oracle. */
  def verification(workload: String): Seq[Op] = workload match {
    case "corpus_curation" => corpusOps.map(registry)
    case _ => Nil
  }
}

/** The nightly DAG: per run date, ingest four extracts (CSV with rejects,
  * REST-JSON, JDBC), build the three marts, publish the supplier mart
  * over JDBC, and reconcile the date's products history against the
  * previous date's. Run date 0 is only that baseline: its products are
  * ingested before the timed batches. */
object Etl {
  final case class Day(index: Int, date: RunDate, inputs: String) {
    def dir: String = s"$inputs/day$index"
  }

  def days(inputs: String): Seq[Day] =
    Files.readAllLines(Paths.get(s"$inputs/days.txt")).toArray.toSeq
      .map(_.toString.trim).filter(_.nonEmpty).map { l =>
        val Array(i, d) = l.split(" ")
        Day(i.toInt, RunDate(d), inputs)
      }

  val products: StructType = new StructType()
    .add("p_partkey", LongType).add("p_name", StringType)
    .add("p_brand", StringType).add("p_type", StringType)
    .add("p_size", IntegerType).add("p_retailprice", DoubleType)
  val sales: StructType = new StructType()
    .add("l_rowid", LongType).add("l_orderkey", LongType)
    .add("l_partkey", LongType).add("l_suppkey", LongType)
    .add("l_linenumber", IntegerType).add("l_quantity", DoubleType)
    .add("l_extendedprice", DoubleType).add("l_discount", DoubleType)
    .add("l_tax", DoubleType).add("l_returnflag", StringType)
    .add("l_linestatus", StringType).add("l_shipdate", TimestampType)
  val suppliers: StructType = new StructType()
    .add("s_suppkey", LongType).add("s_name", StringType)
    .add("s_nationkey", IntegerType).add("s_acctbal", DoubleType)
  val customers: StructType = new StructType()
    .add("c_custkey", LongType).add("c_name", StringType)
    .add("c_nationkey", IntegerType).add("c_acctbal", DoubleType)
    .add("c_mktsegment", StringType)

  /** The embedded source database (in memory: nothing lands on disk). */
  val jdbc: JdbcConfig = JdbcConfig("jdbc:derby:memory:graftbench;create=true",
    driver = Some("org.apache.derby.iapi.jdbc.AutoloadedDriver"))

  /** Registry twins of the marts, whose oracle SQL counts snapshot rows. */
  val martQueries: Set[String] = Marts.all.map(m => s"q_${m.name}").toSet

  def warehouse(out: String) = new ParquetWarehouse(s"$out/warehouse")
  def customerTable(d: Day) = s"customers_d${d.index}"

  /** Input preparation, before any timed work. Stages each run date's
    * customer extract in the embedded Derby source database over plain
    * JDBC, then ingests run date 0's products, the history the first
    * reconciliation diffs against. */
  def prepare(ctx: Ctx, batches: Int): Unit = {
    System.setProperty("derby.stream.error.file", s"${ctx.out}/derby.log")
    val all = days(ctx.inputs)
    val conn = java.sql.DriverManager.getConnection(jdbc.url)
    try all.slice(1, 2 * batches + 1).foreach { d =>
      val t = customerTable(d)
      conn.createStatement().executeUpdate(s"""CREATE TABLE $t ("c_custkey" BIGINT,
        "c_name" VARCHAR(64), "c_nationkey" INT, "c_acctbal" DOUBLE, "c_mktsegment" VARCHAR(16))""")
      val ins = conn.prepareStatement(s"INSERT INTO $t VALUES (?, ?, ?, ?, ?)")
      Files.readAllLines(Paths.get(s"${d.dir}/customers.csv")).toArray.toSeq.drop(1).foreach { l =>
        val f = l.toString.split(",").map(_.stripPrefix("\"").stripSuffix("\""))
        ins.setLong(1, f(0).toLong); ins.setString(2, f(1)); ins.setInt(3, f(2).toInt)
        ins.setDouble(4, f(3).toDouble); ins.setString(5, f(4)); ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()
    csvIngest(ctx, all.head, "products.csv", "products", products, Seq("p_partkey"))
  }

  /** Rows of a table in the embedded database, read back over plain JDBC. */
  def countRows(table: String): Long = {
    val conn = java.sql.DriverManager.getConnection(jdbc.url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  private def productsAt(ctx: Ctx, d: Day): DataFrame =
    warehouse(ctx.out).readHistory(ctx.spark, "products")
      .filter(col("day_dt") === lit(d.date.sqlDate)).drop("day_dt")

  private def csvIngest(ctx: Ctx, d: Day, file: String, entity: String,
                        contract: StructType, keys: Seq[String]): Map[String, Double] = {
    val path = s"${d.dir}/$file"
    val rr = Csv.readWithRejects(ctx.spark, path, contract)
    try {
      val (clean, rejects) = ctx.timed("connect.csv_read_s") {
        (rr.clean.count(), rr.rejects.count())
      }
      ctx.tracer.add("connect.rows_in", (clean + rejects).toDouble)
      ctx.tracer.add("connect.rows_accepted", clean.toDouble)
      ctx.tracer.add("connect.input_mb", Files.size(Paths.get(path)) / 1e6)
      val res = Ingestion.ingest(rr.clean, entity, contract, keys, d.date, warehouse(ctx.out))
      Map("rows" -> res.rows.toDouble, "rejects" -> rejects.toDouble)
    } finally rr.release()
  }

  def dayOps(previous: Day, d: Day): Seq[Op] = {
    val tag = s"d${d.index}"
    val ingest = Seq(
      Op(s"ingest_products.$tag", "pipeline", ctx =>
        csvIngest(ctx, d, "products.csv", "products", products, Seq("p_partkey"))),
      Op(s"ingest_sales.$tag", "pipeline", ctx =>
        csvIngest(ctx, d, "sales.csv", "sales", sales, Seq("l_rowid"))),
      Op(s"ingest_suppliers.$tag", "pipeline", { ctx =>
        val path = s"${d.dir}/suppliers.json"
        // the REST transport is pluggable: here it serves the day's extract
        val http: Rest.Http = _ => new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
        val df = Rest.readData(ctx.spark, s"file://$path", suppliers, http)
        val n = ctx.timed("connect.json_read_s")(df.count())
        ctx.tracer.add("connect.rows_in", n.toDouble)
        ctx.tracer.add("connect.rows_accepted", n.toDouble)
        ctx.tracer.add("connect.input_mb", Files.size(Paths.get(path)) / 1e6)
        val res = Ingestion.ingest(df, "suppliers", suppliers, Seq("s_suppkey"),
          d.date, warehouse(ctx.out))
        Map("rows" -> res.rows.toDouble)
      }),
      Op(s"ingest_customers.$tag", "pipeline", { ctx =>
        val df = Jdbc.readTable(ctx.spark, jdbc, customerTable(d),
          partitionColumn = Some("c_custkey"), lowerBound = 0L,
          upperBound = 1L << 20, numPartitions = ctx.cores).cache()
        try {
          val n = ctx.timed("connect.jdbc_read_s")(df.count())
          ctx.tracer.add("connect.rows_in", n.toDouble)
          ctx.tracer.add("connect.rows_accepted", n.toDouble)
          val res = Ingestion.ingest(df, "customers", customers, Seq("c_custkey"),
            d.date, warehouse(ctx.out))
          Map("rows" -> res.rows.toDouble)
        } finally df.unpersist()
      }))
    val marts = Marts.all.map { m =>
      Op(s"mart_${m.name}.$tag", "pipeline", ctx =>
        Map("rows" -> Marts.materialize(ctx.spark, s"${d.dir}/mart_input", m, d.date,
          warehouse(ctx.out)).toDouble))
    }
    val publish = Op(s"publish_jdbc.$tag", "pipeline", { ctx =>
      val snap = warehouse(ctx.out).readHistory(ctx.spark, "supplier_performance")
        .filter(col("day_dt") === lit(d.date.sqlDate)).drop("day_dt").cache()
      try {
        snap.count() // materialise the cache, so the timer covers the write alone
        ctx.timed("connect.jdbc_write_s") {
          Jdbc.write(snap, jdbc, "mart_supplier_performance", SaveMode.Overwrite)
        }
        Map("rows" -> countRows("mart_supplier_performance").toDouble)
      } finally snap.unpersist()
    })
    val reconcile = Op(s"reconcile.$tag", "pipeline", { ctx =>
      val (yesterday, today) = (productsAt(ctx, previous), productsAt(ctx, d))
      val n = ctx.timed("reconcile.diff_s") {
        Reconcile.diff(yesterday, today, Seq("p_partkey")).cellMismatches.count()
      }
      ctx.tracer.add("reconcile.mismatch_cells", n.toDouble)
      Map("mismatch_cells" -> n.toDouble)
    })
    ingest ++ marts ++ Seq(publish, reconcile)
  }
}
