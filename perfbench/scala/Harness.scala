package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark driver process: sets the engine up once, cold, runs
  * `batches` timed batches of the workload as a single closed-loop client
  * and then an untimed verification batch, and writes everything measured
  * to `<out>/run.json` (plus `spans.jsonl` when traced).
  *
  * Usage: graftbench.Harness <workload> <inputs> <out> <batches> <trace 0|1> <cores>
  */
object Harness {
  /** Epoch milliseconds with sub-millisecond resolution. */
  private val epochBase = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs(): Double = epochBase + System.nanoTime() / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcTotals(): (Double, Long) =
    (gcBeans.map(_.getCollectionTime).sum / 1e3, gcBeans.map(_.getCollectionCount).sum)

  /** Largest old-generation occupancy seen right after any GC while armed. */
  object OldGen extends NotificationListener {
    @volatile var armed = false
    @volatile var peakBytes = 0L
    def install(): Unit = gcBeans.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed }
          .foreach(u => synchronized { peakBytes = math.max(peakBytes, u) })
      }
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  private def session(cores: Int, tracer: Option[Tracer]): SparkSession = {
    val spark = graft.core.Sessions.local(cores)
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.listener)
      spark.listenerManager.register(t.queryListener)
    }
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, out, batchesArg, traceArg, coresArg) = args
    val (batches, traced, cores) = (batchesArg.toInt, traceArg == "1", coresArg.toInt)
    Files.createDirectories(Paths.get(out))
    OldGen.install()
    val tracer = new Tracer(if (workload == "etl_nightly") Some(s"$out/warehouse") else None)
    val dataDir = Workloads.dataDir(workload, inputs)

    // set-up, timed from JVM start to the end of the warm-up query:
    // session + extensions + warm-up
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val s0 = nowMs()
    val spark = session(cores, Some(tracer).filter(_ => traced))
    val s1 = nowMs()
    graft.core.Tables.part(spark, dataDir).groupBy("p_type").count().collect()
    val s2 = nowMs()
    val setup = Map("total_s" -> (s2 - jvmStart) / 1e3, "session_s" -> (s1 - s0) / 1e3,
      "warmup_s" -> (s2 - s1) / 1e3)

    val ctx = new Ctx(spark, inputs, out, tracer, cores)
    // input preparation, untimed: the source database and the previous
    // run date's products history that the first reconciliation reads
    if (workload == "etl_nightly") Etl.prepare(ctx, batches)
    val sc = spark.sparkContext
    val opRecords = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val batchRecords = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

    def runBatch(b: Int, ops: Seq[Op], verify: Boolean): Unit = {
      ctx.verify = verify
      System.gc()
      OldGen.armed = !verify
      tracer.on = traced && !verify
      val batchId = tracer.nextId()
      val (gc0, gcn0) = gcTotals()
      val (cpu0, cg0, cgt0) = (cpuS(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime)
      val t0 = nowMs()
      val busy0 = tracer.jobBusy(t0.toLong)
      for (op <- ops) {
        val opId = tracer.nextId()
        sc.setLocalProperty(Tracer.OpProperty, opId.toString)
        val start = nowMs()
        tracer.opStarted(opId, start)
        val (values, err) =
          try (op.run(ctx), null)
          catch { case e: Throwable => (Map.empty[String, Double], s"${e.getClass.getName}: ${e.getMessage}") }
        val end = nowMs()
        ctx.timed("core.caches_release_s") {
          graft.core.Caches.release(spark)
          spark.catalog.clearCache()
        }
        tracer.span(Span(opId, batchId, "op", op.name, opId, start, end))
        opRecords += Map("batch" -> b, "name" -> op.name, "kind" -> op.kind,
          "latency_s" -> (end - start) / 1e3, "ok" -> (err == null), "error" -> err,
          "values" -> values)
      }
      sc.setLocalProperty(Tracer.OpProperty, null)
      val t1 = nowMs()
      val busy1 = tracer.jobBusy(t1.toLong)
      val (gc1, gcn1) = gcTotals()
      batchRecords += Map[String, Any]("index" -> b, "verify" -> verify,
        "wall_s" -> (t1 - t0) / 1e3, "cpu_s" -> (cpuS() - cpu0),
        "gc_s" -> (gc1 - gc0), "gc_count" -> (gcn1 - gcn0),
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
        "codegen_compile_s" -> (CodeGenerator.compileTime - cgt0) / 1e9,
        "driver_only_s" -> ((t1 - t0) - (busy1 - busy0)) / 1e3)
      // listener events arrive asynchronously: drain before switching off
      org.apache.spark.graftbench.Drain(sc)
      tracer.span(Span(batchId, 0L, "batch", s"batch $b", 0L, t0, t1))
      tracer.on = false
      OldGen.armed = false
    }

    // the timed batches; the first one runs cold, as a nightly job does in
    // a fresh driver
    for (b <- 1 to batches) runBatch(b, Workloads.batch(workload, inputs, b), verify = false)
    // then, untimed, each registry query once more, writing its result for
    // the oracle (pipeline steps were checked from their returned values)
    runBatch(0, Workloads.verification(workload), verify = true)

    val kernels =
      if (traced && workload == "corpus_curation") KernelProbe.run(spark, dataDir)
      else Map.empty[String, Double]
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      Workloads.corpusOps.contains(k) || Etl.martQueries.contains(k)
    }
    val result = Map[String, Any](
      "workload" -> workload, "cores" -> cores, "setup" -> setup,
      "batches" -> batchRecords, "ops" -> opRecords,
      "live_heap_peak_mb" -> OldGen.peakBytes / 1e6,
      "counters" -> tracer.counts, "kernels" -> kernels, "oracle_sql" -> oracle)
    if (traced) {
      val lines = tracer.spans.map(s => json(Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "op" -> s.op, "start" -> s.start, "end" -> s.end)))
      Files.write(Paths.get(s"$out/spans.jsonl"), lines.asJava)
    }
    Files.writeString(Paths.get(s"$out/run.json"), json(result))
    spark.stop()
  }
}
