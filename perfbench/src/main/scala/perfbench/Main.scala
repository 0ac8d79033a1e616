package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge

import graft.GraftSession
import graft.etl.{Ingestion, Transform}

/** The benchmark's JVM side: one workload, one client thread, a closed
  * loop for a fixed time. Invoked by `run.py`, which generates the
  * inputs before and checks and reports the outcome after:
  *
  *   perfbench.Main --workload W --seconds S --trace 0|1 --work DIR --result FILE
  *
  * Set-up is the workload's timed steps, so their median can be
  * reported, then its warm-up.
  * With `--trace 1` the first half of the measured time runs untraced
  * and the second half traced, so the trace carries its own overhead.
  */
object Main {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use right after a full collection, in MiB. Collected twice,
    * a moment apart: Spark releases cached blocks and cleans shuffle
    * state asynchronously, partly in reaction to the first collection.
    */
  private def postGcHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private[perfbench] def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Files.createDirectories(work.resolve("out"))

    val t0 = System.nanoTime()
    val spark = GraftSession.builder("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = since(t0)

    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, out)
    val w = Workloads(workload, ctx)
    try {
      val bootS = w.boot()
      val reps = (0 until w.setupSteps).map { r =>
        val s = System.nanoTime()
        val extra = w.setup(r)
        extra + ("s" -> since(s))
      }
      // Sampled before the warm-up: the collection sets Spark's cleaner
      // to work, and that work should not land on the first measured op.
      var peakHeap = postGcHeapMb()
      val w0 = System.nanoTime()
      w.warmup()
      val warmS = since(w0)

      val ops = ArrayBuffer.empty[(OpRecord, Boolean)]
      def loop(secs: Double, traced: Boolean): Unit = {
        tracer.enabled = traced
        val end = System.nanoTime() + (secs * 1e9).toLong
        do {
          for (_ <- 0 until w.passSize) {
            val i = ops.size
            tracer.op = i
            val rec =
              try tracer.span("op", "op")(w.op(i))
              catch {
                case e: Exception =>
                  OpRecord("error", 0.0, 0.0, 0L, 0L, Map.empty, error = String.valueOf(e))
              }
            ops += ((rec, traced))
            if (w.roundEnd(i)) peakHeap = math.max(peakHeap, postGcHeapMb())
          }
        } while (System.nanoTime() < end)
        tracer.enabled = false
      }

      var layers: Map[String, Double] = Map.empty
      if (!trace) loop(seconds, traced = false)
      else {
        loop(seconds / 2, traced = false)
        val listener = new Listener(tracer)
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
        loop(seconds / 2, traced = true)
        val planeS = transformPlane(ctx, w)
        PerfbenchBridge.drainListeners(spark.sparkContext)
        layers = Layers(tracer, ops.toSeq, planeS, spark.sparkContext.defaultParallelism)
        opts.get("spans").foreach(p => writeSpans(Paths.get(p), tracer, layers))
      }
      val checks = w.finish()
      val (storedBytes, storedInputBytes) = w.stored()
      peakHeap = math.max(peakHeap, postGcHeapMb())

      val result = Map(
        "workload" -> workload,
        "cores" -> spark.sparkContext.defaultParallelism,
        "session_s" -> sessionS,
        "boot_s" -> bootS,
        "setup_reps" -> reps,
        "warmup_s" -> warmS,
        "peak_heap_mb" -> peakHeap,
        "ops" -> ops.toSeq.map { case (r, traced) =>
          Map("name" -> r.name, "ms" -> r.ms, "query_ms" -> r.queryMs, "docs" -> r.docs,
            "bytes_written" -> r.bytesWritten,
            "traced" -> traced, "obs" -> r.obs, "error" -> r.error)
        },
        "checks" -> checks,
        "stored_bytes" -> storedBytes,
        "stored_input_bytes" -> storedInputBytes,
        "layers" -> layers)
      Files.writeString(Paths.get(opts("result")), json.writeValueAsString(result))
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** `transform.plane_s`: the transform of one operation's input on its
    * own, `transformCollection(...).shared` into the `noop` sink. Run
    * twice; the second run is reported, so plan compilation is not.
    */
  private def transformPlane(ctx: Ctx, w: Workload): Double = {
    val input = w.planeInput()
    if (input.isEmpty) 0.0
    else {
      def once(): Double = {
        val t0 = System.nanoTime()
        ctx.tracer.op = -1
        ctx.tracer.enabled = true
        try ctx.tracer.span("transform.plane", "transform") {
          for ((name, raw) <- input; cc <- ctx.mapping.collections.get(name))
            Transform.transformCollection(Ingestion.fanOutForCpu(raw), "raw", name, cc,
              ctx.app.runtime, ctx.app.audit, clock = ctx.clock(w.planeDate))
              .shared.write.format("noop").mode("overwrite").save()
        } finally ctx.tracer.enabled = false
        since(t0)
      }
      once()
      once()
    }
  }

  private def writeSpans(path: Path, tracer: Tracer, layers: Map[String, Double]): Unit = {
    val self = Tracer.selfSeconds(tracer.spans.toSeq)
    val counts = tracer.attributed()
    val spans = tracer.spans.toSeq.map { s =>
      val c = counts.get(s.id)
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> self(s.id),
        "counts" -> c.map(c => Map("jobs" -> c.jobs, "tasks" -> c.tasks,
          "failed_tasks" -> c.failedTasks, "task_cpu_ns" -> c.cpuNs,
          "task_run_ms" -> c.runMs, "gc_ms" -> c.gcMs,
          "shuffle_write_bytes" -> c.shuffleWriteBytes, "input_bytes" -> c.inputBytes,
          "input_records" -> c.inputRecords, "spill_bytes" -> c.spillBytes,
          "catalyst_ms" -> c.catalystMs)).orNull)
    }
    val layerSelf = tracer.spans.toSeq.filter(_.op >= 0).groupBy(_.layer)
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    Files.writeString(path, json.writeValueAsString(Map(
      "spans" -> spans, "layer_self_s" -> layerSelf,
      "trace_overhead_ms" -> layers.getOrElse("trace.overhead_ms", 0.0))))
  }

}

/** Per-layer metrics of the traced half of a run, each per operation
  * unless its name says otherwise. Spark work is summed over the layer
  * spans only: the benchmark's own checks run directly under the `op`
  * span and are left out.
  */
object Layers {
  def apply(tracer: Tracer, ops: Seq[(OpRecord, Boolean)], planeS: Double,
      cores: Int): Map[String, Double] = {
    val counts = tracer.attributed()
    val traced = ops.filter(_._2).map(_._1)
    val n = math.max(traced.size, 1).toDouble
    val docs = traced.map(_.docs).sum.toDouble
    val spans = tracer.spans.toSeq.filter(_.op >= 0)
    val self = Tracer.selfSeconds(spans)

    def named(name: String) = spans.filter(_.name == name)
    def secs(name: String) = named(name).map(_.seconds).sum
    def sum(ss: Seq[Span]): Counts = {
      val c = new Counts
      ss.foreach(s => counts.get(s.id).foreach(c += _))
      c
    }
    val all = sum(spans.filter(_.layer != "op"))
    val target = sum(named("sink.append_target"))
    val untraced = ops.filterNot(_._2).map(_._1.ms)

    Map(
      "ingestion.load_envelope_s" -> spans.filter(_.layer == "ingestion").map(_.seconds).sum / n,
      "transform.plane_s" -> planeS,
      "pipeline.driver_self_s" -> spans.filter(_.layer == "pipeline").map(s => self(s.id)).sum / n,
      "sink.append_target_s" -> secs("sink.append_target") / n,
      "sink.append_audit_s" -> secs("sink.append_audit") / n,
      "sink.append_report_s" -> secs("sink.append_report") / n,
      "sink.ddl_s" -> secs("sink.ddl") / n,
      "sink.ddl_calls" -> named("sink.ddl").size / n,
      "sink.bytes_written" -> traced.map(_.bytesWritten).sum / n,
      "spark.jobs" -> all.jobs / n,
      "spark.catalyst_ms" -> all.catalystMs / n,
      "spark.task_cpu_s" -> target.cpuNs / 1e9 / n,
      "spark.core_busy_frac" -> {
        val wall = secs("sink.append_target")
        if (wall > 0) target.runMs / 1e3 / (wall * cores) else 0.0
      },
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes / n,
      "spark.input_records_per_doc" -> (if (docs > 0) all.inputRecords / docs else 0.0),
      "spark.input_bytes" -> all.inputBytes / n,
      "spark.spill_bytes" -> all.spillBytes / n,
      "spark.gc_s" -> all.gcMs / 1e3 / n,
      "spark.failed_tasks" -> all.failedTasks.toDouble,
      "trace.overhead_ms" ->
        (Main.median(traced.map(_.ms)) - Main.median(untraced))) ++
      Dashboard.Queries.map { q =>
        val ss = named(s"analytics.$q")
        s"analytics.${q}_ms" -> (if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum * 1e3 / ss.size)
      }
  }
}
