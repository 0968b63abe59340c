package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.ingest.Snapshots

/** Shared state of one benchmark run: the session, the seeded inputs,
  * the timed-op log and the optional tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val dataDir: String, val workDir: String, val maxOps: Int,
                val tracer: Option[Tracer], val expectedFile: String, val record: Option[String]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** The workload's own end-to-end figures: name -> (value, unit). */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer figures the workload measures itself (not from spans). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private var t0 = 0L
  /** Wall time and op count of the closed loop, when a workload runs an
    * open-loop phase after it; 0 means the whole timed run. */
  var closedLoopS = 0.0
  var closedLoopOps = 0

  def startClock(): Unit = t0 = System.nanoTime()
  def elapsedS: Double = (System.nanoTime() - t0) / 1e9
  def endClosedLoop(): Unit = { closedLoopS = elapsedS; closedLoopOps = ops.size }
  def timeUp: Boolean = elapsedS >= seconds || (maxOps > 0 && ops.size >= maxOps)
  def addLayer(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v

  /** Time one operation; `check` validates its output. An exception
    * or a failed check records a failed op (and the reason on stderr).
    * The snapshot-log files the op opens are counted on its span. */
  def timed[T](kind: String, name: String)(body: => T)(check: T => Boolean): Option[T] = {
    val span = tracer.map(_.open(name, kind))
    val opens = Snapshots.logOpens.get()
    val start = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - start) / 1e6
    span.foreach { s =>
      tracer.foreach(_.close(s))
      s.add("snapshots.log_opens", (Snapshots.logOpens.get() - opens).toDouble)
    }
    val ok = res match {
      case Right(v) => try check(v) catch { case e: Throwable => fail(name, e.toString); false }
      case Left(e) => fail(name, e.toString); false
    }
    if (!ok) fail(name, "output check failed")
    ops += Op(kind, name, ms, ok)
    span.foreach(_.add("op_ms", ms))
    res.toOption.filter(_ => ok)
  }

  def fail(name: String, why: String): Unit =
    System.err.println(s"[perfbench] FAIL $name: ${why.take(2000)}")

  /** Median and tail of one op kind, into `detail`. */
  def latency(kind: String, prefix: String): Unit = {
    val xs = ops.filter(o => o.kind == kind && o.ok).map(_.ms).toSeq
    if (xs.nonEmpty) {
      val (t, p) = Stats.tail(xs)
      detail(s"${prefix}_p50_ms") = (Stats.median(xs), "ms")
      detail(s"${prefix}_tail_ms") = (t, "ms")
      detail(s"${prefix}_tail_pct") = (p.toDouble, "percentile")
      detail(s"${prefix}_samples") = (xs.size.toDouble, "count")
    }
  }

  /** Ops of these kinds, as the span tree sees them. */
  def opSpans(kinds: Set[String]): Seq[Span] =
    tracer.map(_.ops.toSeq.filter(s => kinds(s.layer))).getOrElse(Nil)
}

trait Workload {
  /** The op kind whose latency is the run's headline (op_p50_ms). */
  def primary: String
  /** Build the workload's inputs in the session; repeated to time set-up. */
  def stage(ctx: Ctx): Unit
  /** One untimed pass so the timed loop measures warm code. */
  def warmUp(ctx: Ctx): Unit
  /** The timed loop: runs ops until `ctx.timeUp`. */
  def run(ctx: Ctx): Unit
  /** End-of-run output checks; returns failure descriptions. */
  def finish(ctx: Ctx): Seq[String]
  /** Per-layer metrics this workload derives from its op spans. */
  def layers(ctx: Ctx): Unit = ()
}

/** Benchmark entry point. One JVM, one client thread, Spark local[k].
  *
  * {{{
  * Main --workload olap_read --seed 1 --seconds 10 --trace 0
  *      --data <fixture dir> --work <scratch dir> --out <record.json>
  * }}}
  */
object Main {
  val StageReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val dataDir = a("data")
    val workDir = a("work")
    val out = a("out")
    // one core stays free for the driver, JIT and GC threads, so task
    // threads do not queue behind them
    val cpus = (Runtime.getRuntime.availableProcessors - 1).max(1).min(4)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val healthT0 = System.nanoTime()
    val healthStart = Health.stamp(new java.io.File(dataDir))
    val healthMs = (System.nanoTime() - healthT0) / 1e6

    val spark = GraftSession.tune(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.default.parallelism", cpus.toString))
      .config("spark.sql.catalog.graft.warehouse", s"$workDir/lake")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, dataDir, workDir,
      a.getOrElse("max-ops", "0").toInt, tracer,
      a.getOrElse("expected", ""), a.get("record"))
    val wl: Workload = workload match {
      case "olap_read" => new OlapRead
      case "lakehouse_dml" => new LakehouseDml
      case other => sys.error(s"unknown workload '$other'")
    }

    val stageMs = (1 to StageReps).map { _ =>
      val t = System.nanoTime(); wl.stage(ctx); (System.nanoTime() - t) / 1e6
    }
    val warmT = System.nanoTime()
    wl.warmUp(ctx)
    val warmMs = (System.nanoTime() - warmT) / 1e6
    val sessionStartMs = sessionReady - jvmStartMs - healthMs
    val setupS = (sessionStartMs + Stats.median(stageMs) + warmMs) / 1000.0

    HeapPeak.sample()
    tracer.foreach(_.install())
    val opsT0 = System.nanoTime()
    ctx.startClock()
    wl.run(ctx)
    val runS = (System.nanoTime() - opsT0) / 1e9
    HeapPeak.sample()
    val finalFailures = wl.finish(ctx)
    finalFailures.foreach(f => ctx.fail("final check", f))
    tracer.foreach(_.drain())
    if (tracer.isDefined) wl.layers(ctx)
    HeapPeak.sample()
    val heapMb = HeapPeak.peakMb
    val healthEnd = Health.stamp(new java.io.File(dataDir))

    val timedOps = ctx.ops.toSeq
    val attempted = timedOps.size + 1 // + the end-of-run check
    val failed = timedOps.count(!_.ok) + (if (finalFailures.nonEmpty) 1 else 0)
    val prim = timedOps.filter(o => o.kind == wl.primary && o.ok).map(_.ms)
    val (tailV, tailP) = Stats.tail(prim)
    // gated: figures that aggregate whole passes. A median moves with
    // the one op at the middle rank, by up to 30% from run to run; it
    // is printed with the workload's named metrics instead. Throughput
    // counts every closed-loop op; an open-loop phase runs on its own
    // schedule, so its wall time says nothing about speed
    val (loopOps, loopS) =
      if (ctx.closedLoopS > 0) (ctx.closedLoopOps, ctx.closedLoopS) else (timedOps.size, runS)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "ops_per_min" -> (loopOps / loopS * 60.0, "1/min"),
      "heap_live_peak_mb" -> (heapMb, "MB"))
    ctx.detail("op_p50_ms") = (Stats.median(prim), "ms")
    ctx.detail("error_rate") = (failed.toDouble / attempted, "ratio")
    ctx.detail("op_max_ms") = (if (prim.isEmpty) Double.NaN else prim.max, "ms")
    ctx.detail("op_tail_ms") = (tailV, "ms")
    ctx.detail("op_tail_pct") = (tailP.toDouble, "percentile")
    ctx.detail("op_samples") = (prim.size.toDouble, "count")
    ctx.detail("run_s") = (runS, "s")
    ctx.detail("loop_ops") = (loopOps.toDouble, "count")

    // per-layer metrics: sum of the op spans' counters, plus what the
    // workload measured itself
    val layers = mutable.LinkedHashMap.empty[String, Double]
    Layers.names.foreach(n => layers(n) = 0.0)
    tracer.foreach { t =>
      t.ops.foreach(_.attrs.foreach { case (k, v) => if (layers.contains(k)) layers(k) += v })
    }
    ctx.layer.foreach { case (k, v) => layers(k) = v }
    layers("session.start_ms") = sessionStartMs
    layers("session.staging_ms") = Stats.median(stageMs)
    ctx.layer.get("sources.files_live").filter(_ > 0).foreach { live =>
      layers("sources.files_read_ratio") = layers("sources.files_read") / live
    }

    def metric(v: Double, u: String) = Map("value" -> Json.finite(v), "unit" -> u)
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> e2e.map { case (k, (v, u)) => k -> metric(v, u) },
      "detail" -> ctx.detail.map { case (k, (v, u)) => k -> metric(v, u) },
      "layers" -> layers.map { case (k, v) => k -> metric(v, Layers.unit(k)) },
      "setup" -> Map("session_start_ms" -> sessionStartMs, "stage_ms" -> stageMs,
        "warmup_ms" -> warmMs, "health_probe_ms" -> healthMs),
      "heap_samples_mb" -> HeapPeak.samplesMb,
      "health" -> Map("start" -> healthStart, "end" -> healthEnd,
        "flags" -> Health.flags(healthStart, healthEnd, Runtime.getRuntime.availableProcessors)),
      "ops" -> timedOps.map(o => Map("kind" -> o.kind, "name" -> o.name, "ms" -> o.ms, "ok" -> o.ok)))
    Json.write(Paths.get(out), rec)
    tracer.foreach(_.dumpJson(Paths.get(out.stripSuffix(".json") + ".spans.json"),
      Map("workload" -> workload, "seed" -> seed,
        "op_p50_ms" -> Json.finite(Stats.median(prim)), "layers" -> layers)))
    spark.stop()
  }
}

/** The per-layer metric names and units, in report order. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "session.start_ms" -> "ms", "session.staging_ms" -> "ms",
    "queries.frame_ms" -> "ms", "queries.materialize_ms" -> "ms",
    "planning.analysis_ms" -> "ms", "planning.optimization_ms" -> "ms",
    "planning.physical_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_ms" -> "ms", "exec.driver_gap_ms" -> "ms",
    "exec.stages_retried" -> "count", "exec.tasks_failed" -> "count",
    "tasks.cpu_ms" -> "ms", "tasks.run_ms" -> "ms", "tasks.gc_ms" -> "ms",
    "tasks.input_bytes" -> "bytes", "tasks.output_bytes" -> "bytes",
    "tasks.shuffle_read_bytes" -> "bytes", "tasks.shuffle_write_bytes" -> "bytes",
    "tasks.spill_bytes" -> "bytes",
    "operators.cpu_ms" -> "ms", "operators.shuffle_bytes" -> "bytes",
    "sources.files_read" -> "count", "sources.files_live" -> "count",
    "sources.files_read_ratio" -> "ratio", "sources.bytes_read" -> "bytes",
    "snapshots.log_opens" -> "count", "snapshots.commits" -> "count",
    "snapshots.checkpoints" -> "count", "snapshots.log_bytes" -> "bytes",
    "snapshots.data_bytes_total" -> "bytes", "snapshots.data_bytes_live" -> "bytes",
    "dml.jobs_per_stmt" -> "count", "dml.files_rewritten" -> "count",
    "dml.rows_changed" -> "count", "dml.bytes_written_per_row_changed" -> "bytes/row",
    "ingest.produce_ms" -> "ms", "ingest.consume_ms" -> "ms",
    "ingest.rows_produced" -> "count", "ingest.rows_consumed" -> "count",
    "ingest.files_committed" -> "count",
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.rows_dropped_by_watermark" -> "count",
    "streaming.generator_late_ms" -> "ms")
  val names: Seq[String] = all.map(_._1)
  private val units = all.toMap
  def unit(k: String): String = units.getOrElse(k, "count")
}
