package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the span tree. Op spans are opened by the benchmark
  * around each timed operation; job, stage, planning and streaming
  * spans are children built from Spark's listener events. Counters
  * ride in `attrs`. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Double, var endMs: Double,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
}

/** In-memory span recorder for the traced run. Before each op the
  * benchmark calls [[open]], which tags the client thread's Spark
  * local properties with the op id; every job the op submits carries
  * that id, so job, stage and task events attach to the right op.
  * Planning phases and streaming progress carry no local properties;
  * they attach to the op whose wall-clock interval holds them (ops
  * are sequential on one client thread). Nothing here touches the
  * engine's own code. */
final class Tracer(spark: SparkSession) {
  val OpKey = "perfbench.op"
  private val ids = new AtomicLong(0)
  private val lastEventNs = new AtomicLong(System.nanoTime())
  val ops = mutable.ArrayBuffer.empty[Span]
  private val children = new ConcurrentLinkedQueue[Span]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, (Span, Span)]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val pendingPlanning = new ConcurrentLinkedQueue[(Double, Map[String, (Long, Long)])]()
  private val pendingProgress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def nowMs: Double = System.currentTimeMillis().toDouble
  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  /** Open an op span and tag the client thread's jobs with its id. */
  def open(name: String, layer: String): Span = {
    val s = Span(ids.incrementAndGet(), 0, name, layer, nowMs, 0)
    synchronized { ops += s }
    spark.sparkContext.setLocalProperty(OpKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    spark.sparkContext.setLocalProperty(OpKey, null)
    s.endMs = nowMs
  }

  private def opById(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).flatMap { id =>
      synchronized(ops.find(_.id.toString == id))
    }

  private def opAt(t: Double): Option[Span] =
    synchronized(ops.find(o => o.startMs <= t && (o.endMs == 0 || t <= o.endMs + 1)))

  private def child(parent: Span, name: String, layer: String, s: Double, e: Double): Span = {
    val c = Span(ids.incrementAndGet(), parent.id, name, layer, s, e)
    children.add(c)
    c
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      opById(e.properties).foreach { op =>
        val j = child(op, s"job ${e.jobId}", "exec", e.time.toDouble, 0)
        jobSpan.put(e.jobId, j)
        e.stageInfos.foreach(si => stageOp.put(si.stageId, (op, j)))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch()
      Option(jobSpan.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val si = e.stageInfo
      Option(stageOp.get(si.stageId)).foreach { case (op, j) =>
        val st = child(j, s"stage ${si.stageId}.${si.attemptNumber()}", "exec",
          si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble)
        st.add("tasks", si.numTasks)
        if (si.attemptNumber() > 0) op.add("exec.stages_retried", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      Option(stageOp.get(e.stageId)).foreach { case (op, _) =>
        op.synchronized {
          op.add("exec.tasks", 1)
          if (!e.taskInfo.successful) op.add("exec.tasks_failed", 1)
          val m = e.taskMetrics
          if (m != null) {
            op.add("tasks.cpu_ms", m.executorCpuTime / 1e6)
            op.add("tasks.run_ms", m.executorRunTime.toDouble)
            op.add("tasks.gc_ms", m.jvmGCTime.toDouble)
            op.add("tasks.input_bytes", m.inputMetrics.bytesRead.toDouble)
            op.add("tasks.output_bytes", m.outputMetrics.bytesWritten.toDouble)
            op.add("tasks.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
            op.add("tasks.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
            op.add("tasks.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
            op.add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
          }
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      touch()
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      pendingPlanning.add((nowMs, phases))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch(); pendingProgress.add(e)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** The listener bus is asynchronous: wait until it has been quiet
    * for a moment (bounded), then fold the time-attributed events into
    * their ops. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000L * 1000000L
    while (System.nanoTime() - lastEventNs.get() < 300L * 1000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    pendingPlanning.asScala.foreach { case (t, phases) =>
      // a planning record belongs to the op that was open when the
      // plan was built: the analysis phase start time places it
      val at = phases.get("analysis").map(_._1.toDouble).getOrElse(t)
      opAt(at).foreach { op =>
        Seq("analysis", "optimization", "planning").foreach { ph =>
          phases.get(ph).foreach { case (s, e) =>
            val key = if (ph == "planning") "planning.physical_ms" else s"planning.${ph}_ms"
            op.synchronized(op.add(key, (e - s).toDouble))
            child(op, s"planning.$ph", "planning", s.toDouble, e.toDouble)
          }
        }
      }
    }
    pendingProgress.asScala.foreach { e =>
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      opAt(t).foreach { op =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val trig = d.getOrElse("triggerExecution", 0.0)
        val b = child(op, s"batch ${p.batchId}", "streaming", t, t + trig)
        op.synchronized {
          op.add("streaming.batches", 1)
          op.add("streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
          op.add("streaming.query_planning_ms", d.getOrElse("queryPlanning", 0.0))
          op.add("streaming.wal_commit_ms", d.getOrElse("walCommit", 0.0))
          op.add("streaming.latest_offset_ms", d.getOrElse("latestOffset", 0.0))
          p.stateOperators.foreach { s =>
            op.add("streaming.state_rows", s.numRowsTotal.toDouble)
            op.add("streaming.state_memory_bytes", s.memoryUsedBytes.toDouble)
            op.add("streaming.rows_dropped_by_watermark", s.numRowsDroppedByWatermark.toDouble)
          }
        }
        b.add("rows", p.numInputRows.toDouble)
      }
    }
    // job-level counters: stages per job, driver gap between jobs
    val kids = children.asScala.toSeq
    val jobs = kids.filter(_.name.startsWith("job "))
    val stages = kids.filter(_.name.startsWith("stage "))
    ops.foreach { op =>
      val mine = jobs.filter(_.parent == op.id).sortBy(_.startMs)
      op.add("exec.jobs", mine.size)
      op.add("exec.job_ms", mine.map(j => (j.endMs - j.startMs).max(0)).sum)
      val ids = mine.map(_.id).toSet
      op.add("exec.stages", stages.count(s => ids.contains(s.parent)))
      // time inside the op with no job running: driver-side work
      val covered = Tracer.union(mine.map(j => (j.startMs, j.endMs.max(j.startMs))))
      if (op.endMs > 0) op.add("exec.driver_gap_ms", (op.endMs - op.startMs) - covered)
    }
  }

  def spans: Seq[Span] = ops.toSeq ++ children.asScala.toSeq

  def dumpJson(path: java.nio.file.Path, extra: Map[String, Any]): Unit =
    Json.write(path, extra + ("spans" -> spans.sortBy(s => (s.startMs, s.id)).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)
    }))
}

object Tracer {
  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** The result record, the span dump and the expected-results file are
  * written with Jackson; Scala maps, sequences and options serialize
  * as JSON objects, arrays and values. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON has no NaN or infinity: such a figure is written as null. */
  def finite(d: Double): Any = if (d.isNaN || d.isInfinite) null else d

  def write(path: java.nio.file.Path, v: Any, pretty: Boolean = false): Unit =
    (if (pretty) mapper.writerWithDefaultPrettyPrinter() else mapper.writer()).writeValue(path.toFile, v)
}
