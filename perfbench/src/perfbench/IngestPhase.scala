package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ingest.{ConsumeJob, ProduceJob, Snapshots}

/** The ingest phase of `lakehouse_dml`, the reference's own dataflow:
  *
  *  1. Closed loop, in every unit of the workload's loop: one
  *     `produceBatch` into a fresh topic table per size in [[Sizes]]
  *     (seeded order, seeded jitter of up to 1% of the rows), each
  *     followed by `ConsumeJob.consume`, the watermark-gated scan,
  *     with per-topic conservation checks: received equals produced,
  *     distinct positions equal received, and no row lies above the
  *     offload watermark.
  *  2. Open loop, once after the closed loop: `ProduceJob.produceStream`
  *     at [[Rate]] rows/s over [[Topics]] topics for [[OpenLoopMs]].
  *     The rate source emits on schedule whether or not the sink keeps
  *     up; each micro-batch's ingest latency runs from the scheduled
  *     creation time of its newest row to its commit. */
final class IngestPhase {
  import IngestPhase._

  private var cycle = 0
  private var producedRows = 0L
  private var consumedRows = 0L
  private var produceMs = 0.0
  private var consumeMs = 0.0
  private var filesCommitted = 0L
  private val roots = mutable.ArrayBuffer.empty[String]
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private val lateMs = mutable.ArrayBuffer.empty[Double]

  /** One untimed, checked cycle of the smallest size. */
  def warmUp(ctx: Ctx): Unit = {
    val n = Sizes.min
    require(conserved(produceConsume(ctx, s"${ctx.workDir}/topics/warm-up", n).got, n),
      "warm-up produce/consume: conservation check failed")
  }

  /** One timed produce/consume cycle per size, in seeded order. */
  def cycles(ctx: Ctx, r: Random): Unit =
    r.shuffle(Sizes).foreach(n => oneCycle(ctx, n + r.nextInt(n / 100)))

  private final case class Cycle(sent: Long, got: ConsumeJob.Report, produceMs: Double, consumeMs: Double)

  private def produceConsume(ctx: Ctx, root: String, n: Int): Cycle = {
    val t0 = System.nanoTime()
    val rep = ProduceJob.produceBatch(ctx.spark, root, "persons", topics = Topics, numMessages = n)
    val t1 = System.nanoTime()
    val got = ConsumeJob.consume(ctx.spark, root, "persons")
    val t2 = System.nanoTime()
    Cycle(rep.totalSent, got, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  private def oneCycle(ctx: Ctx, n: Int): Unit = {
    cycle += 1
    val root = s"${ctx.workDir}/topics/cycle-$cycle"
    ctx.timed("cycle", "produce_consume")(produceConsume(ctx, root, n))(c => conserved(c.got, n)).foreach { c =>
      produceMs += c.produceMs
      consumeMs += c.consumeMs
      producedRows += c.sent
      consumedRows += c.got.totalReceived
    }
    // outside the timed op, so its snapshot-log reads are not counted
    filesCommitted += Snapshots.snapshot(root, "persons").map(_.files.size).getOrElse(0)
    roots += root
  }

  /** Per-topic conservation of one produce/consume cycle. */
  private def conserved(rep: ConsumeJob.Report, n: Long): Boolean = {
    val perTopic = (0 until Topics).map(t => (n - t + Topics - 1) / Topics)
    val wm = rep.watermark.getOrElse(Long.MinValue)
    rep.totalReceived == n && rep.topics.size == Topics &&
      rep.topics.forall(t => t.received == t.distinctPos && t.maxPos <= wm) &&
      rep.topics.map(_.received).sorted == perTopic.sorted
  }

  /** Runs the rate-limited producer for [[OpenLoopMs]] and derives each
    * micro-batch's ingest latency from its progress event. */
  def openLoop(ctx: Ctx): Unit = {
    val ms = OpenLoopMs
    val root = s"${ctx.workDir}/topics/stream-${System.nanoTime()}"
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    @volatile var startedMs = 0L
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        startedMs = java.time.Instant.parse(e.timestamp).toEpochMilli
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    ctx.spark.streams.addListener(l)
    val span = ctx.tracer.map(_.open("produce_stream", "stream"))
    val opens = Snapshots.logOpens.get()
    val rep = try ProduceJob.produceStream(ctx.spark, root, "stream", topics = Topics,
      msgRate = Rate, testTimeMs = ms)
    finally {
      span.foreach { s =>
        ctx.tracer.foreach(_.close(s))
        s.add("snapshots.log_opens", (Snapshots.logOpens.get() - opens).toDouble)
      }
      ctx.spark.streams.removeListener(l)
    }
    // the rate source's offset counts whole seconds since its creation;
    // a batch ending at offset E holds rows scheduled up to creation +
    // E s, and it is committed when its trigger finishes
    val created = rateCreationMs(root).getOrElse(startedMs)
    events.asScala.filter(_.progress.numInputRows > 0).foreach { e =>
      val p = e.progress
      val end = p.sources.head.endOffset.trim.toLong
      val newest = created + end * 1000L - 1000L / Rate
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val commit = start + p.durationMs.get("triggerExecution").toLong
      latencies += (commit - newest).toDouble
      lateMs += (start - newest).toDouble.max(0)
    }
    // every position the rate source emitted landed exactly once
    val ok = rep.totalSent == rep.maxPos + 1 && latencies.nonEmpty
    ctx.ops += Op("stream", "produce_stream", ms.toDouble, ok)
    if (!ok) ctx.fail("produce_stream", s"rows ${rep.totalSent} vs positions ${rep.maxPos + 1}")
    ctx.detail("stream_rows") = (rep.totalSent.toDouble, "count")
  }

  /** The rate source records its creation time in its offset log. */
  private def rateCreationMs(root: String): Option[Long] = {
    val f = Paths.get(s"$root/stream._ckpt/sources/0/0")
    if (!java.nio.file.Files.exists(f)) None
    else java.nio.file.Files.readAllLines(f).asScala.map(_.trim)
      .find(_.matches("\\d{12,}")).map(_.toLong)
  }

  def finish(ctx: Ctx): Unit = {
    ctx.latency("cycle", "cycle")
    if (latencies.nonEmpty) {
      val (t, p) = Stats.tail(latencies.toSeq)
      ctx.detail("ingest_latency_p50_ms") = (Stats.median(latencies.toSeq), "ms")
      ctx.detail("ingest_latency_tail_ms") = (t, "ms")
      ctx.detail("ingest_latency_tail_pct") = (p.toDouble, "percentile")
    }
    if (produceMs > 0) ctx.detail("produce_rows_per_s") = (producedRows / (produceMs / 1000), "1/s")
    if (consumeMs > 0) ctx.detail("consume_rows_per_s") = (consumedRows / (consumeMs / 1000), "1/s")
  }

  def layers(ctx: Ctx): Unit = {
    ctx.addLayer("ingest.produce_ms", produceMs)
    ctx.addLayer("ingest.consume_ms", consumeMs)
    ctx.addLayer("ingest.rows_produced", producedRows.toDouble)
    ctx.addLayer("ingest.rows_consumed", consumedRows.toDouble)
    ctx.addLayer("ingest.files_committed", filesCommitted.toDouble)
    ctx.addLayer("streaming.generator_late_ms", if (lateMs.isEmpty) 0 else Stats.median(lateMs.toSeq))
    ctx.addLayer("snapshots.commits", roots.size.toDouble)
    // append-only topic tables: every data file is live
    roots.foreach(r => ctx.addLayer("snapshots.data_bytes_live", Snapshot.layers(ctx, r, "persons").toDouble))
  }
}

object IngestPhase {
  val Rate = 5000
  val Topics = 10
  /** Rows per produce/consume cycle, one cycle each per unit. */
  val Sizes: Seq[Int] = Seq(20000, 40000, 60000)
  val OpenLoopMs = 3000L
}
