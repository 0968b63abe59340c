package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Consume side of the ingest layer (reference: PerformanceConsumer).
  *
  * Spark-first mapping of the reference's scan semantics:
  *  - A6 partition-expanded sequential scan: reading the topic table
  *    expands partitions for free; one task per file split;
  *  - A7 offload-watermark gate: only rows with position ≤ the
  *    manifest's offloadedMaxPos are read — the predicate is pushed
  *    into the parquet scan, the exact analog of "read only the
  *    offloaded prefix" (PerformanceConsumer.java:204-232); a topic
  *    whose progress has already reached the watermark is skipped
  *    (the :221-232 caught-up gate, without the 10 s sleep);
  *  - A8 position comparison: `ba` is the monotonic position (the
  *    ledger:entry composite collapses to one long here); per-topic
  *    min/max/count come from one aggregate pass;
  *  - A9 ack / progress commit: the consumed high-water mark is
  *    committed to a progress file, making re-consumption resumable
  *    (at-least-once → effectively-once on replay).
  */
object ConsumeJob {

  final case class TopicStats(topic: String, received: Long, minPos: Long, maxPos: Long,
                              distinctPos: Long)
  final case class Report(totalReceived: Long, topics: Seq[TopicStats],
                          watermark: Option[Long], skipped: Boolean)

  /** Watermark-gated scan of `<root>/<prefix>` with conservation
    * counters and progress commit. */
  def consume(spark: SparkSession, root: String, prefix: String,
              posCol: String = "ba"): Report = {
    val watermark = ProduceJob.readManifest(root, prefix)
    val progress = readProgress(root, prefix)
    // caught-up gate (A7): nothing new below the watermark → skip
    if (watermark.isDefined && progress.exists(_ >= watermark.get))
      return Report(0L, Nil, watermark, skipped = true)

    // the data schema from one footer: no schema-inference job
    val dir = Paths.get(Topics.tableDir(root, prefix))
    val df = Footers.firstDataFile(dir)
      .fold(spark.read)(f => Footers.withSchema(spark, spark.read, dir, f))
      .parquet(dir.toString)
    val gated = watermark match {
      case Some(w) => df.filter(col(posCol) <= w) // pushed to the scan
      case None => df
    }
    val resumed = progress match {
      case Some(p) => gated.filter(col(posCol) > p) // ack-resume (A9)
      case None => gated
    }
    val stats = resumed.groupBy("topic").agg(
      count(lit(1)).as("received"),
      min(col(posCol)).as("minPos"),
      max(col(posCol)).as("maxPos"),
      countDistinct(col(posCol)).as("distinctPos"))
      .collect()
      .map(r => TopicStats(r.getAs[String]("topic"), r.getAs[Long]("received"),
        r.getAs[Long]("minPos"), r.getAs[Long]("maxPos"), r.getAs[Long]("distinctPos")))
      .sortBy(_.topic)
    val total = stats.map(_.received).sum
    val maxSeen = if (stats.isEmpty) progress.getOrElse(-1L) else stats.map(_.maxPos).max
    commitProgress(root, prefix, maxSeen)
    Report(total, stats.toSeq, watermark, skipped = false)
  }

  /** Poll-loop consume analog (reference:
    * UrsaKafkaConsumerOnCloud.java:59-67): a streaming read over the
    * topic table drained via foreachBatch — each micro-batch is one
    * poll() result; per-batch key/value/partition counts accumulate
    * like the reference's running `count`. */
  def consumeForeachBatch(spark: SparkSession, root: String, prefix: String): Long = {
    val dir = Topics.tableDir(root, prefix)
    val schema = spark.read.parquet(dir).schema
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val n = batch.count()
        total.addAndGet(n)
        println(s"[consume] batch=$batchId records=$n total=${total.get()}")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir._consume_ckpt_${System.nanoTime()}")
      .start()
    q.awaitTermination()
    total.get()
  }

  def commitProgress(root: String, prefix: String, pos: Long): Unit = {
    val p = Paths.get(Topics.progressPath(root, prefix))
    Files.createDirectories(p.getParent)
    Files.writeString(p, s"""{"consumedMaxPos": $pos}""")
  }

  def readProgress(root: String, prefix: String): Option[Long] =
    CommitLog.readPosition(Paths.get(Topics.progressPath(root, prefix)), "consumedMaxPos")
}
