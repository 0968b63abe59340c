package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Produce side of the ingest layer (reference: PerformanceProducer).
  *
  * Replays the reference's semantics Spark-first:
  *  - A1 synthetic `Person` generator with the exact arithmetic of
  *    PerformanceProducer.java:184-186 (name="hangc", age=(18+cnt)%100,
  *    address="GuangZhou", gender=true, score=(59.9+cnt)%150, ba=cnt);
  *  - A3 keyed sink: key = String(cnt) (PerformanceProducer.java:188),
  *    rows land in a topic-partitioned parquet table with a chosen
  *    compression codec (flag -z, default none — :43-44);
  *  - A4 rate limiting: streaming mode uses the `rate` source's
  *    rowsPerSecond instead of a client-side token bucket;
  *  - A5 bounded runs: numMessages (batch row count) / testTime
  *    (streaming awaitTermination);
  *  - A10/A11/A12: conservation counters, `prefix-i` fan-out, and
  *    round-robin spreading (pmod on cnt = the shuffle of the
  *    producer list).
  *
  * After each successful write the job commits a manifest recording
  * the highest offloaded position (max `ba`) — the "offload
  * watermark" the consume side gates on (A7).
  */
object ProduceJob {

  final case class Report(totalSent: Long, failedSent: Long, maxPos: Long)

  /** A1's generator as a projection over a position column `cnt`. */
  def personProjection(df: DataFrame, cntCol: String, prefix: String, topics: Int): DataFrame =
    df.select(
      lit("hangc").as("name"),
      ((lit(18) + col(cntCol)) % 100).cast("int").as("age"),
      lit("GuangZhou").as("address"),
      lit(true).as("gender"),
      ((lit(59.9) + col(cntCol)) % lit(150.0)).as("score"),
      col(cntCol).as("ba"),
      col(cntCol).cast("string").as("key"),
      // fan-out naming parity with Topics.expand: n == 1 keeps the
      // bare prefix (reference: PerformanceProducer.java:99-114)
      (if (topics <= 1) lit(prefix)
       else concat(lit(prefix), lit("-"), pmod(col(cntCol), lit(topics)).cast("string")))
        .as("topic"))

  /** Bounded batch produce of `numMessages` rows. */
  def produceBatch(spark: SparkSession, root: String, prefix: String,
                   topics: Int = 1, numMessages: Long = 100000,
                   codec: String = "none"): Report = {
    val rows = personProjection(
      spark.range(numMessages).toDF("cnt"), "cnt", prefix, topics)
    // staged write + explicit-files commit: the producer KNOWS its
    // output files, so the snapshot commit never walks the table dir
    // (at 1M files the sweep walk dominated every batch produce)
    val added = Snapshots.writeStaged(root, prefix, rows, Seq("topic"),
      writerOptions = Map("compression" -> codec))
    commitManifest(root, prefix, numMessages - 1)
    Snapshots.commitFiles(root, prefix, added, Some(numMessages - 1))
    Report(numMessages, 0L, numMessages - 1)
  }

  /** Rate-limited streaming produce for `testTimeMs` (A4+A5): the rate
    * source emits `msgRate` rows/s; each micro-batch appends to the
    * topic table exactly-once via the checkpoint (A9). The run lasts
    * at least `testTimeMs` and until one batch has committed rows, so
    * the stop never leaves the sink empty. */
  def produceStream(spark: SparkSession, root: String, prefix: String,
                    topics: Int = 1, msgRate: Int = 100,
                    testTimeMs: Long = 10000, codec: String = "none"): Report = {
    val dir = Topics.tableDir(root, prefix)
    val rows = personProjection(
      spark.readStream.format("rate")
        .option("rowsPerSecond", msgRate.toString).load()
        .withColumnRenamed("value", "cnt"),
      "cnt", prefix, topics)
    val q = rows.writeStream
      .format("parquet")
      .option("path", dir)
      .option("checkpointLocation", s"$dir._ckpt")
      .option("compression", codec)
      .partitionBy("topic")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    if (testTimeMs > 0) q.awaitTermination(testTimeMs)
    // stopping before a batch commits interrupts the first one in
    // flight and leaves the sink with no file
    while (q.isActive && !q.recentProgress.exists(_.numInputRows > 0)) q.awaitTermination(100)
    q.stop()
    q.awaitTermination()
    // the stream's schema: the sink's committed files decide the rows,
    // never an inference that needs one of them
    val produced = spark.read.schema(rows.schema).parquet(dir)
    val maxPos = produced.agg(max("ba")).head() match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    commitManifest(root, prefix, maxPos)
    Snapshots.commit(root, prefix, maxPos)
    Report(produced.count(), 0L, maxPos)
  }

  /** Kafka-protocol bounded produce analog (reference:
    * UrsaKafkaProducerOnCloud.java:46-65): 1M i-indexed `Student` rows
    * (name{i}/address{i}/payload{i}), flushed every 10,000 — the flush
    * group maps to parquet row-group batching; `maxRecordsPerFile`
    * makes the batch boundary explicit. */
  def produceStudents(spark: SparkSession, root: String, prefix: String,
                      numMessages: Long = 1000000L,
                      flushEvery: Long = 10000L): Report = {
    val rows = spark.range(numMessages).toDF("i").select(
      concat(lit("name"), col("i")).as("name"),
      (col("i") % 100).cast("int").as("age"),
      concat(lit("payload"), col("i")).as("payload"),
      concat(lit("address"), col("i")).as("address"),
      col("i").as("number"),
      lit(prefix).as("topic"))
    val added = Snapshots.writeStaged(root, prefix, rows, Seq("topic"),
      writerOptions = Map("maxRecordsPerFile" -> flushEvery.toString))
    commitManifest(root, prefix, numMessages - 1)
    Snapshots.commitFiles(root, prefix, added, Some(numMessages - 1))
    Report(numMessages, 0L, numMessages - 1)
  }

  /** Offload-watermark commit (the broker-side state A7 reads). */
  def commitManifest(root: String, prefix: String, maxPos: Long): Unit = {
    val p = Paths.get(Topics.manifestPath(root, prefix))
    Files.createDirectories(p.getParent)
    Files.writeString(p, s"""{"offloadedMaxPos": $maxPos}""")
  }

  def readManifest(root: String, prefix: String): Option[Long] =
    CommitLog.readPosition(Paths.get(Topics.manifestPath(root, prefix)), "offloadedMaxPos")
}
