package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ingest.Snapshots

/** The snapshot table as a DSv2 MICRO-BATCH STREAM — the one stream
  * source behind `spark.readStream.table("graft.ns.t")` and
  * `readStream.format("graft")` (the table declares MICRO_BATCH_READ).
  * Offsets ARE commit versions, so a checkpointed restart resumes at
  * the exact commit the log says. Batch (start, end] delivers the rows
  * those commits appended ([[Snapshots.readChanges]] — compaction,
  * delete and restore commits contribute nothing); `startingVersion`
  * floors the replay and `maxVersionsPerTrigger` caps batch width
  * (admission control); Trigger.AvailableNow pins the drain target at
  * trigger start. The schema is pinned at stream start: evolve the
  * table, restart the stream (Delta's rule).
  *
  * Execution: each micro-batch's DataFrame is planned DRIVER-side
  * through the full snapshot machinery (schema-evolution replay,
  * partition-dir reconstruction) and its executed plan's InternalRow
  * RDD is sliced into one [[InputPartition]] per RDD partition. The
  * reader computes its slice with the live TaskContext — the exact
  * mechanism ordinary Spark tasks use (a task deserializes its RDD
  * and calls `iterator(split, context)`), so rows never pass through
  * the driver and per-batch parallelism is the underlying scan's.
  * At 100 TB nothing scales with table size: offset discovery lists
  * the log (O(versions)); a batch touches only the files its commits
  * added. */
private[graft] class GraftMicroBatchStream(root: String, prefix: String,
                                           schema: StructType, floor: Long,
                                           maxPerTrigger: Option[Int],
                                           cdc: Boolean = false,
                                           maxFilesPerTrigger: Option[Int] = None,
                                           maxBytesPerTrigger: Option[Long] = None)
  extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow pin — commits landing after the trigger
    * started are left for the next run. */
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Snapshots.versions(root, prefix).lastOption.map(_.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = LongOffset(floor)

  override def deserializeOffset(json: String): Offset = LongOffset(json.toLong)

  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.toLong
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control surface")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = Option(start).map(ver).getOrElse(floor)
    val latest0 = Snapshots.versions(root, prefix).lastOption
      .map(_.toLong).getOrElse(-1L)
    val latest = availableNowCap.fold(latest0)(math.min(latest0, _))
    var next = maxPerTrigger.map(m => math.min(latest, from + m)).getOrElse(latest)
    // size-based admission (Delta's maxFilesPerTrigger /
    // maxBytesPerTrigger): admit versions while the cumulative added
    // files/bytes stay within the caps — ALWAYS at least one version,
    // or a single over-cap commit would stall the stream forever. The
    // window walk is O(versions admitted × checkpointInterval) log
    // reads — never O(table).
    if (next > from && (maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined)) {
      val window = Snapshots.additionsInWindow(root, prefix, from.toInt, next.toInt)
      var files = 0L
      var bytes = 0L
      var admitted = from
      var stop = false
      window.foreach { case (v, adds) =>
        if (!stop) {
          files += adds.size
          if (maxBytesPerTrigger.isDefined)
            bytes += adds.map(Snapshots.fileBytes(root, prefix, _)).sum
          val over = maxFilesPerTrigger.exists(files > _) ||
            maxBytesPerTrigger.exists(bytes > _)
          if (over && admitted > from) stop = true
          else admitted = v.toLong
        }
      }
      next = admitted
    }
    if (next <= from) null else LongOffset(next)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val spark = SparkSession.active
    // cdc = the ROW-GRAIN change feed (deletes/updates ride as change
    // records); default = file-grain appends (readChanges contract)
    val batch =
      if (cdc) Snapshots.readChangeFeed(spark, root, prefix,
        ver(start).toInt, Some(ver(end).toInt))
      else Snapshots.readChanges(spark, root, prefix,
        ver(start).toInt, Some(ver(end).toInt))
    // project to the schema pinned at stream start: a column ADDED
    // mid-stream is dropped until restart, a column dropped mid-stream
    // fails resolution loudly (Delta's evolve-then-restart rule)
    val projected = batch.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val rdd = projected.queryExecution.toRdd
    // materialize the dependency graph DRIVER-side (what DAGScheduler's
    // stage walk does before an ordinary job): `dependencies_` is a
    // non-transient lazy field, so forcing it here ships it inside the
    // serialized lineage — without this, an executor-side
    // getDependencies (UnionRDD.compute's parent() call) would try to
    // recompute child partitions, which ARE transient (FileScanRDD's
    // file list is driver-only). Returns true if a shuffle dependency
    // is anywhere in the graph — those parents' map stages never ran,
    // so the lineage is not shippable as-is.
    def hasShuffle(r: org.apache.spark.rdd.RDD[_]): Boolean =
      r.dependencies.exists {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => hasShuffle(d.rdd)
      }
    val shippable =
      if (!hasShuffle(rdd)) rdd
      else {
        // rare (append/CDC batch plans are scan+project+broadcast-join
        // +union): run the plan to completion ONCE as a real job and
        // stream a fresh parquet SCAN of the result. File-backed, not
        // localCheckpoint(true) — that stored the batch in
        // executor-memory blocks with truncated lineage, so one lost
        // executor made the batch unrecoverable mid-query (Spark's own
        // doc caveat; invisible at local[32], fatal on a real
        // cluster). A parquet-backed batch re-reads from disk on any
        // task retry; the scan+project lineage is shuffle-free and
        // ships like the main path's.
        val dir = stagingDir(ver(start), ver(end))
        projected.write.mode("overwrite").parquet(dir.toString)
        stagedBatches.put(ver(end), dir)
        val back = spark.read.schema(schema).parquet(dir.toString)
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        val r2 = back.queryExecution.toRdd
        hasShuffle(r2) // forces the (scan-only) dependency graph
        r2
      }
    // ship the lineage ONCE via broadcast (Spark's own task-binary
    // discipline): without this every InputPartition would carry its
    // own serialized copy of the full RDD graph — per-task overhead
    // that grows with both plan size and batch width at 100 TB.
    // Boxed: SparkContext.broadcast refuses a bare RDD (the guard
    // exists because users usually mean the DATA); shipping lineage
    // is exactly what we want here, the same bytes an ordinary
    // stage's task binary carries.
    val bc = spark.sparkContext.broadcast(LineageBox(shippable))
    shippable.partitions.map(p =>
      new RddSliceInputPartition(bc, p): InputPartition)
  }

  /** Staging for the (rare) shuffle-bearing batch plans — parquet
    * under `<table>._streamstage/`, one dir per batch, deleted when
    * the engine commits the batch's offset (and swept by age at
    * stream start for dirs a crashed run left behind). */
  private val stagedBatches =
    new java.util.concurrent.ConcurrentHashMap[Long, java.nio.file.Path]()

  private def stageRoot: java.nio.file.Path =
    java.nio.file.Paths.get(s"$root/$prefix._streamstage")

  private def stagingDir(from: Long, to: Long): java.nio.file.Path =
    stageRoot.resolve(s"b$from-$to-" +
      java.util.UUID.randomUUID().toString.take(8))

  private def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists)
      finally s.close()
      ()
    }

  // sweep batch dirs a crashed run abandoned (age-gated: a CONCURRENT
  // stream's in-flight batch is younger than the grace window)
  locally {
    val grace = 60L * 60 * 1000
    if (java.nio.file.Files.isDirectory(stageRoot)) {
      val now = System.currentTimeMillis()
      val s = java.nio.file.Files.list(stageRoot)
      try s.iterator().asScala.toSeq
        .filter(p => try now - java.nio.file.Files
          .getLastModifiedTime(p).toMillis >= grace
        catch { case _: java.io.IOException => false })
        .foreach(rmTree)
      finally s.close()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    RddBridgeReaderFactory

  override def commit(end: Offset): Unit = {
    // the engine has durably recorded `end` — batches at or below it
    // can never be replanned, so their staging is garbage now
    val v = ver(end)
    stagedBatches.entrySet().iterator().asScala.toSeq
      .filter(_.getKey <= v)
      .foreach { e => rmTree(e.getValue); stagedBatches.remove(e.getKey) }
  }

  override def stop(): Unit = {
    stagedBatches.values().iterator().asScala.toSeq.foreach(rmTree)
    stagedBatches.clear()
  }

  override def toString: String = s"GraftMicroBatchStream[$prefix@$root]"
}

/** One executed-plan RDD partition as a DSv2 input split. The RDD
  * lineage rides ONCE as a broadcast (exactly how ordinary stages ship
  * their task binary — Serializable by contract, SparkContext
  * @transient); each split carries only its Partition object. */
private[graft] case class LineageBox(rdd: RDD[InternalRow])

private[graft] class RddSliceInputPartition(
    val rdd: org.apache.spark.broadcast.Broadcast[LineageBox],
    val slice: Partition)
  extends InputPartition

private[graft] object RddBridgeReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val s = p.asInstanceOf[RddSliceInputPartition]
    // compute under the live TaskContext — interruption, metrics, and
    // task-completion listeners all attach to the real running task
    val it = s.rdd.value.rdd.iterator(s.slice, TaskContext.get())
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
