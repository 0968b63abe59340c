package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.{ProduceJob, Snapshots}

/** Versioned snapshot log: time travel, snapshot isolation, monotonic
  * versions. */
class SnapshotSpec extends SparkTestBase {

  test("append commits produce monotonic versions with time travel") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s1", topics = 2, numMessages = 1000)
    ProduceJob.produceBatch(spark, root, "s1", topics = 2, numMessages = 500)
    assert(Snapshots.versions(root, "s1") == Seq(0, 1))
    // v0 sees only the first commit's files; latest sees both
    assert(Snapshots.read(spark, root, "s1", Some(0)).count() == 1000)
    assert(Snapshots.read(spark, root, "s1").count() == 1500)
    // watermark recorded per version
    assert(Snapshots.snapshot(root, "s1", Some(0)).get.maxPos == 999)
    assert(Snapshots.snapshot(root, "s1", Some(1)).get.maxPos == 499)
  }

  test("snapshot isolation: files appended after a commit stay invisible") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s2", topics = 1, numMessages = 300)
    val v0 = Snapshots.read(spark, root, "s2", Some(0))
    // append WITHOUT a commit — raw directory read would see it
    ProduceJob.personProjection(spark.range(300, 600).toDF("cnt"), "cnt", "s2", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "s2"))
    assert(spark.read.parquet(graft.ingest.Topics.tableDir(root, "s2")).count() == 600)
    assert(v0.count() == 300) // the snapshot still pins the old file set
    // a new commit captures the appended files
    val v1 = Snapshots.commit(root, "s2", 599)
    assert(Snapshots.read(spark, root, "s2", Some(v1)).count() == 600)
  }

  test("partition column is recovered through the snapshot read") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s3", topics = 3, numMessages = 300)
    val topics = Snapshots.read(spark, root, "s3")
      .select("topic").distinct().collect().map(_.getString(0)).sorted
    assert(topics.sameElements(Array("s3-0", "s3-1", "s3-2")))
  }

  test("schema evolution: appended columns merge; old rows read as null") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s5", topics = 1, numMessages = 100)
    // producer upgrade: new optional column lands in later files
    ProduceJob.personProjection(spark.range(100, 200).toDF("cnt"), "cnt", "s5", 1)
      .withColumn("source", lit("v2"))
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "s5"))
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(graft.ingest.Topics.tableDir(root, "s5"))
    assert(merged.columns.contains("source"))
    assert(merged.filter(col("source").isNull).count() == 100)  // v1 rows
    assert(merged.filter(col("source") === "v2").count() == 100)
    assert(merged.count() == 200)
  }

  test("addColumn: default fill for old files, physical values for new, old readers untouched") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "ev", topics = 1, numMessages = 100) // v0
    assert(Snapshots.addColumn(root, "ev", "tier", "STRING", Some("'std'")) == 1)
    // post-evolution append carries the column physically, with
    // explicit NULLs on odd keys
    ProduceJob.personProjection(spark.range(100, 200).toDF("cnt"), "cnt", "ev", 1)
      .withColumn("tier", when(col("ba") % 2 === 0, lit("even")))
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "ev"))
    Snapshots.commit(root, "ev", 199) // v2

    // old reader view: time travel before the addcol shows the old schema
    assert(!Snapshots.read(spark, root, "ev", Some(0)).columns.contains("tier"))
    // at the addcol version every (pre-existing) row reads the default
    assert(Snapshots.read(spark, root, "ev", Some(1))
      .filter(col("tier") === "std").count() == 100)
    // latest: old rows default, new rows physical, explicit NULL stays NULL
    val latest = Snapshots.read(spark, root, "ev")
    assert(latest.filter(col("tier") === "std").count() == 100)
    assert(latest.filter(col("tier") === "even").count() == 50)
    assert(latest.filter(col("tier").isNull).count() == 50)
    // data skipping on another column still composes with the fill
    assert(Snapshots.readWhere(spark, root, "ev", col("ba") < 10 && col("tier") === "std")
      .count() == 10)
  }

  test("addColumn: CDC across the boundary; rewrites materialize the evolved schema") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "ev2", topics = 1, numMessages = 100) // v0
    Snapshots.addColumn(root, "ev2", "tier", "STRING", Some("'std'")) // v1
    // merge AFTER evolution updates two pre-evolution rows
    val src = ProduceJob.personProjection(spark.range(0, 2).toDF("cnt"), "cnt", "ev2", 1)
      .withColumn("name", lit("upd")).withColumn("tier", lit("gold"))
    Snapshots.merge(spark, root, "ev2", src, Seq("ba"), txn = Some("evo-m")) // v2
    // change feed across the schema boundary carries the evolved schema
    val feed = Snapshots.readChangeFeed(spark, root, "ev2", fromVersion = 0)
    assert(feed.columns.contains("tier"))
    assert(feed.filter(col("_change_type") === "update_postimage" &&
      col("tier") === "gold").count() == 2)
    // the merge rewrote one file: its copied-along pre-evolution rows
    // must keep the default (the rewrite materialized the fill)
    val latest = Snapshots.read(spark, root, "ev2")
    assert(latest.filter(col("tier") === "gold").count() == 2)
    assert(latest.filter(col("tier") === "std").count() == 98)
    // compaction after evolution preserves semantics
    Snapshots.compact(spark, root, "ev2")
    val compacted = Snapshots.read(spark, root, "ev2")
    assert(compacted.filter(col("tier") === "std").count() == 98)
    assert(compacted.filter(col("tier") === "gold").count() == 2)
    // delete by the added column's default removes exactly the old rows
    Snapshots.delete(spark, root, "ev2", col("tier") === "std", txn = Some("evo-d"))
    assert(Snapshots.read(spark, root, "ev2").count() == 2)
  }

  test("renameColumn: old files re-label at read time, old readers keep the old name") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "rn", topics = 1, numMessages = 100) // v0
    assert(Snapshots.currentColumns(root, "rn").contains("name"))
    assert(Snapshots.renameColumn(root, "rn", "name", "full_name") == 1)
    // post-rename append carries the NEW name physically
    ProduceJob.personProjection(spark.range(100, 150).toDF("cnt"), "cnt", "rn", 1)
      .withColumnRenamed("name", "full_name")
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "rn"))
    Snapshots.commit(root, "rn", 149) // v2
    val latest = Snapshots.read(spark, root, "rn")
    assert(latest.columns.contains("full_name") && !latest.columns.contains("name"))
    assert(latest.filter(col("full_name") === "hangc").count() == 150)
    // time travel before the rename: the old name, untouched
    val old = Snapshots.read(spark, root, "rn", Some(0))
    assert(old.columns.contains("name") && !old.columns.contains("full_name"))
    // change feed across the rename boundary carries the new name
    val feed = Snapshots.readChangeFeed(spark, root, "rn", fromVersion = 0)
    assert(feed.columns.contains("full_name"))
    assert(feed.filter(col("full_name") === "hangc").count() == 50)
    // pruned read on the renamed column: stats are keyed by physical
    // names, so pre-rename files are kept conservatively — never wrong
    assert(Snapshots.readWhere(spark, root, "rn",
      col("ba") < 10 && col("full_name") === "hangc").count() == 10)
    // validation: absent source, colliding target
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(root, "rn", "name", "x") // already renamed away
    }
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(root, "rn", "age", "full_name")
    }
    assert(Snapshots.currentColumns(root, "rn").contains("full_name"))
  }

  test("dropColumn hides values; re-adding the name yields defaults, never the dropped bytes") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "dr", topics = 1, numMessages = 100) // v0
    assert(Snapshots.dropColumn(root, "dr", "address") == 1)
    val afterDrop = Snapshots.read(spark, root, "dr")
    assert(!afterDrop.columns.contains("address"))
    assert(afterDrop.count() == 100)
    // time travel before the drop still reads the bytes
    assert(Snapshots.read(spark, root, "dr", Some(0))
      .filter(col("address") === "GuangZhou").count() == 100)
    // re-add the same name: a NEW column — old bytes must NOT resurface
    Snapshots.addColumn(root, "dr", "address", "STRING", Some("'redacted'")) // v2
    val readded = Snapshots.read(spark, root, "dr")
    assert(readded.filter(col("address") === "redacted").count() == 100)
    assert(readded.filter(col("address") === "GuangZhou").count() == 0)
    // validation: absent column
    intercept[IllegalArgumentException] {
      Snapshots.dropColumn(root, "dr", "nope")
    }
  }

  test("schema evolution invalidates stale stats: re-added column declines bounds, pruning keeps pre-event files") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "ss", topics = 1, numMessages = 100) // v0: ba 0..99
    // pre-evolution: footer stats are live, bounds are exact
    def bounds = Snapshots.snapshot(root, "ss").flatMap(Snapshots.metadataLongBounds(root, "ss", _, "ba"))
    assert(bounds.contains((0L, 99L)))
    Snapshots.dropColumn(root, "ss", "ba") // v1
    Snapshots.addColumn(root, "ss", "ba", "BIGINT", Some("4242")) // v2 — a NEW logical ba
    // old footers still carry a "ba" stat saying [0, 99]; trusting it
    // would answer min/max for a column every row of which reads 4242
    assert(bounds.isEmpty)
    // pruning on the re-added name must KEEP pre-event files — their
    // stale stat ranges would otherwise skip files whose rows all match
    assert(Snapshots.readWhere(spark, root, "ss", col("ba") === 4242L).count() == 100)
    // the DSv2 aggregate pushdown declines and the exact scan answers
    val agg = spark.read.format("graft").load(s"$root/ss")
      .agg(min("ba"), max("ba")).collect()(0)
    assert(agg.getLong(0) == 4242L && agg.getLong(1) == 4242L)
    // untouched columns keep their metadata fast path at the same version
    assert(Snapshots.snapshot(root, "ss").flatMap(Snapshots.metadataRowCount).contains(100L))
  }

  test("delete on a pre-evolution file materializes defaults into survivors") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "dm", topics = 1, numMessages = 100) // v0
    Snapshots.addColumn(root, "dm", "tier", "STRING", Some("'std'")) // v1
    // the deleted file predates the addcol; its survivor rewrite must
    // carry tier='std' physically (a plain-read rewrite would lose the
    // fill: the new file postdates the addcol, so NULLs would surface)
    Snapshots.delete(spark, root, "dm", col("ba") < 10, txn = Some("dm-d")) // v2
    val after = Snapshots.read(spark, root, "dm")
    assert(after.count() == 90)
    assert(after.filter(col("tier") === "std").count() == 90)
    assert(after.filter(col("tier").isNull).count() == 0)
    // the CDC pre-images of the deleted rows carry the default too
    val feed = Snapshots.readChangeFeed(spark, root, "dm", fromVersion = 1)
    assert(feed.filter(col("_change_type") === "delete" &&
      col("tier") === "std").count() == 10)
  }

  test("deleteMoR hides rows via deletion vectors without touching a data file") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "mr", topics = 2, numMessages = 1000) // v0
    val v0files = Snapshots.snapshot(root, "mr", Some(0)).get.files
    val v1 = Snapshots.deleteMoR(spark, root, "mr", col("ba") < 100, txn = Some("mr-1"))
    // no data file added, removed, or rewritten — only the sidecar
    val s1 = Snapshots.snapshot(root, "mr", Some(v1)).get
    assert(s1.files == v0files && s1.removed.isEmpty && s1.dv.size == 1)
    assert(Snapshots.read(spark, root, "mr").count() == 900)
    assert(Snapshots.read(spark, root, "mr").filter(col("ba") < 100).count() == 0)
    // time travel still reads the rows; snapshot isolation holds
    assert(Snapshots.read(spark, root, "mr", Some(0)).count() == 1000)
    // txn replay is a no-op
    assert(Snapshots.deleteMoR(spark, root, "mr", col("ba") < 500, txn = Some("mr-1")) == v1)
    assert(Snapshots.read(spark, root, "mr").count() == 900)
    // stacked MoR deletes compose (second sidecar, same files)
    val v2 = Snapshots.deleteMoR(spark, root, "mr", col("ba") >= 900)
    assert(Snapshots.snapshot(root, "mr", Some(v2)).get.dv.size == 2)
    assert(Snapshots.read(spark, root, "mr").count() == 800)
    // row-grain CDC: delete pre-images with the deleted values
    val feed = Snapshots.readChangeFeed(spark, root, "mr", fromVersion = 0)
    assert(feed.filter(col("_change_type") === "delete").count() == 200)
    assert(feed.filter(col("_change_type") === "delete" && col("ba") < 100).count() == 100)
    // pruned reads apply the vectors too
    assert(Snapshots.readWhere(spark, root, "mr", col("ba") < 150).count() == 50)
    // an empty match commits nothing
    assert(Snapshots.deleteMoR(spark, root, "mr", col("ba") === -1) == v2)
  }

  test("rewrites materialize deletion vectors; restore past a MoR delete undoes it") {
    val root = tempDir("graft_snap").toString
    withMultiFileWrites {
      ProduceJob.produceBatch(spark, root, "mm", topics = 2, numMessages = 1000) // v0
    }
    val v1 = Snapshots.deleteMoR(spark, root, "mm", col("ba") < 100) // v1
    // compaction applies the vectors into its rewrites — counts hold,
    // deleted rows stay deleted even though the new files carry no dv
    val v2 = Snapshots.compact(spark, root, "mm")
    assert(Snapshots.read(spark, root, "mm", Some(v2)).count() == 900)
    assert(Snapshots.read(spark, root, "mm", Some(v2)).filter(col("ba") < 100).count() == 0)
    // copy-on-write delete over a DV'd table must not resurrect rows
    val v3 = Snapshots.delete(spark, root, "mm", col("ba") >= 900)
    assert(Snapshots.read(spark, root, "mm", Some(v3)).count() == 800)
    assert(Snapshots.read(spark, root, "mm", Some(v3)).filter(col("ba") < 100).count() == 0)
    // merge on a DV'd table: upsert touches files, deletions hold
    ProduceJob.produceBatch(spark, root, "mg", topics = 1, numMessages = 100)
    Snapshots.deleteMoR(spark, root, "mg", col("ba") < 10)
    val src = Snapshots.read(spark, root, "mg", Some(0)).filter(col("ba") === 50)
      .withColumn("name", lit("upserted"))
    Snapshots.merge(spark, root, "mg", src, Seq("ba"))
    val mg = Snapshots.read(spark, root, "mg")
    assert(mg.count() == 90)
    assert(mg.filter(col("ba") < 10).count() == 0)
    assert(mg.filter(col("name") === "upserted").count() == 1)
    // restore to before the MoR delete: rows return (dv set restored)
    val v4 = Snapshots.restore(root, "mm", 0)
    assert(Snapshots.read(spark, root, "mm", Some(v4)).count() == 1000)
    assert(v1 < v2 && v2 < v3 && v3 < v4)
  }

  test("vacuum drops deletion-vector sidecars with the versions that pinned them") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "mv", topics = 1, numMessages = 100) // v0
    val v1 = Snapshots.deleteMoR(spark, root, "mv", col("ba") < 10) // v1
    Snapshots.compact(spark, root, "mv") // v2: materializes; dv carried but stale
    val v3 = Snapshots.restore(root, "mv", 0) // v3: pre-delete state, no dv
    val dvRoot = java.nio.file.Paths.get(s"$root/mv._dv")
    assert(Files.list(dvRoot).iterator().asScala.size == 1)
    // v1/v2 still pin the sidecar — a vacuum keeping them keeps it
    Snapshots.vacuum(root, "mv", keepFrom = v1, orphanGraceMs = 0)
    assert(Files.list(dvRoot).iterator().asScala.size == 1)
    assert(Snapshots.read(spark, root, "mv", Some(v1)).count() == 90)
    // vacuum past the restore: no kept version pins a dv — the
    // sidecar dies with v1/v2, the restored table reads all rows
    Snapshots.vacuum(root, "mv", keepFrom = v3, orphanGraceMs = 0)
    assert(Files.list(dvRoot).iterator().asScala.isEmpty)
    assert(Snapshots.read(spark, root, "mv").count() == 100)
  }

  test("deleteMoR fills added-column defaults before matching the predicate") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "me", topics = 1, numMessages = 100) // v0
    Snapshots.addColumn(root, "me", "tier", "STRING", Some("'std'")) // v1
    // every row predates the column: the predicate must see the fill
    Snapshots.deleteMoR(spark, root, "me", col("tier") === "std" && col("ba") < 20)
    val after = Snapshots.read(spark, root, "me")
    assert(after.count() == 80)
    assert(after.filter(col("tier") =!= "std").count() == 0)
  }

  test("snapshot stream source: commits are batches, checkpoint restart resumes exactly") {
    val root = tempDir("graft_snap").toString
    val ckpt = tempDir("graft_ckpt").toString
    ProduceJob.produceBatch(spark, root, "ss", topics = 1, numMessages = 300) // v0
    ProduceJob.produceBatch(spark, root, "ss", topics = 1, numMessages = 200) // v1
    Snapshots.deleteMoR(spark, root, "ss", col("ba") < 10) // v2: no files → empty batch
    // a parquet sink: the memory sink cannot recover a checkpoint,
    // and resume-exactly is the point of this test. Counts below are
    // CUMULATIVE over the sink directory.
    val out = tempDir("graft_stream_out").toString
    def drain(): Long = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1")
        .load(s"$root/ss")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    // full replay: both appends' rows, the MoR delete adds nothing
    assert(drain() == 500)
    // no new commits: resuming the checkpoint delivers nothing
    assert(drain() == 500)
    // a new append after the drain: ONLY its rows arrive on resume
    ProduceJob.produceBatch(spark, root, "ss", topics = 1, numMessages = 100) // v3
    assert(drain() == 600)
    // startingVersion skips history without a checkpoint
    val fromV1 = spark.readStream.format("graft")
      .option("startingVersion", "1")
      .load(s"$root/ss")
    val name = "ss_sink4"
    val q4 = fromV1.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q4.awaitTermination()
    assert(spark.table(name).count() == 300) // v1's 200 + v3's 100
    spark.catalog.dropTempView(name)
  }

  test("compaction rewrites small files, preserves data and time travel") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s6", topics = 2, numMessages = 400)
    ProduceJob.produceBatch(spark, root, "s6", topics = 2, numMessages = 200)
    val before = Snapshots.snapshot(root, "s6").get
    assert(before.files.size > 2) // multiple appends → multiple files per partition
    val sumBefore = Snapshots.read(spark, root, "s6")
      .agg(sum("ba")).head().getLong(0)
    val v = Snapshots.compact(spark, root, "s6")
    val after = Snapshots.snapshot(root, "s6").get
    assert(after.version == v && v == before.version + 1)
    assert(after.files.size == 2) // one file per topic partition
    assert(after.removed.toSet == before.files.toSet)
    assert(after.maxPos == before.maxPos)
    // same rows, same content, partition column still recovered
    val compacted = Snapshots.read(spark, root, "s6")
    assert(compacted.count() == 600)
    assert(compacted.agg(sum("ba")).head().getLong(0) == sumBefore)
    assert(compacted.select("topic").distinct().count() == 2)
    // time travel to the pre-compaction version still works (files kept)
    assert(Snapshots.read(spark, root, "s6", Some(before.version)).count() == 600)
    // and a post-compaction append commit excludes superseded files
    ProduceJob.produceBatch(spark, root, "s6", topics = 2, numMessages = 100)
    assert(Snapshots.read(spark, root, "s6").count() == 700)
  }

  test("compaction honors the target file size: big partitions split, small skip") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s6b", topics = 1, numMessages = 2000)
    ProduceJob.produceBatch(spark, root, "s6b", topics = 1, numMessages = 2000)
    ProduceJob.produceBatch(spark, root, "s6b", topics = 1, numMessages = 2000)
    val before = Snapshots.snapshot(root, "s6b").get
    assert(before.files.size >= 3)
    val bytes = before.files.map(f =>
      Files.size(java.nio.file.Paths.get(
        graft.ingest.Topics.tableDir(root, "s6b")).resolve(f))).sum
    // a tiny target forces a multi-file rewrite — never one monster file
    val target = bytes / 2
    val v = Snapshots.compact(spark, root, "s6b", targetFileBytes = target)
    val after = Snapshots.snapshot(root, "s6b").get
    assert(after.version == v)
    val expected = math.ceil(bytes.toDouble / target).toInt
    assert(after.files.size == expected, s"${after.files.size} vs $expected")
    assert(Snapshots.read(spark, root, "s6b").count() == 6000)
    // a big target consolidates to one file; repeating is a no-op
    // (a directory at-or-below its target count is left alone)
    val v2 = Snapshots.compact(spark, root, "s6b")
    assert(Snapshots.snapshot(root, "s6b").get.files.size == 1)
    assert(Snapshots.compact(spark, root, "s6b") == v2)
    assert(Snapshots.read(spark, root, "s6b").count() == 6000)
  }

  test("concurrent commit to the same version loses deterministically") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s7", topics = 1, numMessages = 100)
    val taken = Snapshots.versions(root, "s7").max
    // two writers racing to the same version: the second CREATE_NEW
    // must lose loudly (this drives the atomic primitive directly — a
    // live thread race can't be scheduled deterministically)
    Snapshots.writeSnapshot(root, "s7", taken + 1, 99, Seq.empty, Seq.empty)
    intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.writeSnapshot(root, "s7", taken + 1, 99, Seq.empty, Seq.empty)
    }
    // the public append commit retries against the re-read log and
    // lands after the racer (append ⋈ append never conflicts logically)
    val v = Snapshots.commit(root, "s7", 99)
    assert(v == taken + 2)
  }

  test("vacuum drops pre-compaction files and old versions") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s8", topics = 1, numMessages = 300)
    ProduceJob.produceBatch(spark, root, "s8", topics = 1, numMessages = 300)
    val vCompact = Snapshots.compact(spark, root, "s8")
    Snapshots.vacuum(root, "s8", keepFrom = vCompact)
    // current read intact; old versions gone
    assert(Snapshots.read(spark, root, "s8").count() == 600)
    assert(Snapshots.versions(root, "s8") == Seq(vCompact))
    intercept[RuntimeException] {
      Snapshots.read(spark, root, "s8", Some(0))
    }
  }

  test("incremental read: changes between versions, compaction excluded") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s9", topics = 1, numMessages = 200)  // v0
    ProduceJob.personProjection(spark.range(200, 500).toDF("cnt"), "cnt", "s9", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "s9"))
    val v1 = Snapshots.commit(root, "s9", 499)
    // changes v0→v1 = exactly the appended rows
    val ch = Snapshots.readChanges(spark, root, "s9", 0, Some(v1))
    assert(ch.count() == 300)
    assert(ch.agg(min("ba")).head().getLong(0) == 200L)
    // compaction adds NO changes
    val vC = Snapshots.compact(spark, root, "s9")
    assert(Snapshots.readChanges(spark, root, "s9", v1, Some(vC)).count() == 0)
    // an append after compaction is visible as a change again
    ProduceJob.personProjection(spark.range(500, 600).toDF("cnt"), "cnt", "s9", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "s9"))
    val v3 = Snapshots.commit(root, "s9", 599)
    assert(Snapshots.readChanges(spark, root, "s9", vC, Some(v3)).count() == 100)
    // and the full span skips the compaction rewrite but keeps both appends
    assert(Snapshots.readChanges(spark, root, "s9", 0, Some(v3)).count() == 400)
  }

  test("orphaned compaction rewrites are never adopted by a later commit") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s10", topics = 1, numMessages = 200)
    val tableDir = java.nio.file.Paths.get(graft.ingest.Topics.tableDir(root, "s10"))
    // simulate a compaction that wrote its rewrite but DIED before its
    // snapshot commit: a compacted- marked file on disk, referenced by
    // no snapshot — it re-packs rows the originals still deliver
    val part = Files.list(tableDir).iterator().next() // topic=s10-0 dir
    val src = Files.list(part).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val orphan = part.resolve("compacted-orphan-0.parquet")
    Files.copy(src, orphan)
    // a raw directory read double-counts the orphan's rows; the commit must not
    assert(spark.read.parquet(tableDir.toString).count() > 200)
    val v = Snapshots.commit(root, "s10", 199)
    assert(!Snapshots.snapshot(root, "s10", Some(v)).get.files
      .exists(_.contains("compacted-orphan")))
    assert(Snapshots.read(spark, root, "s10", Some(v)).count() == 200)
    // a REAL compaction's rewrites are snapshot-referenced and survive
    ProduceJob.produceBatch(spark, root, "s10", topics = 1, numMessages = 100)
    val vC = Snapshots.compact(spark, root, "s10")
    assert(Snapshots.snapshot(root, "s10", Some(vC)).get.files
      .forall(f => f.contains("compacted-")))
    assert(Snapshots.read(spark, root, "s10").count() == 300)
    val vAfter = Snapshots.commit(root, "s10", 299)
    assert(Snapshots.read(spark, root, "s10", Some(vAfter)).count() == 300)
  }

  test("merge updates matched rows, inserts new keys, rewrites only matched files") {
    val root = tempDir("graft_snap").toString
    withMultiFileWrites {
      ProduceJob.produceBatch(spark, root, "s11", topics = 2, numMessages = 1000)
    }
    val v0 = Snapshots.snapshot(root, "s11").get
    val src = ProduceJob.personProjection(
      spark.range(500, 1200).toDF("cnt"), "cnt", "s11", 2)
      .withColumn("name", lit("upd"))
    val v = Snapshots.merge(spark, root, "s11", src, Seq("ba"))
    val snap = Snapshots.snapshot(root, "s11").get
    assert(snap.version == v && snap.op == "merge")
    val t = Snapshots.read(spark, root, "s11")
    assert(t.count() == 1200)
    assert(t.filter(col("name") === "upd").count() == 700)
    assert(t.filter(col("name") === "hangc").count() == 500)
    // an updated row carries the source's non-key columns
    assert(t.filter(col("ba") === 700).head().getAs[Int]("age") == (18 + 700) % 100)
    // copy-on-write granularity: only files holding matched keys were
    // rewritten; files of untouched key ranges survive as-is
    assert(snap.removed.nonEmpty && snap.removed.toSet.subsetOf(v0.files.toSet))
    assert(snap.removed.size < v0.files.size)
    // snapshot isolation: the pre-merge version still reads old state
    val before = Snapshots.read(spark, root, "s11", Some(v0.version))
    assert(before.count() == 1000)
    assert(before.filter(col("name") === "upd").count() == 0)
  }

  test("merge transaction ids make replays no-ops") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s12", topics = 1, numMessages = 200)
    val src = ProduceJob.personProjection(
      spark.range(100, 300).toDF("cnt"), "cnt", "s12", 1)
      .withColumn("name", lit("upd"))
    val v1 = Snapshots.merge(spark, root, "s12", src, Seq("ba"), txn = Some("t1"))
    // replaying the SAME transaction must not commit a new version —
    // even with different (garbage) source data
    val garbage = ProduceJob.personProjection(
      spark.range(0, 999).toDF("cnt"), "cnt", "s12", 1)
      .withColumn("name", lit("garbage"))
    val v2 = Snapshots.merge(spark, root, "s12", garbage, Seq("ba"), txn = Some("t1"))
    assert(v2 == v1)
    val t = Snapshots.read(spark, root, "s12")
    assert(t.count() == 300)
    assert(t.filter(col("name") === "garbage").count() == 0)
  }

  test("manifest stats prune range reads to overlapping files only") {
    val root = tempDir("graft_snap").toString
    withMultiFileWrites { ProduceJob.produceBatch(spark, root, "s14", topics = 1, numMessages = 4000) }
    val snap = Snapshots.snapshot(root, "s14").get
    assert(snap.stats.exists(_.column == "ba")) // footer stats committed
    val pruned = prunedFiles(root, "s14", Snapshots.StatRange.longRange("ba", 100, 199))
    assert(pruned.size < snap.files.size) // skipping actually skips
    val df = Snapshots.readWhere(spark, root, "s14", col("ba").between(100L, 199L))
    assert(df.count() == 100)
    assert(df.agg(sum("ba")).head().getLong(0) == (100L to 199L).sum)
    // pruning never changes semantics vs the unpruned filtered read
    val full = Snapshots.read(spark, root, "s14")
      .filter(col("ba").between(100, 199))
    assert(df.select("ba").except(full.select("ba")).count() == 0)
    assert(full.select("ba").except(df.select("ba")).count() == 0)
  }

  test("streaming upsert merges each micro-batch exactly once") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s15", topics = 1, numMessages = 100)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    val src = ProduceJob.personProjection(
      ms.toDF().withColumnRenamed("value", "cnt"), "cnt", "s15", 1)
      .withColumn("name", lit("up"))
    val q = Snapshots.upsertStream(src, root, "s15", Seq("ba"),
      checkpoint = s"$root/_ckpt_s15")
    ms.addData(50L until 150L: _*) // 50 updates + 50 inserts
    q.processAllAvailable()
    assert(Snapshots.read(spark, root, "s15").count() == 150)
    ms.addData(140L until 160L: _*) // 10 updates + 10 inserts
    q.processAllAvailable()
    q.stop()
    val t = Snapshots.read(spark, root, "s15")
    assert(t.count() == 160)
    assert(t.filter(col("name") === "up").count() == 110)
    // the batch's transaction id is in the log → a replayed batch 0
    // (foreachBatch's at-least-once contract) is a no-op
    val snap = Snapshots.snapshot(root, "s15").get
    assert(snap.txns.contains("upsert:0") && snap.txns.contains("upsert:1"))
    val replay = ProduceJob.personProjection(
      spark.range(0, 999).toDF("cnt"), "cnt", "s15", 1)
      .withColumn("name", lit("garbage"))
    assert(Snapshots.merge(spark, root, "s15", replay, Seq("ba"),
      txn = Some("upsert:0")) == snap.version)
    assert(Snapshots.read(spark, root, "s15").count() == 160)
  }

  test("applyChangeBatch replicates a feed window in one pass; replays are no-ops") {
    val root = tempDir("graft_snap").toString
    // source: v0 append 0..99, v1 merge 50..119, v2 delete ba%10=0
    ProduceJob.produceBatch(spark, root, "cs", topics = 1, numMessages = 100)
    Snapshots.merge(spark, root, "cs",
      ProduceJob.personProjection(spark.range(50, 120).toDF("cnt"), "cnt", "cs", 1)
        .withColumn("name", lit("upd")), Seq("ba"), txn = Some("m"))
    Snapshots.delete(spark, root, "cs", col("ba") % 10 === 0, txn = Some("d"))
    // replica seeded at source v0
    Snapshots.read(spark, root, "cs", Some(0))
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "cr"))
    Snapshots.commit(root, "cr", 99)
    val feed = Snapshots.readChangeFeed(spark, root, "cs", fromVersion = 0)
    val v1 = Snapshots.applyChangeBatch(spark, root, "cr", feed, Seq("ba"),
      txn = Some("cdc:0:2"))
    // replica equals source exactly
    val src = Snapshots.read(spark, root, "cs")
    val rep = Snapshots.read(spark, root, "cr")
    assert(rep.exceptAll(src).count() == 0 && src.exceptAll(rep).count() == 0)
    // replay of the same batch (same txn) is a no-op: same version, same rows
    val v2 = Snapshots.applyChangeBatch(spark, root, "cr", feed, Seq("ba"),
      txn = Some("cdc:0:2"))
    assert(v2 == v1)
    assert(Snapshots.read(spark, root, "cr").count() == src.count())
  }

  test("applyChangeBatch keeps rows a merge-on-read DELETE removed from a file it rewrites") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "cd", topics = 1, numMessages = 1000) // v0
    assert(Snapshots.snapshot(root, "cd").get.files.size == 1, "fixture must be one file")
    Snapshots.deleteMoR(spark, root, "cd", col("ba") === 5) // v1
    // a change batch updating another key of the same file rewrites it
    val feed = Snapshots.read(spark, root, "cd").filter(col("ba") === 6)
      .withColumn("name", lit("chg"))
      .withColumn("_change_type", lit("update_postimage"))
      .withColumn("_commit_version", lit(1L))
    Snapshots.applyChangeBatch(spark, root, "cd", feed, Seq("ba"))
    assert(Snapshots.snapshot(root, "cd").get.removed.nonEmpty, "the file must be rewritten")
    val after = Snapshots.read(spark, root, "cd")
    assert(after.filter(col("ba") === 5).count() == 0)
    assert(after.count() == 999L)
    assert(after.filter(col("ba") === 6).select("name").head().getString(0) == "chg")
  }

  test("applyChangeBatch reads the log only for its snapshot, schema events and commit") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "co", topics = 1, numMessages = 1000) // v0
    Snapshots.deleteMoR(spark, root, "co", col("ba") === 5) // v1
    val feed = Snapshots.read(spark, root, "co").filter(col("ba") === 6)
      .withColumn("name", lit("chg"))
      .withColumn("_change_type", lit("update_postimage"))
      .withColumn("_commit_version", lit(1L))
    val before = Snapshots.logOpens.get()
    Snapshots.applyChangeBatch(spark, root, "co", feed, Seq("ba"))
    val opens = Snapshots.logOpens.get() - before
    assert(Snapshots.snapshot(root, "co").get.version == 2)
    assert(opens <= 8, s"applyChangeBatch opened $opens log files")
  }

  test("AggView: incremental refresh tracks updates/deletes; empty groups leave; replays no-op") {
    import graft.ingest.AggView
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "av", topics = 1, numMessages = 100) // v0
    // seed at v0: one group (hangc, 100)
    AggView.refresh(spark, root, "av", root, "avm", Seq("name"), Seq("ba"))
    def view() = Snapshots.read(spark, root, "avm")
      .select("name", "cnt", "sum_ba").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(view() == Seq(("hangc", 100L, 4950L)))
    // an up-to-date view refreshes to the SAME version (no empty commit)
    val vSame = AggView.refresh(spark, root, "av", root, "avm", Seq("name"), Seq("ba"))
    assert(vSame == Snapshots.snapshot(root, "avm", None).get.version)
    // v1: move ba 0..49 into group 'x' — pre-images must subtract them
    Snapshots.merge(spark, root, "av",
      ProduceJob.personProjection(spark.range(0, 50).toDF("cnt"), "cnt", "av", 1)
        .withColumn("name", lit("x")), Seq("ba"), txn = Some("avm1"))
    AggView.refresh(spark, root, "av", root, "avm", Seq("name"), Seq("ba"))
    assert(view() == Seq(("hangc", 50L, (50L until 100L).sum), ("x", 50L, (0L until 50L).sum)))
    // v2+: delete ALL of group 'x' — the group must leave the view
    Snapshots.delete(spark, root, "av", col("name") === "x", txn = Some("avd"))
    val vAfter = AggView.refresh(spark, root, "av", root, "avm", Seq("name"), Seq("ba"))
    assert(view() == Seq(("hangc", 50L, (50L until 100L).sum)))
    // replayed refresh (crash-and-restart shape): same version, same rows
    assert(AggView.refresh(spark, root, "av", root, "avm", Seq("name"), Seq("ba")) == vAfter)
    assert(view() == Seq(("hangc", 50L, (50L until 100L).sum)))
    // the view follows the source exactly at every step (recompute eq)
    val full = AggView.aggOf(Snapshots.read(spark, root, "av"), Seq("name"), Seq("ba"))
    val mv = Snapshots.read(spark, root, "avm")
    assert(mv.exceptAll(full).count() == 0 && full.exceptAll(mv).count() == 0)
  }

  test("replicateStream: incremental batches follow the source; a restarted stream no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "ss", topics = 1, numMessages = 100) // src v0
    Snapshots.read(spark, root, "ss", Some(0))
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "sr"))
    Snapshots.commit(root, "sr", 99) // replica seed
    val ms = MemoryStream[Int]
    val q = Snapshots.replicateStream(ms.toDF(), root, "ss", root, "sr",
      Seq("ba"), checkpoint = s"$root/_ckpt1")
    // batch 1: merge committed, tick arrives → applied
    Snapshots.merge(spark, root, "ss",
      ProduceJob.personProjection(spark.range(90, 130).toDF("cnt"), "cnt", "ss", 1)
        .withColumn("name", lit("upd")), Seq("ba"), txn = Some("m"))
    ms.addData(1); q.processAllAvailable()
    assert(Snapshots.appliedSourceVersion(root, "sr").contains(1))
    assert(Snapshots.read(spark, root, "sr").count() == 130)
    // batch 2: delete lands later; the same stream picks it up
    Snapshots.delete(spark, root, "ss", col("ba") % 2 === 0, txn = Some("d"))
    ms.addData(2); q.processAllAvailable()
    assert(Snapshots.appliedSourceVersion(root, "sr").contains(2))
    val expected = Snapshots.read(spark, root, "ss")
    val got = Snapshots.read(spark, root, "sr")
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0)
    q.stop()
    val versionsBefore = Snapshots.versions(root, "sr")
    // a fresh stream over the same ticks (fresh checkpoint = full
    // replay of every batch) must re-apply nothing: the window is
    // recomputed from the replica's own log
    val ms2 = MemoryStream[Int]
    val q2 = Snapshots.replicateStream(ms2.toDF(), root, "ss", root, "sr",
      Seq("ba"), checkpoint = s"$root/_ckpt2")
    ms2.addData(1, 2); q2.processAllAvailable(); q2.stop()
    assert(Snapshots.versions(root, "sr") == versionsBefore)
  }

  test("delete removes matching rows copy-on-write, untouched files survive") {
    val root = tempDir("graft_snap").toString
    withMultiFileWrites { ProduceJob.produceBatch(spark, root, "s17", topics = 1, numMessages = 1000) }
    val v0 = Snapshots.snapshot(root, "s17").get
    val v = Snapshots.delete(spark, root, "s17", col("ba") < 100, txn = Some("d1"))
    val snap = Snapshots.snapshot(root, "s17").get
    assert(snap.version == v && snap.op == "delete")
    val t = Snapshots.read(spark, root, "s17")
    assert(t.count() == 900)
    assert(t.filter(col("ba") < 100).count() == 0)
    // only the files holding ba < 100 were rewritten (range-contiguous
    // writes put them in a fraction of the files)
    assert(snap.removed.nonEmpty && snap.removed.size < v0.files.size)
    // time travel still reads the deleted rows
    assert(Snapshots.read(spark, root, "s17", Some(v0.version)).count() == 1000)
    // no-match delete commits nothing; txn replay is a no-op
    assert(Snapshots.delete(spark, root, "s17", col("ba") < 0) == v)
    assert(Snapshots.delete(spark, root, "s17", col("ba") >= 0, txn = Some("d1")) == v)
    assert(Snapshots.read(spark, root, "s17").count() == 900)
  }

  test("clustering rewrite tightens file stats and sharpens pruning") {
    val root = tempDir("graft_snap").toString
    // worst layout: round-robin shuffled writes put the full ba range
    // in every file, so range pruning can skip nothing
    ProduceJob.personProjection(spark.range(4000).toDF("cnt"), "cnt", "s16", 1)
      .repartition(8)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "s16"))
    Snapshots.commit(root, "s16", 3999)
    val all = Snapshots.snapshot(root, "s16").get.files
    assert(prunedFiles(root, "s16", Snapshots.StatRange.longRange("ba", 0, 99)).size == all.size)
    val v = Snapshots.cluster(spark, root, "s16", "ba", targetFiles = 8)
    assert(Snapshots.snapshot(root, "s16").get.version == v)
    // post-cluster: a narrow range read opens a fraction of the files
    val pruned = prunedFiles(root, "s16", Snapshots.StatRange.longRange("ba", 0, 99))
    assert(pruned.size < Snapshots.snapshot(root, "s16").get.files.size / 2)
    // rows unchanged, pruned read exact, time travel intact
    val t = Snapshots.read(spark, root, "s16")
    assert(t.count() == 4000)
    assert(t.agg(sum("ba")).head().getLong(0) == (0L until 4000L).sum)
    assert(Snapshots.readWhere(spark, root, "s16", col("ba").between(0L, 99L)).count() == 100)
    assert(Snapshots.read(spark, root, "s16", Some(v - 1)).count() == 4000)
  }

  test("CHECK constraints refuse violating merges atomically") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s18", topics = 1, numMessages = 100)
    Snapshots.setConstraint(root, "s18", "ba_bounded", "ba >= 0 AND ba < 10000")
    Snapshots.setConstraint(root, "s18", "age_valid", "age BETWEEN 0 AND 99")
    val vBefore = Snapshots.snapshot(root, "s18").get.version
    // conforming merge passes
    val ok = ProduceJob.personProjection(
      spark.range(50, 150).toDF("cnt"), "cnt", "s18", 1)
    assert(Snapshots.merge(spark, root, "s18", ok, Seq("ba")) == vBefore + 1)
    // violating merge is refused and commits NOTHING
    val bad = ProduceJob.personProjection(
      spark.range(0, 100).toDF("cnt"), "cnt", "s18", 1)
      .withColumn("ba", col("ba") - lit(10L))
    intercept[Snapshots.ConstraintViolationException] {
      Snapshots.merge(spark, root, "s18", bad, Seq("ba"))
    }
    assert(Snapshots.snapshot(root, "s18").get.version == vBefore + 1)
    assert(Snapshots.read(spark, root, "s18").count() == 150)
    // full-table audit is clean; constraints are replaceable by name
    assert(Snapshots.validate(spark, root, "s18").forall(_._2 == 0L))
    Snapshots.setConstraint(root, "s18", "ba_bounded", "ba >= 0")
    assert(Snapshots.constraints(root, "s18").size == 2)
  }

  test("delete keeps rows where the predicate evaluates to NULL") {
    val root = tempDir("graft_snap").toString
    // tag: 'x' on ba<10 (delete targets), NULL on 10<=ba<20, 'keep' above —
    // all three classes land in the same files, so the rewrite path sees
    // null-predicate rows alongside true matches
    ProduceJob.personProjection(spark.range(100).toDF("cnt"), "cnt", "s19", 1)
      .withColumn("tag", when(col("ba") < 10, "x")
        .when(col("ba") < 20, lit(null: String)).otherwise("keep"))
      .coalesce(1).write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "s19"))
    Snapshots.commit(root, "s19", 99)
    Snapshots.delete(spark, root, "s19", col("tag") === "x")
    val t = Snapshots.read(spark, root, "s19")
    // SQL DELETE removes only predicate-TRUE rows: NULL rows survive
    assert(t.count() == 90)
    assert(t.filter(col("tag").isNull).count() == 10)
    assert(t.filter(col("tag") === "x").count() == 0)
  }

  test("concurrent rewrites over the same files conflict instead of committing") {
    val root = tempDir("graft_snap").toString
    withMultiFileWrites { ProduceJob.produceBatch(spark, root, "s20", topics = 1, numMessages = 1000) }
    val snap = Snapshots.snapshot(root, "s20").get
    assert(snap.files.size >= 2)
    val contested = snap.files.head
    // rewrite A claims `contested` and wins the commit race (driven via
    // the primitive — a live thread race can't be scheduled deterministically)
    Snapshots.writeSnapshot(root, "s20", snap.version + 1, snap.maxPos,
      snap.files.filterNot(_ == contested), Seq(contested), "delete")
    // rewrite B derived its output from `contested`'s PRE-race contents;
    // committing it would resurrect rows A deleted — it must abort
    intercept[Snapshots.RewriteConflictException] {
      Snapshots.commitRewrite(root, "s20", "delete", read = snap,
        gone = Seq(contested), added = Seq.empty, txn = None)
    }
    // disjoint rewrites still commit: B claiming a DIFFERENT file is fine
    val other = snap.files.last
    val v = Snapshots.commitRewrite(root, "s20", "delete", read = snap,
      gone = Seq(other), added = Seq.empty, txn = None)
    assert(v == snap.version + 2)
  }

  test("a rewrite conflicts with a deletion vector committed after its read") {
    // the rewrite read file f at `read0`; a merge-on-read DELETE then
    // put one of f's rows into a deletion vector. Committing the
    // rewrite drops f, and with it the vector's only target, so its
    // output (here a byte copy of f) would bring the row back.
    val root = tempDir("graft_snap").toString
    withMultiFileWrites { ProduceJob.produceBatch(spark, root, "s22", topics = 1, numMessages = 1000) }
    val read0 = Snapshots.snapshot(root, "s22").get
    val f = read0.files.head
    val tableDir = java.nio.file.Paths.get(graft.ingest.Topics.tableDir(root, "s22"))
    val victim = spark.read.parquet(tableDir.resolve(f).toString).agg(min("ba")).head().getLong(0)
    val copy = java.nio.file.Paths.get(f).resolveSibling("compacted-copy.parquet").toString
    Files.copy(tableDir.resolve(f), tableDir.resolve(copy))
    Snapshots.deleteMoR(spark, root, "s22", col("ba") === victim)
    def victims() = Snapshots.read(spark, root, "s22").filter(col("ba") === victim).count()
    assert(victims() == 0)
    intercept[Snapshots.RewriteConflictException] {
      Snapshots.commitRewrite(root, "s22", "compact", read = read0,
        gone = Seq(f), added = Seq(copy), txn = None)
    }
    assert(victims() == 0)
    assert(Snapshots.read(spark, root, "s22").count() == 999)
  }

  test("a deletion vector on files a rewrite does not drop does not conflict") {
    val root = tempDir("graft_snap").toString
    withMultiFileWrites { ProduceJob.produceBatch(spark, root, "s22d", topics = 1, numMessages = 1000) }
    val read0 = Snapshots.snapshot(root, "s22d").get
    assert(read0.files.size >= 2)
    val (f, g) = (read0.files.head, read0.files.last)
    val tableDir = java.nio.file.Paths.get(graft.ingest.Topics.tableDir(root, "s22d"))
    val victim = spark.read.parquet(tableDir.resolve(g).toString).agg(min("ba")).head().getLong(0)
    val copy = java.nio.file.Paths.get(f).resolveSibling("compacted-copy.parquet").toString
    Files.copy(tableDir.resolve(f), tableDir.resolve(copy))
    // the DELETE commits while the rewrite of f runs, but marks only g
    Snapshots.deleteMoR(spark, root, "s22d", col("ba") === victim)
    val v = Snapshots.commitRewrite(root, "s22d", "compact", read = read0,
      gone = Seq(f), added = Seq(copy), txn = None)
    assert(v == read0.version + 2)
    assert(Snapshots.read(spark, root, "s22d").filter(col("ba") === victim).count() == 0)
    assert(Snapshots.read(spark, root, "s22d").count() == 999)
  }

  test("a deletion vector committed before a rewrite's read does not conflict") {
    val root = tempDir("graft_snap").toString
    withMultiFileWrites { ProduceJob.produceBatch(spark, root, "s23", topics = 1, numMessages = 1000) }
    val f = Snapshots.snapshot(root, "s23").get.files.head
    val tableDir = java.nio.file.Paths.get(graft.ingest.Topics.tableDir(root, "s23"))
    val victim = spark.read.parquet(tableDir.resolve(f).toString).agg(min("ba")).head().getLong(0)
    Snapshots.deleteMoR(spark, root, "s23", col("ba") === victim)
    // the rewrite reads after the DELETE: its input applies the vector
    val read1 = Snapshots.snapshot(root, "s23").get
    val tmp = tempDir("graft_snap_rw")
    Snapshots.readFileSubset(spark, root, "s23", read1, Seq(f)).drop("topic")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val copy = java.nio.file.Paths.get(f).resolveSibling("compacted-filtered.parquet").toString
    Files.move(part, tableDir.resolve(copy))
    val v = Snapshots.commitRewrite(root, "s23", "compact", read = read1,
      gone = Seq(f), added = Seq(copy), txn = None)
    assert(v == read1.version + 1)
    assert(Snapshots.read(spark, root, "s23").filter(col("ba") === victim).count() == 0)
    assert(Snapshots.read(spark, root, "s23").count() == 999)
  }

  test("vacuum keeps in-flight rewrite output inside the grace window") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s21", topics = 1, numMessages = 200)
    val tableDir = java.nio.file.Paths.get(graft.ingest.Topics.tableDir(root, "s21"))
    // an in-flight compaction wrote its marked output but has not yet
    // committed the snapshot that pins it
    val part = Files.list(tableDir).iterator().asScala
      .find(Files.isDirectory(_)).get
    val src = Files.list(part).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val inflight = part.resolve("compacted-inflight-0.parquet")
    Files.copy(src, inflight)
    val latest = Snapshots.versions(root, "s21").max
    // default grace: the fresh unreferenced file survives vacuum
    Snapshots.vacuum(root, "s21", keepFrom = latest)
    assert(Files.exists(inflight))
    // and the rewrite can still commit a version pinning it afterwards
    // grace 0 (no concurrent writers declared): the orphan is collected
    Snapshots.vacuum(root, "s21", keepFrom = latest, orphanGraceMs = 0)
    assert(!Files.exists(inflight))
    assert(Snapshots.read(spark, root, "s21").count() == 200)
  }

  test("incremental read: delete commits contribute no changes") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s22", topics = 1, numMessages = 500) // v0
    val vDel = Snapshots.delete(spark, root, "s22", col("ba") < 100)
    // the delete's added files are survivor rewrites — not new rows
    assert(Snapshots.readChanges(spark, root, "s22", 0, Some(vDel)).count() == 0)
    // appends after the delete show up as changes again
    ProduceJob.personProjection(spark.range(500, 600).toDF("cnt"), "cnt", "s22", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "s22"))
    val v2 = Snapshots.commit(root, "s22", 599)
    assert(Snapshots.readChanges(spark, root, "s22", vDel, Some(v2)).count() == 100)
    assert(Snapshots.readChanges(spark, root, "s22", 0, Some(v2)).count() == 100)
  }

  test("change feed: row-grain inserts, update post-images, delete pre-images") {
    val root = tempDir("graft_snap").toString
    withMultiFileWrites { ProduceJob.produceBatch(spark, root, "s25", topics = 1, numMessages = 400) } // v0
    val src = ProduceJob.personProjection(
      spark.range(300, 500).toDF("cnt"), "cnt", "s25", 1)
      .withColumn("name", lit("upd"))
    val vM = Snapshots.merge(spark, root, "s25", src, Seq("ba"))      // v1
    val vD = Snapshots.delete(spark, root, "s25", col("ba") < 50)     // v2
    val vC = Snapshots.compact(spark, root, "s25")                    // v3
    val feed = Snapshots.readChangeFeed(spark, root, "s25", fromVersion = 0)
    val byType = feed.groupBy("_change_type")
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // merge: ba 300..399 existed (pre- AND post-images), 400..499 are
    // inserts; delete: ba 0..49 pre-images; compaction contributes
    // nothing
    assert(byType == Map("update_postimage" -> 100L, "update_preimage" -> 100L,
      "insert" -> 100L, "delete" -> 50L))
    // pre-images carry the REPLACED payload, post-images the new one
    assert(feed.filter(col("_change_type") === "update_preimage" &&
      col("name") === "upd").count() == 0)
    assert(feed.filter(col("_change_type") === "update_postimage" &&
      col("name") === "upd").count() == 100)
    assert(feed.filter(col("_change_type") === "delete")
      .agg(max("ba")).head().getLong(0) == 49L)
    // commit attribution rides along
    assert(feed.filter(col("_commit_version") === vM).count() == 300)
    assert(feed.filter(col("_commit_version") === vD).count() == 50)
    assert(feed.filter(col("_commit_version") === vC).count() == 0)
    // narrowing the span narrows the feed
    assert(Snapshots.readChangeFeed(spark, root, "s25", vM, Some(vD)).count() == 50)
    // appends themselves are inserts when read from their own base
    val full = Snapshots.readChangeFeed(spark, root, "s25", 0, Some(0))
    assert(full.count() == 0) // (0,0] is empty — from is exclusive
    // fallback: a rewrite whose CDC dir is missing degrades to
    // file-grain insert attribution instead of failing
    import scala.jdk.CollectionConverters._
    val cdcV = java.nio.file.Paths.get(s"$root/s25._cdc")
      .resolve(f"v$vD%05d")
    Files.walk(cdcV).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    val degraded = Snapshots.readChangeFeed(spark, root, "s25", vM, Some(vD))
    assert(degraded.filter(col("_change_type") === "insert").count() == degraded.count())
  }

  test("sortable keys preserve ordering for doubles, strings, binary prefixes") {
    val doubles = Seq(Double.MinValue, -1e300, -2.0, -1.0, -1e-300, -0.0,
      0.0, 1e-300, 1.0, 2.0, 1e300, Double.MaxValue)
    assert(doubles.map(graft.ingest.SortKeys.doubleKey) == doubles.map(graft.ingest.SortKeys.doubleKey).sorted)
    val rnd = new scala.util.Random(7)
    val rds = Seq.fill(500)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(20) - 10)).sorted
    assert(rds.map(graft.ingest.SortKeys.doubleKey) == rds.map(graft.ingest.SortKeys.doubleKey).sorted)
    // strings: non-strict monotone (prefix collisions allowed, order never inverted)
    val strs = Seq("", "a", "ab", "abc", "abcdefghij", "abcdefghiz", "b", "ba", "z").sorted
    val keys = strs.map(graft.ingest.SortKeys.stringKey)
    assert(keys == keys.sorted)
    assert(graft.ingest.SortKeys.stringKey("samePrefixXXXX") ==
      graft.ingest.SortKeys.stringKey("samePrefixYYYY")) // 8-byte collision is expected
  }

  test("footer stats cover double and string columns; typed pruning is exact-conservative") {
    val root = tempDir("graft_snap").toString
    import spark.implicits._
    (0L until 4000L).map(i => (i, i / 40.0, f"doc${i}%06d"))
      .toDF("ba", "weight", "doc_id")
      .repartitionByRange(8, col("ba"))
      .write.parquet(graft.ingest.Topics.tableDir(root, "s23"))
    Snapshots.commit(root, "s23", 3999)
    val snap = Snapshots.snapshot(root, "s23").get
    assert(snap.stats.exists(s => s.column == "weight" && s.typ == "D"))
    assert(snap.stats.exists(s => s.column == "doc_id" && s.typ == "S"))
    // double pruning: layout is range-clustered on ba, and weight is a
    // monotone function of ba, so a narrow weight range skips files
    val dRange = Snapshots.StatRange.doubleRange("weight", 10.0, 19.975)
    assert(prunedFiles(root, "s23", dRange).size < snap.files.size)
    val dRead = Snapshots.readWhere(spark, root, "s23", col("weight").between(10.0, 19.975))
    assert(dRead.count() == 400) // ba 400..799
    // string pruning: doc ids are zero-padded, so lexical order = numeric
    val sRange = Snapshots.StatRange.stringRange("doc_id", "doc001000", "doc001399")
    assert(prunedFiles(root, "s23", sRange).size < snap.files.size)
    val sRead = Snapshots.readWhere(spark, root, "s23",
      col("doc_id").between("doc001000", "doc001399"))
    assert(sRead.count() == 400)
    // pruning never changes semantics vs the unpruned filtered read
    val full = Snapshots.read(spark, root, "s23")
      .filter(col("doc_id") >= "doc001000" && col("doc_id") <= "doc001399")
    assert(sRead.select("ba").except(full.select("ba")).count() == 0)
    assert(full.select("ba").except(sRead.select("ba")).count() == 0)
  }

  test("null-count stats: IS NULL / IS NOT NULL conjuncts skip files") {
    val root = tempDir("graft_snap").toString
    val dir = graft.ingest.Topics.tableDir(root, "nn")
    def put(lo: Int, hi: Int, v: org.apache.spark.sql.Column): Unit = {
      ProduceJob.personProjection(spark.range(lo, hi).toDF("cnt"), "cnt", "nn", 1)
        .withColumn("v", v).coalesce(1)
        .write.mode("append").partitionBy("topic").parquet(dir)
      Snapshots.commit(root, "nn", hi - 1)
      ()
    }
    put(0, 100, lit(null).cast("long")) // all-null file
    put(100, 200, col("ba")) // no-null file
    put(200, 300, when(col("ba") % 2 === 0, col("ba"))) // mixed file
    val snap = Snapshots.snapshot(root, "nn").get
    assert(snap.files.size == 3)
    // nullness domain recorded per file: {1}, {0}, {0,1}
    assert(snap.stats.filter(s => s.column == "v" && s.typ == "N").size == 3)
    // IS NOT NULL skips the all-null file; IS NULL skips the no-null file
    assert(prunedFiles(root, "nn",
      Snapshots.StatRange.isNotNull("v")).size == 2)
    assert(prunedFiles(root, "nn",
      Snapshots.StatRange.isNull("v")).size == 2)
    // readWhere extracts the nullness conjuncts and stays correct
    assert(Snapshots.readWhere(spark, root, "nn", col("v").isNotNull).count() == 150)
    assert(Snapshots.readWhere(spark, root, "nn", col("v").isNull).count() == 150)
    // composes with a value range on another column
    assert(Snapshots.readWhere(spark, root, "nn",
      col("v").isNotNull && col("ba") >= 100 && col("ba") < 200).count() == 100)
    // contradictory nullness conjuncts prune to an empty (typed) frame
    assert(Snapshots.readWhere(spark, root, "nn",
      col("v").isNull && col("v").isNotNull).count() == 0)
  }

  test("readWhere prunes from arbitrary predicates across column types") {
    val root = tempDir("graft_snap").toString
    import spark.implicits._
    (0L until 4000L).map(i => (i, i / 40.0, f"doc${i}%06d", s"r$i"))
      .toDF("ba", "weight", "doc_id", "payload")
      .repartitionByRange(8, col("ba"))
      .write.parquet(graft.ingest.Topics.tableDir(root, "s26"))
    Snapshots.commit(root, "s26", 3999)
    val nFiles = Snapshots.snapshot(root, "s26").get.files.size
    assert(nFiles == 8)
    // files the scan opened: execute THIS plan, then read its file
    // scans' numFiles metric (inside AQE's final plan)
    def filesRead(df: DataFrame): Long = {
      df.collect()
      object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      Aqe.collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    }
    // compound predicate: long range + double bound + an unprunable
    // conjunct (endsWith) — pruning uses the first two, semantics all
    val pred = col("ba") >= 100 && col("ba") < 200 &&
      col("weight") <= lit(4.9) && col("payload").endsWith("9")
    val pruned = Snapshots.readWhere(spark, root, "s26", pred)
    assert(filesRead(pruned) == 1)
    val full = Snapshots.read(spark, root, "s26").filter(pred)
    assert(pruned.count() == full.count() && pruned.count() > 0)
    assert(pruned.select("ba").except(full.select("ba")).count() == 0)
    assert(full.select("ba").except(pruned.select("ba")).count() == 0)
    // string equality prunes on prefix-key stats
    val sPred = col("doc_id") === "doc000123"
    val sRead = Snapshots.readWhere(spark, root, "s26", sPred)
    assert(filesRead(sRead) == 1)
    assert(sRead.count() == 1)
    // literal-first orientation and contradictory bounds
    assert(Snapshots.readWhere(spark, root, "s26", lit(300L) > col("ba")).count() == 300)
    assert(Snapshots.readWhere(spark, root, "s26",
      col("ba") > 100 && col("ba") < 50).count() == 0)
    // unprunable-only predicate falls back to the full file set, same rows
    val unpruned = Snapshots.readWhere(spark, root, "s26", col("payload").startsWith("r39"))
    assert(filesRead(unpruned) == nFiles)
    assert(unpruned.count() ==
      Snapshots.read(spark, root, "s26").filter(col("payload").startsWith("r39")).count())
  }

  test("one translation maps predicate shapes to stat ranges") {
    import Snapshots.StatRange
    import graft.ingest.SortKeys
    val df = spark.range(1).selectExpr("id AS ba", "CAST(id AS DOUBLE) AS w",
      "CAST(id AS STRING) AS s", "CAST(id AS INT) AS i")
    def ranges(p: org.apache.spark.sql.Column): Set[StatRange] =
      df.filter(p).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.toSeq.flatMap(Snapshots.statRanges).toSet
    val lo = Long.MinValue
    val hi = Long.MaxValue
    val cases: Seq[(org.apache.spark.sql.Column, Set[StatRange])] = Seq(
      (col("ba") === 5) -> Set(StatRange("ba", "L", 5, 5)),
      (col("ba") > 5) -> Set(StatRange("ba", "L", 5, hi)),
      (col("ba") >= 5) -> Set(StatRange("ba", "L", 5, hi)),
      (col("ba") < 5) -> Set(StatRange("ba", "L", lo, 5)),
      (col("ba") <= 5) -> Set(StatRange("ba", "L", lo, 5)),
      (lit(5L) > col("ba")) -> Set(StatRange("ba", "L", lo, 5)),
      col("ba").between(1, 9) -> Set(StatRange("ba", "L", 1, hi), StatRange("ba", "L", lo, 9)),
      (col("ba") === lit(2) + lit(3)) -> Set(StatRange("ba", "L", 5, 5)),
      (col("i") === 3) -> Set(StatRange("i", "L", 3, 3)),
      (col("w") <= 4.9) -> Set(StatRange("w", "D", lo, SortKeys.doubleKey(4.9))),
      (col("s") === "abc") ->
        Set(StatRange("s", "S", SortKeys.stringKey("abc"), SortKeys.stringKey("abc"))),
      col("ba").isNull -> Set(StatRange.isNull("ba")),
      col("ba").isNotNull -> Set(StatRange.isNotNull("ba")),
      (col("ba") > 1 && col("s") === "x" && col("s").endsWith("x")) ->
        Set(StatRange("ba", "L", 1, hi),
          StatRange("s", "S", SortKeys.stringKey("x"), SortKeys.stringKey("x"))),
      // shapes that cannot prune
      (col("w") === Double.NaN) -> Set.empty,
      (col("ba") === lit(null)) -> Set.empty,
      (col("ba") + 1 === 5) -> Set.empty,
      (col("ba") === 5 || col("ba") === 6) -> Set.empty,
      col("ba").isin(1, 2) -> Set.empty,
      col("s").startsWith("a") -> Set.empty)
    cases.foreach { case (p, expected) =>
      assert(ranges(p) == expected, s"predicate $p")
    }
  }

  test("Z-order clustering makes pruning compose across columns") {
    val root = tempDir("graft_snap").toString
    import spark.implicits._
    // two INDEPENDENT dimensions (x, y): single-column clustering can
    // serve only one of them; start hash-shuffled so nothing prunes
    val n = 16384
    (0L until n.toLong).map(i => (i % 128, i / 128, s"r$i"))
      .toDF("x", "y", "payload")
      .repartition(16)
      .write.parquet(graft.ingest.Topics.tableDir(root, "s24"))
    Snapshots.commit(root, "s24", n - 1)
    val files0 = Snapshots.snapshot(root, "s24").get.files
    val xr = Snapshots.StatRange.longRange("x", 0, 15)
    val yr = Snapshots.StatRange.longRange("y", 0, 15)
    assert(prunedFiles(root, "s24", xr, yr).size == files0.size)
    val v = Snapshots.clusterZOrder(spark, root, "s24", Seq("x", "y"), targetFiles = 16)
    assert(Snapshots.snapshot(root, "s24").get.version == v)
    val filesZ = Snapshots.snapshot(root, "s24").get.files
    // each single-column range prunes…
    assert(prunedFiles(root, "s24", xr).size < filesZ.size)
    assert(prunedFiles(root, "s24", yr).size < filesZ.size)
    // …and the conjunction prunes harder than either alone
    val both = prunedFiles(root, "s24", xr, yr)
    assert(both.size <= prunedFiles(root, "s24", xr).size)
    assert(both.size <= filesZ.size / 2)
    // rows unchanged; the pruned conjunctive read is exact
    val t = Snapshots.read(spark, root, "s24")
    assert(t.count() == n)
    assert(t.agg(sum("x")).head().getLong(0) == (0L until n.toLong).map(_ % 128).sum)
    val zRead = Snapshots.readWhere(spark, root, "s24",
      col("x").between(0L, 15L) && col("y").between(0L, 15L))
    assert(zRead.count() == 16 * 16)
    // time travel to the pre-Z version intact
    assert(Snapshots.read(spark, root, "s24", Some(v - 1)).count() == n)
  }

  test("unknown version is refused") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s4", topics = 1, numMessages = 10)
    intercept[RuntimeException] {
      Snapshots.read(spark, root, "s4", Some(99))
    }
  }

  test("restore rolls back to a version, preserves history, and feeds no rows") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s25", topics = 1, numMessages = 1000) // v0
    Snapshots.delete(spark, root, "s25", col("ba") % 10 === 0) // v1: 900 left
    assert(Snapshots.read(spark, root, "s25").count() == 900)
    val v2 = Snapshots.restore(root, "s25", toVersion = 0)
    assert(v2 == 2)
    // latest state is v0's again; undone v1 stays time-travel readable
    assert(Snapshots.read(spark, root, "s25").count() == 1000)
    assert(Snapshots.read(spark, root, "s25", Some(1)).count() == 900)
    // watermark restored with the state
    assert(Snapshots.snapshot(root, "s25", Some(v2)).get.maxPos ==
      Snapshots.snapshot(root, "s25", Some(0)).get.maxPos)
    // the re-pinned files carry no NEW rows: both feeds skip the restore
    assert(Snapshots.readChanges(spark, root, "s25", fromVersion = 1).count() == 0)
    assert(Snapshots.readChangeFeed(spark, root, "s25", fromVersion = 1)
      .filter(col("_commit_version") === v2).count() == 0)
    // writes continue on top of the restored state
    ProduceJob.produceBatch(spark, root, "s25", topics = 1, numMessages = 100) // v3
    assert(Snapshots.read(spark, root, "s25").count() == 1100)
  }

  test("vacuum after restore keeps the re-pinned files") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "s26", topics = 1, numMessages = 500) // v0
    Snapshots.delete(spark, root, "s26", col("ba") >= 250) // v1: rewrite drops half
    val v2 = Snapshots.restore(root, "s26", toVersion = 0)
    // vacuum away the undone history: the restore's snapshot references
    // v0's ORIGINAL files, so they must survive even though v0 and the
    // delete's survivor rewrite are collected
    Snapshots.vacuum(root, "s26", keepFrom = v2, orphanGraceMs = 0)
    assert(Snapshots.versions(root, "s26") == Seq(v2))
    assert(Snapshots.read(spark, root, "s26").count() == 500)
  }

  test("write-audit-publish: staged commits are invisible until published") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "w1", topics = 1, numMessages = 400) // v0
    // stage a batch: the version file exists, default readers skip it
    ProduceJob.personProjection(spark.range(400, 600).toDF("cnt"), "cnt", "w1", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "w1"))
    val sv = Snapshots.commitStaged(root, "w1", 599, audit = "a1")
    assert(Snapshots.read(spark, root, "w1").count() == 400) // reader: pre-stage state
    assert(Snapshots.read(spark, root, "w1", Some(sv)).count() == 600) // audit: full view
    // the change feed is also blind to the staged version
    assert(Snapshots.readChanges(spark, root, "w1", fromVersion = 0).count() == 0)
    // replayed staging is a no-op
    assert(Snapshots.commitStaged(root, "w1", 599, audit = "a1") == sv)
    val pv = Snapshots.publish(root, "w1", "a1")
    assert(Snapshots.read(spark, root, "w1").count() == 600)
    // changes surface at the publish version, not the stage version
    assert(Snapshots.readChanges(spark, root, "w1", fromVersion = 0).count() == 200)
    assert(Snapshots.readChanges(spark, root, "w1", fromVersion = pv).count() == 0)
    // replayed publish returns the existing version
    assert(Snapshots.publish(root, "w1", "a1") == pv)
  }

  test("write-audit-publish: a legacy staged audit id stays re-ackable and publishable") {
    // round-13 ADVICE: the [A-Za-z0-9._:-] charset landed AFTER some
    // logs were written — a staged commit whose audit id used
    // previously-legal manifest-safe chars (space, parens) must stay
    // idempotently re-acknowledgeable and publishable, so the
    // idempotent lookup runs BEFORE the charset require. New stagings
    // still refuse.
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "w7", topics = 1, numMessages = 200) // v0
    ProduceJob.personProjection(spark.range(200, 300).toDF("cnt"), "cnt", "w7", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "w7"))
    val sv = Snapshots.commitStaged(root, "w7", 299, audit = "legacy-tmp")
    // rewrite the landed manifest to the pre-guard spelling
    val vf = java.nio.file.Paths.get(s"$root/w7._log/v${"%05d".format(sv)}.json")
    Files.writeString(vf, Files.readString(vf)
      .replace("\"audit\": \"legacy-tmp\"", "\"audit\": \"legacy id (v2)\""))
    // re-ack is idempotent (no refusal, no second staged commit) …
    assert(Snapshots.commitStaged(root, "w7", 299, audit = "legacy id (v2)") == sv)
    // … and the legacy id publishes
    Snapshots.publish(root, "w7", "legacy id (v2)")
    assert(Snapshots.read(spark, root, "w7").count() == 300)
    // a NEW staging under an unsafe id still refuses at the gate
    intercept[IllegalArgumentException] {
      Snapshots.commitStaged(root, "w7", 299, audit = "brand new (v3)")
    }
  }

  test("write-audit-publish: a commit landing mid-audit is preserved") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "w2", topics = 1, numMessages = 300) // v0
    ProduceJob.personProjection(spark.range(300, 500).toDF("cnt"), "cnt", "w2", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "w2"))
    Snapshots.commitStaged(root, "w2", 499, audit = "a2")
    // an independent append publishes DURING the audit (allocating past
    // the staged version file — the nextVersion discipline)
    ProduceJob.produceBatch(spark, root, "w2", topics = 1, numMessages = 100)
    assert(Snapshots.read(spark, root, "w2").count() == 400) // 300 + 100
    // publish merges the staged DELTA onto the moved head
    Snapshots.publish(root, "w2", "a2")
    assert(Snapshots.read(spark, root, "w2").count() == 600) // 300 + 100 + 200
  }

  test("abandoned staged commits never publish and never surface") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "w3", topics = 1, numMessages = 200) // v0
    ProduceJob.personProjection(spark.range(200, 260).toDF("cnt"), "cnt", "w3", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "w3"))
    Snapshots.commitStaged(root, "w3", 259, audit = "bad-batch")
    // audit fails → nothing more happens; later commits build on v0
    // and never adopt the staged files
    ProduceJob.produceBatch(spark, root, "w3", topics = 1, numMessages = 50)
    assert(Snapshots.read(spark, root, "w3").count() == 250)
    assert(Snapshots.readChanges(spark, root, "w3", fromVersion = 0).count() == 50)
    intercept[RuntimeException] {
      Snapshots.publish(root, "w3", "no-such-audit")
    }
    // dropStaged retires the failed batch's manifest; the next vacuum
    // reclaims its now-orphaned files, and the published table is
    // untouched
    Snapshots.dropStaged(root, "w3", "bad-batch")
    assert(Snapshots.stagedVersion(root, "w3", "bad-batch").isEmpty)
    Snapshots.vacuum(root, "w3", keepFrom = 0, orphanGraceMs = 0)
    assert(Snapshots.read(spark, root, "w3").count() == 250)
    // the staged batch's rows are really gone from disk, not just hidden
    assert(spark.read.parquet(graft.ingest.Topics.tableDir(root, "w3")).count() == 250)
    intercept[RuntimeException] { Snapshots.dropStaged(root, "w3", "bad-batch") }
  }

  test("dropStaged removes the staged CHECKPOINT too; the reallocated version resolves to the new commit") {
    val root = tempDir("graft_snap").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 2
    try {
      ProduceJob.produceBatch(spark, root, "w5", topics = 1, numMessages = 100) // v0
      ProduceJob.produceBatch(spark, root, "w5", topics = 1, numMessages = 100) // v1
      // stage at v2 — a checkpoint-interval version, so the staged
      // commit writes v00002.ckpt.json alongside its manifest
      ProduceJob.personProjection(spark.range(200, 300).toDF("cnt"), "cnt", "w5", 1)
        .write.mode("append").partitionBy("topic")
        .parquet(graft.ingest.Topics.tableDir(root, "w5"))
      val sv = Snapshots.commitStaged(root, "w5", 299, audit = "abandon")
      assert(sv == 2)
      val ckpt = java.nio.file.Paths.get(s"$root/w5._log/v00002.ckpt.json")
      assert(Files.isRegularFile(ckpt))
      Snapshots.dropStaged(root, "w5", "abandon")
      // the checkpoint died with the manifest — otherwise nextVersion
      // reallocates 2, writeCheckpoint keeps the stale file, and
      // resolveSnapshot prefers it: readers would silently see the
      // ABANDONED staged file set instead of the new commit
      assert(!Files.exists(ckpt))
      Snapshots.vacuum(root, "w5", keepFrom = 0, orphanGraceMs = 0)
      ProduceJob.produceBatch(spark, root, "w5", topics = 1, numMessages = 50) // v2 reused
      assert(Snapshots.snapshot(root, "w5").get.version == 2)
      assert(Snapshots.read(spark, root, "w5").count() == 250)
    } finally Snapshots.checkpointInterval = iv
  }

  test("a stale checkpoint at a reallocated version is replaced, never trusted (crashed dropStaged)") {
    val root = tempDir("graft_snap").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 2
    try {
      ProduceJob.produceBatch(spark, root, "w6", topics = 1, numMessages = 100) // v0
      ProduceJob.produceBatch(spark, root, "w6", topics = 1, numMessages = 100) // v1
      ProduceJob.personProjection(spark.range(200, 300).toDF("cnt"), "cnt", "w6", 1)
        .write.mode("append").partitionBy("topic")
        .parquet(graft.ingest.Topics.tableDir(root, "w6"))
      Snapshots.commitStaged(root, "w6", 299, audit = "crashy")
      // simulate a dropStaged that died between its two deletes: the
      // manifest is gone, the checkpoint survives as an orphan
      Files.delete(java.nio.file.Paths.get(s"$root/w6._log/v00002.json"))
      Snapshots.vacuum(root, "w6", keepFrom = 0, orphanGraceMs = 0)
      // the next commit reallocates v2; its checkpoint write collides
      // with the orphan, detects the differing file set, and REPLACES
      // it — readers resolve the new commit, not the abandoned batch
      ProduceJob.produceBatch(spark, root, "w6", topics = 1, numMessages = 50)
      assert(Snapshots.snapshot(root, "w6").get.version == 2)
      assert(Snapshots.read(spark, root, "w6").count() == 250)
    } finally Snapshots.checkpointInterval = iv
  }

  test("dropStaged refuses to drop a published audit") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "w4", topics = 1, numMessages = 100)
    ProduceJob.personProjection(spark.range(100, 150).toDF("cnt"), "cnt", "w4", 1)
      .write.mode("append").partitionBy("topic")
      .parquet(graft.ingest.Topics.tableDir(root, "w4"))
    Snapshots.commitStaged(root, "w4", 149, audit = "ok")
    Snapshots.publish(root, "w4", "ok")
    intercept[IllegalArgumentException] { Snapshots.dropStaged(root, "w4", "ok") }
    assert(Snapshots.read(spark, root, "w4").count() == 150)
  }

  test("tags are immutable named refs resolving through later history") {
    val root = tempDir("graft_snap").toString
    ProduceJob.produceBatch(spark, root, "t1", topics = 1, numMessages = 100) // v0
    Snapshots.tag(root, "t1", "release-1", 0)
    ProduceJob.produceBatch(spark, root, "t1", topics = 1, numMessages = 900) // v1
    assert(Snapshots.resolveTag(root, "t1", "release-1").contains(0))
    assert(Snapshots.readTag(spark, root, "t1", "release-1").count() == 100)
    assert(Snapshots.read(spark, root, "t1").count() == 1000)
    // re-tagging an existing name fails loudly (immutability)
    intercept[Exception] { Snapshots.tag(root, "t1", "release-1", 1) }
    // tagging an uncommitted version is refused
    intercept[IllegalArgumentException] { Snapshots.tag(root, "t1", "v9", 9) }
    assert(Snapshots.resolveTag(root, "t1", "nope").isEmpty)
  }

  test("partition-layout evolution: stats pruning bites on both generations") {
    val root = tempDir("graft_snap").toString
    def gen(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("ba"), expr("id % 32").as("x"),
        expr("(id DIV 32) % 32").as("y"))
    gen(0, 1024).repartitionByRange(4, col("x")).sortWithinPartitions("x")
      .write.parquet(graft.ingest.Topics.tableDir(root, "pe"))
    Snapshots.commit(root, "pe", 1023) // generation A: x-clustered
    gen(1024, 2048).repartitionByRange(4, col("y")).sortWithinPartitions("y")
      .write.mode("append").parquet(graft.ingest.Topics.tableDir(root, "pe"))
    Snapshots.commit(root, "pe", 2047) // generation B: y-clustered
    val total = Snapshots.snapshot(root, "pe").get.files.size
    assert(total == 8)
    // an x-range predicate skips most x-clustered files but must keep
    // every y-clustered file (their x spans are wide): strictly fewer
    // than all, at least the 4 B-generation files + 1 A file
    val xFiles = prunedFiles(root, "pe", Snapshots.StatRange.longRange("x", 0, 3))
    assert(xFiles.size < total && xFiles.size >= 5,
      s"x-prune kept ${xFiles.size} of $total")
    val yFiles = prunedFiles(root, "pe", Snapshots.StatRange.longRange("y", 0, 3))
    assert(yFiles.size < total && yFiles.size >= 5,
      s"y-prune kept ${yFiles.size} of $total")
    // pruning narrows IO, never semantics — equal to the full scan
    val viaPrune = Snapshots.readWhere(spark, root, "pe", col("x").between(0L, 3L))
      .agg(sum("ba")).collect()(0).getLong(0)
    val viaScan = Snapshots.read(spark, root, "pe")
      .filter(col("x") >= 0 && col("x") <= 3)
      .agg(sum("ba")).collect()(0).getLong(0)
    assert(viaPrune == viaScan)
  }

  test("updateWhere commits its SET over the pre-image to the table and the change feed") {
    // the expectation is computed independently of updateWhere: the
    // same assignments as a plain select(when(pred, …)) over a
    // time-travel read of the pre-image
    val root = tempDir("graft_updpath").toString
    ProduceJob.produceBatch(spark, root, "u", topics = 1, numMessages = 200)
    val pred = col("ba") % 3 === 0 && col("ba") < 100
    val sets = Map("name" -> concat(lit("u"), col("ba")), "age" -> (col("age") + 1))
    val v = Snapshots.updateWhere(spark, root, "u", pred, sets.toSeq)
    val pre = Snapshots.read(spark, root, "u", Some(v - 1))
    val cols = pre.columns.toSeq
    val expected = pre.withColumn("_hit", coalesce(pred, lit(false))).select(cols.map { c =>
      sets.get(c).fold(col(c))(e =>
        when(col("_hit"), e.cast(pre.schema(c).dataType)).otherwise(col(c)).as(c))
    } :+ col("_hit"): _*)
    def rows(df: DataFrame): Seq[String] =
      df.select(cols.map(col): _*).orderBy("ba").collect().toSeq.map(_.toString)
    assert(rows(Snapshots.read(spark, root, "u")) == rows(expected))
    val feed = Snapshots.readChangeFeed(spark, root, "u", fromVersion = v - 1)
    def images(t: String) = rows(feed.filter(col("_change_type") === t))
    assert(images("update_preimage") == rows(pre.filter(pred)))
    assert(images("update_postimage") == rows(expected.filter(col("_hit"))))
    assert(feed.filter(!col("_change_type").isin("update_preimage", "update_postimage")).isEmpty)
    // the update must have actually updated something
    assert(images("update_postimage").nonEmpty)
  }

  test("sizedForWrite bounds the shrink under row-exploding projections") {
    // r14 verdict hazard: the writer's size estimate does not model
    // per-row expression cost, and coalesce() shrinks the whole
    // upstream stage — a tiny scan feeding a Generate (explode) must
    // NOT collapse to one task. The shrink floors at cur/8 when the
    // plan carries opaque/row-exploding work.
    val root = tempDir("graft_szbound").toString
    val exploding = spark.range(0, 1000, 1, 32).toDF("ba")
      .select(col("ba"), explode(array(lit(1), lit(2))).as("x"))
    Snapshots.appendBatch(spark, root, "sz", exploding)
    val snap = Snapshots.snapshot(root, "sz", None).get
    assert(snap.files.size >= 4,
      s"exploding write collapsed to ${snap.files.size} file(s) — min parallelism lost")
    // same scale without opaque work: the small-files shrink stays
    val plain = spark.range(0, 1000, 1, 32).toDF("ba")
      .select(col("ba"), lit(1).as("x"))
    Snapshots.appendBatch(spark, root, "sz2", plain)
    assert(Snapshots.snapshot(root, "sz2", None).get.files.size == 1)
  }
}
