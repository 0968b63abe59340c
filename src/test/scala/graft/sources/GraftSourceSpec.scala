package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, GreaterThanOrEqual, LessThanOrEqual, TableScan}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkTestBase
import graft.ingest.{ProduceJob, Snapshots}

/** The DataSource V2 surface over the snapshot layer: format("graft")
  * and SQL-on-path reads must agree with the Snapshots API bit for
  * bit, push filters/columns down, prune the manifest file list
  * driver-side, time-travel via options, and honor deletion vectors. */
class GraftSourceSpec extends SparkTestBase {

  private lazy val root: String = {
    val dir = new java.io.File("/tmp/graft/dsv2_spec_v1")
    if (!dir.isDirectory) {
      val tmp = new java.io.File(dir.getParent,
        dir.getName + ".tmp." + java.util.UUID.randomUUID().toString.take(8))
      tmp.mkdirs()
      // v0: ba 0..7999 (several files with disjoint ba spans — range
      // partitions are contiguous), v1: MoR delete of ba % 100 == 0
      withMultiFileWrites {
        ProduceJob.produceBatch(spark, tmp.getAbsolutePath, "t", topics = 1,
          numMessages = 8000)
      }
      Snapshots.deleteMoR(spark, tmp.getAbsolutePath, "t",
        col("ba") % 100 === 0, txn = Some("dsv2spec"))
      if (!tmp.renameTo(dir)) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(tmp)
      }
    }
    dir.getAbsolutePath
  }

  private def load() = spark.read.format("graft").load(s"$root/t")

  test("full read equals the Snapshots API (DV anti-join included)") {
    val viaSource = load().agg(count(lit(1)), sum("ba")).collect()(0)
    val viaApi = Snapshots.read(spark, root, "t")
      .agg(count(lit(1)), sum("ba")).collect()(0)
    assert(viaSource == viaApi)
    // 8000 minus the 80 MoR-deleted rows
    assert(viaSource.getLong(0) == 7920L)
  }

  test("filters are pushed and survive as residuals (exact results)") {
    val df = load().filter(col("ba") >= 1000L && col("ba") <= 1999L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(ba,1000)"), plan.take(3000))
    val r = df.agg(count(lit(1)), sum("ba")).collect()(0)
    // 1000..1999 minus the 10 deleted multiples of 100
    assert(r.getLong(0) == 990L)
    assert(r.getLong(1) == (1000L to 1999L).sum - (1000L to 1900L by 100).sum)
  }

  test("column pruning reaches the scan") {
    val df = load().select("ba").filter(col("ba") < 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<ba:bigint>"), plan.take(3000))
    assert(df.count() == 9) // 0 is MoR-deleted
  }

  test("pushed ranges prune the manifest file list driver-side") {
    val schema = load().schema
    val b = new GraftScanBuilder(root, "t", None, schema)
    b.pushFilters(Array(GreaterThanOrEqual("ba", 1000L),
      LessThanOrEqual("ba", 1999L)))
    val scan = b.build().asInstanceOf[GraftScan]
    val total = Snapshots.snapshot(root, "t", None).get.files.length
    val kept = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(scan.description()).get
    assert(kept.group(2).toInt == total)
    assert(kept.group(1).toInt < total,
      s"no file pruned: ${scan.description()} (need >1 file spans)")
  }

  test("time travel via option(version) sees the pre-delete snapshot") {
    val v0 = spark.read.format("graft").option("version", "0").load(s"$root/t")
    assert(v0.count() == 8000L)
  }

  test("CREATE TABLE ... USING graft makes the table plain SQL") {
    spark.sql("DROP TABLE IF EXISTS dsv2_spec_t")
    spark.sql(
      s"CREATE TABLE dsv2_spec_t USING graft OPTIONS (path '$root/t')")
    val n = spark.sql("SELECT count(*) AS n FROM dsv2_spec_t")
      .collect()(0).getLong(0)
    assert(n == 7920L)
    val pushed = spark.sql(
      "SELECT sum(ba) AS s FROM dsv2_spec_t WHERE ba BETWEEN 1000 AND 1999")
    assert(pushed.queryExecution.executedPlan.toString
      .contains("GreaterThanOrEqual(ba,1000)"))
    assert(pushed.collect()(0).getLong(0) ==
      (1000L to 1999L).sum - (1000L to 1900L by 100).sum)
    spark.sql("DROP TABLE dsv2_spec_t")
  }

  test("explicit prefix option splits root and table") {
    val df = spark.read.format("graft").option("prefix", "t").load(root)
    assert(df.count() == 7920L)
  }

  test("DSv2 append commits a new snapshot; old version still readable") {
    // private copy so the append can't disturb the shared read fixture
    val wroot = tempDir("dsv2_write").toString
    ProduceJob.produceBatch(spark, wroot, "w", topics = 1, numMessages = 100)
    val before = Snapshots.snapshot(wroot, "w", None).get
    val extra = spark.read.format("graft").load(s"$wroot/w")
      .filter(col("ba") < 10)
      .withColumn("ba", col("ba") + 1000L)
    extra.write.format("graft").mode("append").save(s"$wroot/w")
    val after = Snapshots.snapshot(wroot, "w", None).get
    assert(after.version == before.version + 1)
    assert(spark.read.format("graft").load(s"$wroot/w").count() == 110)
    // exactly the appended keys arrived
    assert(spark.read.format("graft").load(s"$wroot/w")
      .filter(col("ba") >= 1000).count() == 10)
    // time travel still sees the pre-append state
    assert(spark.read.format("graft").option("version", before.version.toString)
      .load(s"$wroot/w").count() == 100)
    // partition layout preserved: no parquet files directly at the root
    // of a topic-partitioned table
    val dataDir = new java.io.File(s"$wroot/w")
    assert(!dataDir.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")))
    // mode("overwrite") is a real replace now (round-8 continuation),
    // not a refusal: the table becomes exactly the written frame
    extra.write.format("graft").mode("overwrite").save(s"$wroot/w")
    assert(spark.read.format("graft").load(s"$wroot/w").count() == 10)
    assert(Snapshots.snapshot(wroot, "w", None).get.op == "overwrite")
  }

  test("CREATE TABLE with explicit schema on an empty path, then INSERT INTO") {
    val croot = tempDir("dsv2_create").toString
    spark.sql("DROP TABLE IF EXISTS dsv2_create_t")
    // no data, no snapshot log — the schema comes from the DDL
    spark.sql(s"CREATE TABLE dsv2_create_t (k BIGINT, v STRING) " +
      s"USING graft OPTIONS (path '$croot/c')")
    // an empty created table reads as zero rows, not an error
    assert(spark.sql("SELECT * FROM dsv2_create_t").count() == 0L)
    spark.sql("INSERT INTO dsv2_create_t " +
      "SELECT id AS k, concat('r', id) AS v FROM range(0, 100)")
    assert(spark.sql("SELECT count(*) FROM dsv2_create_t")
      .collect()(0).getLong(0) == 100L)
    // the insert committed snapshot v0; a second insert commits v1 and
    // version-pinned reads see each state
    spark.sql("INSERT INTO dsv2_create_t " +
      "SELECT id AS k, concat('s', id) AS v FROM range(0, 50)")
    assert(Snapshots.snapshot(croot, "c", None).get.version == 1)
    assert(spark.read.format("graft").option("version", "0")
      .load(s"$croot/c").count() == 100L)
    assert(spark.sql("SELECT sum(k) FROM dsv2_create_t")
      .collect()(0).getLong(0) == (0L until 100L).sum + (0L until 50L).sum)
    spark.sql("DROP TABLE dsv2_create_t")
  }

  test("COUNT(*) answers from manifest metadata; filters and DVs fall back") {
    val croot = tempDir("dsv2_count").toString
    ProduceJob.produceBatch(spark, croot, "n", topics = 1, numMessages = 1234)
    def counted() = spark.read.format("graft").load(s"$croot/n")
      .agg(count(lit(1)))
    val df = counted()
    assert(df.queryExecution.executedPlan.toString.contains("GraftCountRelation"),
      df.queryExecution.executedPlan.toString.take(3000))
    assert(df.collect()(0).getLong(0) == 1234L)
    // metadata-only, literally: hide every data file — the count still
    // answers because no file is ever opened
    def dataFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq.empty)
        else Seq(f)
      walk(new java.io.File(graft.ingest.Topics.tableDir(croot, "n")))
        .filter(_.getName.endsWith(".parquet"))
    }
    // (the frame is built first: load() infers the schema from a data
    // file footer; pushdown + count resolution run at collect() time,
    // when only the manifest remains visible)
    val hiddenCounted = counted()
    val files = dataFiles()
    files.foreach(f => assert(f.renameTo(new java.io.File(f.getPath + ".hid"))))
    try assert(hiddenCounted.collect()(0).getLong(0) == 1234L)
    finally files.foreach(f =>
      assert(new java.io.File(f.getPath + ".hid").renameTo(f)))
    // MIN/MAX of an INT64 column ride the same metadata scan ("L"
    // stats are raw values); a non-long column declines
    val mm = spark.read.format("graft").load(s"$croot/n")
      .agg(count(lit(1)), min("ba"), max("ba"))
    assert(mm.queryExecution.executedPlan.toString.contains("GraftCountRelation"),
      mm.queryExecution.executedPlan.toString.take(3000))
    val mmr = mm.collect()(0)
    assert(mmr.getLong(0) == 1234L && mmr.getLong(1) == 0L &&
      mmr.getLong(2) == 1233L)
    val strMin = spark.read.format("graft").load(s"$croot/n")
      .agg(min("name"))
    assert(!strMin.queryExecution.executedPlan.toString.contains("GraftCountRelation"))
    // a FILTERED count must read rows — correct result, no count scan
    val filtered = spark.read.format("graft").load(s"$croot/n")
      .filter(col("ba") < 100L).agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString.contains("GraftCountRelation"))
    assert(filtered.collect()(0).getLong(0) == 100L)
    // MoR delete activates deletion vectors → metadata count would
    // over-count → pushdown declines, scan path returns the true count
    Snapshots.deleteMoR(spark, croot, "n", col("ba") % 10 === 0)
    val afterDv = counted()
    assert(!afterDv.queryExecution.executedPlan.toString.contains("GraftCountRelation"))
    assert(afterDv.collect()(0).getLong(0) == 1234L - 124L)
  }

  test("bare LIMIT prunes the file list to a covering prefix") {
    val lroot = tempDir("dsv2_limit").toString
    withMultiFileWrites {
      ProduceJob.produceBatch(spark, lroot, "l", topics = 1, numMessages = 8000)
    }
    val schema = spark.read.format("graft").load(s"$lroot/l").schema
    val total = Snapshots.snapshot(lroot, "l", None).get.files.length
    assert(total > 1, s"need a multi-file table, got $total file(s)")
    // builder-level: pushLimit cuts the file list
    val b = new GraftScanBuilder(lroot, "l", None, schema)
    assert(b.pushLimit(5))
    val scan = b.build().asInstanceOf[GraftScan]
    val kept = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(scan.description()).get
    assert(kept.group(1).toInt < total, scan.description())
    // end-to-end: the limited read returns exactly n rows
    assert(spark.read.format("graft").load(s"$lroot/l")
      .limit(3).collect().length == 3)
    // a MoR delete deactivates the cut (counts no longer provable) but
    // the limited read stays exact
    Snapshots.deleteMoR(spark, lroot, "l", col("ba") < 7995L)
    val b2 = new GraftScanBuilder(lroot, "l", None, schema)
    assert(!b2.pushLimit(5))
    assert(spark.read.format("graft").load(s"$lroot/l")
      .limit(4).collect().length == 4) // only 5 rows survive the delete
  }

  test("a built scan reads the snapshot it pinned, deletion vectors included") {
    val proot = tempDir("dsv2_pin").toString
    ProduceJob.produceBatch(spark, proot, "p", topics = 1, numMessages = 100) // v0: file A
    ProduceJob.produceBatch(spark, proot, "p", topics = 1, numMessages = 100) // v1: file B
    Snapshots.deleteMoR(spark, proot, "p", col("ba") < 10L) // v2: 180 rows
    val schema = spark.read.format("graft").load(s"$proot/p").schema
    val scan = new GraftTable(proot, "p", None, schema)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().asInstanceOf[GraftScan]
    assert(scan.description().contains("files=2/2"), scan.description())
    Snapshots.restore(proot, "p", 0) // v3: file A alone, no deletion vector
    val rows = scan.toV1TableScan[BaseRelation with TableScan](spark.sqlContext).buildScan().count()
    assert(rows == 180L, s"the scan pinned v2 (180 rows) but read $rows")
    // a new read plans against the new head
    assert(spark.read.format("graft").load(s"$proot/p").count() == 100L)
  }

  test("backfillStats retrofits pre-R tables onto the metadata-count path") {
    val broot = tempDir("dsv2_restat").toString
    ProduceJob.produceBatch(spark, broot, "b", topics = 1, numMessages = 777)
    // simulate a table committed before row-count stats existed:
    // re-commit the same state with every "R" stat stripped
    val s0 = Snapshots.snapshot(broot, "b", None).get
    Snapshots.writeSnapshot(broot, "b", s0.version + 1, s0.maxPos, s0.files,
      Seq.empty, "append", s0.txns, s0.stats.filterNot(_.typ == "R"))
    assert(Snapshots.snapshot(broot, "b").flatMap(Snapshots.metadataRowCount).isEmpty)
    val noPush = spark.read.format("graft").load(s"$broot/b").agg(count(lit(1)))
    assert(!noPush.queryExecution.executedPlan.toString.contains("GraftCountRelation"))
    assert(noPush.collect()(0).getLong(0) == 777L)
    // one restat commit — no data rewritten — and the pushdown returns
    val v = Snapshots.backfillStats(broot, "b")
    assert(v == s0.version + 2)
    assert(Snapshots.backfillStats(broot, "b") == v) // idempotent no-op
    assert(Snapshots.snapshot(broot, "b").flatMap(Snapshots.metadataRowCount).contains(777L))
    val pushed = spark.read.format("graft").load(s"$broot/b").agg(count(lit(1)))
    assert(pushed.queryExecution.executedPlan.toString.contains("GraftCountRelation"))
    assert(pushed.collect()(0).getLong(0) == 777L)
  }

  test("scan statistics: pruned size lets the planner broadcast the table") {
    val dim = spark.read.format("graft").load(s"$root/t")
      .filter(col("ba") >= 1000L && col("ba") <= 1019L)
      .select(col("ba"))
    val fact = spark.range(0, 100000).select((col("id") % 8000L).as("ba"),
      col("id").as("x"))
    val plan = fact.join(dim, "ba").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("INSERT OVERWRITE replaces the table in one commit; old versions stay readable") {
    val dir = tempDir("graft_dsv2_ow").toString
    ProduceJob.produceBatch(spark, dir, "ow", topics = 1, numMessages = 1000) // v0: ba 0..999
    val t = s"$dir/ow"
    // overwrite with a transformed subset of itself through the DSv2 writer
    spark.read.format("graft").load(t)
      .filter(col("ba") < 100L)
      .write.format("graft").mode("overwrite").save(t)
    // latest = replaced content only
    val latest = spark.read.format("graft").load(t)
    assert(latest.count() == 100L)
    assert(latest.agg(max("ba")).collect()(0).getLong(0) == 99L)
    // exactly one new version; v0 is intact under time travel
    assert(Snapshots.versions(dir, "ow") == Seq(0, 1))
    assert(spark.read.format("graft").option("version", "0").load(t)
      .count() == 1000L)
    // the replace is ONE snapshot: files = new set, removed = old set
    val snap = Snapshots.snapshot(dir, "ow").get
    assert(snap.op == "overwrite" && snap.removed.nonEmpty && snap.dv.isEmpty)
    // fresh stats make the metadata COUNT(*) path live immediately
    assert(Snapshots.snapshot(dir, "ow").flatMap(Snapshots.metadataRowCount).contains(100L))
    // row-grain change feed: replaced rows as deletes, new rows as inserts
    val feed = Snapshots.readChangeFeed(spark, dir, "ow", fromVersion = 0)
    assert(feed.filter(col("_change_type") === "delete").count() == 1000L)
    assert(feed.filter(col("_change_type") === "insert").count() == 100L)
    // SQL INSERT OVERWRITE through the catalog takes the same path
    val tbl = "graft_ow_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$t')")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT concat('n', id), cast(id AS int), " +
      s"'addr', true, cast(id AS double), id, cast(id AS string), 'ow' " +
      s"FROM range(0, 7)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").collect()(0).getLong(0) == 7L)
    assert(Snapshots.versions(dir, "ow") == Seq(0, 1, 2))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("writeStream.format(graft): micro-batches commit exactly once; Complete mode replaces") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = tempDir("graft_dsv2_sink").toString
    val ckpt = s"$dir/_ckpt"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val q = ms.toDF().withColumnRenamed("value", "k")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .start(s"$dir/s")
    try {
      ms.addData(0L until 100L: _*); q.processAllAvailable()
      ms.addData(100L until 150L: _*); q.processAllAvailable()
      val t = spark.read.format("graft").load(s"$dir/s")
      assert(t.count() == 150L)
      assert(t.agg(sum("k")).collect()(0).getLong(0) == (0L until 150L).sum)
      // one commit per non-empty batch, each carrying its txn id
      val snap = Snapshots.snapshot(dir, "s").get
      assert(snap.txns.count(_.startsWith("gsink-")) == 2)
    } finally q.stop()
    // exactly-once under replay: re-delivering a committed batchId
    // writes nothing (the at-least-once path a crashed checkpoint takes)
    val sink = new GraftStreamSink(dir, "s", appId = "fixed", complete = false,
      partitionCols = Seq.empty)
    val batch = spark.range(1000, 1010).toDF("k")
    sink.addBatch(7L, batch)
    val afterFirst = spark.read.format("graft").load(s"$dir/s").count()
    sink.addBatch(7L, batch) // replay — must be a no-op
    assert(afterFirst == 160L)
    assert(spark.read.format("graft").load(s"$dir/s").count() == 160L)
    assert(Snapshots.versions(dir, "s").size ==
      Snapshots.snapshot(dir, "s").get.version + 1)
    // Complete mode: every batch REPLACES the table (first batch on an
    // empty path is the first commit)
    val cs = new GraftStreamSink(dir, "c", appId = "agg", complete = true,
      partitionCols = Seq.empty)
    cs.addBatch(0L, spark.range(0, 10).toDF("n"))
    cs.addBatch(1L, spark.range(0, 3).toDF("n"))
    val c = spark.read.format("graft").load(s"$dir/c")
    assert(c.count() == 3L)
    assert(Snapshots.snapshot(dir, "c").get.op == "overwrite")
    // pre-replace state is one time travel away
    assert(spark.read.format("graft").option("version", "0").load(s"$dir/c")
      .count() == 10L)
  }

  test("replaceWhere overwrites only the matched region, in one commit") {
    val dir = tempDir("graft_dsv2_rw").toString
    ProduceJob.produceBatch(spark, dir, "rw", topics = 1, numMessages = 1000) // v0: ba 0..999
    val t = s"$dir/rw"
    // region replace through the write option: ba>=900 → 10 new rows
    ProduceJob.personProjection(spark.range(900, 910).toDF("cnt"), "cnt", "rw", 1)
      .write.format("graft").mode("overwrite")
      .option("replaceWhere", "ba >= 900").save(t)
    val latest = spark.read.format("graft").load(t)
    assert(latest.count() == 910L) // 0..899 kept + 900..909 new
    assert(latest.filter(col("ba") >= 900).count() == 10L)
    // ONE merge-on-read commit: DV sidecar, no file rewritten, v0 intact
    val snap = Snapshots.snapshot(dir, "rw").get
    assert(snap.op == "replacewhere" && snap.dv.nonEmpty)
    assert(spark.read.format("graft").option("version", "0").load(t).count() == 1000L)
    // change feed (fromVersion is exclusive): the replaced region as
    // deletes, the new rows as inserts
    val feed = Snapshots.readChangeFeed(spark, dir, "rw", fromVersion = 0)
    assert(feed.filter(col("_change_type") === "delete").count() == 100L)
    assert(feed.filter(col("_change_type") === "insert").count() == 10L)
    // a row OUTSIDE the region is refused, not silently written
    intercept[Exception] {
      ProduceJob.personProjection(spark.range(0, 5).toDF("cnt"), "cnt", "rw", 1)
        .write.format("graft").mode("overwrite")
        .option("replaceWhere", "ba >= 900").save(t)
    }
    // writeTo(...).overwrite(cond): the DataFrameWriterV2 /
    // OverwriteByExpression path routes through SupportsOverwrite
    val tbl = "graft_rw_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$t')")
    ProduceJob.personProjection(spark.range(905, 912).toDF("cnt"), "cnt", "rw", 1)
      .writeTo(tbl).overwrite(col("ba") >= 905)
    assert(spark.table(tbl).count() == 912L) // 0..904 + 905..911
    assert(Snapshots.snapshot(dir, "rw").get.op == "replacewhere")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("readStream.format(graft): commits stream as micro-batches; checkpoint resumes at the next commit") {
    val dir = tempDir("graft_dsv2_src").toString
    ProduceJob.produceBatch(spark, dir, "p", topics = 1, numMessages = 100) // v0: ba 0..99
    Snapshots.appendBatch(spark, dir, "p",
      ProduceJob.personProjection(spark.range(100, 150).toDF("cnt"), "cnt", "p", 1),
      Some("srcv1")) // v1
    val ckpt = s"$dir/_ckpt"
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1")
        .load(s"$dir/p")
        .select(col("ba"))
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$dir/q")
      q.awaitTermination()
    }
    drain()
    // one sink commit per source commit; everything delivered exactly once
    assert(spark.read.format("graft").load(s"$dir/q").count() == 150L)
    assert(Snapshots.versions(dir, "q") == Seq(0, 1))
    // restart with the SAME checkpoint: only commits newer than the
    // checkpointed version offset are delivered
    Snapshots.appendBatch(spark, dir, "p",
      ProduceJob.personProjection(spark.range(150, 160).toDF("cnt"), "cnt", "p", 1),
      Some("srcv2")) // v2
    drain()
    val t = spark.read.format("graft").load(s"$dir/q")
    assert(t.count() == 160L) // no replay of v0/v1
    assert(t.agg(sum("ba")).collect()(0).getLong(0) == (0L until 160L).sum)
    assert(Snapshots.versions(dir, "q") == Seq(0, 1, 2))
    // a pinned version/tag cannot be a stream start: the query refuses
    // when it plans its source
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("version", "0").load(s"$dir/p")
        .writeStream.format("memory").queryName("graft_pinned_src")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("startingVersion")), e)
  }

  test("readChangeFeed option: the CDC feed as a batch relation and as a stream") {
    val dir = tempDir("graft_cdf").toString
    ProduceJob.produceBatch(spark, dir, "c", topics = 1, numMessages = 100) // v0: ba 0..99
    spark.sql(s"DROP TABLE IF EXISTS graft_cdf_spec")
    spark.sql(s"CREATE TABLE graft_cdf_spec USING graft OPTIONS (path '$dir/c')")
    spark.sql(s"DELETE FROM graft_cdf_spec WHERE ba >= 90")              // v1: 10 deletes
    spark.sql(s"UPDATE graft_cdf_spec SET ba = ba + 1000 WHERE ba = 0")  // v2: 1 update
    // batch window: whole history
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true").load(s"$dir/c")
    // Delta's CDF column contract: LONG version + commit timestamp
    assert(feed.columns.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    assert(feed.schema("_commit_version").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(feed.schema("_commit_timestamp").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 100L, "delete" -> 10L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), byType.toString)
    // bounded window [1, 1]: only the delete commit
    val win = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1").load(s"$dir/c")
    assert(win.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    assert(win.count() == 10L)
    // column pruning reaches the CDC scan too
    assert(feed.select("ba").columns.toSeq == Seq("ba"))
    // a pinned version cannot combine with a CDC window
    intercept[Exception] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("version", "0").load(s"$dir/c").collect()
    }
    // streaming CDC: row-grain deletes RIDE THE STREAM (the file-grain
    // default delivers appends only)
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .load(s"$dir/c")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.groupBy("_change_type").count().collect()
          .map(r => (r.getString(0), r.getLong(1)))
        got.synchronized { got ++= rows }
        ()
      }
      .option("checkpointLocation", s"$dir/_cdc_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = got.synchronized(got.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap)
    assert(streamed == Map("insert" -> 100L, "delete" -> 10L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), streamed.toString)
    spark.sql("DROP TABLE graft_cdf_spec")
  }

  test("a bounded CDC window / stream batch never touches files outside its commits") {
    val dir = tempDir("graft_cdfw").toString
    // three plain appends (produceBatch would add internal
    // produce/compact versions and shift the window)
    Snapshots.appendBatch(spark, dir, "w",
      ProduceJob.personProjection(spark.range(0, 100).toDF("cnt"), "cnt", "w", 1),
      Some("cdfw0")) // v0
    val v0Files = Snapshots.snapshot(dir, "w").get.files
    Snapshots.appendBatch(spark, dir, "w",
      ProduceJob.personProjection(spark.range(100, 150).toDF("cnt"), "cnt", "w", 1),
      Some("cdfw1")) // v1
    Snapshots.appendBatch(spark, dir, "w",
      ProduceJob.personProjection(spark.range(150, 170).toDF("cnt"), "cnt", "w", 1),
      Some("cdfw2")) // v2
    assert(Snapshots.versions(dir, "w") == Seq(0, 1, 2))
    // make v0's bytes UNREADABLE: if any plan outside the window
    // touched them, it would fail loudly instead of proving the point.
    // One exception is honest: schema resolution samples ONE footer per
    // (epoch group x partition dir) — the lexicographic min — an
    // O(metadata) cost that may land on a v0 file; keep exactly that
    // representative readable and hide every other v0 byte
    val rep = Snapshots.snapshot(dir, "w").get.files.min
    val hidden = v0Files.filterNot(_ == rep)
    hidden.foreach { f =>
      val p = java.nio.file.Paths.get(s"$dir/w/$f")
      java.nio.file.Files.move(p,
        p.resolveSibling(p.getFileName.toString + ".hidden"))
    }
    // batch CDC window [1, 2]: only those commits' files open
    val win = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "2").load(s"$dir/w")
    assert(win.count() == 70L)
    // streaming from startingVersion=1: same discipline
    val got = new java.util.concurrent.atomic.AtomicLong()
    val q = spark.readStream.format("graft").option("startingVersion", "1")
      .load(s"$dir/w")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.addAndGet(df.count()); ()
      }
      .option("checkpointLocation", s"$dir/_wckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.get() == 70L)
    // restore for hygiene
    hidden.foreach { f =>
      val p = java.nio.file.Paths.get(s"$dir/w/$f.hidden")
      java.nio.file.Files.move(p,
        p.resolveSibling(p.getFileName.toString.stripSuffix(".hidden")))
    }
  }

  test("mergeSchema: appends evolve new columns, null-fill missing, refuse type changes") {
    val dir = tempDir("graft_ms").toString
    spark.sql(s"DROP TABLE IF EXISTS ms_spec")
    spark.sql(s"CREATE TABLE ms_spec (id BIGINT, v STRING) USING graft OPTIONS (path '$dir/t')")
    spark.sql("INSERT INTO ms_spec SELECT id, 'x' FROM range(0, 10)")
    // a mismatched frame WITHOUT the option is refused (no silent drift)
    intercept[Exception] {
      spark.range(10, 20).selectExpr("id", "'y' AS v", "id * 2 AS extra")
        .write.format("graft").mode("append").save(s"$dir/t")
    }
    // with mergeSchema: one metadata-only addColumn commit + the append
    spark.range(10, 20).selectExpr("id", "'y' AS v", "id * 2 AS extra")
      .write.format("graft").mode("append").option("mergeSchema", "true")
      .save(s"$dir/t")
    val t = spark.read.format("graft").load(s"$dir/t")
    assert(t.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    val r = t.agg(count(lit(1)), sum("extra"),
      count(when(col("extra").isNull, 1))).head()
    assert(r.toSeq == Seq(20L, (10L until 20L).map(_ * 2).sum, 10L))
    // a frame MISSING table columns null-fills them
    spark.range(20, 25).selectExpr("id")
      .write.format("graft").mode("append").option("mergeSchema", "true")
      .save(s"$dir/t")
    val r2 = spark.read.format("graft").load(s"$dir/t")
      .agg(count(lit(1)), count(when(col("v").isNull, 1))).head()
    assert(r2.toSeq == Seq(25L, 5L))
    // evolution adds columns, it never rewrites types
    val e = intercept[Exception] {
      spark.range(0, 1).selectExpr("id", "1.5 AS v")
        .write.format("graft").mode("append").option("mergeSchema", "true")
        .save(s"$dir/t")
    }
    def causes(t2: Throwable): Seq[Throwable] =
      if (t2 == null) Seq.empty else t2 +: causes(t2.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(
      _.contains("mergeSchema cannot change column"))), e.toString)
    spark.sql("DROP TABLE ms_spec")
  }

  test("txnAppId/txnVersion make writes idempotent across retries") {
    val dir = tempDir("graft_txn").toString
    ProduceJob.produceBatch(spark, dir, "w", topics = 1, numMessages = 100) // v0
    def append(ver: String): Unit =
      spark.read.format("graft").load(s"$dir/w").limit(10)
        .write.format("graft").mode("append")
        .option("txnAppId", "backfill").option("txnVersion", ver)
        .save(s"$dir/w")
    append("1")
    assert(spark.read.format("graft").load(s"$dir/w").count() == 110L)
    append("1") // replay of the same application version: no-op
    assert(spark.read.format("graft").load(s"$dir/w").count() == 110L)
    assert(Snapshots.versions(dir, "w") == Seq(0, 1))
    append("2") // a NEW application version commits
    assert(spark.read.format("graft").load(s"$dir/w").count() == 120L)
  }

  test("txn ids committed under the LEGACY (un-prefixed) encoding still match on replay") {
    val dir = tempDir("graft_txn_legacy").toString
    ProduceJob.produceBatch(spark, dir, "w", topics = 1, numMessages = 100) // v0
    // a pre-round-9 log carries the bare "user-$app-$v" form — plant
    // one the way an old writer would have committed it
    Snapshots.commit(dir, "w", maxPos = 99, txn = Some("user-backfill-7"))
    def append(): Unit =
      spark.read.format("graft").load(s"$dir/w").limit(10)
        .write.format("graft").mode("append")
        .option("txnAppId", "backfill").option("txnVersion", "7")
        .save(s"$dir/w")
    // a writer replaying (backfill, 7) after the encoding upgrade must
    // find its OLD id and no-op — re-applying would duplicate the batch
    append()
    assert(spark.read.format("graft").load(s"$dir/w").count() == 100L)
    // a different version still commits (and under the new encoding)
    spark.read.format("graft").load(s"$dir/w").limit(10)
      .write.format("graft").mode("append")
      .option("txnAppId", "backfill").option("txnVersion", "8")
      .save(s"$dir/w")
    assert(spark.read.format("graft").load(s"$dir/w").count() == 110L)
    assert(Snapshots.snapshot(dir, "w").get.txns.contains("user-8:backfill:8"))
  }

  test("legacy txn match is dash-guarded: a colliding NEW pair still commits") {
    // round-11 advisor: the un-prefixed rendering is ambiguous with a
    // '-' in appId or version — ("a","1-2") renders "user-a-1-2", the
    // SAME string a pre-upgrade ("a-1","2") committed. Without the
    // guard the new pair finds that foreign id and silently no-ops its
    // legitimate FIRST write. Dash-bearing pairs skip the legacy
    // lookup entirely and commit under the unambiguous length-prefixed
    // encoding.
    val dir = tempDir("graft_txn_dash").toString
    ProduceJob.produceBatch(spark, dir, "w", topics = 1, numMessages = 100) // v0
    // the OTHER pair's pre-upgrade commit, as an old writer left it
    Snapshots.commit(dir, "w", maxPos = 99, txn = Some("user-a-1-2"))
    spark.read.format("graft").load(s"$dir/w").limit(10)
      .write.format("graft").mode("append")
      .option("txnAppId", "a").option("txnVersion", "1-2")
      .save(s"$dir/w")
    // the write COMMITTED (not a silent no-op) under the new encoding
    assert(spark.read.format("graft").load(s"$dir/w").count() == 110L)
    assert(Snapshots.snapshot(dir, "w").get.txns.contains("user-1:a:1-2"))
    // and its own replay still no-ops via the new id
    spark.read.format("graft").load(s"$dir/w").limit(10)
      .write.format("graft").mode("append")
      .option("txnAppId", "a").option("txnVersion", "1-2")
      .save(s"$dir/w")
    assert(spark.read.format("graft").load(s"$dir/w").count() == 110L)
  }

  test("unsafe txnAppId/txnVersion refuse loudly before touching the log") {
    // txn ids land verbatim in the manifest's regex-parsed JSON arrays
    // — a '"', '\\', ']' or newline in either option used to corrupt
    // the table's history (round-12 verdict). The writer now refuses
    // at the door, naming the option.
    val dir = tempDir("graft_txn_bad").toString
    ProduceJob.produceBatch(spark, dir, "w", topics = 1, numMessages = 100) // v0
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    def tryWrite(app: String, ver: String): Unit =
      spark.read.format("graft").load(s"$dir/w").limit(10)
        .write.format("graft").mode("append")
        .option("txnAppId", app).option("txnVersion", ver)
        .save(s"$dir/w")
    Seq("a\"b" -> "1", "a]b" -> "1", "a\nb" -> "1", "" -> "1",
        "ok" -> "7\"", "ok" -> "") .foreach { case (app, ver) =>
      val e = intercept[Exception] { tryWrite(app, ver) }
      val msg = causes(e).flatMap(c => Option(c.getMessage)).mkString(" | ")
      assert(msg.contains("txnAppId") || msg.contains("txnVersion"), s"($app,$ver): $msg")
    }
    // no write landed, the log is intact, and a safe pair commits
    assert(Snapshots.versions(dir, "w") == Seq(0))
    assert(spark.read.format("graft").load(s"$dir/w").count() == 100L)
    tryWrite("ok.app", "7")
    assert(spark.read.format("graft").load(s"$dir/w").count() == 110L)
    assert(Snapshots.snapshot(dir, "w").get.txns.contains("user-6:ok.app:7"))
  }

  test("CDC column pruning reaches the change-feed scan") {
    val dir = tempDir("graft_cdfp2").toString
    ProduceJob.produceBatch(spark, dir, "p", topics = 1, numMessages = 50)
    val df = spark.read.format("graft").option("readChangeFeed", "true")
      .load(s"$dir/p").select("ba", "_change_type")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<ba:bigint,_change_type:string>"),
      plan.take(3000))
    assert(df.count() == 50L)
  }

  test("SQL DELETE FROM routes to one merge-on-read commit; untranslatable predicates refuse") {
    val dir = tempDir("graft_dsv2_del").toString
    ProduceJob.produceBatch(spark, dir, "dl", topics = 1, numMessages = 1000) // v0: ba 0..999
    val tbl = "graft_del_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$dir/dl')")
    spark.sql(s"DELETE FROM $tbl WHERE ba >= 900")
    assert(spark.table(tbl).count() == 900L)
    // merge-on-read: DV sidecar, no rewrite, v0 one time travel away
    val snap = Snapshots.snapshot(dir, "dl").get
    assert(snap.op == "deletemor" && snap.dv.nonEmpty)
    assert(spark.read.format("graft").option("version", "0").load(s"$dir/dl")
      .count() == 1000L)
    // a predicate the translator cannot express exactly must refuse
    // loudly — a dropped conjunct would delete the wrong rows
    intercept[Exception](spark.sql(s"DELETE FROM $tbl WHERE ba % 10 = 0"))
    assert(spark.table(tbl).count() == 900L) // nothing happened
    spark.sql(s"DROP TABLE $tbl")
  }

  test("timestampAsOf resolves the version committed at or before the instant") {
    val dir = tempDir("graft_dsv2_tt").toString
    ProduceJob.produceBatch(spark, dir, "tt", topics = 1, numMessages = 100) // v0
    Snapshots.appendBatch(spark, dir, "tt",
      ProduceJob.personProjection(spark.range(100, 150).toDF("cnt"), "cnt", "tt", 1),
      Some("ttv1")) // v1
    // commit time IS the manifest file's mtime — pin both to known
    // instants so the probe timestamps are constants
    import java.nio.file.attribute.FileTime
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/tt._log/v00000.json"), FileTime.fromMillis(1000000L))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/tt._log/v00001.json"), FileTime.fromMillis(2000000L))
    assert(Snapshots.commitTimes(dir, "tt") == Seq(0 -> 1000000L, 1 -> 2000000L))
    assert(Snapshots.resolveTimestamp(dir, "tt", 1500000L).contains(0))
    def rd(ts: String) = spark.read.format("graft")
      .option("timestampAsOf", ts).load(s"$dir/tt")
    assert(rd("1500000").count() == 100L) // between the commits → v0
    assert(rd("2000000").count() == 150L) // exactly at v1 → v1
    // calendar form, UTC: 1970-01-01 00:25:00 = 1,500,000 ms
    assert(rd("1970-01-01 00:25:00").count() == 100L)
    // before the first commit: the table did not exist yet
    intercept[Exception](rd("999999").count())
    // version option still wins over timestampAsOf
    assert(spark.read.format("graft").option("version", "1")
      .option("timestampAsOf", "1500000").load(s"$dir/tt").count() == 150L)
  }

  test("a declared schema that mismatches the data is refused, not misread") {
    // needConversion=false hands Spark raw InternalRows laid out for
    // the REAL types — a silent type drift would misread field
    // offsets, so resolution must fail loudly instead
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .schema("ba INT, name BIGINT") // real: ba BIGINT, name STRING
        .load(s"$root/t")
    }
    assert(e.getMessage.contains("declared schema does not match"))
    // the self-inferred schema path is untouched (and unvalidated —
    // no double inference on the common read)
    assert(load().count() == 7920L)
  }

  test("resolve: URI schemes normalize to plain paths; colons mid-path survive") {
    def res(p: String) = GraftSource.resolve(new CaseInsensitiveStringMap(
      java.util.Map.of("path", p)))
    // the session catalog hands back file: URIs in one- and
    // three-slash forms — both must normalize to the same local path
    assert(res(s"file://$root/t") == ((root, "t", None)))
    assert(res(s"file:$root/t") == ((root, "t", None)))
    // trailing slash tolerated
    assert(res(s"$root/t/") == ((root, "t", None)))
    // a colon INSIDE the path is not a scheme (anchor is ^): the
    // scheme regex must not eat it
    assert(res("/data/ts:2026/t") == (("/data/ts:2026", "t", None)))
  }

  test("resolve: version option wins over tag; bad tag raises") {
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", s"$root/t", "version", "0"))
    assert(GraftSource.resolve(opts) == ((root, "t", Some(0))))
    val bad = new CaseInsensitiveStringMap(
      java.util.Map.of("path", s"$root/t", "tag", "nope"))
    intercept[RuntimeException](GraftSource.resolve(bad))
  }

  test("startingTimestamp/endingTimestamp resolve CDC windows and stream floors by commit time") {
    val dir = tempDir("graft_ts").toString
    ProduceJob.produceBatch(spark, dir, "w", topics = 1, numMessages = 100) // v0
    ProduceJob.produceBatch(spark, dir, "w", topics = 1, numMessages = 50)  // v1
    ProduceJob.produceBatch(spark, dir, "w", topics = 1, numMessages = 25)  // v2
    // pin commit times to known instants (the resolver reads mtimes)
    Seq(0, 1, 2).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(f"$dir/w._log/v$v%05d.json"),
        java.nio.file.attribute.FileTime.fromMillis(1000000L * (v + 1)))
    }
    // CDF window opened at the first commit AT OR AFTER 1.5e6 → v1..v2
    val win = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "1500000").load(s"$dir/w")
    assert(win.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(win.count() == 75)
    // endingTimestamp bounds the window from above: ≤ 2.5e6 → v1 only
    val both = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "1500000")
      .option("endingTimestamp", "2500000").load(s"$dir/w")
    assert(both.count() == 50)
    // an instant past the head refuses loudly instead of starting empty
    intercept[Exception] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingTimestamp", "99999999999999").load(s"$dir/w").collect()
    }
    // stream floor by timestamp: only v1+ replays
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", "1500000").load(s"$dir/w")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got += df.count(); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(got.sum == 75, got.toSeq.toString)
  }

  test("maxFilesPerTrigger / maxBytesPerTrigger pace micro-batches by added files, never stall") {
    val dir = tempDir("graft_adm").toString
    // 3 commits of 4 files each (range default parallelism under the
    // shared session writes 4 splits)
    (0 until 3).foreach { i =>
      ProduceJob.produceBatch(spark, dir, "a", topics = 1, numMessages = 100 + i)
    }
    val perCommit = Snapshots.snapshot(dir, "a", Some(0)).get.files.size
    def run(opts: Map[String, String]): Seq[Long] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = opts.foldLeft(spark.readStream.format("graft")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(s"$dir/a")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got += df.count(); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      got.toSeq
    }
    // file cap below one commit's width: must still advance (one
    // version per batch — a single over-cap commit can never stall)
    val tight = run(Map("maxFilesPerTrigger" -> "1"))
    assert(tight.size == 3 && tight.sum == 100 + 101 + 102, tight.toString)
    // cap of one commit's width: one version per batch
    val exact = run(Map("maxFilesPerTrigger" -> perCommit.toString))
    assert(exact.size == 3 && exact.sum == 303, exact.toString)
    // cap of two commits' width: two batches (2 versions + 1)
    val two = run(Map("maxFilesPerTrigger" -> (2 * perCommit).toString))
    assert(two.size == 2 && two.sum == 303, two.toString)
    // byte cap below one commit's bytes: one version per batch
    val bytes = run(Map("maxBytesPerTrigger" -> "1"))
    assert(bytes.size == 3 && bytes.sum == 303, bytes.toString)
    // no cap: one batch drains everything
    val all = run(Map.empty)
    assert(all.size == 1 && all.sum == 303, all.toString)
  }
}
