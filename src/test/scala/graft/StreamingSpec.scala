package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Q43–Q50 semantics the DuckDB oracle can't replay: batch
  * equivalence of streamed aggregations, watermark late-data drops
  * (A7), dedup-within-watermark under replay (A9), and arbitrary
  * stateful processing. MemoryStream drives multi-batch scenarios
  * deterministically. */
class StreamingSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("q43/q44/q49: streamed results equal their batch equivalents") {
    // conservation
    val streamed = run("q43_stream_conservation").head()
    val batch = Tables.events(spark, sf)
      .agg(count(lit(1)), sum("event_id").cast("bigint")).head()
    assert(streamed.getLong(0) == batch.getLong(0))
    assert(streamed.getLong(1) == batch.getLong(1))
    // tumbling window counts
    val wStream = run("q44_stream_tumbling_window")
      .agg(sum("cnt")).head().getLong(0)
    assert(wStream == batch.getLong(0))
    // stateful per-user counts
    val uStream = run("q49_stream_stateful_agg").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("cnt")).toMap
    val uBatch = Tables.events(spark, sf).groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    assert(uStream == uBatch)
  }

  test("q47 property: late rows behind the watermark are dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long)]
    val agg = ms.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:30:00"), 2L))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      ms.addData((ts("2024-01-01 12:30:00"), 3L))
      q.processAllAvailable()
      // late row for the closed 10:00 window → must be dropped
      ms.addData((ts("2024-01-01 10:05:00"), 4L))
      q.processAllAvailable()
      ms.addData((ts("2024-01-01 14:00:00"), 5L))
      q.processAllAvailable()
      val out = spark.table("wm_test")
        .select(col("window.start").cast("string").as("w"), col("cnt")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out("2024-01-01 10:00:00") == 2L, s"late row leaked into closed window: $out")
    } finally q.stop()
  }

  test("q169 bounded dedup over a doubled stream equals the distinct set") {
    val r = run("q169_stream_dedup_bounded").head()
    val batch = Tables.events(spark, sf).select("event_id").distinct()
      .agg(count(lit(1)), sum("event_id").cast("bigint")).head()
    assert(r.getAs[Long]("cnt") == batch.getLong(0))
    assert(r.getAs[Long]("sum_id") == batch.getLong(1))
  }

  test("q48 property: dropDuplicatesWithinWatermark is exactly-once under replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long)]
    val dedup = ms.toDF().toDF("ts", "id")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:01:00"), 2L))
      q.processAllAvailable()
      // replay the same ids (at-least-once delivery) + one new id
      ms.addData((ts("2024-01-01 10:02:00"), 1L), (ts("2024-01-01 10:03:00"), 2L),
        (ts("2024-01-01 10:04:00"), 3L))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("id").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)), s"got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("q49 flatMapGroupsWithState running count equals batch groupBy") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    val counts = ms.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }
    val q = counts.toDF("user", "n").writeStream
      .format("memory").queryName("state_test")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData((1L, 1.0), (1L, 2.0), (2L, 3.0))
      q.processAllAvailable()
      ms.addData((1L, 4.0), (3L, 5.0))
      q.processAllAvailable()
      // last update per key = final running count
      val finals = spark.table("state_test").groupBy("user")
        .agg(max("n").as("n")).collect()
        .map(r => r.getAs[Long]("user") -> r.getAs[Long]("n")).toMap
      assert(finals == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    } finally q.stop()
  }

  test("transformWithState running stats equal batch aggregation (Spark 4 API)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // transformWithState needs multi-column-family state → RocksDB provider
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(Long, Long)] // (user, cents)
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    val q = out.toDF("user", "n", "cents").writeStream
      .format("memory").queryName("tws_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    try {
      ms.addData((1L, 100L), (1L, 250L), (2L, 50L))
      q.processAllAvailable()
      ms.addData((1L, 50L), (3L, 700L))
      q.processAllAvailable()
      // final running totals per key (last update wins)
      val finals = spark.table("tws_test")
        .groupBy("user").agg(max("n").as("n"), max("cents").as("cents"))
        .collect().map(r => r.getAs[Long]("user") -> ((r.getAs[Long]("n"), r.getAs[Long]("cents")))).toMap
      assert(finals == Map(1L -> ((3L, 400L)), 2L -> ((1L, 50L)), 3L -> ((1L, 700L))))
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("event-time timers close sessions when the watermark passes the gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(Long, Timestamp)] // (user, event time)
    val out = ms.toDS().toDF("user", "etime")
      .withWatermark("etime", "0 seconds")
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.SessionTimeoutProcessor(gapMs = 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    val q = out.toDF("user", "n", "start_ms", "end_ms").writeStream
      .format("memory").queryName("timer_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      def closed() = spark.table("timer_sessions")
        .filter(col("user") =!= 99L).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          new Timestamp(r.getLong(2)), new Timestamp(r.getLong(3)))).toSet

      // open sessions: user 1 (two events 30s apart), user 2 (one event)
      ms.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:10")))
      ms.addData((1L, ts("2024-01-01 00:00:30")))
      q.processAllAvailable()
      assert(closed().isEmpty) // watermark hasn't reached any deadline yet
      // sentinel user 99 drags the watermark far past both deadlines;
      // the watermark computed at the end of this batch drives timer
      // expiry in the NEXT batch, hence two sentinel steps
      ms.addData((99L, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      ms.addData((99L, ts("2024-01-01 00:20:00")))
      q.processAllAvailable()
      assert(closed() == Set(
        (1L, 2L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:30")),
        (2L, 1L, ts("2024-01-01 00:00:10"), ts("2024-01-01 00:00:10"))))
      // a key re-keying AFTER its session closed opens a fresh one:
      // state was cleared by the timer, not merely emitted (the new
      // event must sit ahead of the 00:20 watermark or it's late data)
      ms.addData((1L, ts("2024-01-01 00:25:00")))
      q.processAllAvailable()
      ms.addData((99L, ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      ms.addData((99L, ts("2024-01-01 00:40:00")))
      q.processAllAvailable()
      assert(closed().contains(
        (1L, 1L, ts("2024-01-01 00:25:00"), ts("2024-01-01 00:25:00"))))
      assert(closed().size == 3)
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("cross-batch disorder: admissible earlier events form their own sessions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // two state variables (sessions list + armed timer) → multiple
    // column families → RocksDB provider, like q46b
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(Long, Timestamp)]
    val out = ms.toDS().toDF("user", "etime")
      // 30-minute delay keeps the batch-2 stragglers admissible
      .withWatermark("etime", "30 minutes")
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.SessionTimeoutProcessor(gapMs = 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    val q = out.toDF("user", "n", "start_ms", "end_ms").writeStream
      .format("memory").queryName("disorder_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      def closed() = spark.table("disorder_sessions")
        .filter(col("user") =!= 99L).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          new Timestamp(r.getLong(2)), new Timestamp(r.getLong(3)))).toSet
      // batch 1: two sessions, the first closed BY DATA (20-min gap) —
      // it must NOT emit yet (the watermark hasn't passed its end)
      ms.addData((1L, ts("2024-01-01 00:10:00")), (1L, ts("2024-01-01 00:20:00")))
      q.processAllAvailable()
      assert(closed().isEmpty)
      // batch 2, still admissible under the 30-min delay: an event
      // EARLIER than everything (own session — must not merge backwards
      // into the open one) and one extending the DATA-CLOSED first
      // session (which is why early emission would have been wrong)
      ms.addData((1L, ts("2024-01-01 00:05:00")), (1L, ts("2024-01-01 00:10:30")))
      q.processAllAvailable()
      // sentinels drag the watermark past every deadline (two steps:
      // the watermark computed at batch end fires timers next batch)
      ms.addData((99L, ts("2024-01-01 01:00:00"))); q.processAllAvailable()
      ms.addData((99L, ts("2024-01-01 02:00:00"))); q.processAllAvailable()
      assert(closed() == Set(
        (1L, 1L, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:05:00")),
        (1L, 2L, ts("2024-01-01 00:10:00"), ts("2024-01-01 00:10:30")),
        (1L, 1L, ts("2024-01-01 00:20:00"), ts("2024-01-01 00:20:00"))))
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("q46 session windows merge events within the 30-minute gap") {
    val rows = run("q46_stream_session_window").collect()
    assert(rows.nonEmpty)
    // session count conservation over the cutoff-bounded domain
    // (append mode only aggregates events older than max(ts) − 3h);
    // Tables.events normalizes ts to µs NTZ whatever the fixture's
    // physical type — mirror the query's micros cutoff on that
    val ev = Tables.events(spark, sf)
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
    val maxMicros = ev.agg(max("us")).head().getLong(0)
    val inDomain = ev.filter(col("us") < lit(maxMicros - 3L * 3600 * 1000000L)).count()
    val total = rows.map(_.getAs[Long]("cnt")).sum
    assert(total == inDomain)
  }

  test("q46b timer sessions agree with q46's session-window bounds") {
    val a = run("q46_stream_session_window").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cnt"))).sorted
    val b = run("q46b_session_timers").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cnt"))).sorted
    assert(a.toSeq == b.toSeq) // two independent sessionizations, same sessions
  }

  test("funnel processor: cross-batch disorder folds in event-time order, emits once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorOpt = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(Long, Int, Timestamp)]
    val out = ms.toDS().toDF("user", "step", "etime")
      // 1-hour delay keeps the batch-2 signup admissible after the
      // batch-1 purchase has advanced the watermark
      .withWatermark("etime", "1 hour")
      .as[(Long, Int, Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.FunnelProcessor(),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    val q = out.toDF("user", "t1_us", "t4_us", "latency_us").writeStream
      .format("memory").queryName("funnel_disorder")
      .outputMode(OutputMode.Append()).start()
    try {
      def rows() = spark.table("funnel_disorder")
        .filter(col("user") =!= 99L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def us(s: String) = ts(s).getTime * 1000L

      // batch 1: user 1's view/click/purchase arrive BEFORE the signup
      // (the non-monotone case: a naive arrival-order fold would
      // consume none of them and never converge); user 2's view shares
      // the signup's timestamp, so the strict > rule must reject it
      ms.addData((1L, 2, ts("2024-01-01 00:10:00")),
        (1L, 3, ts("2024-01-01 00:20:00")), (1L, 4, ts("2024-01-01 00:30:00")),
        (2L, 1, ts("2024-01-01 00:10:00")), (2L, 2, ts("2024-01-01 00:10:00")),
        (2L, 3, ts("2024-01-01 00:40:00")), (2L, 4, ts("2024-01-01 00:50:00")))
      q.processAllAvailable()
      // batch 2: the straggler signup, earlier than everything above
      ms.addData((1L, 1, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      assert(rows().isEmpty) // nothing watermark-final yet
      // sentinel drags the watermark past every deadline (watermark
      // computed at end-of-batch drives timers in the NEXT batch)
      ms.addData((99L, 1, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      ms.addData((99L, 1, ts("2024-01-01 03:00:00")))
      q.processAllAvailable()
      // user 1 converts on the reordered chain; user 2 never does
      // (equal-ts view can't chain, and the later view is absent)
      assert(rows() == Set((1L, us("2024-01-01 00:05:00"),
        us("2024-01-01 00:30:00"), 1500000000L)))
      // further watermark advances must not re-emit (emitted flag)
      ms.addData((99L, 1, ts("2024-01-01 04:00:00")))
      q.processAllAvailable()
      assert(rows().size == 1)
    } finally {
      q.stop()
      priorOpt match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("q231/q240: chained stateful operators equal their batch equivalents") {
    // the multiple-stateful-operator pipelines (window→window and
    // join→window) must produce exactly the single-engine batch
    // answer — this is the Spark-side twin of the DuckDB oracle,
    // proving the chained state stores drain completely
    val ev = Tables.events(spark, sf).select(col("ts"), col("event_type"),
      col("event_id"), col("user_id"))
    val maxTs = ev.agg(max(col("ts"))).head().getAs[java.time.LocalDateTime](0)

    val cutoff3 = maxTs.minusHours(3)
    val b5 = ev.filter(col("ts") < lit(cutoff3))
      .groupBy(window(col("ts").cast("timestamp"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("c5"))
    val hourlyBatch = b5
      .groupBy(window(col("window.start"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_buckets"), max("c5").as("max_c5"),
        sum("c5").cast("bigint").as("sum_c5"))
      .select(col("window.start").cast("timestamp_ntz").as("wstart"),
        col("event_type"), col("n_buckets"), col("max_c5"), col("sum_c5"))
    val chained = run("q231_stream_chained_windows")
    assert(chained.exceptAll(hourlyBatch).isEmpty &&
      hourlyBatch.exceptAll(chained).isEmpty)

    val cutoff4 = maxTs.minusHours(4)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
    val joinedBatch = p.join(c,
        col("user_id") === col("c_uid") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .filter(col("p_ts") < lit(cutoff4))
      .groupBy(window(col("p_ts").cast("timestamp"), "1 hour"))
      .agg(count(lit(1)).as("n_pairs"), sum("c_id").cast("bigint").as("sum_cid"))
      .select(col("window.start").cast("timestamp_ntz").as("wstart"),
        col("n_pairs"), col("sum_cid"))
    val joinChained = run("q240_stream_join_window")
    assert(joinChained.exceptAll(joinedBatch).isEmpty &&
      joinedBatch.exceptAll(joinChained).isEmpty)
  }

  test("maxTsMicros footer fast path matches the scan across timestamp encodings") {
    // r15 (r14 ADVICE medium): the footer path must convert per the
    // parquet LogicalTypeAnnotation unit, never assume micros — a
    // MILLIS fixture (same INT64 physical) was 1000x off before.
    def expected(dir: String): Long = {
      val raw = spark.read.parquet(Tables.path(dir, "events"))
      val micros = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("ts div 1000"))
        case _ => raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")))
      }
      micros.agg(max("ts")).head().getLong(0)
    }
    def check(dir: String): Unit =
      assert(queries.StreamingQueries.maxTsMicros(spark, dir) == expected(dir))
    val base = spark.range(1, 1000)
      .selectExpr("timestamp_micros(1700000000000000 + id * 1000000) as ts", "id")
    // (a) TIMESTAMP(MICROS) — the session default
    val dMicros = tempDir("graft_tsenc").toString
    base.write.parquet(Tables.path(dMicros, "events")); check(dMicros)
    // (b) TIMESTAMP(MILLIS) — same physical INT64, 1000x smaller values
    val dMillis = tempDir("graft_tsenc").toString
    val prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try base.write.parquet(Tables.path(dMillis, "events"))
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
    check(dMillis)
    // (c) plain INT64 epoch-nanos (the events fixture contract)
    val dNanos = tempDir("graft_tsenc").toString
    spark.range(1, 1000)
      .selectExpr("1700000000000000000 + id * 1000000000 as ts", "id")
      .write.parquet(Tables.path(dNanos, "events"))
    check(dNanos)
  }
}
