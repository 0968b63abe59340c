package graft

import org.apache.spark.sql.functions._
import graft.ingest._

/** §2A ingest-layer parity: conservation (every produced record
  * consumed exactly once), watermark gating, ack-resume, fan-out
  * naming, CSV parse rules, rate conformance. */
class IngestSpec extends SparkTestBase {

  private def freshRoot(): String =
    tempDir("graft_ingest").toString

  test("fan-out naming matches the reference (prefix-0..n-1)") {
    assert(Topics.expand("t", 3) == Seq("t-0", "t-1", "t-2"))
    assert(Topics.expand("t", 1) == Seq("t"))
  }

  test("batch produce → consume conserves every record exactly once") {
    val root = freshRoot()
    val rep = ProduceJob.produceBatch(spark, root, "p1", topics = 4, numMessages = 10000)
    assert(rep.totalSent == 10000 && rep.failedSent == 0)
    val c = ConsumeJob.consume(spark, root, "p1")
    assert(c.totalReceived == 10000)
    assert(c.topics.map(_.topic).sorted == Seq("p1-0", "p1-1", "p1-2", "p1-3"))
    // positions are unique (exactly-once) and bounded by the watermark
    assert(c.topics.map(_.distinctPos).sum == 10000)
    assert(c.topics.map(_.maxPos).max == 9999)
    // generator arithmetic matches the reference (A1)
    val row = spark.read.parquet(Topics.tableDir(root, "p1"))
      .filter(col("ba") === 123).head()
    assert(row.getAs[String]("name") == "hangc")
    assert(row.getAs[Int]("age") == (18 + 123) % 100)
    assert(row.getAs[String]("key") == "123")
  }

  test("watermark gates the scan; ack-resume consumes only new data (A7/A9)") {
    val root = freshRoot()
    ProduceJob.produceBatch(spark, root, "p2", topics = 2, numMessages = 1000)
    // roll the watermark back: only the offloaded prefix is visible
    ProduceJob.commitManifest(root, "p2", 499)
    val first = ConsumeJob.consume(spark, root, "p2")
    assert(first.totalReceived == 500 && !first.skipped)
    assert(first.topics.map(_.maxPos).max == 499)
    // caught up → skip gate fires
    val second = ConsumeJob.consume(spark, root, "p2")
    assert(second.skipped && second.totalReceived == 0)
    // offload advances → only the delta is consumed
    ProduceJob.commitManifest(root, "p2", 999)
    val third = ConsumeJob.consume(spark, root, "p2")
    assert(third.totalReceived == 500)
    assert(third.topics.map(_.minPos).min == 500)
  }

  test("amazon CSV ingest parses the reference quoting rules (A2)") {
    val root = freshRoot()
    val rep = AmazonIngest.ingest(spark, "/root/repo/fixtures/reviews.csv", root, "rev")
    assert(rep.totalSent == 100 && rep.failedSent == 0)
    val t = spark.read.parquet(Topics.tableDir(root, "rev"))
    assert(t.count() == 100)
    // embedded commas survived quoting
    assert(t.filter(col("title").contains(",")).count() > 0)
  }

  test("composite positions compare numerically, not lexically (A8)") {
    assert(Positions.compare("9:5", "10:2") < 0)   // string compare would flip this
    assert(Positions.compare("10:2", "10:10") < 0)
    assert(Positions.compare("7:7", "7:7") == 0)
    import spark.implicits._
    val sorted = Seq("10:2", "9:5", "2:30", "10:1").toDF("pos")
      .orderBy(Positions.posStruct(col("pos")))
      .collect().map(_.getString(0))
    assert(sorted.sameElements(Array("2:30", "9:5", "10:1", "10:2")))
  }

  test("foreachBatch poll-loop consume drains the topic exactly once (A14)") {
    val root = freshRoot()
    ProduceJob.produceBatch(spark, root, "pb", topics = 2, numMessages = 3000)
    val total = ConsumeJob.consumeForeachBatch(spark, root, "pb")
    assert(total == 3000)
  }

  test("student bounded produce writes flush-sized files (A13)") {
    val root = freshRoot()
    val rep = ProduceJob.produceStudents(spark, root, "stu",
      numMessages = 50000, flushEvery = 10000)
    assert(rep.totalSent == 50000)
    val t = spark.read.parquet(Topics.tableDir(root, "stu"))
    assert(t.count() == 50000)
    val r = t.filter(col("number") === 42).head()
    assert(r.getAs[String]("name") == "name42")
    assert(r.getAs[String]("payload") == "payload42")
    assert(r.getAs[Int]("age") == 42)
  }

  test("streaming produce sustains the configured rate (A4/A5)") {
    val root = freshRoot()
    val rep = ProduceJob.produceStream(spark, root, "p3", topics = 2,
      msgRate = 5000, testTimeMs = 12000)
    // ≥5000 rows/s source for 12s: even under full-suite load at least
    // one full trigger (≥5000 rows) must land — conservation is the
    // hard assertion, the rate bound has scheduling headroom
    assert(rep.totalSent >= 5000, s"only ${rep.totalSent} rows in 12s at 5000 rows/s")
    val c = ConsumeJob.consume(spark, root, "p3")
    assert(c.totalReceived == rep.totalSent)
    assert(c.topics.map(_.distinctPos).sum == rep.totalSent) // exactly-once
  }

  test("streaming produce with no run time still commits a batch of rows") {
    val root = freshRoot()
    val rep = ProduceJob.produceStream(spark, root, "p0", msgRate = 100, testTimeMs = 0)
    assert(rep.totalSent >= 1)
    assert(rep.maxPos == rep.totalSent - 1)
    assert(Snapshots.read(spark, root, "p0").count() == rep.totalSent)
  }
}
