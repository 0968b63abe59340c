package graft.sources

import graft.SparkTestBase
import graft.ingest.{ProduceJob, Snapshots}

/** Log-file opens of the DSv2 planner path. A batch read resolves its
  * snapshot twice: once when the table loads (its schema) and once when
  * the scan builds (metadata aggregates, LIMIT prefix, pruned file
  * list, statistics and rows all read that one snapshot). Each
  * resolution opens one checkpoint plus a delta tail bounded by
  * `checkpointInterval`, and the schema-event versions come with it. So
  * a read costs at most 2 × (interval + 2) opens, whatever the history
  * length. A planner that re-resolves the snapshot per decision, or a
  * delta chain that regressed to O(history) replay, fails here. */
class DsvLogCostSpec extends SparkTestBase {

  private def budget: Long = 2L * (Snapshots.checkpointInterval + 2)

  /** `f`'s result and the log files it opened. */
  private def opens[T](f: => T): (T, Long) = {
    val before = Snapshots.logOpens.get()
    val r = f
    (r, Snapshots.logOpens.get() - before)
  }

  test("a DSv2 query against a long-history table opens O(interval) log files, not O(history)") {
    val root = tempDir("graft_dsvlog").toString
    // 25 commits: tail of 4 deltas past the v20 checkpoint
    (0 until 25).foreach { i =>
      ProduceJob.produceBatch(spark, root, "c", topics = 1, numMessages = 10 + i)
    }
    // cold relation: schema resolve + scan build + execute — a count
    // the manifest answers, and a filtered read the scan prunes and runs
    val (n, k) = opens(spark.read.format("graft").load(s"$root/c").count())
    assert(n == (10 until 35).sum)
    assert(k <= budget, s"DSv2 count read $k log files (budget $budget)")
    val (rows, kf) = opens(spark.read.format("graft").load(s"$root/c").where("ba >= 0").collect())
    assert(rows.length == (10 until 35).sum)
    assert(kf <= budget, s"DSv2 filtered read read $kf log files (budget $budget)")
  }

  test("a catalog point read opens O(interval) log files, not one walk per decision") {
    val t = s"graft.${graftNamespace("logcost")}.people"
    spark.sql(s"CREATE TABLE $t (name STRING, age INT, ba BIGINT, topic STRING) PARTITIONED BY (topic)")
    // 8 versions, no checkpoint: each resolution opens all 8 entries
    (0 until 8).foreach { i =>
      spark.sql(s"INSERT INTO $t SELECT 'p', CAST(id % 100 AS INT), id, concat('t', id % 4) " +
        s"FROM range(${i * 250}, ${(i + 1) * 250})")
    }
    val (rows, k) = opens(spark.sql(s"SELECT age FROM $t WHERE ba = 1234").collect())
    assert(rows.map(_.getInt(0)).toSeq == Seq(34))
    assert(k <= budget, s"catalog point read read $k log files (budget $budget)")
  }
}
