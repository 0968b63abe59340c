package graft.sources

import graft.SparkTestBase
import graft.ingest.{ProduceJob, Snapshots}

/** Manifest-read cost of the DSv2 planner path (round-9 upgrade of the
  * round-8 "one manifest read per query" pin to the delta-log world):
  * a batch query against a graft table must resolve its snapshot from
  * ONE checkpoint plus a bounded delta tail — the log-file open count
  * is O(checkpointInterval), never O(history). A regression back to
  * full-chain replay (or a planner that re-resolves per stage) fails
  * this loudly. */
class DsvLogCostSpec extends SparkTestBase {

  test("a DSv2 query against a long-history table opens O(interval) log files, not O(history)") {
    val root = tempDir("graft_dsvlog").toString
    // 25 commits: tail of 4 deltas past the v20 checkpoint
    (0 until 25).foreach { i =>
      ProduceJob.produceBatch(spark, root, "c", topics = 1, numMessages = 10 + i)
    }
    // cold relation: schema resolve + scan build + execute
    val before = Snapshots.logOpens.get()
    val n = spark.read.format("graft").load(s"$root/c").count()
    val opens = Snapshots.logOpens.get() - before
    assert(n == (10 until 35).sum)
    // the planner path may resolve the snapshot a handful of times
    // (schema, stats, scan) — each resolution is ≤ interval+1 reads
    // plus op probes; 25-version history would cost ≥ 25 reads PER
    // resolution if the delta chain regressed to O(history)
    val budget = 4L * (Snapshots.checkpointInterval + 3)
    assert(opens <= budget,
      s"DSv2 query read $opens log files (budget $budget) — " +
        "manifest replay is no longer checkpoint-bounded")
  }
}
