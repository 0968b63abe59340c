package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Arbitrary stateful processing on the Spark 4 `transformWithState`
  * API (the forward path superseding mapGroupsWithState): per-key
  * running (count, sum-in-cents) maintained in a ValueState, emitting
  * the running totals on every input batch.
  *
  * Sums are kept as exact cent-scaled Longs so state merge order and
  * replay can't perturb results — the same discipline as the
  * EventMoments aggregator.
  *
  * State lives in the state store (RocksDB/HDFS-backed per
  * checkpoint at scale); keys partition across executors by hash, so
  * state size scales horizontally with the cluster.
  */
class RunningStatsProcessor extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {

  @transient private var state: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[(Long, Long)](
      "runningStats", Encoders.product[(Long, Long)], TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, s) = Option(state.get()).getOrElse((0L, 0L))
    rows.foreach { case (_, cents) => n += 1; s += cents }
    state.update((n, s))
    Iterator.single((key, n, s))
  }
}
