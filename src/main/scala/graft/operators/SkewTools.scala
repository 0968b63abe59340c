package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution is too hot for
  * AQE's skew-split (e.g. one key holding >10% of a 100 TB fact
  * table).
  *
  * Salted join: the skewed (large) side appends a random-ish salt in
  * [0, salts) derived from a row-local hash (deterministic — no RNG);
  * the small side is replicated `salts` times. The join key becomes
  * (key, salt), splitting each hot key's rows across `salts` tasks.
  * Cost: small side inflated ×salts — use only when the small side is
  * genuinely small or the hot keys are isolated first.
  *
  * AQE's skew-join handling (on by default) covers moderate skew
  * without any of this; salting is the explicit escape hatch. */
object SkewTools {

  /** Deterministic salt from row content (no RNG state on executors). */
  def salt(c: Column, salts: Int): Column = pmod(xxhash64(c), lit(salts))

  /** Spread a LOW-parallelism frame across the session's cores before
    * an expensive per-row projection (guide §2.5 input parallelism: a
    * one-file parquet input is one scan task, so a md5-per-shingle
    * projection planned into the scan stage runs single-threaded no
    * matter how many cores idle). Round-robin keeps any later
    * key-repartition fence intact (a same-key spread could collapse
    * into it and un-fence the projection). A no-op when the frame is
    * already at least half as parallel as the session — at scale the
    * scan is parallel and the extra exchange would be pure cost; on a
    * small input the shuffled rows are exactly the frame, cheap next
    * to the compute it unlocks.
    *
    * Contract: `df` must be scan-shaped (no exchange in its plan). The
    * partition probe plans `df`'s RDD, and under AQE that runs every
    * upstream shuffle stage; the returned frame is a new query that
    * runs them all again. On a scan the probe only plans file splits. */
  def spreadForCompute(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val cur =
      try df.queryExecution.toRdd.getNumPartitions
      catch {
        case NonFatal(e) =>
          System.err.println(s"[graft] spreadForCompute keeps the frame's partitioning: partition probe failed: $e")
          return df
      }
    if (cur * 2 < want) df.repartition(want) else df
  }

  /** Inner equi join of `large ⋈ small` on `largeKey == smallKey`,
    * salted `salts` ways. Column sets must be disjoint.
    *
    * The salt hashes the large side's full row content — NOT
    * `monotonically_increasing_id()`, which changes across task
    * retries/replans and would make retried tasks land rows on
    * different salt partitions than their first attempt. */
  def saltedJoin(large: DataFrame, small: DataFrame,
                 largeKey: String, smallKey: String, salts: Int): DataFrame = {
    val saltedLarge = large.withColumn("_salt",
      pmod(xxhash64(large.columns.map(col): _*), lit(salts)))
    val replicatedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1)).cast("array<long>")))
    saltedLarge.join(replicatedSmall,
        saltedLarge(largeKey) === replicatedSmall(smallKey) &&
          saltedLarge("_salt") === replicatedSmall("_salt"))
      .drop("_salt")
  }

  /** Salted two-phase distinct-count: phase 1 aggregates per
    * (key, salt) — splitting hot keys across tasks — phase 2 merges
    * per key. For algebraic aggregates Spark's partial aggregation
    * already does this; the two-phase form matters for COUNT(DISTINCT)
    * whose expand would otherwise concentrate on hot keys. */
  def saltedDistinctCount(df: DataFrame, key: String, distinctCol: String,
                          salts: Int): DataFrame =
    df.withColumn("_salt", salt(col(distinctCol), salts))
      .groupBy(col(key), col("_salt"))
      .agg(countDistinct(col(distinctCol)).as("_partial"))
      .groupBy(col(key))
      .agg(sum("_partial").cast("bigint").as("n_distinct"))
}
