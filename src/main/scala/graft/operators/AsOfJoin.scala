package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the latest right row with the same
  * key and right.time <= left.time.
  *
  * Implemented as union + ordered window, NOT a range join:
  * tag both sides, union, and take `last(right_value, ignoreNulls)`
  * over (key) ordered by (time, side) — right rows sort before left
  * rows at equal time, so the match is inclusive. Cost is one shuffle
  * on the key plus one sort per partition: O(n log n) rows moved once,
  * versus a range join's per-key quadratic candidate enumeration. At
  * 100 TB this is the difference between a sort-based single pass and
  * an exploding join.
  */
object AsOfJoin {

  /** @param left      probe side
    * @param right     build side (its `valueCols` are carried over)
    * @param key       equi key column name (both sides)
    * @param time      event-time column name (both sides)
    * @param valueCols right columns to surface, each as `asof_<name>`
    * @return left rows + asof_* columns (null when no right row ≤ time)
    */
  def lastBefore(left: DataFrame, right: DataFrame, key: String, time: String,
                 valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val leftCols = left.columns
    // All right values travel inside ONE struct: the struct itself is
    // non-null exactly when a right row exists, so `last(ignoreNulls)`
    // tracks row existence — a NULL *value* in the latest matching
    // right row is preserved (not skipped in favor of an older row,
    // which bare last(value, ignoreNulls) would wrongly do).
    val payloadType = StructType(
      valueCols.map(c => StructField(s"asof_$c", right.schema(c).dataType)))
    // side: right=0 sorts before left=1 at equal (time) → inclusive ≤
    val taggedRight = right.select(
      (col(key).as(key) +: col(time).as(time) +: lit(0).as("_side") +:
        struct(valueCols.map(c => col(c).as(s"asof_$c")): _*).as("_asof") +:
        leftCols.filterNot(c => c == key || c == time).map(c => lit(null).cast(
          left.schema(c).dataType).as(c))): _*)
    val taggedLeft = left.select(
      (col(key).as(key) +: col(time).as(time) +: lit(1).as("_side") +:
        lit(null).cast(payloadType).as("_asof") +:
        leftCols.filterNot(c => c == key || c == time).map(col)): _*)
    val w = Window.partitionBy(key)
      .orderBy(col(time), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedRight.unionByName(taggedLeft)
      .select((col(key) +: col(time) +: col("_side") +:
        leftCols.filterNot(c => c == key || c == time).map(col) ++:
        Seq(last(col("_asof"), ignoreNulls = true).over(w).as("_asof"))): _*)
      .filter(col("_side") === 1)
      .select((col(key) +: col(time) +:
        leftCols.filterNot(c => c == key || c == time).map(col) ++:
        valueCols.map(c => col("_asof").getField(s"asof_$c").as(s"asof_$c"))): _*)
  }
}
