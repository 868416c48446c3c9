package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-free per-group top-k.
  *
  * A plain `row_number().over(Window.partitionBy(group))` funnels every
  * row of a group through ONE task — fatal when group cardinality is tiny
  * (e.g. top tokens per language: 2 groups ⇒ 2 tasks sort everything).
  *
  * Two phases, both identical semantics:
  *   1. rank within (group, salt) where salt = hash(tie-break cols) mod
  *      fanout → keep k candidates per salt cell; every cell is ~1/fanout
  *      of the group, processed in parallel;
  *   2. rank the ≤ fanout·k survivors per group → exact global top-k.
  *
  * Phase 1 is lossless for top-k because any row in the group's true
  * top-k is also in the top-k of its salt cell.
  */
object TopK {

  /** Phase 1 salts on the hash of every input column; the rank lands in
    * a `rnk` column.
    *
    * @param orderCols ordering (include tie-breaks for determinism)
    */
  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[Column],
      k: Int,
      fanout: Int = 64): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(fanout)))
    val w1 = Window
      .partitionBy((groupCols.map(col) :+ col("_salt")): _*)
      .orderBy(orderCols: _*)
    val candidates = salted
      .withColumn("_r1", row_number().over(w1))
      .filter(col("_r1") <= k)
      .drop("_salt", "_r1")
    val w2 = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    candidates
      .withColumn("rnk", row_number().over(w2).cast("long"))
      .filter(col("rnk") <= k)
  }
}
