package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers for hot aggregation/join keys.
  *
  * AQE's skew-join splitting covers sort-merge joins; hot *aggregate*
  * keys still funnel one reducer. Salted aggregation splits each key
  * into `saltBuckets` sub-keys, partially aggregates, then reduces the
  * partials — decomposable aggregates (sum/count/min/max) only, which
  * is what makes the two-phase rewrite exact.
  */
object Salting {

  final case class AggSpec(column: String, fn: String) {
    private def p = s"__p_${fn}_$column"
    def partial(): Column = fn match {
      case "sum" => sum(col(column)).as(p)
      case "count" => count(col(column)).as(p)
      case "min" => min(col(column)).as(p)
      case "max" => max(col(column)).as(p)
    }
    def merge(): Column = fn match {
      case "sum" | "count" => sum(col(p)).as(s"${fn}_$column")
      case "min" => min(col(p)).as(s"${fn}_$column")
      case "max" => max(col(p)).as(s"${fn}_$column")
    }
  }

  /** Two-phase salted aggregation, exact for decomposable aggregates.
    * Salt is derived from a stable row hash — deterministic, no RNG
    * in the task (re-execution safe). */
  def saltedAgg(df: DataFrame, keys: Seq[String], aggs: Seq[AggSpec],
                saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(saltBuckets)))
    val partial = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(aggs.head.partial(), aggs.tail.map(_.partial()): _*)
    partial
      .groupBy(keys.map(col): _*)
      .agg(aggs.head.merge(), aggs.tail.map(_.merge()): _*)
  }
}
