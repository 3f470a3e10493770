package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1-W2 — grouped time-series split and sliding-window featurizer
  * (SURVEY.md §2.5; reference auto_machine_learning.py:109-138). The
  * W3 look-back sweep runs inside `AutoML.trainTimeSeries`.
  *
  * The reference slices by *physical row position* (`iloc`); here
  * every operator takes explicit order columns (SURVEY.md §8.1).
  * All operators are one window pass over data partitioned by the
  * group key — the layout that scales: `repartition(groupCol)` before
  * heavy window work co-locates each series on one executor, and
  * window state is O(look_back), not O(series).
  */
object TimeSeries {

  /** W1 — ordered per-group 80/20 split. Train = first
    * floor(0.8·n) rows; test = rows after floor(0.8·n) − lookBack
    * (test overlaps train by lookBack rows so the first test window
    * has full history — reference auto_machine_learning.py:115-119).
    *
    * Returns the frame with `_rn` (1-based), `_n`, and `split` ∈
    * {train, test, both}.
    */
  def orderedSplit(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                   lookBack: Int, trainFrac: Double = 0.8): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCols: _*)
    val wAll = Window.partitionBy(groupCol)
    // floor(0.8·n) via double multiply — exactly Python's int(0.8*len)
    // (int() truncates toward 0; n ≥ 0 so floor ≡ trunc).
    val cut = floor(lit(trainFrac) * col("_n"))
    df.withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("split",
        when(col("_rn") <= cut && col("_rn") > cut - lookBack, "both")
          .when(col("_rn") <= cut, "train")
          .otherwise("test"))
  }

  /** W2 — sliding-window featurizer: for each position with a full
    * lookBack history and a next row, emit the window of feature
    * structs plus the label of the row after the window (reference
    * auto_machine_learning.py:121-131). Yields exactly
    * max(n_g − lookBack, 0) samples per group — the invariant the
    * spec tests pin.
    */
  def slidingWindows(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                     featureCols: Seq[String], labelCol: String,
                     lookBack: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCols: _*)
    val rows = w.rowsBetween(-(lookBack - 1), 0)
    df.withColumn("window",
        collect_list(struct(featureCols.map(col): _*)).over(rows))
      .withColumn("label", lead(col(labelCol), 1).over(w))
      .filter(size(col("window")) === lookBack && col("label").isNotNull)
  }

  /** W2 for vector-consumers: the same windows flattened to a single
    * numeric array (lookBack × |features|), ready for
    * `VectorAssembler`-style learners (the documented LSTM substitute,
    * SURVEY.md §2.6 M6). */
  def flattenedWindows(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                       featureCols: Seq[String], labelCol: String,
                       lookBack: Int): DataFrame = {
    val windowed = slidingWindows(df, groupCol, orderCols, featureCols,
      labelCol, lookBack)
    val flat = flatten(expr(
      s"transform(window, r -> array(${featureCols.map(f => s"CAST(r.$f AS DOUBLE)").mkString(",")}))"))
    windowed.withColumn("features_flat", flat)
  }
}
