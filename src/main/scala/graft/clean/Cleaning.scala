package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cleaning / projection operators (SURVEY.md §2.2, P1-P9).
  *
  * All are pure `DataFrame => DataFrame` functions — the reference's
  * in-place mutation of a shared `cur_df` (reference
  * data_analysis.py:25,36) becomes immutable lineage.
  */
object Cleaning {

  /** P1 — drop columns whose every value is null, returning
    * (cleaned frame, removed column names). Mirrors
    * `dropna(axis=1, how='all')` (reference data_analysis.py:23-28).
    *
    * One aggregate job over all columns (`count` skips nulls); no
    * per-column scans. At 100 TB this is a single pass that AQE can
    * partial-aggregate map-side.
    */
  def dropAllNullColumns(df: DataFrame): (DataFrame, Seq[String]) = {
    val counts = df
      .select(df.columns.map(c => count(col(c)).as(c)).toSeq: _*)
      .head()
    val removed = df.columns.filter(c => counts.getAs[Long](c) == 0L).toSeq
    (df.drop(removed: _*), removed)
  }

  /** P2 — drop listed columns, ignoring names that don't exist;
    * returns the names actually dropped (reference
    * data_analysis.py:30-40 pre-filters to existing names and has a
    * "no valid columns" message path — the caller can test
    * `dropped.isEmpty`). */
  def dropColumns(df: DataFrame, toDrop: Seq[String]): (DataFrame, Seq[String]) = {
    val existing = toDrop.filter(df.columns.contains)
    (df.drop(existing: _*), existing)
  }

  /** P4 — feature list = all columns except label (+ optionally the
    * time-series bookkeeping columns) (reference
    * data_analysis.py:84,99,144,157 and :58). */
  def featureColumns(df: DataFrame, label: String,
                     alsoExclude: Seq[String] = Nil): Seq[String] =
    df.columns.filterNot(c => c == label || alsoExclude.contains(c)).toSeq

  /** P7 — distinct values of a column, sorted for determinism
    * (pandas `unique()` preserves first-seen order, Spark has no
    * stable order — SURVEY.md §2.2 P7). */
  def distinctValues(df: DataFrame, column: String): DataFrame =
    df.select(column).distinct().orderBy(col(column))

  /** P8 — threshold binarize: positive class is `value < threshold`
    * (RUL below limit ⇒ failing) — reference data_analysis.py:200-201.
    * Note the direction: `<`, not sklearn-Binarizer's `>`. */
  def binarize(c: Column, threshold: Double): Column =
    when(c < lit(threshold), 1).otherwise(0)
}
