package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering — the write-side layout optimization
  * for multi-dimensional file skipping: rows sorted by the interleaved
  * bit pattern of two key columns land in files whose per-file min/max
  * ranges are TIGHT in BOTH dimensions, so a predicate on either
  * column prunes most files at scan time (the classic data-lake
  * OPTIMIZE ZORDER BY). A single-column sort gives tight ranges in
  * one dimension and useless ones in the other.
  *
  * The interleave is pure 64-bit column arithmetic (the standard
  * magic-mask bit spread) — codegen'd, no UDF, and exactly
  * replayable by a SQL oracle running the same five mask steps. */
object ZOrder {

  /** Spread the low 16 bits of `c` so bit i lands at position 2i
    * (magic-number bit spread, e.g. Hacker's Delight §7-2). */
  def spread16(c: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L),
      (1, 0x55555555L))
      .foldLeft(c.cast("long").bitwiseAND(lit(0xFFFFL))) {
        case (x, (s, mask)) =>
          x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(mask))
      }

  /** 32-bit Morton code of two 16-bit keys: x bits at even positions,
    * y bits at odd. Adjacent z-values are adjacent in BOTH dims. */
  def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Z-order key of two columns quantized against caller-supplied
    * bounds: each column maps to a 16-bit rank in [0, 65535] (values
    * outside the bounds clamp to the ends), then [[zValue]]
    * interleaves the ranks. Use it where the keys are not already
    * small non-negative integers, e.g. doubles on a known range. */
  def zorderKey(c1: Column, c2: Column,
                lo1: Double, hi1: Double,
                lo2: Double, hi2: Double): Column = {
    require(hi1 > lo1 && hi2 > lo2,
      s"zorder bounds must be non-degenerate: [$lo1,$hi1] x [$lo2,$hi2]")
    def quant(c: Column, lo: Double, hi: Double): Column =
      least(greatest(
        ((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(65535.0))
          .cast("long"), lit(0L)), lit(65535L))
    zValue(quant(c1, lo1, hi1), quant(c2, lo2, hi2))
  }

  /** Cluster a DataFrame by a z-key (e.g. [[zValue]] or [[zorderKey]]):
    * range-partition on the key (so partitions own disjoint z-ranges
    * → disjoint file-level min/max windows) and sort within each
    * partition (so row groups inside a file are tight too). This is
    * exactly the two-level layout parquet scan pruning consumes.
    * Returns the input schema unchanged: the z helper column lives
    * under a collision-proof name and is dropped after the sort (a
    * projection — partitioning and intra-partition order survive). */
  def clusterBy(df: DataFrame, zKey: Column,
                numPartitions: Int): DataFrame = {
    val zc = "__graft_zorder_" + java.util.UUID.randomUUID.toString.take(8)
    df.withColumn(zc, zKey)
      .repartitionByRange(numPartitions, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
  }
}
