package graft

import org.apache.spark.sql.functions._
import graft.ts.TimeSeries

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  // two groups: g=1 has 10 ordered rows, g=2 has 3 (≤ lookBack)
  private def series() =
    ((1 to 10).map(i => (1, i, i * 1.0)) ++ (1 to 3).map(i => (2, i, i * 10.0)))
      .toDF("g", "ord", "v")

  test("W2 yields exactly n - lookBack windows per group, none across groups") {
    val win = TimeSeries.slidingWindows(series(), "g", Seq(col("ord")),
      Seq("v"), "v", lookBack = 4)
    val counts = win.groupBy("g").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(1 -> 6L)) // 10-4=6; group 2 (3 ≤ 4) yields none
  }

  test("W2 window content: first window is rows 1..4, label is row 5") {
    val win = TimeSeries.slidingWindows(series(), "g", Seq(col("ord")),
      Seq("v"), "v", lookBack = 4)
      .filter(col("g") === 1)
      .withColumn("first_v", element_at(col("window"), 1).getField("v"))
      .withColumn("last_v", element_at(col("window"), 4).getField("v"))
      .orderBy("ord")
    val first = win.select("first_v", "last_v", "label").head()
    assert(first.getDouble(0) == 1.0 && first.getDouble(1) == 4.0 &&
      first.getDouble(2) == 5.0)
  }

  test("W1 split invariant: n_train + n_test = n + lookBack (overlap)") {
    val split = TimeSeries.orderedSplit(series(), "g", Seq(col("ord")), lookBack = 2)
    val g1 = split.filter(col("g") === 1)
    val train = g1.filter(col("split").isin("train", "both")).count()
    val test = g1.filter(col("split").isin("test", "both")).count()
    assert(train == 8) // floor(0.8*10)
    assert(test == 4)  // rows 7..10: rn > 8-2
    assert(train + test == 10 + 2)
  }

  test("ewma: recurrence matches hand computation; groups independent") {
    val df = (Seq((1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0),
      (2L, 1, 100.0), (2L, 2, 0.0)))
      .toDF("g", "ord", "v")
    val got = graft.ts.RollingFeatures
      .ewma(df, "g", Seq(col("ord")), "v", alpha = 0.5, idCol = "ord")
      .collect().map(r => (r.getLong(0), r.getDouble(2)) -> r.getDouble(3))
      .toMap
    assert(got((1L, 10.0)) == 10.0)   // seed = first value
    assert(got((1L, 20.0)) == 15.0)   // 0.5*20 + 0.5*10
    assert(got((1L, 30.0)) == 22.5)   // 0.5*30 + 0.5*15
    assert(got((2L, 100.0)) == 100.0) // new group reseeds
    assert(got((2L, 0.0)) == 50.0)
  }

  test("holt: level+trend recurrence matches hand computation; reseeds per group") {
    // x = [10, 12, 14], α=0.5 β=0.3:
    // t0: l=10 b=0 | t1: l=0.5·12+0.5·10=11, b=0.3·1+0.7·0=0.3
    // t2: l=0.5·14+0.5·11.3=12.65, b=0.3·1.65+0.7·0.3=0.705 → fc 13.355
    val df = Seq((1L, 1, 10.0), (1L, 2, 12.0), (1L, 3, 14.0),
      (2L, 1, 5.0), (2L, 2, 5.0))
      .toDF("g", "ord", "v")
    val got = graft.ts.RollingFeatures
      .holt(df, "g", Seq(col("ord")), "v", alpha = 0.5, beta = 0.3,
        idCol = "ord")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got((1L, 1)) == ((10.0, 0.0, 10.0)))
    assert(got((1L, 2)) == ((11.0, 0.3, 11.3)))
    assert(got((1L, 3)) == ((12.65, 0.705, 13.355)))
    assert(got((2L, 1)) == ((5.0, 0.0, 5.0)))  // new group reseeds
    assert(got((2L, 2)) == ((5.0, 0.0, 5.0)))  // flat series: zero trend
  }

  test("ewma: Long.MinValue group key still seeds; non-integral group rejected") {
    val df = Seq((Long.MinValue, 1, 10.0), (Long.MinValue, 2, 20.0))
      .toDF("g", "ord", "v")
    val got = graft.ts.RollingFeatures
      .ewma(df, "g", Seq(col("ord")), "v", alpha = 0.5, idCol = "ord")
      .collect().map(r => r.getDouble(2) -> r.getDouble(3)).toMap
    assert(got(10.0) == 10.0) // seeded with x, not alpha*x
    assert(got(20.0) == 15.0)
    val bad = Seq(("a", 1, 1.0)).toDF("g", "ord", "v")
    intercept[IllegalArgumentException] {
      graft.ts.RollingFeatures.ewma(bad, "g", Seq(col("ord")), "v", 0.5, "ord")
    }
  }

  test("resample locf: grid bounds, carry-forward, null before first obs") {
    val df = Seq(
      (1L, 105L, 10.0), (1L, 312L, 20.0), (1L, 330L, 30.0),
      (2L, 200L, 5.0))
      .toDF("g", "us", "v")
    val got = graft.ts.Resample.locf(df, "g", "us", "v", stepUs = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // group 1: grid 100..300 (tmin=105 floors to 100, tmax=330 to 300)
    assert(got((1L, 100L)) == None)        // before first obs (105)
    assert(got((1L, 200L)) == Some(10.0))  // carried from 105
    assert(got((1L, 300L)) == Some(10.0))  // 312 is later
    assert(!got.contains((1L, 400L)))      // grid ends at floor(tmax)
    // group 2: single on-grid point
    assert(got((2L, 200L)) == Some(5.0))
    assert(got.size == 4)
  }

  test("resample interpolate: lerp between neighbors, exact on observations") {
    val df = Seq((1L, 100L, 10.0), (1L, 300L, 30.0)).toDF("g", "us", "v")
    val got = graft.ts.Resample.interpolate(df, "g", "us", "v", stepUs = 100L)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(100L) == Some(10.0)) // on observation
    assert(got(200L) == Some(20.0)) // midpoint lerp
    assert(got(300L) == Some(30.0))
    assert(got.size == 3)
  }

  test("as-of forward: earliest right at-or-after, tolerance bounds the wait") {
    val left = Seq((1, 100L, "x"), (1, 250L, "y")).toDF("k", "ts", "tag")
    val right = Seq((1, 100L, 1.0), (1, 240L, 2.0), (1, 400L, 3.0))
      .toDF("k", "ts", "rv")
    val got = graft.operators.AsOfJoin
      .forward(left, right, Seq("k"), "ts", Seq("rv"),
        tolerance = Some(100L))
      .collect().map(r => (r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got("x") == Some(1.0)) // exact ts is inclusive
    assert(got("y") == None)      // next is 400, 150 away > tolerance
    val noTol = graft.operators.AsOfJoin
      .forward(left, right, Seq("k"), "ts", Seq("rv"))
      .collect().map(r => (r.getString(2), r.getDouble(3))).toMap
    assert(noTol("y") == 3.0)
  }

  test("flattened windows are lookBack × |features| doubles") {
    val flat = TimeSeries.flattenedWindows(series(), "g", Seq(col("ord")),
      Seq("v", "ord"), "v", lookBack = 3)
    val sizes = flat.select(size(col("features_flat"))).distinct().collect()
    assert(sizes.map(_.getInt(0)).toSeq == Seq(6))
  }
}
