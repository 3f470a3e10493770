package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, RangeJoin, Salting}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("as-of backward: latest right at-or-before each left ts, per key") {
    val left = Seq((1, 10L, "a"), (1, 20L, "b"), (1, 5L, "c"), (2, 10L, "d"))
      .toDF("k", "ts", "tag")
    val right = Seq((1, 10L, 100.0), (1, 15L, 200.0), (2, 99L, 300.0))
      .toDF("k", "ts", "rv")
    val got = AsOfJoin.backward(left, right, Seq("k"), "ts", Seq("rv"))
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got("a") == Some(100.0)) // exact-ts match is inclusive
    assert(got("b") == Some(200.0)) // latest of the two priors
    assert(got("c") == None)        // nothing at or before ts=5
    assert(got("d") == None)        // right exists but only later (99 > 10)
  }

  test("range join: inclusive bounds, bucket-boundary pairs, key isolation") {
    val left = Seq((1, 100L, "p1"), (1, 200L, "p2"), (2, 100L, "p3"))
      .toDF("k", "lts", "ltag")
    val right = Seq(
      (1, 90L, "in-before-edge"),   // 100−10 → inclusive lower bound
      (1, 105L, "in-after-edge"),   // 100+5  → inclusive upper bound
      (1, 89L, "out-low"), (1, 106L, "out-high"),
      (1, 195L, "in-p2"),
      (2, 99L, "other-key"))
      .toDF("k", "rts", "rtag")
    val got = RangeJoin.inner(left, right, Seq("k"), "lts", "rts",
      before = 10L, after = 5L)
      .select("ltag", "rtag").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("p1", "in-before-edge"), ("p1", "in-after-edge"),
      ("p2", "in-p2"), ("p3", "other-key")))
  }

  test("range join: exact buckets beyond 2^53 (epoch-nanos magnitudes)") {
    // at ~1e18 doubles have a gap of 128: a double-divided bucket id
    // can land one off and silently drop the pair
    val base = 1000000000000000000L
    val left = (0 until 50).map(i => (1, base + i * 997L, i)).toDF("k", "lts", "lid")
    val right = (0 until 50).map(i => (1, base + i * 997L - 400L, i)).toDF("k", "rts", "rid")
    val got = RangeJoin.inner(left, right, Seq("k"), "lts", "rts",
      before = 1000L, after = 0L)
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val naive = left.join(right, Seq("k"))
      .filter(col("rts") >= col("lts") - 1000L && col("rts") <= col("lts"))
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == naive)
    assert(naive.size >= 50) // every left row has its own −400ns right
  }

  test("range join equals naive on random data incl. negative timestamps") {
    val rnd = new scala.util.Random(13)
    val left = (1 to 200).map(i =>
      (rnd.nextInt(5), rnd.nextLong(2000) - 1000, i)).toDF("k", "lts", "lid")
    val right = (1 to 200).map(i =>
      (rnd.nextInt(5), rnd.nextLong(2000) - 1000, i)).toDF("k", "rts", "rid")
    val got = RangeJoin.inner(left, right, Seq("k"), "lts", "rts",
      before = 37L, after = 11L)
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val naive = left.join(right, Seq("k"))
      .filter(col("rts") >= col("lts") - 37L && col("rts") <= col("lts") + 11L)
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == naive)
    assert(naive.nonEmpty)
  }

  test("range join equals the naive equi-join + range filter on real events") {
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"))
    val bucketized = RangeJoin.inner(p, c.withColumnRenamed("c_user", "user_id"),
      Seq("user_id"), "p_us", "c_us", before = 3600000000L, after = 0L)
      .select("event_id", "c_us").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = p.join(c, p("user_id") === c("c_user") &&
        c("c_us") >= p("p_us") - 3600000000L && c("c_us") <= p("p_us"))
      .select("event_id", "c_us").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bucketized.sorted.toSeq == naive.sorted.toSeq)
    assert(naive.nonEmpty)
  }

  test("as-of tolerance nulls out stale matches") {
    val left = Seq((1, 100L, "x"), (1, 200L, "y")).toDF("k", "ts", "tag")
    val right = Seq((1, 95L, 1.0)).toDF("k", "ts", "rv")
    val got = AsOfJoin.backward(left, right, Seq("k"), "ts", Seq("rv"),
      tolerance = Some(10L))
      .collect().map(r => r.getString(2) -> r.isNullAt(3)).toMap
    assert(!got("x")) // 100-95 = 5 ≤ 10 → kept
    assert(got("y"))  // 200-95 = 105 > 10 → nulled
  }

  test("salted aggregation equals plain groupBy exactly") {
    val df = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag").as("k"), col("l_quantity").as("v"))
    val salted = Salting.saltedAgg(df, Seq("k"),
      Seq(Salting.AggSpec("v", "sum"), Salting.AggSpec("v", "count"),
        Salting.AggSpec("v", "max")), saltBuckets = 8)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
    val plain = df.groupBy("k")
      .agg(sum("v"), count("v"), max("v"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
    // l_quantity is integer-valued → double sums are exact → == holds
    assert(salted == plain)
  }

  test("connected components: chains, self-loops, isolated pairs") {
    // 1-2-3-4 chain (diameter 3), 10-11 pair, 20-20 self loop —
    // asserted on BOTH execution paths: the small-graph driver
    // union-find (default limit) and the distributed propagation
    // loop (limit forced to 0)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 20L))
      .toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    for (limit <- Seq(2000000L, 0L)) {
      val got = graft.operators.ConnectedComponents
        .components(edges, "a", "b", smallGraphEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"limit=$limit")
    }
  }

  test("connected components: empty edge list returns empty, no NPE") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.operators.ConnectedComponents
      .components(edges, "a", "b").isEmpty)
  }

  test("connected components: long path converges past one round") {
    // 0-1-2-...-9 path: min label must travel 9 hops — forced onto
    // the DISTRIBUTED loop (limit 0), which is what multi-round
    // convergence exercises
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val got = graft.operators.ConnectedComponents
      .components(edges, "a", "b", smallGraphEdgeLimit = 0L)
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(0L))
  }

  test("pagerank: two-node graph stays at exactly 0.5 each (both paths)") {
    // a-b symmetric: init 1/2 = 0.5; every round 0.15/2 + 0.85·0.5 =
    // 0.5 exactly — any drift means the damping combine is wrong
    for (limit <- Seq(2000000L, 0L)) {
      val got = graft.operators.PageRank
        .pagerank(Seq((1L, 2L)).toDF("a", "b"), "a", "b", iters = 5,
          smallGraphEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == Map(1L -> 0.5, 2L -> 0.5), s"limit=$limit")
    }
  }

  test("pagerank: star center outranks leaves, mass sums to ~1") {
    // K1,3 star: by symmetry the three leaves tie; the center, fed by
    // all of them, must outrank each
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val got = graft.operators.PageRank.pagerank(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 4)
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(0L) > got(1L))
    val mass = got.values.sum
    assert(math.abs(mass - 1.0) < 1e-6, s"mass=$mass")
  }

  test("pagerank: driver and distributed paths agree bit-for-bit") {
    // the size-adaptive split is only sound if the small-graph loop
    // reproduces the distributed arithmetic EXACTLY (string-route
    // 9-dp rounding, exact decimal contribution sums, double combine)
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40)).toDF("a", "b")
    val small = graft.operators.PageRank.pagerank(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = graft.operators.PageRank
      .pagerank(edges, "a", "b", smallGraphEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(small == dist)
    // and the distributed path is deterministic under repartitioning
    val again = graft.operators.PageRank
      .pagerank(edges.repartition(13), "a", "b", smallGraphEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dist == again)
  }

  test("pagerank: empty edge list returns empty, no NPE") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.operators.PageRank.pagerank(edges, "a", "b").isEmpty)
  }

  test("bloom-pruned join equals plain join (false positives killed)") {
    val probe = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    val build = Seq(3L, 500L, 999L, 5000L).toDF("bk")
    val got = graft.operators.BloomPrune
      .join(probe, build, "k", "bk", expectedItems = 100L, fpp = 0.5)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((3L, 6.0), (500L, 1000.0), (999L, 1998.0)))
  }

  test("merge upsert: update wins, delete drops, insert lands, rest kept") {
    val snap = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "v")
    val changes = Seq(
      (2L, 99.0, false),  // update
      (3L, 0.0, true),    // delete
      (9L, 5.0, false),   // insert
      (7L, 0.0, true))    // delete of absent key = no-op
      .toDF("k", "v", "del")
    val got = graft.operators.Upsert.merge(snap, changes, "k", "del")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 10.0, 2L -> 99.0, 4L -> 40.0, 9L -> 5.0))
  }

  test("expectations: one pass flags bound and null violations per rule") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 0.5), (2.0, null), (60.0, 0.7), (3.0, 0.9))
      .toDF("a", "b")
    val got = graft.stats.Expectations.validate(df, Seq(
      graft.stats.Expectations.Rule("a", minValue = Some(0.0),
        maxValue = Some(50.0)),
      graft.stats.Expectations.Rule("b", maxNullRatio = Some(0.3))))
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6))).toMap
    assert(got("a") == ((0L, 1L, 0.0, false)))   // 60 above the cap
    assert(got("b") == ((0L, 0L, 0.25, true)))   // 1/4 nulls <= 0.3
  }

  test("bloom filter pruning keeps all true members") {
    val probe = (1 to 200).map(_.toLong).toDF("k")
    val build = (1 to 200 by 7).map(_.toLong).toDF("bk")
    val bytes = graft.operators.BloomPrune.sketch(build, "bk", 100L, 0.03)
    val kept = graft.operators.BloomPrune
      .filterMightContain(probe, col("k"), bytes)
      .collect().map(_.getLong(0)).toSet
    assert((1 to 200 by 7).map(_.toLong).toSet.subsetOf(kept)) // no false negatives
  }

  test("bloom prune hashes non-integral keys consistently on both " +
    "sides (xxhash64 space) and drops null probe keys") {
    // date keys — the type the raw-value sketch path had to reject
    val build = Seq("2026-01-01", "2026-03-05")
      .map(java.sql.Date.valueOf).toDF("bk")
    val probe = Seq[java.sql.Date](
      java.sql.Date.valueOf("2026-01-01"),
      java.sql.Date.valueOf("2026-02-02"), null).toDF("d")
    val bytes = graft.operators.BloomPrune.sketch(build, "bk", 10L, 0.01)
    val kept = graft.operators.BloomPrune
      .filterMightContain(probe, col("d"), bytes)
      .collect().map(_.getDate(0)).toSet
    assert(kept.contains(java.sql.Date.valueOf("2026-01-01"))) // true member
    assert(!kept.contains(null)) // nulls never pass the prune
  }

  test("dynamic pivot: sorted deterministic schema, filled cells") {
    val df = Seq((1, "b", 10), (1, "a", 20), (2, "b", 5)).toDF("g", "p", "v")
    val got = graft.operators.DynamicPivot.pivot(
      df, Seq("g"), "p", sum(col("v")), fill = Some(0L))
    assert(got.columns.toSeq == Seq("g", "a", "b"))
    val byG = got.collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byG(1) == (20L, 10L) && byG(2) == (0L, 5L))
  }

  test("dynamic pivot fails fast above the domain cap without collecting it") {
    val wide = (1 to 50).map(i => (i % 3, s"val_$i", 1)).toDF("g", "p", "v")
    val e = intercept[IllegalArgumentException] {
      graft.operators.DynamicPivot.pivot(
        wide, Seq("g"), "p", sum(col("v")), maxDomain = 10)
    }
    assert(e.getMessage.contains("exceeds 10"))
  }

  test("fuzzy join: token-blocked pairs match exact distances; maxDf caps hot tokens") {
    val df = Seq("red bolt", "red bolt", "red bolts", "red colt",
      "red widget", "green gear").toDF("name")
    val got = graft.operators.FuzzyJoin.nearMatchPairs(df, "name", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    // distinct names only — the duplicated "red bolt" yields no self-pair
    assert(got(("red bolt", "red bolts")) == 1)
    assert(got(("red bolt", "red colt")) == 1)
    assert(got(("red bolts", "red colt")) == 2)
    // "red widget" shares token "red" but dist > 2 — candidate, filtered
    assert(!got.contains(("red bolt", "red widget")))
    // "green gear" shares no token with anything → never a candidate
    assert(!got.keys.exists { case (a, b) => a.startsWith("green") || b.startsWith("green") })
    // capping df at 2 kills the "red" block (df 4); "bolt"/"bolts"/"colt"
    // are distinct tokens, so no block survives with two members
    val capped = graft.operators.FuzzyJoin.nearMatchPairs(df, "name",
      maxDist = 2, maxDf = Some(2L))
    assert(capped.count() == 0)
  }

  test("z-order: interleave is exact and clustering tightens both dims") {
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(graft.operators.ZOrder.zValue(col("x"), col("y")))
      .head().getLong(0)
    // x=0b11 → even bits 0,2; y=0b101 → odd bits 1,5 → 0b100111
    assert(z == 39L)
    // clusterBy: partitions own disjoint z-ranges (range partitioning).
    // The helper column is dropped — the output schema is the input's;
    // recompute z on the clustered output (projection keeps layout)
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val clustered = graft.operators.ZOrder.clusterBy(grid,
      graft.operators.ZOrder.zValue(col("x"), col("y")), 8)
    assert(clustered.columns.toSeq == Seq("x", "y"))
    val parts = clustered
      .select(graft.operators.ZOrder.zValue(col("x"), col("y")).as("z")).rdd
      .mapPartitions(it => { val zs = it.map(_.getLong(0)).toSeq
        if (zs.isEmpty) Iterator.empty
        else Iterator((zs.min, zs.max)) })
      .collect().sortBy(_._1)
    parts.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo)
      case _ => ()
    }
    // per-cell x-span far below global span: 8 z-range cells over a
    // 32×32 grid each cover ≤ a half-plane of x (span ≤ 16 of 31)
    val spans = clustered
      .select("x").rdd
      .mapPartitions(it => { val xs = it.map(_.getLong(0)).toSeq
        if (xs.isEmpty) Iterator.empty else Iterator(xs.max - xs.min) })
      .collect()
    assert(spans.forall(_ <= 16), s"x spans not tight: ${spans.mkString(",")}")
    // a pre-existing column with a z-ish name passes through untouched
    val withZ = grid.withColumn("_z", lit(7L))
    assert(graft.operators.ZOrder.clusterBy(withZ,
      graft.operators.ZOrder.zValue(col("x"), col("y")), 4)
      .filter(col("_z") =!= 7L).count() == 0)
  }
}
