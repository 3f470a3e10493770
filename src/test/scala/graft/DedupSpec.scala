package graft

import org.apache.spark.sql.functions._
import graft.scaleops.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: distinct word 3-grams; short text yields empty set") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1).isEmpty)
  }

  test("native shingles equal the composed-built-in formulation on real docs") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val mismatches = docs.select(
      Dedup.shingles(col("text"), 3).as("nat"),
      Dedup.shinglesComposed(col("text"), 3).as("comp"))
      .filter(not(col("nat") === col("comp")))
      .count()
    assert(mismatches == 0)
  }

  test("exact stats counts redundant rows and dup groups") {
    val df = Seq("x", "x", "x", "y", "z").toDF("t")
    val r = Dedup.exactStats(df, col("t")).head()
    assert(r.getAs[Long]("n_distinct") == 3)
    assert(r.getAs[Long]("n_rows") == 5)
    assert(r.getAs[Long]("n_redundant") == 2)
    assert(r.getAs[Long]("n_dup_groups") == 1)
  }

  test("prefix-filtered exact jaccard equals the naive all-pairs scan on real docs") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val got = Dedup.exactJaccardPairs(docs, "doc_id", "text",
      shingleK = 2, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive reference: every pair, no prefix filter
    val sh = docs.select(col("doc_id"),
      Dedup.shingles(col("text"), 2).as("sh"))
    val naive = sh.select(col("doc_id").as("a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")))
      .filter(col("a") < col("b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= 0.5)
      .select("a", "b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == naive)
    assert(naive.nonEmpty) // the corpus plants near-dups; the test must bite
  }

  test("prefix-filtered jaccard equals naive on adversarial random corpora") {
    // tiny vocabulary forces degenerate document frequencies — the
    // regime where prefix filtering prunes least and any bound error
    // would surface as a missing pair
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val vocab = (1 to 12).map(i => s"w$i")
      val docs = (1 to 60).map { id =>
        val len = 3 + rnd.nextInt(10)
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      for (t <- Seq(0.5, 0.8)) {
        val got = Dedup.exactJaccardPairs(docs, "doc_id", "text",
          shingleK = 2, minJaccard = t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val sh = docs.select(col("doc_id"),
          Dedup.shingles(col("text"), 2).as("sh"))
        val naive = sh.select(col("doc_id").as("a"), col("sh").as("sh_a"))
          .crossJoin(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")))
          .filter(col("a") < col("b"))
          .withColumn("jaccard", round(
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))), 6))
          .filter(col("jaccard") >= t)
          .select("a", "b", "jaccard")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got == naive, s"trial $trial threshold $t")
      }
    }
  }

  test("size-ordered probe + index prefix: containment and jaccard equal " +
    "naive on adversarial random corpora") {
    // stresses the r15 candidate pruning: tiny vocabulary (degenerate
    // document frequencies), many equal-size docs (orientation tie
    // path), and size skew (short-doc-in-long-doc containment); any
    // over-pruning surfaces as a missing pair vs the all-pairs scan
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val vocab = (1 to 10).map(i => s"w$i")
      val docs = (1 to 50).map { id =>
        val len = 2 + rnd.nextInt(14)
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val sh = docs.select(col("doc_id"),
        Dedup.shingles(col("text"), 2).as("sh"))
        .filter(size(col("sh")) > 0)
      val pairsBase = sh.select(col("doc_id").as("a"), col("sh").as("sh_a"))
        .crossJoin(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")))
        .filter(col("a") < col("b"))
        .withColumn("common",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      for (t <- Seq(0.6, 0.9)) {
        val gotC = Dedup.containmentPairs(docs, "doc_id", "text",
          shingleK = 2, minContainment = t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val naiveC = pairsBase
          .withColumn("containment", round(col("common") /
            least(size(col("sh_a")), size(col("sh_b"))), 6))
          .filter(col("containment") >= t)
          .select("a", "b", "containment")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(gotC == naiveC, s"containment trial $trial threshold $t")
        val gotJ = Dedup.exactJaccardPairs(docs, "doc_id", "text",
          shingleK = 2, minJaccard = t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val naiveJ = pairsBase
          .withColumn("jaccard", round(col("common") /
            size(array_union(col("sh_a"), col("sh_b"))), 6))
          .filter(col("jaccard") >= t)
          .select("a", "b", "jaccard")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(gotJ == naiveJ, s"jaccard trial $trial threshold $t")
      }
    }
  }

  test("jaccard index prefix: boundary pair whose shared shingles sit at " +
    "the END of the rarity order is still found") {
    // |A| = 4 bigrams ⊂ |B| = 5 bigrams, J = 4/5 = 0.8 exactly; pad
    // docs make the shared shingles the COMMONEST (df-largest), so
    // they sort last and the candidate must come from the shortest
    // admissible index prefix — the spot the r15 pruning touches
    val a = "s1 s2 s3 s4 s5" // bigrams s1s2 s2s3 s3s4 s4s5
    val b = "s1 s2 s3 s4 s5 s6" // adds s5s6
    val pads = (1 to 6).map(i => (10L + i, s"s$i s${i + 1} pad$i"))
    val df = (Seq((1L, a), (2L, b)) ++ pads).toDF("doc_id", "text")
    val got = Dedup.exactJaccardPairs(df, "doc_id", "text",
      shingleK = 2, minJaccard = 0.8)
      .filter(col("a") === 1L && col("b") === 2L).collect()
    assert(got.length == 1)
    assert(got.head.getDouble(2) == 0.8)
  }

  test("minhash near-dups finds a planted near-duplicate pair, not the distinct one") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 28).map(i => s"tok$i").mkString(" ") + " other1 other2"
    val distinct = (100 to 130).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, distinct)).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDups(df, "doc_id", "text").collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) > 0.6)
  }

  test("incremental jaccard = full pair set restricted to batch-touching pairs") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val full = Dedup.exactJaccardPairs(docs, "doc_id", "text", 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val inc = Dedup.exactJaccardPairsIncremental(
      docs.filter(col("doc_id") % 3 =!= 0),
      docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expected = full.filter { case ((a, b), _) => a % 3 == 0 || b % 3 == 0 }
    assert(inc == expected)
    assert(inc.nonEmpty) // restriction is exercised, not vacuous
    assert(inc.size < full.size) // old×old pairs really dropped
  }

  test("codegen simhash signatures equal the expression-fold simhash") {
    val df = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "some other tokens entirely"), (3L, "alpha alpha alpha beta"))
      .toDF("doc_id", "text")
    val exprSigs = df.select(col("doc_id"), Dedup.simHash("text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aggSigs = Dedup.simHashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exprSigs == aggSigs)
  }

  test("containment: a doc quoted inside a longer one scores C=1.0 " +
    "where Jaccard collapses; unrelated docs never pair") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6 x1 x2 x3 x4 x5"),
      (3L, "totally unrelated words in this one here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text",
      shingleK = 2, minContainment = 0.9).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getAs[Double]("containment") == 1.0) // all 5 bigrams of 1 in 2
    assert(r.getAs[Double]("jaccard") == 0.5) // 5 / (5 + 10 - 5): J misses it
    // the same corpus at Jaccard >= 0.9 finds nothing — the operator
    // exists precisely for this blind spot
    assert(Dedup.exactJaccardPairs(df, "doc_id", "text",
      shingleK = 2, minJaccard = 0.9).count() == 0L)
  }

  test("simhash: identical texts collide, hamming 0; distinct texts differ") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "completely different words here"))
      .toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), Dedup.simHash("text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.simHashNearDups(df, "doc_id", "text", maxDist = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }
}
