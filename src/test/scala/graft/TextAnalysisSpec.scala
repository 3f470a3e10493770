package graft

import org.apache.spark.sql.functions._
import graft.scaleops.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token count and bpe-ish segmentation") {
    val df = Seq("hello world  x", "don't stop3 now!").toDF("text")
    val counts = df.select(TextAnalysis.tokenCount(col("text"))).collect()
      .map(_.getInt(0))
    assert(counts.toSeq == Seq(3, 3))
    val bpe = df.select(TextAnalysis.bpeishTokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(bpe(1) == Seq("don", "'", "t", "stop", "3", "now", "!"))
  }

  test("fingerprint is invariant to token order and duplication") {
    val df = Seq("b a c", "c b a a", "a b x").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val fps = df.collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("langid picks the language with most marker hits; en on ties") {
    val df = Seq(
      "der hund und die katze",   // de markers
      "le chat et les oiseaux",   // fr markers
      "nothing matching here")    // all-zero → en (first declared)
      .toDF("text")
    val got = df.select(TextAnalysis.langId(col("text"))).collect()
      .map(_.getString(0))
    assert(got.toSeq == Seq("de", "fr", "en"))
  }

  test("quality score is bounded in [0,1]") {
    val df = Seq("the of a and to in the of", "x", "").toDF("text")
    val scores = df.select(TextAnalysis.qualityScore(col("text"))).collect()
      .map(r => if (r.isNullAt(0)) 0.0 else r.getDouble(0))
    scores.foreach(s => assert(s >= 0.0 && s <= 1.0))
  }

  test("tfidf: hand-computed tiny corpus; idf = MLlib IDF + 1") {
    val docs = Seq((0L, "apple banana apple"), (1L, "apple cherry"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(2)) ->
        (r.getInt(1), r.getDouble(3))).toMap
    // N=2; df(apple)=2, df(banana)=df(cherry)=1
    val idfApple = math.log(3.0 / 3.0) + 1   // = 1
    val idfRare = math.log(3.0 / 2.0) + 1
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((0L, "apple")) == (1, r6(2 * idfApple)))  // tf=2 tops doc 0
    assert(got((0L, "banana")) == (2, r6(idfRare)))
    assert(got((1L, "cherry"))._2 == r6(idfRare))
    assert(got((1L, "apple"))._2 == r6(idfApple))
    // cherry (1.405) outranks apple (1.0) in doc 1
    assert(got((1L, "cherry"))._1 == 1 && got((1L, "apple"))._1 == 2)

    // the MLlib pipeline's fitted idf vector is our formula minus 1
    import org.apache.spark.ml.feature.{CountVectorizer, IDF}
    val toks = docs.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("toks"))
    val cv = new CountVectorizer().setInputCol("toks")
      .setOutputCol("tf").fit(toks)
    val idf = new IDF().setInputCol("tf").setOutputCol("tfidf")
      .fit(cv.transform(toks))
    cv.vocabulary.zip(idf.idf.toArray).foreach { case (term, w) =>
      val expected = if (term == "apple") idfApple else idfRare
      assert(math.abs((w + 1) - expected) < 1e-12, s"term $term")
    }
  }
}
