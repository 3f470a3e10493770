package graft.queries

import graft.SparkSpec

/** text_quality's means divide by each column's own non-null count:
  * an empty doc has no alpha_ratio and no quality (0 chars), so
  * counting it would deflate both; a whitespace-only doc has values
  * and counts. `n_docs` stays the row count. */
class TextQualitySpec extends SparkSpec {

  test("text_quality means skip empty docs' null ratios instead of counting them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("text-quality").toString
    Seq((1L, "a", "the cat sat on the mat"), (2L, "a", ""), (3L, "a", "   "),
      (4L, "b", "the cat sat on the mat"), (5L, "b", "   "),
      (6L, "c", ""))
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")
    val rows = ScaleQueries.textQuality(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    def v(src: String, c: String): Any = rows(src).getAs[Any](c)

    assert(Seq("a", "b", "c").map(v(_, "n_docs")) == Seq(3L, 2L, 1L))
    // a = b plus one empty doc, which has neither ratio to average
    assert(v("a", "avg_alpha") == 1.0)
    assert(v("b", "avg_alpha") == 1.0)
    assert(v("a", "avg_quality") == v("b", "avg_quality"))
    // an all-empty group has no value to average: null, not an error
    assert(v("c", "avg_alpha") == null)
    assert(v("c", "avg_quality") == null)
    // an empty doc still splits into one (non-stopword) token
    assert(v("c", "avg_stopword") == 0.0)
  }
}
