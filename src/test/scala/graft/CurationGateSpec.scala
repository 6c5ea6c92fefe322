package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.functions.col

/** The curation gate's decisions on hand-built documents: the quality
  * rule at both word-count bounds, the exact-duplicate keep rule and the
  * linear gate score. The fixture corpora reach none of these edges: no
  * fixture document has more than 100 words, and the sf0.01 corpus has no
  * repeated text, so its keep-list keeps every document. */
class CurationGateSpec extends SparkSpec {
  import spark.implicits._

  /** `n` words: `stops` copies of the English stopword "the", `puncts`
    * words carrying one punctuation character, the rest filler. */
  private def text(n: Int, stops: Int, puncts: Int = 0): String =
    (Seq.fill(stops)("the") ++ Seq.fill(puncts)("zz.") ++
      Seq.fill(n - stops - puncts)("zz")).mkString(" ")

  test("quality rule: 20 to 2000 words and at least one English stopword") {
    graft.functions.GraftFunctions.register(spark)
    val cases = for (n <- Seq(19, 20, 2000, 2001); stops <- Seq(0, 1)) yield (n, stops)
    val docs = cases.zipWithIndex
      .map { case ((n, stops), i) => (i.toLong, text(n, stops)) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.gateFeatures(docs, col("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_stop"),
        TextAnalysis.qualityRule.as("is_quality"))
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got.size == cases.size)
    cases.zipWithIndex.foreach { case ((n, stops), i) =>
      val want = (i.toLong, n.toLong, stops.toLong, (n == 20 || n == 2000) && stops == 1)
      assert(got(i.toLong) == want, s"$n words, $stops stopwords")
    }
  }

  test("keep-list: of identical passing texts only the lowest doc_id survives") {
    graft.functions.GraftFunctions.register(spark)
    val twin = text(30, 3)
    val docs = Seq(
      (7L, "en", "web", twin),
      (3L, "en", "wiki", twin),    // same text, lower id: the survivor
      (5L, "en", "web", text(30, 2)),
      (1L, "en", "web", text(10, 1))) // fails the rule, so keeps nothing
      .toDF("doc_id", "lang", "source", "text")
    val kept = TextAnalysis.curatedOf(docs)
      .select(col("doc_id"), col("n_words")).as[(Long, Long)].collect().toSet
    assert(kept == Set((3L, 30L), (5L, 30L)))
  }

  test("gate score: hand-computed logit and admit decision") {
    graft.functions.GraftFunctions.register(spark)
    // score_m = 4·stop_pm − 3·punct_pm + 2·min(n_words, 500) − 900, the
    // per-mille rates truncated; admitted iff score_m ≥ 0.
    val docs = Seq(
      // stop_pm 4000/40 = 100, punct_pm 2000/40 = 50: 400 − 150 + 80 − 900
      (1L, text(40, 4, puncts = 2), 100L, 50L, -570L, false),
      // stop_pm 7000/30 = 233, punct_pm 1000/30 = 33: 932 − 99 + 60 − 900
      (2L, text(30, 7, puncts = 1), 233L, 33L, -7L, false),
      // stop_pm 200: 800 + 100 − 900, the admit boundary
      (3L, text(50, 10), 200L, 0L, 0L, true),
      // stop_pm 250, length capped at 500: 1000 + 1000 − 900
      (4L, text(600, 150), 250L, 0L, 1100L, true))
    val got = TextAnalysis.gateMapSide(
        docs.map(d => (d._1, "en", d._2)).toDF("doc_id", "lang", "text"))
      .select(col("doc_id"), col("stop_pm"), col("punct_pm"), col("score_m"), col("is_admit"))
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(got == docs.map(d => (d._1, d._3, d._4, d._5, d._6)).toSet)
  }
}
