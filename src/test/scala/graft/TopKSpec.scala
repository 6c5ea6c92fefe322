package graft

import graft.functions.{TopK, TopKOrder}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The bounded-heap top-k Aggregator must be exactly equivalent to the
  * window-function formulation `row_number() OVER (PARTITION BY g ORDER BY
  * score DESC, id ASC) <= k` — checked on randomized inputs including
  * duplicate scores (tie-break by id) and groups smaller than k. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  private val rowGen = for {
    g <- Gen.choose(0, 3)
    id <- Gen.choose(0L, 500L)
    score <- Gen.oneOf(Gen.choose(0, 20).map(_.toDouble / 4), Gen.choose(-1e9, 1e9).map(_ / 1e6))
  } yield (g.toLong, id, score)

  test("TopK aggregator ≡ row_number window on randomized inputs") {
    val prop = Prop.forAllNoShrink(Gen.choose(1, 120).flatMap(n => Gen.listOfN(n, rowGen))) { rows =>
      // one candidate per (group, id): dedup ids so ranking is well-defined
      val data = rows.distinctBy(r => (r._1, r._2))
        .toDF("query_id", "neighbor_id", "score")
      val got = TopK.topK(data, "query_id", "score", "neighbor_id", 10)
        .as[(Long, Long, Long)].collect().toSet
      val want = viaWindow(data, 10).as[(Long, Long, Long)].collect().toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("score-preserving TopK ≡ window keeping the score, on randomized inputs") {
    val prop = Prop.forAllNoShrink(Gen.choose(1, 120).flatMap(n => Gen.listOfN(n, rowGen))) { rows =>
      val data = rows.distinctBy(r => (r._1, r._2))
        .toDF("query_id", "neighbor_id", "score")
      val got = TopK.topKScored(data, "query_id", "score", "neighbor_id", 10)
        .select("query_id", "neighbor_id", "score", "rnk")
        .as[(Long, Long, Double, Long)].collect().toSet
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      val want = data.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("query_id", "neighbor_id", "score", "rnk")
        .as[(Long, Long, Double, Long)].collect().toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("groups with fewer than k candidates emit all of them, ranked") {
    val data = Seq((1L, 10L, 0.5), (1L, 11L, 0.9)).toDF("query_id", "neighbor_id", "score")
    val got = TopK.topK(data, "query_id", "score", "neighbor_id", 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 11L, 1L), (1L, 10L, 2L)))
  }

  test("equal scores break ties by ascending id") {
    val data = Seq((1L, 30L, 1.0), (1L, 20L, 1.0), (1L, 10L, 1.0))
      .toDF("query_id", "neighbor_id", "score")
    val got = TopK.topK(data, "query_id", "score", "neighbor_id", 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 1L), (1L, 20L, 2L)))
  }

  test("dedup TopK ≡ distinct-then-TopK on duplicate-carrying inputs (the navGraph contract)") {
    // duplicates of a (group, id) pair carry EQUAL scores — the navGraph
    // precondition (score is a pure function of the pair); replication
    // count is random so dedup has real work at every heap site
    val dupGen = for {
      rows <- Gen.choose(1, 80).flatMap(n => Gen.listOfN(n, rowGen))
      reps <- Gen.listOfN(rows.length, Gen.choose(1, 4))
    } yield rows.distinctBy(r => (r._1, r._2)).zip(reps).flatMap {
      case (r, c) => List.fill(c)(r)
    }
    val prop = Prop.forAllNoShrink(dupGen) { rows =>
      val data = rows.toDF("query_id", "neighbor_id", "score")
      val got = TopK.topKDistinct(data, "query_id", "score", "neighbor_id", 10)
        .as[(Long, Long, Long)].collect().toSet
      val want = TopK.topK(data.distinct(), "query_id", "score", "neighbor_id", 10)
        .as[(Long, Long, Long)].collect().toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("dedup TopK keeps the best-scored copy when duplicate ids differ in score") {
    // beyond the navGraph precondition: keep-best-per-id is the general
    // contract (a dropped worse copy can never re-enter — the compaction
    // monotonicity TopKOrder.byId's scaladoc states)
    val data = Seq(
      (1L, 10L, 0.2), (1L, 10L, 0.9), (1L, 10L, 0.5),
      (1L, 20L, 0.7), (1L, 30L, 0.1))
      .toDF("query_id", "neighbor_id", "score")
    val got = TopK.topKDistinct(data, "query_id", "score", "neighbor_id", 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 1L), (1L, 20L, 2L)))
  }

  // --- the kernel under each of its four orders against Spark's own
  // `row_number() OVER (PARTITION BY g ORDER BY …)`. k is randomized: a
  // small k runs the 4k compaction, a k near the group size ranks (almost)
  // every row, so every tie must break the window's way.

  private def windowCut(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.withColumn("rnk",
        row_number().over(Window.partitionBy(col("g")).orderBy(order: _*)).cast("long"))
      .filter(col("rnk") <= k)

  /** Rows as value sets; doubles by raw bits, so NaN matches NaN and -0.0
    * must come back as -0.0. */
  private def rowSet(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).toSet

  private val score: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(Double.NaN, -0.0, 0.0, 1.0, Double.PositiveInfinity, Double.NegativeInfinity),
    3 -> Gen.choose(-4, 4).map(_.toDouble / 4),
    1 -> Gen.choose(-1e3, 1e3))
  // "😀" sorts before "\uFFFD" in Java's UTF-16 compareTo, after it in
  // Spark's UTF-8 byte order
  private val key: Gen[String] =
    Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "é", "\uFFFD", "😀")))
      .map(_.mkString)
  private def inputs[R](row: Gen[R]): Gen[(Int, List[R])] =
    Gen.zip(Gen.oneOf(Gen.choose(1, 4), Gen.choose(5, 40)),
      Gen.choose(1, 120).flatMap(n => Gen.listOfN(n, row)))
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("kernel under the Scored order ≡ window ORDER BY score DESC, id ASC (NaN, -0.0, ties)") {
    val row = Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 60L), score)
    check(Prop.forAllNoShrink(inputs(row)) { case (k, rs) =>
      val data = rs.distinctBy(r => (r._1, r._2)).toDF("g", "id", "score")
      rowSet(TopK.topKScored(data, "g", "score", "id", k), "g", "neighbor_id", "score", "rnk") ==
        rowSet(windowCut(data, k, col("score").desc, col("id").asc), "g", "id", "score", "rnk")
    })
  }

  test("kernel under the Scored2 order ≡ window, payload columns returned unchanged") {
    val row = for {
      g <- Gen.choose(0L, 3L); id <- Gen.choose(0L, 60L); sc <- score
      pa <- Gen.choose(Long.MinValue, Long.MaxValue); pb <- Gen.choose(-3L, 3L)
    } yield (g, id, sc, pa, pb)
    check(Prop.forAllNoShrink(inputs(row)) { case (k, rs) =>
      val data = rs.distinctBy(r => (r._1, r._2)).toDF("g", "id", "score", "pa", "pb")
      val got = TopK.topKPayload(data, "g", "score", "id", "pa", "pb", k)
      got.columns.toSeq == Seq("g", "neighbor_id", "pa", "pb", "rnk") &&
        rowSet(got, "g", "neighbor_id", "pa", "pb", "rnk") ==
          rowSet(windowCut(data, k, col("score").desc, col("id").asc), "g", "id", "pa", "pb", "rnk")
    })
  }

  test("kernel under the KeyedId order ≡ window ORDER BY h ASC, id ASC, same on duplicated input") {
    def viaKernel(df: DataFrame, k: Int) = TopK.ranked(
      df.groupBy(col("g")).agg(TopK.cut(k, TopKOrder.keyedId, TopKOrder.wholeRecord)
        .apply(col("h"), col("id")).as("top")),
      "top", col("g"), col("t.h").as("h"), col("t.id").as("id"), col("rnk"))
    val pinned = Seq((0L, "\uFFFD", 2L), (0L, "😀", 1L)).toDF("g", "h", "id")
    assert(rowSet(viaKernel(pinned, 1), "h") == Set(Seq("\uFFFD")),
      "UTF-8 byte order puts U+FFFD before a supplementary character")
    val row = Gen.zip(Gen.choose(0L, 3L), key, Gen.choose(0L, 20L))
    val withDups = for {
      (k, rs) <- inputs(row)
      reps <- Gen.listOfN(rs.length, Gen.choose(1, 3))
    } yield (k, rs.distinct, rs.distinct.zip(reps).flatMap { case (r, n) => List.fill(n)(r) })
    check(Prop.forAllNoShrink(withDups) { case (k, distinctRows, dupRows) =>
      val data = distinctRows.toDF("g", "h", "id")
      val want = rowSet(windowCut(data, k, col("h").asc, col("id").asc), "g", "h", "id", "rnk")
      rowSet(viaKernel(data, k), "g", "h", "id", "rnk") == want &&
        rowSet(viaKernel(dupRows.toDF("g", "h", "id"), k), "g", "h", "id", "rnk") == want
    })
  }

  test("kernel under the CountKeyed order ≡ window ORDER BY c DESC, key ASC") {
    val row = Gen.zip(Gen.choose(0L, 3L), key, Gen.choose(0L, 3L))
    check(Prop.forAllNoShrink(inputs(row)) { case (k, rs) =>
      val data = rs.distinctBy(r => (r._1, r._2)).toDF("g", "key", "c")
      val got = TopK.ranked(
        data.groupBy(col("g")).agg(TopK.cut(k, TopKOrder.countKeyed)
          .apply(col("c"), col("key")).as("top")),
        "top", col("g"), col("t.key").as("key"), col("t.c").as("c"), col("rnk"))
      rowSet(got, "g", "key", "c", "rnk") ==
        rowSet(windowCut(data, k, col("c").desc, col("key").asc), "g", "key", "c", "rnk")
    })
  }
}
