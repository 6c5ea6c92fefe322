package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The native signature kernels ([[graft.functions.SimHash32]],
  * [[graft.functions.MinHashSig]]) must be bit-identical to the declarative
  * SQL formulations they replaced — that equivalence is what keeps the DuckDB
  * oracles for `x_dedup_simhash` / `x_dedup_minhash_lsh` valid. */
class HashKernelsSpec extends SparkSpec {

  private val kmPrime = 2147483647L
  private val docs = Seq(
    (1L, Seq("a b c", "b c d", "c d e")),
    (2L, Seq("x y z")),
    (3L, Seq("a b c")), // shares a shingle with doc 1
    (4L, Seq("ü ö ä", "多 字 节")) // multi-byte UTF-8 shingles
  )

  test("simhash32 kernel equals the explode + 32-conditional-sum formulation") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val arr = docs.toDF("doc_id", "shs")
    val kernel = arr.select($"doc_id", expr("simhash32(shs)").as("simhash"))

    val sums = (1 to 32).map(j =>
      sum(expr(s"2 * (ascii(substring(h, $j, 1)) % 2) - 1")).as(s"s$j"))
    val hash = (1 to 32)
      .map(j => when(col(s"s$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L)))
      .reduce((a, b) => a + b)
    val sql = arr.select($"doc_id", explode($"shs").as("sh"))
      .select($"doc_id", md5($"sh").as("h"))
      .groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .select($"doc_id", hash.as("simhash"))

    assert(kernel.orderBy("doc_id").collect().toSeq === sql.orderBy("doc_id").collect().toSeq)
  }

  test("minhash_sig kernel equals the explode + Kirsch-Mitzenmacher min-agg formulation") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val arr = docs.toDF("doc_id", "shs")
    val kernel = arr.select($"doc_id", expr("minhash_sig(shs, 16)").as("sig"))

    val based = arr.select($"doc_id", explode($"shs").as("sh"))
      .select($"doc_id", md5($"sh").as("h"))
      .select($"doc_id",
        expr(s"CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT) % $kmPrime").as("h1"),
        expr(s"CAST(conv(substring(h, 17, 15), 16, 10) AS BIGINT) % $kmPrime").as("h2"))
    val aggs = (0 until 16).map(i => min(expr(s"(h1 + $i * h2) % $kmPrime")).as(s"m$i"))
    val sql = based.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .select($"doc_id", array((0 until 16).map(i => col(s"m$i")): _*).as("sig"))

    val k = kernel.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val q = sql.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(k.toSeq === q.toSeq)
  }

  test("minhash_sig accepts any foldable integral nSeeds, not just a bare literal") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val arr = docs.toDF("doc_id", "shs")
    val bare = arr.select($"doc_id", expr("minhash_sig(shs, 16)").as("sig"))
    val folded = arr.select($"doc_id", expr("minhash_sig(shs, CAST(8 + 8 AS BIGINT))").as("sig"))
    assert(folded.orderBy("doc_id").collect().toSeq === bare.orderBy("doc_id").collect().toSeq)
  }

  test("shingles3 kernel equals the HOF array_distinct/transform/slice formulation") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq(
      (1L, "a b c d e"),            // plain
      (2L, "a b c a b c a b c"),    // duplicate shingles (distinct + order)
      (3L, "x y z"),                // exactly one shingle
      (4L, "多 字 节 ü ö"),          // multi-byte UTF-8
      (5L, "a  b c d"))             // empty token from the double space
      .toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("words"))
      .filter(size($"words") >= 3)
    val kernel = texts.select($"doc_id", expr("shingles3(words)").as("shs"))
    val hof = texts.select($"doc_id", expr(
      "array_distinct(transform(sequence(1, size(words) - 2), i -> concat_ws(' ', slice(words, i, 3))))"
    ).as("shs"))
    val k = kernel.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val h = hof.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(k.toSeq === h.toSeq) // element ORDER included — array_distinct keeps first occurrence
  }

  test("winnow_fp kernel equals the HOF md5/array_min/slice formulation") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq(
      (1L, "a b c d e f g h"),       // several windows
      (2L, "x y z"),                  // single shingle, single window
      (3L, "a b c a b c a b c a b"), // repeated shingles → duplicate minima
      (4L, "多 字 节 ü ö é è"))       // multi-byte UTF-8
      .toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("words"))
      .filter(size($"words") >= 3)
    val kernel = texts.select($"doc_id", expr("winnow_fp(words)").as("fps"))
    val hof = texts
      .withColumn("hs", expr(
        "transform(sequence(1, size(words) - 2), i -> md5(concat_ws(' ', slice(words, i, 3))))"))
      .select($"doc_id", expr(
        "array_distinct(transform(sequence(1, size(hs)), i -> array_min(slice(hs, i, 4))))").as("fps"))
    val k = kernel.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val h = hof.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(k.toSeq === h.toSeq) // order included — keep-first distinct
  }

  test("shingles3/winnow_fp kernels equal a plain-Scala reference on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def refShingles(words: Seq[String]): Seq[String] =
      words.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq.distinct
    def refWinnow(words: Seq[String]): Seq[String] = {
      val hs = words.sliding(3).filter(_.length == 3).map(w => md5hex(w.mkString(" "))).toVector
      hs.indices.map(i => hs.slice(i, math.min(i + 4, hs.length)).min).distinct
    }
    val wordGen = Gen.oneOf("a", "bb", "ccc", "", "ü多", "z")
    val corpusGen = Gen.choose(3, 24).flatMap(n => Gen.listOfN(n, wordGen))
    val prop = Prop.forAllNoShrink(Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, corpusGen))) { docs =>
      val df = docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "words")
      val got = df.select($"doc_id",
          expr("shingles3(words)").as("shs"), expr("winnow_fp(words)").as("fps"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2)))
      val want = docs.zipWithIndex.map { case (w, i) =>
        (i.toLong, refShingles(w), refWinnow(w)) }
      got.toSeq == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("stopword_hits kernel equals the interpreted filter/array_contains HOF") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq(
      (1L, "the cat and the hat"),   // repeated stopwords: occurrences, not distinct
      (2L, "no stops here"),          // zero hits
      (3L, "the the the"),            // all hits
      (4L, "ü of 多 and"),            // multi-byte neighbors
      (5L, ""),                       // single empty token
      (6L, "a  of"))                  // empty token from double space
      .toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("words"))
    val stops = "array('the', 'a', 'of', 'and', 'is')"
    val kernel = texts.select($"doc_id", expr(s"stopword_hits(words, $stops)").as("n"))
    val hof = texts.select($"doc_id",
      expr(s"size(filter(words, x -> array_contains($stops, x)))").as("n"))
    assert(kernel.orderBy("doc_id").collect().toSeq === hof.orderBy("doc_id").collect().toSeq)
  }

  test("stopword_hits kernel equals the HOF on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val stops = Seq("the", "a", "of", "and", "is")
    val wordGen = Gen.oneOf("the", "a", "of", "and", "is", "cat", "", "ü多", "zz")
    val corpusGen = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, wordGen))
    val prop = Prop.forAllNoShrink(Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, corpusGen))) { docs =>
      val df = docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "words")
      val got = df
        .select($"doc_id",
          expr(s"stopword_hits(words, array(${stops.map(s => s"'$s'").mkString(", ")}))").as("n"))
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1)))
      val want = docs.zipWithIndex.map { case (w, i) => (i.toLong, w.count(stops.contains)) }
      got.toSeq == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("kernels stay inside whole-stage codegen and add no exchange") {
    graft.functions.GraftFunctions.register(spark)
    Seq(
      "x_dedup_simhash" -> graft.ops.Dedup.queries("x_dedup_simhash"),
      "x_text_winnow" -> graft.ops.TextAnalysis.queries("x_text_winnow"),
      "x_text_langid" -> graft.ops.TextAnalysis.queries("x_text_langid"),
      "x_text_quality" -> graft.ops.TextAnalysis.queries("x_text_quality")
    ).foreach { case (name, q) =>
      val tree = q(spark, sf).queryExecution.executedPlan.toString
      assert(!tree.contains("Exchange"), s"$name plan must be map-side only:\n$tree")
      // whole-stage codegen spans render as "*(n)" node prefixes
      assert(tree.contains("*("), s"$name plan must contain codegen'd spans:\n$tree")
    }
  }

  test("empty and null shingle arrays yield null signatures, not crashes") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1L, Some(Seq.empty[String])), (2L, None))
      .toDF("doc_id", "shs")
      .select($"doc_id",
        expr("minhash_sig(shs, 16)").as("sig"), expr("simhash32(shs)").as("sh"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows(0).isNullAt(1)) // empty array: no signature
    assert(rows(0).getLong(2) === 0L) // empty simhash: all counts 0 -> hash 0
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2)) // null propagates
  }
}
