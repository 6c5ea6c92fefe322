package graft

import graft.ops.{Dedup, Sampling}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck invariants for the deterministic sampling family: the
  * hash-ordered quota draw must equal an independently computed driver-side
  * selection on ANY corpus — per-stratum caps hold exactly, and the kept set
  * is a pure function of (doc_id, lang, source), never of partitioning or
  * row order (the reproducibility contract auditable training sets rely
  * on). */
class SamplingPropsSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val rowGen = for {
    id <- Gen.choose(0L, 200L)
    lang <- Gen.oneOf("en", "de", "fr")
    src <- Gen.oneOf("s0", "s1")
  } yield (id, lang, src)

  test("quota sample ≡ driver-side smallest-md5 selection; caps exact; order-insensitive") {
    val quota = 3
    val corpusGen = Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, rowGen)).map(_.distinct)
    val prop = Prop.forAllNoShrink(corpusGen, Gen.choose(1, 8)) { (rows, parts) =>
      val df = rows.toDF("doc_id", "lang", "source").repartition(parts)
      val got = Sampling.quotaSampleDocs(df, quota)
        .as[(Long, String, String, Long)].collect().toSet
      val want = rows.groupBy(r => (r._2, r._3)).toSeq.flatMap { case (_, g) =>
        g.sortBy(r => (md5hex(r._1.toString), r._1))
          .take(quota).zipWithIndex
          .map { case ((id, l, s), i) => (id, l, s, i + 1L) }
      }.toSet
      val capsHold = got.groupBy(r => (r._2, r._3)).forall(_._2.size <= quota)
      got == want && capsHold
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("quota plan: bounded-heap aggregation, no window sort anywhere") {
    // The round-14 rewrite: the per-stratum cut is a bounded-heap
    // aggregation (map-side ObjectHashAggregate partials at full source
    // parallelism) whose sorted survivors carry their rank as the
    // posexplode ordinal. A regression to a stratum-partitioned
    // row_number window (each stratum one multi-TB sort task at 100 TB)
    // fails here.
    val plan = Sampling.quotaSampleDocs(
      Tables.documents(spark, sf)
        .select($"doc_id", $"lang", $"source"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"quota cut must be the partial+final bounded-heap aggregation:\n$plan")
    assert(!plan.contains("Window"),
      s"the quota draw must not sort strata in window partitions:\n$plan")
  }

  test("leak-proof split: no near-dup component straddles splits; coverage total") {
    val docs = Sampling.splitLeakproofDocs(spark, sf)
    // purity: every component maps to exactly one split
    val impure = docs.groupBy($"comp")
      .agg(org.apache.spark.sql.functions.countDistinct($"split").as("n_splits"))
      .filter($"n_splits" > 1).count()
    assert(impure == 0L, s"$impure components straddle splits")
    // coverage: every document is assigned exactly once
    assert(docs.count() == Tables.documents(spark, sf).count())
    // the rollup's component counts sum to >= the distinct component total
    // (a component spanning languages is counted once per (split, lang))
    val rolled = Sampling.splitLeakproof(spark, sf)
      .agg(org.apache.spark.sql.functions.sum($"n_comps")).as[Long].head()
    assert(rolled >= docs.select($"comp").distinct().count())
  }

  test("ingest split inherits the standing near-dup's key; novel docs hash their own id") {
    val out = Sampling.splitLeakproofIngest(spark, sf)
      .select($"doc_id", $"inherited", $"split_key")
      .as[(Long, Boolean, Long)].collect()
    assert(out.nonEmpty)
    val verdicts = Dedup.incremental(spark, sf)
      .select($"new_id", $"dup_of", $"is_dup")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val comps = Dedup.standingComponentLabels(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(out.exists(_._2), "fixture should produce at least one inherited arrival")
    out.foreach { case (id, inherited, key) =>
      verdicts(id) match {
        case Some(dupOf) =>
          assert(inherited)
          assert(key == comps.getOrElse(dupOf, dupOf),
            s"arrival $id should inherit $dupOf's standing component")
        case None =>
          assert(!inherited && key == id, s"novel arrival $id must key by itself")
      }
    }
  }

  test("globalIndex is a dense 1..n permutation consistent with (shard, pos) order") {
    val corpusGen = Gen.choose(1, 80).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0L, 500L), Gen.oneOf("en", "de")))).map(_.distinctBy(_._1))
    val prop = Prop.forAllNoShrink(corpusGen, Gen.choose(1, 6)) { (rows, parts) =>
      val got = Sampling.globalIndexDocs(
          rows.toDF("doc_id", "lang").repartition(parts))
        .as[(Long, String, Long, Long, Long)].collect()
      val n = rows.size
      val dense = got.map(_._5).sorted.toSeq == (1L to n.toLong)
      // global order by (shard, pos) is exactly the example_id order
      val consistent = got.sortBy(r => (r._3, r._4)).map(_._5).toSeq == (1L to n.toLong)
      dense && consistent
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
