package graft

import graft.ops.{Dedup, Sketches}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Differential/property checks for the graph and count-min operators:
  * degree-oriented triangle enumeration vs a brute-force sequential
  * reference on random graphs (the [[BpeSpec]] differential pattern), and
  * the count-min structural guarantee (estimates never undercount — for
  * ANY key, not just the probed top-k). */
class GraphPropsSpec extends SparkSpec {
  import spark.implicits._

  private val edgeGen = for {
    a <- Gen.choose(1L, 14L)
    b <- Gen.choose(1L, 14L)
    if a != b
  } yield (math.min(a, b), math.max(a, b))

  test("khopOf ≡ brute-force BFS-2 on random graphs") {
    val graphGen = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, edgeGen)).map(_.distinct)
    val prop = Prop.forAllNoShrink(graphGen) { pairs =>
      val got = Dedup.khopOf(pairs.toDF("doc_a", "doc_b"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      val want = adj.map { case (v, n1) =>
        val reach = (n1 ++ n1.flatMap(adj)) - v
        v -> ((n1.size.toLong, reach.size.toLong))
      }
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("trianglesOf ≡ brute-force enumeration on random graphs; partition-insensitive") {
    val graphGen = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, edgeGen)).map(_.distinct)
    val prop = Prop.forAllNoShrink(graphGen, Gen.choose(1, 6)) { (pairs, parts) =>
      val got = Dedup.trianglesOf(pairs.toDF("doc_a", "doc_b").repartition(parts))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // sequential reference: adjacency sets, count triangles per vertex
      val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      val verts = adj.keys.toSeq.sorted
      val triPer = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        a <- verts; b <- adj(a) if b > a; c <- adj(a) if c > b && adj(b).contains(c)
      } { triPer(a) += 1; triPer(b) += 1; triPer(c) += 1 }
      val want = verts.map { v =>
        val deg = adj(v).size.toLong
        val t = triPer(v)
        val lcc = if (deg < 2) 0L else (20000L * t) / (deg * (deg - 1))
        v -> ((deg, t, lcc))
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("pagerankOf ≡ sequential integer fixed-point reference on random graphs") {
    val graphGen = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, edgeGen)).map(_.distinct)
    val prop = Prop.forAllNoShrink(graphGen, Gen.choose(1, 6)) { (pairs, parts) =>
      val sym = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
      val got = Dedup.pagerankOf(sym.toDF("src", "dst").repartition(parts))
        .as[(Long, Long)].collect().toMap
      // sequential reference: same integer arithmetic, 3 damped rounds
      val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      val scale = 1000000000L
      var rank = adj.keys.map(_ -> scale).toMap
      for (_ <- 1 to 3) {
        val acc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for ((u, outs) <- adj; v <- outs) acc(v) += rank(u) / outs.size
        rank = adj.keys.map(v => v -> (15L * scale / 100 + (85L * acc(v)) / 100)).toMap
      }
      got == rank
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("cdcMergeApply ≡ sequential fold of the changeset on random bases/changesets") {
    import graft.ops.Temporal
    val baseGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(1L, 15L), Gen.alphaLowerStr.map(_.take(4))))).map(_.distinctBy(_._1))
    val chGen = Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, for {
      id <- Gen.choose(1L, 20L)
      op <- Gen.oneOf("U", "D", "I")
      t <- Gen.alphaLowerStr.map(_.take(4))
    } yield (id, op, t)))
    val prop = Prop.forAllNoShrink(baseGen, chGen) { (base, chs) =>
      // distinct seqs per key, in list order — last change wins
      val seqd = chs.zipWithIndex.map { case ((id, op, t), i) => (id, i.toLong, op, t) }
      val baseDf = base.map { case (id, t) => (id, "en", "web", t) }
        .toDF("doc_id", "lang", "source", "text")
      val chDf = seqd.map { case (id, sq, op, t) => (id, sq, op, "xx", "cdc", t) }
        .toDF("doc_id", "seq", "op", "c_lang", "c_source", "c_text")
      val got = Temporal.cdcMergeApply(baseDf, chDf)
        .select($"doc_id", $"text_h").as[(Long, String)].collect().toMap
      // sequential reference: last change per key applied over the base
      def h(t: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val last = seqd.groupBy(_._1).map { case (k, g) => k -> g.maxBy(_._2) }
      val keys = (base.map(_._1) ++ last.keys).distinct
      val want = keys.flatMap { k =>
        (last.get(k), base.find(_._1 == k)) match {
          case (Some((_, _, "D", _)), _) => None
          case (Some((_, _, _, t)), _)   => Some(k -> h(t))
          case (None, Some((_, t)))      => Some(k -> h(t))
          case (None, None)              => None
        }
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("count-min never undercounts ANY key (structural guarantee, random multisets)") {
    val usersGen = Gen.choose(1, 120).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1L, 30L)))
    val prop = Prop.forAllNoShrink(usersGen) { users =>
      val ev = users.toDF("user_id")
      val counters = ev
        .select(explode(array(Sketches.cmCellStructs: _*)).as("c"))
        .select(col("c.r").as("r"), col("c.b").as("b"))
        .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
      // probe EVERY distinct key, not just the top-k
      val est = ev.distinct()
        .select(col("user_id"), explode(array(Sketches.cmCellStructs: _*)).as("c"))
        .select(col("user_id"), col("c.r").as("r"), col("c.b").as("b"))
        .join(counters, Seq("r", "b"))
        .groupBy(col("user_id")).agg(min(col("cnt")).as("n_cm"))
        .as[(Long, Long)].collect().toMap
      val exact = users.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      exact.forall { case (k, n) => est(k) >= n }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
