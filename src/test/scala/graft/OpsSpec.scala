package graft

import graft.ops._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unit + sf0.001 smoke coverage for the batch ops packs (SURVEY §5.2 item
  * 2). Heavier cross-engine equality runs through the DuckDB oracle gate
  * (`graft.Verify` + `tools/check_oracle.py`); these suites pin the semantics
  * that gate can't see — internal invariants and equivalence of the
  * scale-rewritten plans to their naive formulations. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- Parse

  test("roundtrip JSON preserves the non-null event rows (C1-C4)") {
    val events = Tables.events(spark, sf)
    val expected = events.filter(
      $"event_id".isNotNull && $"user_id".isNotNull && $"event_type".isNotNull).count()
    assert(Parse.roundtripJson(spark, sf).count() == expected)
  }

  test("castFilter derives user keys and dates (D1-D3)") {
    val out = Parse.castFilter(spark, sf)
    assert(out.filter(!$"user_key".startsWith("user_")).isEmpty)
    assert(out.filter($"event_date".isNull).isEmpty)
  }

  test("parseProps tolerates malformed JSON permissively (C2)") {
    val df = Seq((1L, """{"k": 42}"""), (2L, """not json"""), (3L, """{"k": "x"}"""))
      .toDF("event_id", "props")
    val parsed = df
      .select($"event_id", from_json($"props", Parse.propsSchema).as("data"))
      .select($"event_id", $"data.k".as("k_val"))
    assert(parsed.as[(Long, Option[Long])].collect().toSet ==
      Set((1L, Some(42L)), (2L, None), (3L, None)))
  }

  test("parseProps and parseWire parse each row once: one from_json in the optimized plan") {
    def parses(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case node =>
        node.expressions.map(_.collect {
          case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
        }.size).sum
      }.sum
    val props = Parse.parseProps(spark, sf)
    assert(parses(props) == 1)
    val twoParse = Tables.events(spark, sf)
      .select($"event_id", from_json($"props", Parse.propsSchema).as("data"))
      .select($"event_id", $"data.k".as("k_val"))
      .filter($"k_val".isNotNull)
    assert(props.collect().toSet == twoParse.collect().toSet)
    // malformed, mistyped and NULL json each give one row of nulls
    val odd = Seq[(Long, String)]((1L, """{"k": 42}"""), (2L, "not json"),
      (3L, """{"k": "x"}"""), (4L, null)).toDF("event_id", "props")
    assert(odd.select($"event_id", Parse.jsonFields($"props", Parse.propsSchema))
      .as[(Long, Option[Long])].collect().toSet ==
      Set((1L, Some(42L)), (2L, None), (3L, None), (4L, None)))
    // a text file, like the consumer's backlog: a local Seq would be folded
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-").resolve("w").toString
    Seq("""{"user_id":"u1","item_id":"i1","timestamp":"2026-01-01T00:00:00Z"}""")
      .toDF("value").write.text(dir)
    val parsed = graft.streaming.KafkaBridge.parseWire(spark.read.text(dir))
    assert(parses(parsed) == 1)
    assert(parsed.count() == 1)
  }

  // ------------------------------------------------------------- Analytics

  test("kpiAvg equals the manually computed mean at 2dp") {
    val uw = WindowAgg.userWindows(spark, sf)
      .agg(sum("total_interactions").cast("double").as("s"), count(lit(1)).cast("double").as("c"))
      .as[(Double, Double)].head()
    val want = BigDecimal(uw._1 / uw._2).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Analytics.kpiAvg(spark, sf).as[Double].head()
    assert(got == want)
  }

  test("top-N queries are bounded and ordered") {
    val top = Analytics.topUsers(spark, sf)
      .select("total_interactions").as[Long].collect()
    assert(top.length == 20 && top.sameElements(top.sorted(Ordering[Long].reverse)))
    assert(Analytics.recentWindows(spark, sf).count() == 100)
  }

  test("latest snapshot only contains the maximal window_end") {
    val snap = Analytics.latestSnapshot(spark, sf)
    assert(snap.select("window_end").distinct().count() == 1)
  }

  // ------------------------------------------------------------ Relational

  test("rollup emits the grand-total row and is count-consistent") {
    val roll = Relational.rollupSummary(spark, sf)
    val total = roll.filter($"l_returnflag".isNull && $"l_linestatus".isNull)
      .select("n_rows").as[Long].collect()
    assert(total.length == 1 && total.head == Tables.lineitem(spark, sf).count())
  }

  test("supplier rank respects the per-flag top-5 contract") {
    val r = Relational.supplierRank(spark, sf)
    assert(r.filter($"rnk" > 5).isEmpty)
    assert(r.groupBy("l_returnflag").count().filter($"count" > 5).isEmpty)
  }

  test("order priority counts only orders with a later-shipped line") {
    val got = Relational.orderPriority(spark, sf).agg(sum("n_orders")).as[Long].head()
    val want = Tables.orders(spark, sf).join(
        Tables.lineitem(spark, sf),
        $"o_orderkey" === $"l_orderkey" && $"l_shipdate" > $"o_orderdate", "left_semi")
      .count()
    assert(got == want)
  }

  // ----------------------------------------------------------------- Dedup

  test("exact dedup partitions the corpus: n_copies sums to the doc count") {
    val ex = Dedup.exact(spark, sf)
    assert(ex.agg(sum("n_copies")).as[Long].head() == Tables.documents(spark, sf).count())
    assert(ex.select("content_hash").distinct().count() == ex.count())
  }

  test("candidate pairs are canonical (doc_a < doc_b) in every near-dup path") {
    Seq(Dedup.ngramJaccard(spark, sf), Dedup.minhashLsh(spark, sf)).foreach { pairs =>
      assert(pairs.filter($"doc_a" >= $"doc_b").isEmpty)
    }
    assert(Dedup.embeddingCosine(spark, sf).filter($"vec_a" >= $"vec_b").isEmpty)
  }

  test("connected components equal a driver-side union-find over the same pair graph") {
    val pairs = Dedup.minhashLsh(spark, sf).as[(Long, Long)].collect()
    val comp = Dedup.components(spark, sf).as[(Long, Long)].collect().toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // root = min id
    }
    assert(comp.nonEmpty)
    assert(comp == comp.keys.map(id => id -> find(id)).toMap)
    // and every candidate pair landed in one cluster
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b)) }
  }

  test("dedup savings reconcile with a driver-side recompute over the components") {
    val comp = Dedup.components(spark, sf).as[(Long, Long)].collect()
    val chars = Tables.documents(spark, sf)
      .select($"doc_id", length($"text").cast("long")).as[(Long, Long)]
      .collect().toMap
    val want = comp.groupBy(_._2).values.map { members =>
      val cs = members.map(m => chars(m._1))
      (members.length.toLong, cs.sum - cs.max)
    }.toSeq.groupBy(_._1).map { case (sz, comps) =>
      (sz, comps.length.toLong, sz * comps.length, (sz - 1) * comps.length,
        comps.map(_._2).sum)
    }.toSet
    val got = Dedup.dedupSavings(spark, sf)
      .select($"comp_size", $"n_components", $"n_docs", $"n_redundant",
        $"redundant_chars")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.map(_._3).sum == comp.length, "doc totals must cover the corpus")
    assert(got.exists(r => r._1 > 1L && r._5 > 0L),
      "fixture must contain a real multi-doc cluster with savings")
  }

  test("simhash emits one 32-bit signature per eligible doc") {
    val sh = Dedup.simhash(spark, sf)
    val eligible = Tables.documents(spark, sf)
      .filter(size(split($"text", " ")) >= 3).count()
    assert(sh.count() == eligible)
    assert(sh.filter($"simhash" < 0 || $"simhash" >= (1L << 32)).isEmpty)
  }

  test("dup coverage equals a driver-side shingle-frequency recomputation") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val shingles = docs.map { case (id, t) =>
      val w = t.split(" ")
      id -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    val df = shingles.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val want = shingles.map { case (id, shs) =>
      val nDup = shs.count(df(_) >= 2)
      (id, shs.size.toLong, nDup.toLong,
        math.round(nDup.toDouble * 10000 / shs.size))
    }.toSet
    val got = Dedup.dupCoverage(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  // ------------------------------------------------------------- Sampling

  test("split assignment partitions the corpus: no doc lost, none counted twice") {
    val out = Sampling.splitAssign(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total)
    assert(out.map(r => (r.getString(0), r.getString(1))).distinct.length == out.length)
    val splits = out.map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    // hash-space shares: train gets 12/16 of buckets, so it must dominate
    val perSplit = out.groupBy(_.getString(0)).view.mapValues(_.map(_.getAs[Long]("n_docs")).sum)
    assert(perSplit.getOrElse("train", 0L) > perSplit.getOrElse("val", 0L))
    assert(perSplit.getOrElse("train", 0L) > perSplit.getOrElse("test", 0L))
  }

  test("salted hot-key aggregation ≡ the direct groupBy it rewrites") {
    val direct = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum($"l_quantity".cast("long")).as("sum_qty"))
      .as[(String, Long, Long)].collect().toSet
    val salted = Relational.saltedCounts(spark, sf)
      .as[(String, Long, Long)].collect().toSet
    assert(salted == direct)
  }

  test("cheapest supplier: struct-argmin equals a driver-side brute force over the brand") {
    val got = Relational.cheapestSupplier(spark, sf)
      .select($"p_partkey", $"min_price_cents", $"s_suppkey")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val brandParts = Tables.part(spark, sf)
      .filter($"p_brand" === Relational.cheapBrand)
      .select($"p_partkey").as[Long].collect().toSet
    assert(brandParts.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_suppkey",
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
      .as[(Long, Long, Long)].collect()
    val want = li.filter(t => brandParts(t._1)).groupBy(_._1).map {
      case (pk, rows) =>
        val minP = rows.map(_._3).min
        pk -> ((minP, rows.filter(_._3 == minP).map(_._2).min))
    }
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("big orders and filtered revenue equal driver-side recomputes") {
    // Q18 shape: census + HAVING + rejoin, top-N with full tie-break
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_quantity".cast("long")).as[(Long, Long)].collect()
    val qual = li.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .filter(_._2 > Relational.bigQtyThreshold).toMap
    val got = Relational.bigOrders(spark, sf)
      .select($"o_orderkey", $"total_qty").as[(Long, Long)].collect()
    assert(got.length == math.min(Relational.bigTopN, qual.size))
    val wantTop = qual.toSeq.sortBy(t => (-t._2, t._1)).take(Relational.bigTopN)
    assert(got.toSeq.sortBy(t => (-t._2, t._1)) == wantTop)
    // Q6 shape: one-scan predicate revenue
    val rev = Relational.filteredRevenue(spark, sf)
      .select($"revenue_cents", $"n_lines").as[(Long, Long)].collect().head
    val want = Tables.lineitem(spark, sf)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("date") &&
        $"l_shipdate" < lit("1998-01-01").cast("date") &&
        $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
      .select(expr("CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)"))
      .as[Long].collect()
    assert(rev == ((want.sum, want.length.toLong)))
    assert(rev._2 > 0L, "fixture must select at least one line")
  }

  test("disjunctive revenue equals a driver-side recompute of the OR blocks") {
    val parts = Tables.part(spark, sf)
      .select($"p_partkey", $"p_brand", $"p_size")
      .as[(Long, String, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val li = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_quantity".cast("long"),
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
      .as[(Long, Long, Long)].collect()
    val want = li.flatMap { case (pk, qty, rev) =>
      parts.get(pk).collect {
        case (b, sz)
          if (b == "Brand#1" && sz >= 1 && sz <= 10 && qty >= 1 && qty <= 20) ||
             (b == "Brand#2" && sz >= 5 && sz <= 20 && qty >= 5 && qty <= 30) =>
          (b, rev)
      }
    }.groupBy(_._1).map { case (b, rs) => (b, rs.map(_._2).sum, rs.length.toLong) }.toSet
    val got = Relational.disjunctiveRevenue(spark, sf)
      .select($"p_brand", $"revenue_cents", $"n_lines")
      .as[(String, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty, "fixture must match at least one block")
  }

  test("join-skew profile equals a driver-side recompute; totals reconcile") {
    def log2fp(x: Long): Long = {
      val bl = 64 - java.lang.Long.numberOfLeadingZeros(x)
      (bl - 1) * 1024L + x * 1024L / (1L << (bl - 1)) - 1024L
    }
    val counts = Tables.lineitem(spark, sf)
      .groupBy($"l_partkey").agg(count(lit(1)).as("cnt"))
      .select($"cnt").as[Long].collect()
    val want = counts.groupBy(c => log2fp(c) / 1024L).map { case (band, cs) =>
      (band, cs.length.toLong, cs.sum, cs.map(c => c * c).sum, cs.max)
    }.toSet
    val got = Relational.joinSkewProfile(spark, sf)
      .select($"band", $"n_keys", $"n_rows", $"self_join_rows", $"max_cnt")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.map(_._3).sum == counts.sum, "band row totals must cover the fact table")
  }

  // ---------------------------------------------------------- TextAnalysis

  test("map-side winnow ≡ the explode+window formulation it replaced") {
    val naive = {
      val sh = Tables.documents(spark, sf)
        .select($"doc_id", split($"text", " ").as("words"))
        .filter(size($"words") >= 3)
        .select($"doc_id", posexplode(expr(
          "transform(sequence(1, size(words) - 2), i -> md5(concat_ws(' ', slice(words, i, 3))))")))
        .select($"doc_id", $"pos", $"col".as("h"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos").rowsBetween(0, 3)
      sh.select($"doc_id", min($"h").over(w).as("fp")).distinct()
    }
    val got = TextAnalysis.winnow(spark, sf).as[(Long, String)].collect().toSet
    assert(got == naive.as[(Long, String)].collect().toSet)
    assert(got.forall(_._2.matches("[0-9a-f]{32}")))
  }

  test("language ID prediction is always one of the stoplist languages") {
    val out = TextAnalysis.langId(spark, sf)
    assert(out.filter(!$"lang_pred".isin("de", "en", "es", "fr")).isEmpty)
    // is_match is the equality of prediction and label by construction
    assert(out.filter(($"lang_pred" === $"lang") =!= $"is_match").isEmpty)
  }

  test("token counts are consistent: ws_tokens = words, chars ≥ tokens - 1") {
    val out = TextAnalysis.tokenCounts(spark, sf)
    assert(out.filter($"ws_tokens" < 1 || $"re_tokens" < 0).isEmpty)
    assert(out.filter($"n_chars_m" < $"ws_tokens" - 1).isEmpty)
  }

  // ------------------------------------------------------------- sketches

  test("approx_count_distinct tracks the exact distinct count within HLL error") {
    // at 100 TB the exact countDistinct in h_distinct_agg becomes the sketch;
    // pin the accuracy contract the swap relies on (HLL++ rsd default 5%)
    val l = Tables.lineitem(spark, sf)
    val exact = l.select(countDistinct($"l_partkey")).as[Long].head().toDouble
    val approx = l.select(approx_count_distinct($"l_partkey")).as[Long].head().toDouble
    assert(math.abs(approx - exact) / exact < 0.15,
      s"approx=$approx exact=$exact drifted beyond 3x rsd")
  }

  // ------------------------------------------------------------ Multimodal

  test("decode stub arithmetic and the documented ASCII oracle precondition") {
    val f = MultimodalPipeline.decodeStub(
      MediaRecord(7L, "Hello!".getBytes("UTF-8"), 640, 480))
    assert(f == MediaFeatures(7L, 6L, 'H'.toInt, '!'.toInt, ('H'.toInt + '!'.toInt) / 2, 640, 480))
    // empty payload guard
    assert(MultimodalPipeline.decodeStub(MediaRecord(1L, Array.emptyByteArray, 0, 0))
      == MediaFeatures(1L, 0L, 0, 0, 0, 0, 0))
    // PRECONDITION (Multimodal.scala oracle): synthetic docs are pure ASCII,
    // making DuckDB's char-indexed ascii() equal the stub's byte arithmetic.
    assert(Tables.documents(spark, sf)
      .filter(!$"text".rlike("^[\\x00-\\x7F]*$")).isEmpty)
  }

  test("multimodal features flow through the typed mapPartitions plumbing") {
    val out = MultimodalPipeline.features(spark, sf)
    assert(out.count() == Tables.documents(spark, sf).filter(length($"text") > 0).count())
    assert(out.filter($"head_byte" < 0 || $"head_byte" > 255).isEmpty)
  }

  test("image stats come from a REAL ImageIO decode of real PNG bytes") {
    // the payloads are genuine PNG containers (magic header), not text bytes
    val recs = MultimodalPipeline.imageRecords(spark, sf).limit(3)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    recs.foreach { case (_, png) =>
      assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt),
        "payload must be a real PNG container")
    }
    // an independent in-test decode of one payload reproduces the stats row
    val (id, png) = recs.head
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    var rs = 0L
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      rs += (img.getRGB(x, y) >> 16) & 0xff
    val row = MultimodalPipeline.imageStats(spark, sf)
      .filter($"doc_id" === id).collect().head
    assert(row.getLong(1) == img.getWidth && row.getLong(2) == img.getHeight)
    assert(row.getLong(4) == rs, "decoded red-channel sum must match an independent decode")
    // corrupted container must fail the decode loudly, not fake features
    intercept[Exception] {
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png.take(8))).getWidth
    }
  }

  test("perceptual blockhash: upscale-invariant; banding finds exactly the brute-force pairs; probe flags every variant") {
    // invariance: every 2x-upscaled variant's fingerprint EQUALS its
    // original's (cross-multiplied block-mean comparison scales by k^2)
    val orig = MultimodalPipeline.imagePhash(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val vars = MultimodalPipeline.imagePhashOf(
        MultimodalPipeline.imageVariantRecords(spark, sf))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(vars.nonEmpty)
    vars.foreach { case (vid, ph) =>
      assert(ph == orig(vid - MultimodalPipeline.variantOffset),
        s"upscaled fingerprint diverged for variant $vid") }
    // banding is pigeonhole-lossless at the threshold: the banded pairs
    // equal a driver-side brute force over all fingerprints
    val all = orig ++ vars
    val brute = (for {
      (a, (al, ah)) <- all.toSeq; (b, (bl, bh)) <- all.toSeq if a < b
      ham = java.lang.Long.bitCount(al ^ bl) + java.lang.Long.bitCount(ah ^ bh)
      if ham <= MultimodalPipeline.phashHammingMax
    } yield (a, b, ham.toLong)).toSet
    val banded = MultimodalPipeline.imageNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, "banded pairs diverged from brute force")
    // the ingest probe marks every variant a duplicate of its original
    val probe = MultimodalPipeline.imagePhashProbe(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(probe.keySet == vars.keySet)
    vars.keySet.foreach(vid =>
      assert(probe(vid), s"variant $vid not flagged as duplicate"))
  }

  test("clip dup: every trimmed re-encode detected as a full leading cut of its original") {
    val dups = MultimodalPipeline.clipDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dups.nonEmpty)
    // every trimmed variant pairs with its own original, sharing exactly
    // its full (nf - 1)-frame prefix
    val expected = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
      .filter(id => id % MultimodalPipeline.clipVariantMod ==
        MultimodalPipeline.clipVariantRem && (2 + id % 4) >= 3)
    assert(expected.nonEmpty)
    val byShort = dups.groupBy(_._1)
    expected.foreach { id =>
      val vid = id + MultimodalPipeline.clipVariantOffset
      val hits = byShort.getOrElse(vid, Array.empty)
      assert(hits.exists(h => h._2 == id && h._3 == 1 + id % 4),
        s"trimmed copy of clip $id not detected with its full prefix")
    }
  }

  test("audio dup: every window-aligned cut detected as a full leading prefix of its original") {
    val dups = MultimodalPipeline.audioDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dups.nonEmpty)
    val expected = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
      .filter(id => id % MultimodalPipeline.audioVariantMod ==
        MultimodalPipeline.audioVariantRem && id % 256 != 0)
    assert(expected.nonEmpty)
    val byShort = dups.groupBy(_._1)
    expected.foreach { id =>
      val vid = id + MultimodalPipeline.audioVariantOffset
      val hits = byShort.getOrElse(vid, Array.empty)
      // 256 samples = exactly 4 full 64-sample windows
      assert(hits.exists(h => h._2 == id && h._3 == 4L),
        s"truncated copy of audio clip $id not detected with its 4-window prefix")
    }
    // fingerprint sanity: window features recomputed driver-side from the
    // PCM formula for one clip (the decode path must agree with it)
    val probe = expected.head
    val n = 256 + (probe % 256).toInt
    val samples = (0 until n).map(i =>
      (((probe * 31 + i.toLong * i * 7) % 65536) - 32768).toInt)
    val want = samples.indices.groupBy(_ / 64).map { case (w, idx) =>
      val e = idx.map(i => math.abs(samples(i).toLong)).sum
      val z = idx.count(i => i % 64 != 0 && (samples(i) >= 0) != (samples(i - 1) >= 0))
      (w.toLong, e, z.toLong)
    }.toSet
    val got = MultimodalPipeline.audioFingerprint(spark, sf)
      .filter($"doc_id" === probe)
      .select("win_idx", "e_sum", "zcr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"decoded fingerprint diverged from the PCM formula for clip $probe")
  }

  test("video stats: genuine animated-GIF containers, real frame decode, stride bites") {
    // the payloads are genuine GIF containers (magic header), multi-frame
    val recs = MultimodalPipeline.videoRecords(spark, sf).limit(3)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    recs.foreach { case (_, gif) =>
      assert(new String(gif.take(6), "US-ASCII").startsWith("GIF8"),
        "payload must be a real GIF container")
    }
    // an independent in-test container parse reproduces frame count + stats
    val (id, gif) = recs.head
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(iis)
    val nf = reader.getNumImages(true)
    assert(nf == 2 + id % 4, s"container must carry ${2 + id % 4} frames, parsed $nf")
    val f0 = reader.read(0)
    var g0 = 0L
    for (y <- 0 until f0.getHeight; x <- 0 until f0.getWidth)
      g0 += f0.getRGB(x, y) & 0xff
    reader.dispose(); iis.close()
    val rows = MultimodalPipeline.videoStats(spark, sf)
      .filter($"doc_id" === id)
      .select($"frame_idx", $"width", $"height", $"gray_sum")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.head == ((0L, f0.getWidth.toLong, f0.getHeight.toLong, g0)),
      "frame-0 stats must match an independent decode")
    // the uniform ≤4-keyframe stride: 5-frame clips keep frames 0, 2, 4
    val fiveFrame = MultimodalPipeline.videoStats(spark, sf)
      .filter($"doc_id" % 4 === 3) // vidFrames = 2 + id % 4 = 5
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"frame_idx")).as("kept"))
      .select($"kept").as[Seq[Long]].collect()
    assert(fiveFrame.nonEmpty)
    fiveFrame.foreach(kept =>
      assert(kept == Seq(0L, 2L, 4L), s"5-frame stride must keep 0,2,4: $kept"))
    // a truncated container fails the parse loudly, not fake stats
    intercept[Exception] {
      val bad = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gif.take(10)))
      val r2 = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      r2.setInput(bad)
      r2.getNumImages(true)
    }
  }

  test("image-text alignment: integer score arithmetic recomputed driver-side; gate splits") {
    val out = MultimodalPipeline.alignment(spark, sf)
      .select($"doc_id", $"align_fp", $"is_aligned")
      .as[(Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    // Independent recomputation: channel sums via an in-test ImageIO decode
    // of the real PNG, projection head + milli-quantized text embedding by
    // hand — the engine's score must match exactly, and the gate must be
    // score >= 0.
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .as[(Long, Array[Double])].collect().toMap
    val pngs = MultimodalPipeline.imageRecords(spark, sf)
      .filter($"doc_id".isin(out.take(5).map(_._1): _*))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    out.take(5).foreach { case (id, score, aligned) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pngs(id)))
      var rs = 0L; var gs = 0L; var bs = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val p = img.getRGB(x, y)
        rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
      }
      val tv = emb(id).map(x => math.round(x * 1000))
      val expect = tv.indices.map { k =>
        (((rs * (k + 1) + gs * (k + 2) + bs * (k + 3)) % 2001) - 1000) * tv(k)
      }.sum
      assert(score == expect, s"doc $id alignment score mismatch")
      assert(aligned == (score >= 0L), s"doc $id gate must be align_fp >= 0")
    }
    // the threshold must split the population — an all-true (or all-false)
    // gate gates nothing
    assert(out.exists(_._3) && out.exists(!_._3),
      "alignment gate must keep some pairs and drop some pairs")
  }

  test("embedding drift: cross-multiplied mean shift recomputed driver-side") {
    val out = ops.Similarity.embedDrift(spark, sf)
      .select($"dim", $"n_in", $"n_corp", $"sum_in", $"sum_corp", $"shift_x")
      .as[(Int, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .as[(Long, Array[Double])].collect()
    val dims = vecs.head._2.length
    assert(out.size == dims, s"one row per dimension, got ${out.size} for $dims dims")
    (0 until dims).foreach { k =>
      var nIn = 0L; var nC = 0L; var sIn = 0L; var sC = 0L
      vecs.foreach { case (id, v) =>
        val q = math.round(v(k) * 1000000)
        if (id % 10 == 7) { nIn += 1; sIn += q } else { nC += 1; sC += q }
      }
      val (_, gnIn, gnC, gsIn, gsC, gShift) = out(k)
      assert((gnIn, gnC, gsIn, gsC) == ((nIn, nC, sIn, sC)), s"dim $k sums mismatch")
      assert(gShift == sIn * nC - sC * nIn, s"dim $k cross-multiplied shift mismatch")
    }
    // the signal must be non-trivial on the fixture: some dimension shifts
    assert(out.values.exists(_._6 != 0L), "expected a nonzero drift somewhere")
  }

  test("audio stats: real RIFF/WAVE containers, independent decode, loud corruption") {
    val recs = MultimodalPipeline.audioRecords(spark, sf).limit(3)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    recs.foreach { case (_, wav) =>
      assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
        new String(wav.slice(8, 12), "US-ASCII") == "WAVE",
        "payload must be a real RIFF/WAVE container")
    }
    // an independent in-test decode of one payload reproduces the stats row
    val (id, wav) = recs.head
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val bytes = ais.readAllBytes()
    var sumAbs = 0L
    for (i <- 0 until bytes.length / 2) {
      val v = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff))
      sumAbs += math.abs(v.toLong)
    }
    val row = MultimodalPipeline.audioStats(spark, sf)
      .filter($"doc_id" === id).collect().head
    assert(row.getLong(1) == bytes.length / 2 && row.getLong(2) == 8000L)
    assert(row.getLong(3) == sumAbs, "loudness sum must match an independent decode")
    // corrupted container must fail the decode loudly, not fake features
    intercept[Exception] {
      javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav.take(16)))
    }
  }

  test("multimodal curation ledger: recomposed exactly from its component gates") {
    val out = MultimodalPipeline.mmCuration(spark, sf)
      .select($"lang", $"source", $"n_pairs", $"n_admitted",
        $"n_text_rejected", $"n_misaligned", $"tokens_admitted")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out.nonEmpty)
    val gate = ops.TextAnalysis.modelGate(spark, sf)
      .select($"doc_id", $"n_words", $"is_admit")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val aligned = MultimodalPipeline.alignment(spark, sf)
      .select($"doc_id", $"is_aligned").as[(Long, Boolean)].collect().toMap
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"source").as[(Long, String, String)].collect()
    val expect = docs.filter(d => gate.contains(d._1) && aligned.contains(d._1))
      .groupBy(d => (d._2, d._3)).map { case (k, ds) =>
        val rows = ds.map { case (id, _, _) =>
          val (w, admit) = gate(id); (w, admit, aligned(id))
        }
        k -> (rows.size.toLong,
          rows.count { case (_, a, al) => a && al }.toLong,
          rows.count(!_._2).toLong,
          rows.count(!_._3).toLong,
          rows.collect { case (w, true, true) => w }.sum)
      }
    assert(out.keySet == expect.keySet, "stratum coverage mismatch")
    expect.foreach { case (k, (n, adm, rej, mis, tok)) =>
      val (_, _, gn, gadm, grej, gmis, gtok) = out(k)
      assert((gn, gadm, grej, gmis, gtok) == ((n, adm, rej, mis, tok)),
        s"stratum $k ledger mismatch")
    }
  }

  test("ranking eval: DCG weight table and the perfect-run fixed points") {
    // w(i) = round(1e6 / log2(i+1)) — spot-pin the rational anchors and
    // monotonicity; the oracle shares these exact literals.
    val w = ops.Similarity.dcgW
    assert(w(0) == 1000000L && w(2) == 500000L && w(6) == 333333L)
    assert(w == w.sortBy(-_), "weights must decrease with rank")
    assert(ops.Similarity.dcgPrefix.last == w.sum)
    val out = ops.Similarity.evalRank(spark, sf)
      .select($"query_id", $"n_truth", $"n_hits", $"first_hit", $"mrr_fp",
        $"dcg_fp", $"idcg_fp", $"ndcg_bp")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (q, nTruth, nHits, firstHit, mrr, dcg, idcg, ndcg) =>
      assert(nHits <= nTruth && ndcg <= 10000,
        s"query $q: hits within truth, ndcg within scale")
      if (firstHit > 0) assert(mrr == 1000000L / firstHit, s"query $q mrr arithmetic")
      else assert(mrr == 0L && nHits == 0L)
      assert(dcg <= idcg, s"query $q: dcg cannot exceed the ideal")
      // the graph search finds every true neighbor at this scale
      // (recall ladder, BASELINE.md round 12) — a PERFECT run's fixed
      // points pin the metric top end: first hit at rank 1, ndcg = 1.
      if (nHits == nTruth && nTruth == 10) {
        assert(firstHit == 1L && mrr == 1000000L, s"query $q perfect-run MRR")
        assert(ndcg == 10000L, s"query $q perfect-run nDCG")
      }
    }
  }

  // ------------------------------------------------------------ Repetition

  test("repetition metrics: dup-bigram and top-token fractions on known docs") {
    val docs = Seq(
      (1L, "a a a a"),     // 3 bigrams all "a a": dup 2/3, top token 4/4
      (2L, "a b c d"),     // all distinct: dup 0, top 1/4
      (3L, "x y x y x"),   // bigrams xy,yx,xy,yx: dup 2/4, top x=3/5
      (4L, "solo")         // single word: dropped (no bigrams)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionDocs(docs)
      .select("doc_id", "n_words", "n_bigrams", "n_dist_bigrams", "max_tok",
        "dup_bigram_bp", "top_tok_bp", "is_repetitive")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).toSeq == Seq(1L, 4L, 3L, 1L, 4L, 6667L, 10000L, true))
    assert(out(1).toSeq == Seq(2L, 4L, 3L, 3L, 1L, 0L, 2500L, true))
    assert(out(2).toSeq == Seq(3L, 5L, 4L, 2L, 3L, 5000L, 6000L, true))
    // the plan must stay map-side: no exchange anywhere
    val tree = TextAnalysis.repetitionDocs(docs).queryExecution.executedPlan.toString
    assert(!tree.contains("Exchange"), s"repetition must not shuffle:\n$tree")
  }
}
