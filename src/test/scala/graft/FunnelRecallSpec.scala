package graft

import graft.ops.{Dedup, Funnel, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-4 operator pack: conversion funnel, cohort retention, ANN recall,
  * OOV scoring, MinHash Jaccard estimates, and the streaming session-window
  * golden. Hand-built frames pin the semantics the oracles then confirm at
  * sf0.01. */
class FunnelRecallSpec extends SparkSpec {
  import spark.implicits._

  test("funnel counts ordered, timely journeys only") {
    val ev = Seq(
      // u1: full ordered journey inside the windows → stage 3
      ("u1", "view", ts("2026-01-01 00:00:00")),
      ("u1", "click", ts("2026-01-01 01:00:00")),
      ("u1", "purchase", ts("2026-01-01 02:00:00")),
      // u2: click BEFORE first view → stage 1 (order matters)
      ("u2", "click", ts("2026-01-01 00:00:00")),
      ("u2", "view", ts("2026-01-01 01:00:00")),
      // u3: click 25h after the view → outside the 24h window → stage 1
      ("u3", "view", ts("2026-01-01 00:00:00")),
      ("u3", "click", ts("2026-01-02 01:00:00")),
      // u4: purchase only (no view) → stage 0
      ("u4", "purchase", ts("2026-01-01 00:00:00")),
      // u5: view + click, purchase before the click → stage 2
      ("u5", "purchase", ts("2026-01-01 00:30:00")),
      ("u5", "view", ts("2026-01-01 01:00:00")),
      ("u5", "click", ts("2026-01-01 02:00:00")))
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.funnelEvents(ev)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("funnel boundary: a click exactly at view-time and at window-edge counts") {
    val ev = Seq(
      ("u1", "view", ts("2026-01-01 00:00:00")),
      ("u1", "click", ts("2026-01-01 00:00:00")), // same instant: inclusive
      ("u2", "view", ts("2026-01-01 00:00:00")),
      ("u2", "click", ts("2026-01-02 00:00:00"))) // exactly +24h: inclusive
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.funnelEvents(ev).as[(Long, Long)].collect().toMap
    assert(out == Map(2L -> 2L))
  }

  test("retention: cohorts by first day, offsets count distinct active users") {
    val ev = Seq(
      ("u1", ts("2026-01-01 10:00:00")), ("u1", ts("2026-01-01 11:00:00")), // same day once
      ("u1", ts("2026-01-03 10:00:00")), // offset 2
      ("u2", ts("2026-01-01 23:59:59")), ("u2", ts("2026-01-02 00:00:01")), // offset 0,1
      ("u3", ts("2026-01-02 05:00:00"))) // later cohort
      .toDF("user_id", "ts")
    val out = Funnel.retentionEvents(ev)
      .as[(Long, Long, Long)].collect().toSet
    val d0 = ts("2026-01-01 00:00:00").getTime / 86400000
    assert(out == Set(
      (d0, 0L, 2L), (d0, 1L, 1L), (d0, 2L, 1L),
      (d0 + 1, 0L, 1L)))
  }

  test("recall: IVF hits are a subset of brute-force with consistent counts") {
    val r = Similarity.recallIvf(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (nB, nI, nC, bp) = (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      assert(nC <= nB && nC <= nI, s"common exceeds a side: $row")
      assert(bp >= 0 && bp <= 10000)
      assert(bp == math.round(nC.toDouble * 10000 / nB))
    }
  }

  test("ingest-kNN probe is batching-invariant: two micro-batches equal the batch form") {
    // s_knn_stream's correctness claim is NO single-batch assumption (the
    // probe is stateless stream-static, so each ingest vector's top-k
    // completes within its own batch). The file source can't exercise that
    // (one file = one batch); a MemoryStream delivering the ingest in TWO
    // batches can.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpusIdx = Similarity.knnCorpusIndex(spark, sf)
    val ingest = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .filter(_._1 % Similarity.knnBatchMod == 7).toSeq
    assert(ingest.size >= 2, "need at least two ingest vectors to split")
    val (chunk1, chunk2) = ingest.splitAt(ingest.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-sknn-t-")
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.streaming.UpsertSink.writeBatch(
            Similarity.knnProbe(Similarity.knnRelation(b.toDF()), corpusIdx),
            id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(chunk1: _*)
      q.processAllAvailable()
      in.addData(chunk2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.streaming.UpsertSink
      .resolve(spark, s"$sink/sink", Seq("vec_id", "rnk"))
      .select("vec_id", "neighbor_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Similarity.knnIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, "two-batch ingest diverged from the batch incremental search")
  }

  test("golden: streamed ingest-kNN equals the batch incremental search") {
    // Stateless stream-static probe: the result must equal the batch twin
    // under any micro-batching (each ingest vector's candidates all come
    // from the static index, so its top-k completes within its own batch).
    val streamed = SparkEntry.queries("s_knn_stream")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Similarity.knnIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, "streamed ingest-kNN diverged from the batch incremental form")
    assert(streamed.nonEmpty)
  }

  test("rerank recall dominates single-cluster learned-IVF recall per query") {
    // Multi-probe candidates are a SUPERSET of the home cluster's — but
    // only when Lloyd reached a true fixed point (otherwise the home
    // ASSIGNMENT cluster need not be among the probes' nearest RECOMPUTED
    // centroids). Verify the fixed point first; if training truncated
    // before convergence on some future fixture, fall back to the always-
    // valid aggregate claim (total recall does not drop) instead of
    // failing on an operator that is still correct.
    val base = Similarity.recallKmeans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap // query -> n_common
    val rr = Similarity.recallRerank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rr.keySet == base.keySet)
    if (Similarity.kmeansIsFixedPoint(spark, sf)) {
      rr.foreach { case (q, n) =>
        assert(n >= base(q), s"query $q: rerank n_common $n < single-cluster ${base(q)}")
      }
    }
    assert(rr.values.sum >= base.values.sum,
      s"aggregate rerank recall ${rr.values.sum} < single-cluster ${base.values.sum}")
  }

  test("graph beam search: well-formed ranking, deterministic, recall >= rerank") {
    // Aggregate recall of the beam search must not trail the multi-probe
    // re-rank (at sf0.1 it strictly beats it, 35/40 vs 28/40, at a
    // fraction of the candidate volume; at this spec's sf0.001 the two
    // tie at 9/10, so the pin is non-strict).
    val g = Similarity.recallGraph(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val rr = Similarity.recallRerank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(g.keySet == rr.keySet)
    assert(g.values.sum >= rr.values.sum,
      s"graph recall ${g.values.sum} < rerank ${rr.values.sum}")
    // search output shape: no self-neighbors, contiguous 1-based ranks
    val tk = Similarity.graphBeamTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    tk.foreach { case (q, n, rnk) =>
      assert(n != q, s"self-neighbor for query $q")
      assert(rnk >= 1 && rnk <= 10)
    }
    tk.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.size).map(_.toLong))
    }
    // pure function of the corpus: a second run ranks identically
    val again = Similarity.graphBeamTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == tk.toSet)
  }

  test("ingest graph search: corpus-only answers, seed-dominant recall, deterministic") {
    // the serving-time honesty invariant: queries are the arriving
    // partition, every answer is a standing-corpus member — the search
    // may not read vertices/edges that do not exist at serving time
    val tk = Similarity.graphBeamIngestTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tk.nonEmpty)
    tk.foreach { case (q, n, rnk) =>
      assert(q % 10 == 7, s"query $q is not an arriving vector")
      assert(n % 10 != 7, s"answer $n is not a standing-corpus member")
      assert(rnk >= 1 && rnk <= 10)
    }
    tk.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.size).map(_.toLong))
    }
    // the graph hops must not LOSE recall vs the bucket probe they seed
    // from: true-top-10 hits of the walked search >= the 3-NN ppm probe's
    // hits, against an independently recomputed exact truth
    graft.functions.GraftFunctions.register(spark)
    val c = Tables.embeddings(spark, sf).select($"vec_id",
      org.apache.spark.sql.functions.expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = c.filter($"vec_id" % 10 === 7)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val truth = c.filter($"vec_id" % 10 =!= 7).crossJoin(q)
      .withColumn("score", org.apache.spark.sql.functions.expr("cosine_sim(qv, v)"))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
          .orderBy($"score".desc, $"vec_id".asc)))
      .filter($"rnk" <= 10)
      .select($"query_id", $"vec_id".as("neighbor_id"))
    val walked = tk.map(t => (t._1, t._2)).toSet
    val truthSet = truth.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seedSet = Similarity.knnIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val walkedHits = truthSet.intersect(walked).size
    val seedHits = truthSet.intersect(seedSet).size
    assert(walkedHits >= seedHits,
      s"walked search found $walkedHits true neighbors < probe-only $seedHits")
    // determinism: a second run ranks identically
    val again = Similarity.graphBeamIngestTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == tk.toSet)
  }

  test("oov: counts are bounded and the vocabulary cut is deterministic") {
    val a = TextAnalysis.oov(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a.nonEmpty)
    a.foreach { case (_, nTok, nOov, bp) =>
      assert(nOov >= 0 && nOov <= nTok)
      assert(bp == math.round(nOov.toDouble * 10000 / nTok))
    }
    val b = TextAnalysis.oov(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b)
  }

  test("jaccard estimate: every LSH candidate pair agrees on at least one full band") {
    val est = Dedup.jaccardEstimate(spark, sf).collect()
    assert(est.nonEmpty)
    est.foreach { row =>
      val (a, b, m, bp) = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      assert(a < b, "pairs must be canonical")
      // band membership requires >= bandSize equal components
      assert(m >= 2 && m <= 16, s"n_match out of range: $m")
      assert(bp == math.round(m.toDouble * 10000 / 16))
    }
  }

  test("golden: streamed session windows equal watermark-closed batch sessions") {
    val streamed = graft.streaming.EventPipeline.streamedSessions(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet

    val gap = 30L * 60 * 1000000
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val ev = Tables.events(spark, sf)
      .filter($"user_id".isNotNull && $"ts".isNotNull)
      .withColumn("us", unix_micros($"ts"))
    val wm = ev.agg(max($"us")).as[Long].head() / 1000 * 1000
    val batch = ev
      .withColumn("prev_us", lag($"us", 1).over(order))
      .withColumn("new_sess",
        ($"prev_us".isNull || $"us" - $"prev_us" >= gap).cast("long"))
      .withColumn("sess_id", sum($"new_sess").over(
        order.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy($"user_id", $"sess_id")
      .agg(min($"us").as("session_start_us"),
        (max($"us") + gap).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .filter($"session_end_us" <= wm)
      .select($"user_id", $"session_start_us", $"session_end_us", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("kmeans iteration: total assignment, valid clusters, and true argmin") {
    val out = Similarity.kmeansIter(spark, sf)
      .as[(Long, Long, Long)].collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(out.length == nVecs, "every vector must be assigned exactly once")
    assert(out.forall { case (_, c, d2) => c >= 0 && c < 8 && d2 >= 0 })

    // the reported dist2 must be the minimum over all centroids: recompute
    // distances to EVERY centroid and check none beats the assignment
    val e = Tables.embeddings(spark, sf).select($"vec_id",
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("q"))
    val cents = e
      .select(($"vec_id" % 8).as("cluster"), posexplode($"q").as(Seq("dim", "x")))
      .groupBy($"cluster", $"dim")
      .agg(expr("CAST(floor(CAST(sum(x) AS DOUBLE) / count(1)) AS BIGINT)").as("c"))
      .groupBy($"cluster")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("cv"))
    val allDists = e.crossJoin(broadcast(cents))
      .select($"vec_id", $"cluster",
        expr("aggregate(zip_with(q, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)").as("d2"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    out.foreach { case (v, _, d2) => assert(d2 == allDists(v), s"vec $v not at argmin") }
  }

  test("format round-trips are lossless: json and csv rollups equal parquet's") {
    val direct = {
      val ev = Tables.events(spark, sf)
      ev.select($"event_type", unix_micros($"ts").as("ts_us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"value_c").as("value_c_sum"),
          min($"ts_us").as("min_ts_us"), max($"ts_us").as("max_ts_us"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
    }
    val viaJson = graft.sources.Formats.jsonRoundtrip(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val viaCsv = graft.sources.Formats.csvRoundtrip(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(viaJson == direct && viaCsv == direct)
    assert(direct.nonEmpty)
  }

  test("golden: stream-stream interval join equals the batch interval join") {
    val streamed = graft.streaming.EventPipeline.streamedIntervalJoin(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet

    val ev = Tables.events(spark, sf)
      .filter($"user_id".isNotNull && $"ts".isNotNull)
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", unix_micros($"ts").as("cus"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("pu"), unix_micros($"ts").as("pus"))
    val batch = c.join(p,
        $"user_id" === $"pu" && $"pus" >= $"cus" && $"pus" <= $"cus" + 3600L * 1000000)
      .select($"click_id", $"purchase_id", $"user_id", ($"pus" - $"cus").as("gap_us"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
