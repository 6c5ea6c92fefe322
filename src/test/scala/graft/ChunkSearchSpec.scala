package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

/** Chunk-level retrieval (the RAG family, r16): the chunk-text expansion
  * must agree with the hash-emitting `x_text_chunks` geometry (one
  * definition), a query must never retrieve its own chunks, the
  * document rollup must recompose exactly from the chunk hits, and the
  * streamed ingest twin must equal the batch form under a two-batch
  * split (stateless stream-static search). */
class ChunkSearchSpec extends SparkSpec {
  import spark.implicits._

  test("chunkTextDocs: md5 of emitted text IS chunksDocs' chunk_h; key space holds") {
    val docs = Tables.documents(spark, sf)
    val text = ops.TextAnalysis.chunkTextDocs(docs)
      .select($"doc_id", $"chunk_id", md5($"text").as("h"))
      .as[(Long, Long, String)].collect().toSet
    val hashed = ops.TextAnalysis.chunksDocs(docs)
      .select($"doc_id", $"chunk_id", $"chunk_h")
      .as[(Long, Long, String)].collect().toSet
    assert(text == hashed,
      "chunk text and chunk hash views disagree — geometry drifted")
    assert(text.nonEmpty)
    // multi-chunk docs exist (the overlap path is exercised)
    assert(text.groupBy(_._1).exists(_._2.size > 1))
    // the key synthesis is injective on this corpus
    val maxChunk = text.map(_._2).max
    assert(maxChunk < ops.Search.chunkKeyMod,
      s"chunk_id $maxChunk would collide in the ${ops.Search.chunkKeyMod} key space")
  }

  test("chunk hits: no self-parents, ranks contiguous, k-bounded; rollup recomposes") {
    val hits = ops.Search.chunkTopK(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(hits.nonEmpty)
    hits.foreach { case (q, nb, _, _, _, _) =>
      assert(nb != q, s"query $q retrieved its own chunk") }
    hits.groupBy(_._1).foreach { case (q, rows) =>
      val rnks = rows.map(_._6).sorted
      assert(rnks.head == 1 && rnks.last == rnks.size &&
        rnks.size <= ops.Search.chunkK, s"ranks broken for query $q: ${rnks.toSeq}")
    }
    // rollup identities against the chunk hits it derives from
    val byQp = hits.groupBy(h => (h._1, h._2))
    val roll = ops.Search.chunkDocRollup(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(roll.nonEmpty)
    roll.foreach { case (q, parent, bestM, bestChunk, nHits, _) =>
      val grp = byQp((q, parent))
      assert(bestM == grp.map(_._4).max, s"best_m is not the max chunk score for ($q,$parent)")
      assert(nHits == grp.size, s"n_chunk_hits wrong for ($q,$parent)")
      val best = grp.filter(_._4 == bestM).map(_._3).min
      assert(bestChunk == best, s"best_chunk tie-break wrong for ($q,$parent)")
    }
    roll.groupBy(_._1).foreach { case (q, rows) =>
      val rnks = rows.map(_._6).sorted
      assert(rnks.head == 1 && rnks.last == rnks.size, s"rollup ranks broken for $q")
    }
  }

  test("streamed chunk search: answers accumulate across two micro-batches to the batch form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = ops.Search.chunkIngestIndex(spark, sf)
    val arriving = Tables.documents(spark, sf)
      .filter($"doc_id" % ops.Similarity.knnBatchMod === 7)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(arriving.size >= 2)
    val (c1, c2) = arriving.splitAt(arriving.size / 2)
    val sink = ops.SpillMemo.scratchDir("graft-schunk-t-")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        streaming.UpsertSink.writeBatch(
          ops.Search.chunkProbe(b.toDF(), idx), id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "chunk_id", "score_m", "n_terms", "rnk")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val streamed = rows(
      streaming.UpsertSink.resolve(spark, s"$sink/sink", Seq("query_id", "rnk"))
        .select($"query_id",
          expr(s"chunk_key div ${ops.Search.chunkKeyMod}").as("neighbor_id"),
          ($"chunk_key" % ops.Search.chunkKeyMod).as("chunk_id"),
          $"score_m", $"n_terms", $"rnk"))
    val batch = rows(ops.Search.chunkIngestTopK(spark, sf))
    assert(streamed == batch, "two-batch chunk answers diverged from the batch form")
    assert(streamed.nonEmpty)
  }

  test("dense chunk leg: no self-parents, ranks contiguous; vectors match an in-driver recompute") {
    val dense = ops.Search.chunkDenseTopK(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(dense.nonEmpty)
    dense.foreach { case (q, nb, _, _) =>
      assert(nb != q, s"query $q densely retrieved its own chunk") }
    dense.groupBy(_._1).foreach { case (q, rows) =>
      val rnks = rows.map(_._4).sorted
      assert(rnks.head == 1 && rnks.last == rnks.size &&
        rnks.size <= ops.Search.chunkK, s"dense ranks broken for query $q")
    }
    // the hash-projection vector device, recomputed in the driver for a
    // few chunks: per-dim integer sums of centered md5-head ascii codes
    def vecOf(text: String): Seq[Double] = {
      val hs = text.split(" ", -1).filter(_.nonEmpty).map { t =>
        java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }
      (1 to ops.Search.maxsimDims).map(i =>
        hs.map(h => h.charAt(i - 1).toInt - 80).sum.toDouble)
    }
    val sample = ops.Search.chunkVectors(spark, sf)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).take(5).toMap
    val texts = ops.TextAnalysis.chunkTextDocs(Tables.documents(spark, sf))
      .select(($"doc_id" * ops.Search.chunkKeyMod + $"chunk_id").as("k"), $"text")
      .as[(Long, String)].collect().toMap
    sample.foreach { case (k, v) =>
      assert(v == vecOf(texts(k)), s"chunk $k vector diverged from the device")
    }
  }

  test("bucketed dense rung: candidates are a subset story — recall prices it") {
    val brute = ops.Search.chunkDenseTopK(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val ann = ops.Search.chunkDenseBucketTopK(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(ann.nonEmpty)
    ann.groupBy(_._1).foreach { case (q, rows) =>
      val rnks = rows.map(_._4).sorted
      assert(rnks.head == 1 && rnks.last == rnks.size, s"ANN ranks broken for $q")
    }
    // a query's own bucket always holds its exact-match region: the
    // bucketed rung must agree with brute on rank 1 for SOME queries
    val b1 = brute.filter(_._4 == 1).map(r => (r._1, r._2, r._3)).toSet
    val a1 = ann.filter(_._4 == 1).map(r => (r._1, r._2, r._3)).toSet
    assert(a1.intersect(b1).nonEmpty, "bucketed rung top-1 never matches brute")
    val rec = ops.Search.chunkDenseRecall(spark, sf).collect()
    rec.foreach { r =>
      val (nb, nc, bp) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(nc <= nb && bp >= 0 && bp <= 10000,
        s"recall accounting broken: n_common $nc, n_brute $nb, bp $bp")
    }
  }

  test("dense/fused ingest serving: standing-only answers; streamed twin equals batch") {
    val m = ops.Similarity.knnBatchMod
    val in = ops.Search.chunkDenseIngestTopK(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(in.nonEmpty)
    in.foreach { case (q, nb, _, _) =>
      assert(q % m == 7, s"dense ingest query $q is not an arrival")
      assert(nb % m != 7,
        s"dense ingest hit $nb must come from the standing corpus only")
    }
    val fusedBatch = ops.Search.chunkFusedIngestRollup(spark, sf)
      .collect().map(_.toSeq).toSet
    val streamed = SparkEntry.queries("s_chunk_fused_stream")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == fusedBatch,
      "streamed fused RAG answers diverged from the batch ingest form")
    assert(streamed.nonEmpty)
  }

  test("fused chunk rollup: parents distinct, ranks contiguous, fused from both legs") {
    val fused = ops.Search.chunkFusedRollup(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(fused.nonEmpty)
    fused.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).distinct.length == rows.length,
        s"duplicate parents in the fused rollup for query $q")
      val rnks = rows.map(_._6).sorted
      assert(rnks.head == 1 && rnks.last == rnks.size,
        s"fused rollup ranks broken for query $q")
    }
    // every fused best_m is a sum of valid RRF contributions (1- or
    // 2-leg): bounded by twice the max single contribution and positive
    val maxContrib = ops.Search.rrfScale / (ops.Search.rrfK + 1)
    fused.foreach { case (_, _, bestM, _, _, _) =>
      assert(bestM > 0 && bestM <= 2 * maxContrib, s"rrf score $bestM out of range")
    }
  }
}
