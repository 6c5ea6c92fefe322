package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed ingest graph-ANN search (`s_graph_ann_stream`): each
  * arriving vector's answer must be complete within its own micro-batch
  * (stateless stream-static search), the multi-batch result must equal
  * the batch `x_sim_topk_graph_in` under any split of the ingest, and the
  * end-to-end file-source wrapper must match the batch form exactly. */
class GraphAnnStreamSpec extends SparkSpec {
  import spark.implicits._

  private def answers(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("query_id", "neighbor_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("answers accumulate across two micro-batches to the batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (edges, corpusIdx, c) = graft.ops.Similarity.ingestGraphIndex(spark, sf)
    val ingest = Tables.embeddings(spark, sf)
      .filter($"vec_id" % graft.ops.Similarity.knnBatchMod === 7)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    assert(ingest.size >= 2, "need at least two arriving vectors to split")
    val (c1, c2) = ingest.splitAt(ingest.size / 2)
    val sink = graft.ops.SpillMemo.scratchDir("graft-sgann-t-")
    val in = MemoryStream[(Long, Array[Float])]
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(
          graft.ops.Similarity.graphBeamProbe(b.toDF(), edges, corpusIdx, c),
          id, s"$sink/sink")
      }
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = answers(graft.streaming.UpsertSink
      .resolve(spark, s"$sink/sink", Seq("query_id", "rnk")))
    val batch = answers(graft.ops.Similarity.graphBeamIngestTopK(spark, sf))
    assert(streamed == batch, "two-batch answers diverged from the batch search")
    assert(streamed.nonEmpty)
  }

  test("golden: file-source streamed graph ANN equals the batch search") {
    val streamed = answers(
      SparkEntry.queries("s_graph_ann_stream")(spark, sf))
    val batch = answers(graft.ops.Similarity.graphBeamIngestTopK(spark, sf))
    assert(streamed == batch, "streamed graph ANN diverged from the batch form")
    assert(streamed.nonEmpty)
    // serving honesty carries through the stream: answers are corpus members
    assert(streamed.forall(_._2 % graft.ops.Similarity.knnBatchMod != 7))
  }
}
