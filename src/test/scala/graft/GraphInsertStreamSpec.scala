package graft

import org.apache.spark.sql.{Dataset, Row}

/** The streamed graph insert (`s_graph_insert_stream`): incremental
  * re-trims against the sink's current lists must converge to the batch
  * `x_sim_graph_insert` under a multi-batch split of the ingest (the
  * bounded-heap merge law), replaying a delta over its own output must be
  * a no-op (checkpoint-recovery idempotence), and the end-to-end
  * file-source wrapper must match the batch form exactly. */
class GraphInsertStreamSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Boolean)] =
    df.select("src", "dst", "rnk", "is_new")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

  test("two-batch incremental insert equals the batch insert; delta replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (edges, allVecs) = ops.Similarity.insertIndex(spark, sf)
    val (_, corpusIdx, c) = ops.Similarity.ingestGraphIndex(spark, sf)
    val ingest = Tables.embeddings(spark, sf)
      .filter($"vec_id" % ops.Similarity.knnBatchMod === 7)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    assert(ingest.size >= 2, "need at least two arriving vectors to split")
    val (c1, c2) = ingest.splitAt(ingest.size / 2)
    val scratch = ops.SpillMemo.scratchDir("graft-sgins-t-")
    val sink = s"$scratch/sink"
    val in = MemoryStream[(Long, Array[Float])]
    var lastBatch: Long = -1
    val q = in.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$scratch/ckpt")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        streaming.UpsertSink.writeBatch(
          streaming.IngestStream.insertDelta(
            spark, b.toDF(), id, sink, edges, corpusIdx, c, allVecs),
          id, sink)
        lastBatch = id
      }
      .start()
    val secondBatch =
      try {
        in.addData(c1: _*)
        q.processAllAvailable()
        in.addData(c2: _*)
        q.processAllAvailable()
        spark.createDataset(c2).toDF("vec_id", "embedding")
      } finally q.stop()
    val streamed = rows(streaming.UpsertSink.resolve(spark, sink, Seq("src", "rnk")))
    val batch = rows(ops.Similarity.graphInsert(spark, sf))
    assert(streamed == batch,
      "two-batch incremental insert diverged from the one-shot batch insert")
    assert(streamed.nonEmpty)
    // Checkpoint-recovery idempotence: recompute the SECOND delta over a
    // sink that already contains its output (the exact replay situation)
    // and overwrite the same delta id — the resolved table must not move.
    streaming.UpsertSink.writeBatch(
      streaming.IngestStream.insertDelta(
        spark, secondBatch, lastBatch, sink, edges, corpusIdx, c, allVecs),
      lastBatch, sink)
    val replayed = rows(streaming.UpsertSink.resolve(spark, sink, Seq("src", "rnk")))
    assert(replayed == streamed, "replaying a delta over its own output moved the index")
  }

  test("golden: file-source streamed insert equals the batch insert") {
    val streamed = rows(SparkEntry.queries("s_graph_insert_stream")(spark, sf))
    val batch = rows(ops.Similarity.graphInsert(spark, sf))
    assert(streamed == batch, "streamed graph insert diverged from the batch form")
    // both id spaces present: new-vertex lists and re-trimmed corpus lists
    assert(streamed.exists(_._4) && streamed.exists(!_._4))
  }
}
