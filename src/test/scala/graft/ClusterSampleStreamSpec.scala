package graft

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

/** The maintained cluster-balanced sample (`s_cluster_sample_stream`): the
  * standing table must equal the batch [[graft.ops.Diversify.clusterBalanced]]
  * under any batching — per-cell counts are associative and the bottom-n
  * hash cut is the KMV merge law, both through one stateful update-mode
  * aggregation. */
class ClusterSampleStreamSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("golden: file-source maintained sample equals the batch form") {
    val streamed = rows(
      SparkEntry.queries("s_cluster_sample_stream")(spark, sf))
    val batch = rows(graft.ops.Diversify.clusterBalanced(spark, sf))
    assert(streamed == batch, "maintained sample diverged from the batch form")
  }

  test("two-batch delivery converges to the same standing table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val n = 3 // small per-cell depth so the trim matters on a tiny corpus
    val centsDf = graft.ops.Similarity.seedCentroids(spark, sf)
      .groupBy().agg(expr("array_sort(collect_list(struct(cluster, cv)))").as("cents"))
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("q"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val (c1, c2) = emb.splitAt(emb.size / 3)
    val sink = graft.ops.SpillMemo.scratchDir("graft-scbs-t-")
    val agg = udaf(new graft.functions.BottomKByKeyAgg(n),
      org.apache.spark.sql.Encoders.product[graft.functions.KeyedId])
    val in = MemoryStream[(Long, Seq[Long])]
    val q = in.toDF().toDF("vec_id", "q")
      .crossJoin(broadcast(centsDf))
      .withColumn("cluster", expr(
        """aggregate(cents,
          |  named_struct('d', CAST(4611686018427387903 AS BIGINT), 'c', CAST(-1 AS BIGINT)),
          |  (acc, ct) -> CASE
          |    WHEN aggregate(zip_with(q, ct.cv, (a, b) -> (a - b) * (a - b)),
          |                   0L, (s2, v) -> s2 + v) < acc.d
          |    THEN named_struct(
          |      'd', aggregate(zip_with(q, ct.cv, (a, b) -> (a - b) * (a - b)),
          |                     0L, (s2, v) -> s2 + v),
          |      'c', ct.cluster)
          |    ELSE acc END).c""".stripMargin))
      .withColumn("h", substring(md5(col("vec_id").cast("string")), 1, 12))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_cluster"), agg(col("h"), col("vec_id")).as("bot"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$sink/ckpt")
      .foreachBatch((b: Dataset[Row], id: Long) =>
        graft.streaming.UpsertSink.writeBatch(b, id, s"$sink/sink"))
      .start()
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      in.addData(c2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.streaming.UpsertSink.resolve(spark, s"$sink/sink", Seq("cluster"))
      .select(col("cluster"), col("n_cluster"),
        posexplode(col("bot")).as(Seq("pos", "kid")))
      .select(col("cluster"), col("n_cluster"),
        (col("pos") + 1).cast("long").as("rk"), col("kid.id").as("vec_id"))
    // batch twin at the same depth n: rank by hash within the same assignment
    val asg = graft.ops.Similarity.kmeansIter(spark, sf).select(col("vec_id"), col("cluster"))
    val sizes = asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_cluster"))
    val batch = graft.functions.TopK.topK(
      asg.select(col("cluster"),
        (-expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
          .cast("double").as("sc"),
        col("vec_id")),
      "cluster", "sc", "vec_id", n)
      .join(sizes, Seq("cluster"))
      .select(col("cluster"), col("n_cluster"),
        col("rnk").as("rk"), col("neighbor_id").as("vec_id"))
    assert(rows(streamed) == rows(batch),
      "two-batch maintained sample diverged from the batch form")
  }
}
