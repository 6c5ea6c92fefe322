package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The kNN-graph sign-bucket width is a TUNABLE (bits ≈ log₂√n holds
  * per-bucket candidate volume flat as the corpus grows — SCALE.md §knn),
  * so the operator must be correct at ANY width, not just the default 6.
  * This spec runs [[graft.ops.Similarity.knnGraph]] at two widths and
  * checks each against an INDEPENDENT formulation (exploded-sum bucketing,
  * SQL-aggregate dot products, `row_number` window ranking — none of the
  * operator's own bucket expression, TopK.Cut heap, or zip_with kernels),
  * plus the structural effects the width exists to control. */
class KnnBitsSpec extends SparkSpec {

  /** Independent reference: same math, different operators end to end. */
  private def refKnn(bits: Int, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        col("x").cast("double").as("rx"), // bucket on the RAW sign, like the operator
        expr("CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT)").as("qx"))
    val bucketed = e.groupBy(col("vec_id"))
      .agg(
        sum(when(col("dim") < bits && col("rx") >= 0,
          expr("CAST(pow(2, dim) AS BIGINT)")).otherwise(0L)).as("bucket"),
        sum(col("qx") * col("qx")).as("nq"),
        collect_list(struct(col("dim"), col("qx"))).as("qs"))
      .filter(col("nq") > 0)
      .select(col("vec_id"), col("bucket"), col("nq"),
        expr("transform(array_sort(qs), s -> s.qx)").as("q"))
    val pairs = bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        expr("aggregate(zip_with(a.q, b.q, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("dot"),
        col("a.nq").as("na"), col("b.nq").as("nb"))
      .select(col("query_id"), col("neighbor_id"),
        expr("CAST(sign(dot) AS BIGINT) * ((dot * dot * 1000000) div (na * nb))").as("skey"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("skey").desc, col("neighbor_id").asc)
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id").as("vec_id"), col("neighbor_id"), col("rnk"))
  }

  private def canon(df: DataFrame) =
    df.orderBy("vec_id", "rnk", "neighbor_id").collect().toSeq

  for (bits <- Seq(4, 6)) {
    test(s"knnGraph at $bits sign bits matches the independent window-ranked reference") {
      assert(canon(graft.ops.Similarity.knnGraph(spark, sf, bits)) ===
        canon(refKnn(bits, 3)))
    }
  }

  test("wider buckets shrink candidate volume — the knob is not cosmetic") {
    // the bound the width controls is Σ bucket²; at +2 bits it must drop
    def candidateVolume(bits: Int): Long = {
      val bucketExpr = (0 until bits)
        .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      Tables.embeddings(spark, sf)
        .select(expr(s"CAST($bucketExpr AS BIGINT)").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n"))).collect()(0).getLong(0)
    }
    val narrow = candidateVolume(4)
    val wide = candidateVolume(8)
    assert(wide < narrow,
      s"8-bit buckets must cut the Σ bucket² candidate bound vs 4-bit ($wide >= $narrow)")
  }

  test("oracle SQL builder interpolates the same width as the Spark side") {
    // the default-width oracle is exactly the registered x_sim_knn_graph
    // entry, and a non-default width changes the bucket expression
    assert(graft.ops.Similarity.knnSql() ===
      SparkEntry.oracleSql("x_sim_knn_graph"))
    assert(graft.ops.Similarity.knnSql(bits = 8) !=
      graft.ops.Similarity.knnSql(bits = 6))
  }

  test("knnLabelVote: census matches a vote recomputed over the independent graph") {
    val lab = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    // graph edges from the INDEPENDENT reference formulation; the vote +
    // census arithmetic is then recomputed from scratch on top of them
    val votes = refKnn(6, 3)
      .join(lab.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")),
        "neighbor_id")
      .groupBy(col("vec_id"), col("nlabel")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("votes").desc, col("nlabel").asc)
    val pred = votes.withColumn("vr", row_number().over(w)).filter(col("vr") === 1)
      .select(col("vec_id"), col("nlabel").as("pred_label"))
    val expected = lab.join(pred, "vec_id").groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("label") === col("pred_label"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("label"), col("n_vecs"), col("n_agree"),
        expr("(n_agree * 10000) div n_vecs").as("agree_bp"))
      .orderBy("label").collect().toSeq
    val got = graft.ops.Similarity.knnLabelVote(spark, sf)
      .orderBy("label").collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    // census conservation: every voted vector is counted exactly once
    val nPred = pred.count()
    assert(got.map(_.getLong(1)).sum === nPred,
      "per-label vector counts must sum to the number of voted vectors")
  }
}
