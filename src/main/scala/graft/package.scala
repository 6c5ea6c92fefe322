/** Graft: a Spark-native analytics engine with the query surface of the
  * reference real-time interaction pipeline
  * (`jaygupta12300/realtime_data_pipeline`) plus the batch curation
  * operators a large-scale training-data pipeline needs.
  *
  * ==Packages==
  *  - [[graft.ops]] — batch operator packs: parse chain (`Parse`), sliding
  *    -window KPIs (`WindowAgg`), dashboard analytics (`Analytics`),
  *    relational breadth (`Relational`), dedup family (`Dedup`), ANN /
  *    embeddings (`Similarity`), text curation (`TextAnalysis`), BPE merge
  *    training (`Bpe`), sampling / splits / packing (`Sampling`),
  *    sessionization, temporal joins, funnels, multimodal plumbing,
  *    iterative-lineage control (`Lineage`).
  *  - [[graft.streaming]] — the Structured Streaming vertical:
  *    `EventPipeline` (watermark → sliding-window counts → keyed-upsert
  *    sink; the consumer query counts them in panes, `SlidingPanes`),
  *    `UpsertSink`, `StatefulDedup`, `RateEvents`, `LagMonitor`,
  *    `Shutdown`, `KafkaBridge`.
  *  - [[graft.functions]] — native Catalyst kernels (`shingles3`,
  *    `minhash_sig`, `simhash32`, `winnow_fp`, `cosine_sim`,
  *    `stopword_hits`, `norm_text`, `zorder2`, plus the surfaced Bloom
  *    aggregate pair `bloom_agg`/`bloom_might_contain`; register via
  *    `GraftFunctions.register(spark)` or
  *    `spark.sql.extensions=graft.functions.GraftExtensions`), the
  *    bounded top-k kernel `TopK.Cut`, and the `Skew` salted-aggregation
  *    rewrites.
  *  - [[graft.sources]] — schema-explicit JSON/CSV round-trip formats.
  *
  * ==Entry points==
  * [[graft.SparkEntry]] (driver contract: `queries` + `oracleSql`),
  * [[graft.Verify]] (correctness dump), [[graft.Bench]] (timing JSON),
  * `graft.tools.Pipeline` (runnable consumer-equivalent topology),
  * `graft.tools.Profile` and `graft.Verify`'s optional query-name
  * argument (dev loops).
  *
  * Design notes live in `SCALE.md` (per-family 100 TB analysis) and
  * `SURVEY.md` §2.5b (operator-by-operator implementation inventory).
  */
package object graft
