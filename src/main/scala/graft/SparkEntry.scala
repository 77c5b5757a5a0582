package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001 — the SURVEY §7.2
    * minimum end-to-end slice: index documents (chunk + embed), then
    * RRF-fusion search over the built vectors. Driver smoke-checks
    * rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("x7_index_then_search")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * CALLER CONTRACT: some queries persist()/cache() shared
    * intermediate relations (multi-consumer plans: minhash signatures,
    * LSH bands, IVF indexes, the retrieval-eval scored set). The
    * returned DataFrame is lazy, so the builder cannot unpersist before
    * the caller's action — callers must run
    * `spark.catalog.clearCache()` after consuming each query's result
    * (Verify, Bench, Explain and the specs all do), or cached relations
    * accumulate across queries.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++ operators.Search.queries ++
      operators.TextAnalysis.queries ++ operators.Dedup.queries ++
      operators.Clustering.queries ++ pipelines.IndexPipeline.queries ++
      streaming.StreamingOps.queries ++ operators.Multimodal.queries ++
      sources.DocumentSources.queries ++ orchestration.Orchestration.queries ++
      evaluation.RetrievalEval.queries ++ operators.Conversations.queries ++
      operators.Skew.queries ++ operators.Temporal.queries ++
      model.CoreModel.queries ++ operators.Layout.queries ++
      operators.ResponseCache.queries ++ operators.ProductQuantization.queries ++
      operators.Bpe.queries ++ operators.Graph.queries ++
      operators.Perplexity.queries ++ operators.DataQuality.queries ++
      operators.Serving.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++ operators.Search.oracles ++
      operators.TextAnalysis.oracles ++ operators.Dedup.oracles ++
      operators.Clustering.oracles ++ pipelines.IndexPipeline.oracles ++
      streaming.StreamingOps.oracles ++ operators.Multimodal.oracles ++
      sources.DocumentSources.oracles ++ orchestration.Orchestration.oracles ++
      operators.Conversations.oracles ++ operators.Skew.oracles ++
      operators.Temporal.oracles ++ model.CoreModel.oracles ++
      evaluation.RetrievalEval.oracles ++ operators.Layout.oracles ++
      operators.ResponseCache.oracles ++ operators.ProductQuantization.oracles ++
      operators.Bpe.oracles ++ operators.Graph.oracles ++
      operators.Perplexity.oracles ++ operators.DataQuality.oracles ++
      operators.Serving.oracles
}
