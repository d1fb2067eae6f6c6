package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one name per implemented operator (SURVEY.md §2 +
  * LLM-pipeline extensions) to a `(session, sfDir) => DataFrame`;
  * `oracleSql` holds the DuckDB-equivalent SQL for every
  * SQL-expressible query (same column names, same ORDER BY, same
  * rounding — the driver hash-compares values after sorting columns by
  * name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Scan → broadcast join → grouped agg → top-k: the operator
    * shape of the reference's recommendation pipeline B
    * (recommender.py:146-176) on the driver testdata.
    */
  def entry(spark: SparkSession): DataFrame = {
    plans.GraftStrategies.ensure(spark)
    ops.Relational.topK(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2; each first
    * installs graft's planner strategies on the session it is given.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (ops.Relational.queries ++ ops.Relational2.queries ++
      ops.Relational3.queries ++ ops.TextAnalysis.queries ++
      ops.Curation.queries ++
      ops.Dedup.queries ++ ops.Similarity.queries ++ ops.Events.queries ++
      ops.Graph.queries ++
      ops.Multimodal.queries ++ ops.Udfs.queries ++ ops.Skew.queries ++
      sources.Sources.queries ++
      streaming.EventStream.queries ++ streaming.DedupStream.queries ++
      recommend.AlsPipeline.queries).map { case (name, f) =>
        name -> { (s, d) => plans.GraftStrategies.ensure(s); f(s, d) } }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (ALS train/predict, randomSplit, LSH) → driver records a weaker
    * rows-only check.
    */
  def oracleSql: Map[String, String] =
    ops.Relational.oracle ++ ops.Relational2.oracle ++
      ops.Relational3.oracle ++ ops.TextAnalysis.oracle ++
      ops.Curation.oracle ++
      ops.Dedup.oracle ++ ops.Similarity.oracle ++ ops.Events.oracle ++
      ops.Graph.oracle ++
      ops.Multimodal.oracle ++ ops.Udfs.oracle ++ ops.Skew.oracle ++
      sources.Sources.oracle ++
      streaming.EventStream.oracle ++ streaming.DedupStream.oracle ++
      recommend.AlsPipeline.oracle
}
