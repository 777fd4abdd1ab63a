package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator catalog (one entry per implemented
  * operator from SURVEY.md §2 plus the training-data-pipeline extensions);
  * `oracleSql` carries the DuckDB-equivalent SQL the driver hash-compares
  * against at sf0.01.
  *
  * Every query expects a session from [[Tables.session]]. A session built
  * elsewhere must set `spark.sql.extensions=graft.functions.GraftExtensions`:
  * the native functions and the as-of join plan layer exist only there.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The A1 "dashboard totals" aggregation (grouped counter sums over the
    * fact table — the Kibana world-map query shape, reference
    * README.md:22-28). */
  def entry(spark: SparkSession): DataFrame =
    queries("rel_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (plus the
    * training-data-pipeline extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.LlmDedup.queries ++
      graft.queries.VectorSearch.queries ++
      graft.queries.TextAnalysis.queries ++
      graft.queries.Ingestion.queries ++
      graft.queries.Geo.queries ++
      graft.queries.Streaming.queries ++
      graft.queries.IngestionFrance.queries ++
      graft.queries.Multimodal.queries ++
      graft.queries.EventOps.queries ++
      graft.queries.Functions.queries ++
      graft.queries.Curation.queries ++
      graft.queries.CorpusOps.queries ++
      graft.queries.Bucketed.queries ++
      graft.queries.Pii.queries ++
      graft.queries.TextClean.queries ++
      graft.queries.EsAggs.queries ++
      graft.queries.TextIndex.queries ++
      graft.queries.TrainingMix.queries ++
      graft.queries.HybridSearch.queries ++
      graft.queries.Graph.queries ++
      graft.queries.UrlDedup.queries ++
      graft.queries.AudienceOverlap.queries ++
      graft.queries.Sketches.queries ++
      graft.queries.DataContract.queries ++
      graft.queries.AssocRules.queries ++
      graft.queries.Experiments.queries ++
      graft.queries.TrendOps.queries ++
      graft.queries.Survival.queries ++
      graft.queries.Growth.queries

  /** The catalog names a main runs, sorted. `filter` is a comma-separated
    * list of name substrings: an entry runs when its name contains any of
    * them. No filter (or one with no non-empty part) is the whole catalog. */
  def select(filter: Option[String]): Seq[String] = {
    val parts = filter.map(_.split(',').toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    queries.keys.toSeq.sorted.filter(n => parts.forall(_.exists(n.contains)))
  }

  /** Runs `body` for one catalog entry after dropping every cached block,
    * and returns its result or whatever it threw. Besides the cached
    * Datasets, every persisted RDD is unpersisted: a checkpoint-heavy
    * entry (pagerank, dedup clusters) leaves `localCheckpoint` blocks
    * that only a collection of their RDDs would otherwise reap, and no
    * entry reads a persisted RDD that an earlier entry made. */
  def isolated[A](spark: SparkSession)(body: => A): Either[Throwable, A] = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try Right(body) catch { case e: Throwable => Left(e) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.LlmDedup.oracles ++
      graft.queries.VectorSearch.oracles ++
      graft.queries.TextAnalysis.oracles ++
      graft.queries.Ingestion.oracles ++
      graft.queries.Geo.oracles ++
      graft.queries.Streaming.oracles ++
      graft.queries.IngestionFrance.oracles ++
      graft.queries.Multimodal.oracles ++
      graft.queries.EventOps.oracles ++
      graft.queries.Functions.oracles ++
      graft.queries.Curation.oracles ++
      graft.queries.CorpusOps.oracles ++
      graft.queries.Bucketed.oracles ++
      graft.queries.Pii.oracles ++
      graft.queries.TextClean.oracles ++
      graft.queries.EsAggs.oracles ++
      graft.queries.TextIndex.oracles ++
      graft.queries.TrainingMix.oracles ++
      graft.queries.HybridSearch.oracles ++
      graft.queries.Graph.oracles ++
      graft.queries.UrlDedup.oracles ++
      graft.queries.AudienceOverlap.oracles ++
      graft.queries.Sketches.oracles ++
      graft.queries.DataContract.oracles ++
      graft.queries.AssocRules.oracles ++
      graft.queries.Experiments.oracles ++
      graft.queries.TrendOps.oracles ++
      graft.queries.Survival.oracles ++
      graft.queries.Growth.oracles
}
