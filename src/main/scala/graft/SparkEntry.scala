package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `catalog` is the full operator catalog: one [[graft.queries.Entry]]
  * row per implemented operator, carrying its builder, the
  * DuckDB-equivalent SQL `tools/check.py` hash-compares against at sf0.01 and,
  * for a time-sliceable entry, its ranged form. `queries` and `oracleSql`
  * are its builder and oracle views by name.
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

  /** Every catalog entry by name, one row each from the 30 catalog
    * modules (SURVEY.md §2 plus the training-data-pipeline extensions).
    * Building it throws if two modules name the same entry. */
  val catalog: Map[String, Entry] = Entry.catalog(Seq(
    Relational.entries, LlmDedup.entries, VectorSearch.entries,
    TextAnalysis.entries, Ingestion.entries, Geo.entries, Streaming.entries,
    IngestionFrance.entries, Multimodal.entries, EventOps.entries,
    Functions.entries, Curation.entries, CorpusOps.entries, Bucketed.entries,
    Pii.entries, TextClean.entries, EsAggs.entries, TextIndex.entries,
    TrainingMix.entries, HybridSearch.entries, Graph.entries,
    UrlDedup.entries, AudienceOverlap.entries, Sketches.entries,
    DataContract.entries, AssocRules.entries, Experiments.entries,
    TrendOps.entries, Survival.entries, Growth.entries).flatten)

  /** Each entry's builder by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (n, e) => n -> e.build }

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

  /** For each entry, equivalent ANSI SQL runnable by DuckDB on the same
    * parquet tables; every entry carries one. */
  val oracleSql: Map[String, String] = catalog.map { case (n, e) => n -> e.oracle }
}
