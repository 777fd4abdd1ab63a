package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The EP2 streaming news pipeline (SURVEY.md §3): crawler-written JSON
  * landing files → Structured Streaming file source → watermark +
  * key-dedup → partitionable Parquet sink, fired with `AvailableNow` (the
  * Spark-native version of the reference's 24 h scheduled crawl,
  * crawl_google_news.py:28-30).
  *
  * The watermark + dedup is the capability the reference explicitly lacks
  * (its TODO at README.md:225-227: random uuid4 ids + full refresh make
  * re-runs duplicate every doc; crawl overlap duplicates links). Dedup key
  * is (link, date): including the event-time column lets the state store
  * evict keys older than the watermark, so state is bounded at 100 TB —
  * a `dropDuplicates("link")` alone would grow state forever.
  *
  * Scale: the file source lists landing files incrementally (offsets in
  * the checkpoint), each micro-batch is a normal Catalyst plan, and the
  * sink commit log makes re-fires exactly-once — re-running after a crash
  * neither loses nor duplicates docs.
  *
  * Both flows ([[runOnce]], [[runOnceFanout]]) fire through the one
  * streaming lifecycle, [[StateStores.runToParquet]], which also reports
  * the rows they land to a recorded cadence tick.
  */
object NewsStream {

  /** Canonical news schema (SURVEY.md §1.3, from crawl_mapping.py:1-24). */
  val newsSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("desc", StringType),
    StructField("date", TimestampType),
    StructField("link", StringType),
    StructField("img", StringType),
    StructField("lang", StringType),
    StructField("source", StructType(Seq(
      StructField("crawler", StringType),
      StructField("website", StringType),
      StructField("author", StringType),
      StructField("url", StringType),
      StructField("tweet", StructType(Seq(
        StructField("id", StringType)))))))))

  /** Raw GoogleNews landing record, as [[graft.ingest.CrawlFanout]] feeds
    * land it: the reference's result keys (crawl_google_news.py:56-63)
    * plus the poller-injected `lang`/`tag` provenance. */
  val googleNewsRawSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("desc", StringType),
    StructField("date", StringType),
    StructField("link", StringType),
    StructField("img", StringType),
    StructField("site", StringType),
    StructField("author", StringType),
    StructField("lang", StringType),
    StructField("tag", StringType)))

  /** Raw tweet landing record (crawl_tweets.py:71-84 fields + injected
    * `lang`), as the tweet scrape and [[graft.ingest.CrawlFanout]] land
    * it. [[NewsShaping.shapeTweet]] does not read `link`. */
  val tweetRawSchema: StructType = StructType(Seq(
    StructField("user", StringType),
    StructField("content", StringType),
    StructField("date", StringType),
    StructField("tweet_id", StringType),
    StructField("link", StringType),
    StructField("lang", StringType)))

  /** The full fan-out pipeline: RAW per-source landing dirs → P11/P12
    * shaping ([[NewsShaping]]) → union → watermark + key-dedup → sink.
    * One streaming query, one checkpoint: both file sources' offsets
    * commit together, so a re-fire resumes both exactly-once. This is the
    * reference's two crawl DAGs (GoogleNews + tweets) landing in one
    * deduped store, with the shaping moved crawler-side → Spark-side. */
  def runOnceFanout(spark: SparkSession, newsLanding: String,
      tweetsLanding: String, sinkDir: String, checkpointDir: String): Unit =
    StateStores.runToParquet(spark, sinkDir, checkpointDir, noDataBatches = false)(
      fannedOut(_, newsLanding, tweetsLanding))

  /** Run the landing → sink pipeline to completion (AvailableNow) through
    * the one streaming lifecycle ([[StateStores.runToParquet]]): the
    * query builds on a conf-isolated streaming session (RocksDB state,
    * state-sized shuffle width), so the streaming confs never leak into —
    * or race with — concurrent work on `spark`; inside a recorded cadence
    * tick the run reports the rows it landed.
    *
    * Both news flows are dedups, which emit each row in the batch that
    * brings it, so they run without the empty batch (`noDataBatches =
    * false`): the run ends with its last data batch, and the next run's
    * first data batch evicts the expired state. */
  def runOnce(spark: SparkSession, landingDir: String, sinkDir: String,
      checkpointDir: String): Unit =
    StateStores.runToParquet(spark, sinkDir, checkpointDir, noDataBatches = false)(
      deduped(_, landingDir))

  /** The two landing dirs' records, shaped and unioned, as a deduped
    * stream built on `s`. */
  def fannedOut(s: SparkSession, newsLanding: String, tweetsLanding: String): DataFrame = {
    val news = NewsShaping.shapeGoogleNews(
      s.readStream.schema(googleNewsRawSchema).json(newsLanding))
    val tweets = NewsShaping.shapeTweet(
      s.readStream.schema(tweetRawSchema).json(tweetsLanding))
    dedup(news.unionByName(tweets))
  }

  /** The landing dir's documents as a deduped stream built on `s`. */
  def deduped(s: SparkSession, landingDir: String): DataFrame =
    dedup(s.readStream.schema(newsSchema).json(landingDir))

  private def dedup(docs: DataFrame): DataFrame =
    docs.filter(col("title").isNotNull) // F4: skip empty crawl results
      .withWatermark("date", "7 days") // T3
      .dropDuplicates("link", "date")

  /** T2 as an INCREMENTAL upsert (foreachBatch merge-by-key) instead of
    * the reference's full delete-and-reload: rows from `batch` replace
    * same-`link` rows in the lake, everything else is carried forward.
    * Lands through the versioned marker-file commit
    * ([[graft.LakeCommit]]): the merge plan reads the CURRENT immutable
    * version dir while writing the next one, so there is no
    * self-overwrite hazard and a concurrent reader pins one whole
    * version — snapshot isolation with no rename anywhere.
    *
    * At 100 TB the carry-forward read would be partition-pruned by the
    * keys present in the batch (here the lake is small and unpartitioned
    * — the pattern, not the layout, is the point). */
  def upsertToLake(spark: SparkSession, batch: DataFrame, lakePath: String): Unit =
    // the outer lock makes read-merge-commit atomic against a
    // concurrent upsert of the same lake (intrinsic locks are
    // reentrant, so commit's own lock on the same stripe is fine)
    graft.PathLocks.lockFor(lakePath).synchronized {
      val merged = graft.LakeCommit.current(spark, lakePath) match {
        case Some(existing) =>
          // restore the lake's column order: the USING join hoists the key
          // column first, so without the select the FIRST upsert would
          // silently rewrite the lake with a reordered schema
          existing.join(batch.select("link"), Seq("link"), "left_anti")
            .unionByName(batch)
            .select(existing.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
        case None => batch
      }
      graft.LakeCommit.commit(merged, lakePath): Unit
    }
}
