package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{NewsStream, SessEvent, Sessionize, StateStores}

/** Batch correctness query over the streaming news pipeline's sink: the
  * whole EP2 chain (readStream JSON → watermark + (link,date) dedup →
  * AvailableNow parquet sink) runs to completion, then the sink is read
  * back. The DuckDB oracle dedups on the SAME (link, date) key (one
  * survivor per key via row_number), so row counts agree even if
  * same-key payloads ever diverge; cell-level agreement additionally
  * requires identical payloads per key (guaranteed by the fixture —
  * Spark's streaming dropDuplicates keeps an arbitrary first-seen
  * survivor, which no deterministic oracle can mirror otherwise). */
object Streaming {

  private val landing = graft.Fixtures.newsLanding

  // Every entry below is one streaming lifecycle
  // (StateStores.runToParquet, or StateStores.run for the CDC apply)
  // over two kinds of directory, both owned by graft.Fixtures:
  //  - its STAGED input (Fixtures.stagedInput): a deterministic function
  //    of the immutable source tables, written once per (kind, source)
  //    per JVM and reused by later invocations;
  //  - its RUN ROOT (Fixtures.withRunRoot): sink + checkpoint (+ lake),
  //    emptied at every call under the prefix's lock, so every run is a
  //    fresh, complete lifecycle over the full input and same-entry runs
  //    serialize.
  // The watermark-kicker sentinel is the one per-invocation mutation of
  // a staged dir: it lands as a single FIXED-NAME file (2 FS ops),
  // refreshed inside the run root's lock.
  //
  // Single-fire lifecycles: the sentinel rides the SAME AvailableNow run
  // as the data instead of a second fire. Watermarks only advance at
  // batch boundaries, so a sentinel in the data batch changes nothing
  // the stateful operators see: the batch processes under the pre-batch
  // watermark exactly as before, the post-batch watermark lands past
  // every real window/session/bucket, and the run's trailing no-data
  // batch (stateful operators report needsAnotherBatch when the
  // watermark moved) flushes them. One lifecycle (source discovery,
  // state-store open, offset/commit WALs) instead of two, with
  // row-identical sinks (StreamingSpec + the oracle re-check both).
  // stream_left_join is NOT converted: stream-stream OUTER eviction
  // does not get a trailing no-data batch from a single AvailableNow
  // run (see its Scaladoc), so it keeps two fires over one checkpoint.

  private val SentinelFile = "zz_sentinel.parquet"

  private def fsOf(spark: SparkSession) = org.apache.hadoop.fs.FileSystem
    .get(spark.sparkContext.hadoopConfiguration)

  /** Replace `inDir`'s sentinel with a copy of the staged one-row
    * sentinel's part-file under the fixed name — two FS ops instead of a
    * per-invocation Spark write. */
  private def injectSentinel(spark: SparkSession, sentinelDir: String,
      inDir: String): Unit = {
    val fs = fsOf(spark)
    val dst = new org.apache.hadoop.fs.Path(inDir, SentinelFile)
    fs.delete(dst, false)
    // headOption + require: the staged-input memo never re-stages a dir
    // whose creation half-failed (e.g. a crash between the base write
    // and the sentinel write), so a missing part-file must name the dir
    // instead of surfacing as a bare NoSuchElementException.
    val src = fs.listStatus(new org.apache.hadoop.fs.Path(sentinelDir))
      .map(_.getPath).filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).headOption
      .getOrElse(throw new IllegalStateException(
        s"staged sentinel dir $sentinelDir holds no part-file — " +
          "half-created staging memo entry; restart the JVM to re-stage"))
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration): Unit
  }

  def newsDedup(spark: SparkSession, dir: String): DataFrame =
    graft.Fixtures.withRunRoot("news_rt") { root =>
      NewsStream.runOnce(spark, landing, s"$root/sink", s"$root/ckpt")
      spark.read.parquet(s"$root/sink")
        .select(col("link"), col("title"), col("lang"),
          col("source.crawler").as("crawler"),
          date_format(col("date"), "yyyy-MM-dd HH:mm").as("event_time"))
    }

  val newsDedupSql: String =
    s"""SELECT link, title, lang, crawler, event_time FROM (
       |  SELECT link, title, lang, source.crawler AS crawler,
       |    strftime(CAST(date AS TIMESTAMP), '%Y-%m-%d %H:%M') AS event_time,
       |    row_number() OVER (PARTITION BY link, CAST(date AS TIMESTAMP)
       |      ORDER BY title, lang) AS rn
       |  FROM read_json('$landing/*.json'))
       |WHERE rn = 1""".stripMargin

  /** Streaming gap sessionization ([[Sessionize]]) driven end-to-end
    * through a file source + parquet sink, ONE AvailableNow fire:
    * batch 1 is the whole events table plus a far-future sentinel row
    * (in-batch gap splits happen under the pre-batch watermark, exactly
    * as they did when the sentinel rode a second fire); the post-batch
    * watermark then sits past every real session, so the run's trailing
    * no-data batch times every one of them out and emits. The
    * sentinel's own session stays open forever, so it never reaches the
    * sink and the result equals the BATCH sessionization of the table —
    * which is exactly what the DuckDB oracle computes. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = graft.Fixtures.stagedInput("sess_in", dir) { d =>
      val ev = graft.Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"))
      // The watermark kicker below reserves user_id -1 as an in-band
      // sentinel (filtered from results); a corpus actually carrying that
      // id would silently lose that user's sessions — refuse loudly. The
      // guard is one pushdown-friendly probe, not a full scan.
      require(ev.filter(col("user_id") === -1L).head(1).isEmpty,
        "events table contains user_id -1, reserved as the sessionize watermark sentinel")
      ev.write.parquet(s"$d/in")
      Seq(SessEvent(-1L, java.sql.Timestamp.valueOf("2100-01-01 00:00:00"))).toDS()
        .coalesce(1).write.parquet(s"$d/sentinel")
    }
    val in = s"$staged/in"
    graft.Fixtures.withRunRoot("sess_rt") { root =>
      injectSentinel(spark, s"$staged/sentinel", in)
      StateStores.runToParquet(spark, s"$root/sink", s"$root/ckpt") { s =>
        Sessionize.sessions(
          s.readStream.schema("user_id BIGINT, ts TIMESTAMP").parquet(in).as[SessEvent],
          "1 minute")
      }
      spark.read.parquet(s"$root/sink").filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
    }
  }

  val streamSessionizeSql: String =
    """SELECT user_id, CAST(MIN(eu) AS BIGINT) AS start_us,
      |  CAST(MAX(eu) AS BIGINT) AS end_us, COUNT(*) AS n_events
      |FROM (SELECT user_id, eu, SUM(is_new) OVER (PARTITION BY user_id
      |        ORDER BY eu ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM (SELECT user_id, epoch_us(ts) AS eu,
      |              CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
      |                        > 1800000000
      |                   THEN 1 ELSE 0 END AS is_new
      |            FROM events))
      |GROUP BY user_id, sid""".stripMargin

  /** Watermarked stream-stream interval join driven end-to-end through
    * file sources: the events table splits into a 'view' (impression)
    * stream and a 'click' stream, [[graft.streaming.StreamJoin]] pairs
    * each click with the same user's impressions from the preceding
    * hour, and the result lands in a parquet sink via AvailableNow. The
    * two-sided watermarks + range condition bound both join-state
    * buffers — the DuckDB oracle is the equivalent batch interval join,
    * so the streamed inner join must equal it row-for-row. */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame = {
    val in = graft.Fixtures.stagedInput("attr_in", dir) { d =>
      val ev = graft.Tables.load(spark, dir, "events")
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("imp_time"), col("event_id").as("imp_id"))
        .write.parquet(s"$d/imps")
      ev.filter(col("event_type") === "click")
        .select(col("user_id").as("click_user"), col("ts").as("click_time"),
          col("event_id").as("click_id"))
        .write.parquet(s"$d/clicks")
    }
    graft.Fixtures.withRunRoot("attr_rt") { root =>
      StateStores.runToParquet(spark, s"$root/sink", s"$root/ckpt") { s =>
        val imps = s.readStream
          .schema("user_id BIGINT, imp_time TIMESTAMP, imp_id BIGINT")
          .parquet(s"$in/imps")
        val clicks = s.readStream
          .schema("click_user BIGINT, click_time TIMESTAMP, click_id BIGINT")
          .parquet(s"$in/clicks")
        graft.streaming.StreamJoin
          .attribute(imps, clicks, impKey = "user_id", clickKey = "click_user")
          .select(col("imp_id"), col("click_id"),
            date_format(col("imp_time"), "yyyy-MM-dd HH:mm:ss").as("imp_t"),
            date_format(col("click_time"), "yyyy-MM-dd HH:mm:ss").as("click_t"))
      }
      spark.read.parquet(s"$root/sink")
    }
  }

  val streamAttributionSql: String =
    """SELECT i.event_id AS imp_id, c.event_id AS click_id,
      |  strftime(i.ts, '%Y-%m-%d %H:%M:%S') AS imp_t,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_t
      |FROM events i JOIN events c
      |  ON i.user_id = c.user_id
      | AND i.event_type = 'view' AND c.event_type = 'click'
      | AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR""".stripMargin

  /** Streaming trending terms — the Kibana "last 7 days news" panel
    * family (README.md:22-28) as a CHAINED-stateful streaming pipeline:
    * ONE watermark drives both (link, date) dedup and daily
    * tumbling-window token counts in the same query (Spark's
    * multi-stateful-operator support), landing in an append sink as
    * each day's window finalizes. Ranking (top-3 terms per day) runs
    * batch-side over the sink: rank is not a streaming-safe operator,
    * and the sink's windowed counts are final by construction.
    *
    * Lifecycle: landing files copy to a staged source; a far-future
    * sentinel doc rides the same run and kicks the watermark past every
    * real window (the [[streamSessionize]] pattern), so the run's
    * trailing no-data batch flushes them — the sentinel's own window
    * never finalizes and so never reaches the sink. State stays bounded at any scale: dedup
    * keys and open windows BOTH evict as the watermark passes (T3's
    * argument, across two stateful operators).
    *
    * The DuckDB oracle computes the identical dedup → day bucket →
    * count → top-3 from the landing files directly, so the whole
    * streaming lifecycle must agree with batch semantics row-for-row.
    *
    * Fixture contract (load-bearing HERE, not just for newsDedup's row
    * counts): streaming `dropDuplicates` keeps an arbitrary first-seen
    * row per (link, date) while the oracle keeps the min-title survivor
    * — the two agree on TOKEN COUNTS only because duplicate (link, date)
    * rows in the landing fixture carry identical payloads (title
    * included). StreamingSpec("landing fixture: duplicate (link, date)
    * rows carry identical payloads") asserts it, so a fixture edit
    * fails there, not as a nondeterministic hash flake. */
  def streamTrending(spark: SparkSession, dir: String): DataFrame = {
    // The landing copy exists so the sentinel write below never touches
    // the shared fixture dir.
    val in = graft.Fixtures.stagedInput("trend_in", landing) { d =>
      val dst = java.nio.file.Paths.get(d, "in")
      java.nio.file.Files.createDirectories(dst)
      // Files.list holds the directory handle until closed
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(landing))
      try listing.forEach { f =>
        java.nio.file.Files.copy(f, dst.resolve(f.getFileName.toString)): Unit
      } finally listing.close()
    } + "/in"
    graft.Fixtures.withRunRoot("trend_rt") { root =>
      // watermark kicker — a doc far enough out that every real window
      // ends before the new watermark; its own window stays open
      // forever. It rides the single AvailableNow batch (the file-comment
      // single-fire argument): dedup and counting run under the pre-batch
      // watermark either way, and the trailing no-data batch flushes
      // every real day window.
      java.nio.file.Files.write(java.nio.file.Paths.get(in, "zz_sentinel.json"),
        graft.Json.write(graft.Json.obj("title" -> "sentinel", "desc" -> None,
          "date" -> "2100-01-01T00:00:00", "link" -> "sentinel", "img" -> None,
          "lang" -> "xx", "source" -> None))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      StateStores.runToParquet(spark, s"$root/sink", s"$root/ckpt") { s =>
        s.readStream.schema(NewsStream.newsSchema).json(in)
          .filter(col("title").isNotNull) // F4, as in NewsStream
          .withWatermark("date", "1 hour")
          .dropDuplicates("link", "date")
          .select(col("date"), explode(split(lower(col("title")), " ")).as("term"))
          .groupBy(window(col("date"), "1 day"), col("term"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
            col("term"), col("n"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("n").desc, col("term").asc)
      spark.read.parquet(s"$root/sink")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    }
  }

  val streamTrendingSql: String =
    s"""WITH docs AS (
       |  SELECT link, title, CAST(date AS TIMESTAMP) AS date,
       |    row_number() OVER (PARTITION BY link, CAST(date AS TIMESTAMP)
       |      ORDER BY title) AS rn
       |  FROM read_json('$landing/*.json') WHERE title IS NOT NULL),
       |tok AS (SELECT strftime(date_trunc('day', date), '%Y-%m-%d') AS day,
       |          unnest(string_split(lower(title), ' ')) AS term
       |        FROM docs WHERE rn = 1),
       |c AS (SELECT day, term, COUNT(*) AS n FROM tok GROUP BY 1, 2),
       |r AS (SELECT day, term, n,
       |        row_number() OVER (PARTITION BY day ORDER BY n DESC, term ASC) AS rank
       |      FROM c)
       |SELECT day, term, n, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3""".stripMargin

  /** Streaming CDC apply: the change feed from [[Ingestion.cdcDiff]]'s
    * synthetic deltas streams through a file source and lands on the
    * versioned lake via a foreachBatch MERGE that honors all three verb
    * classes — delete (removed), upsert (added/changed) — completing
    * the CDC story: ing_cdc_diff DETECTS a feed from snapshots, this
    * APPLIES a feed to a materialized table. Exactly-once comes from
    * the pairing of the streaming checkpoint (replayed batches are the
    * same data) with [[graft.LakeCommit]] (each batch's merge is one
    * atomic versioned commit; readers never see a half-applied batch).
    *
    * The materialized result must equal the CURRENT snapshot the feed
    * was diffed against — which the DuckDB oracle recomputes directly
    * from the source table, so the whole detect → stream → merge →
    * read-back loop is hash-checked. Output folds to per-key-class
    * stats (bounded at any scale).
    *
    * 100 TB: the merge's carry-forward leg is the same keyed left-anti
    * the news upsert uses — partition-prunable by the batch's keys —
    * and the feed batch is the only new data read per tick. */
  def streamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    // Staged once per dir: the landed change feed AND a pristine base
    // lake — both deterministic functions of the source tables. The
    // merge MUTATES its lake, so each run works on a cheap FS copy of
    // the pristine commit instead of re-running the base-snapshot write
    // job per invocation.
    val staged = graft.Fixtures.stagedInput("cdc_in", dir) { d =>
      // Base snapshot: the "previous" load (keys ≡ 3 mod 10 absent).
      val o = graft.Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      graft.LakeCommit.commit(o.filter(col("o_orderkey") % 10 =!= 3), s"$d/lake0")
      Ingestion.cdcDiff(spark, dir).coalesce(1).write.mode("overwrite").json(s"$d/in")
    }
    graft.Fixtures.withRunRoot("cdc_rt") { root =>
      val lake = s"$root/lake"
      val fs = fsOf(spark)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$staged/lake0"), fs,
        new org.apache.hadoop.fs.Path(lake), false,
        spark.sparkContext.hadoopConfiguration)
      // no state, so no streaming session: the merge runs on `spark`
      val stream = spark.readStream
        .schema(Ingestion.cdcDiff(spark, dir).schema).json(s"$staged/in")
      StateStores.run(stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.PathLocks.lockFor(lake).synchronized {
            val cur = graft.LakeCommit.read(spark, lake)
            val b = batch.cache()
            val upserts = b.filter(col("status") =!= "removed")
              .select(col("o_orderkey"),
                col("cur_price").cast("decimal(18,2)").as("price"))
            val next = cur
              .join(b.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
              .unionByName(upserts)
            graft.LakeCommit.commit(next, lake)
            b.unpersist(); ()
          }
        }, s"$root/ckpt")
      graft.LakeCommit.read(spark, lake)
        .groupBy((col("o_orderkey") % 10).as("key_class"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("total"))
    }
  }

  /** The staged change-feed dir for `dir`, once [[streamCdcApply]] has
    * run (tests re-fire the same stream over the same checkpoint). */
  private[graft] def cdcFeedDir(dir: String): Option[String] =
    graft.Fixtures.stagedInputIfPresent("cdc_in", dir).map(d => s"$d/in")

  val streamCdcApplySql: String =
    """WITH cur AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 10 = 5
      |         THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1 AS DECIMAL(18,2))
      |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      |  FROM orders WHERE o_orderkey % 10 != 7)
      |SELECT o_orderkey % 10 AS key_class, COUNT(*) AS n,
      |  CAST(SUM(price) AS DOUBLE) AS total
      |FROM cur GROUP BY 1""".stripMargin

  /** Stream-stream LEFT OUTER interval join — the "unconverted
    * impressions" report [[streamAttribution]] cannot produce: every
    * view emits exactly once, matched rows as clicks arrive, unmatched
    * rows with a null click side once the click-side watermark proves
    * no match can still arrive. The semantics under test is the outer
    * emission path itself: null-side rows come from STATE EVICTION, so
    * a bounded replay must carry a watermark heartbeat past the
    * horizon or the final hour's unmatched views are silently withheld
    * — the staged inputs append one sentinel row per side 10 days past
    * the fixture max (a production cadence gets this for free from the
    * next tick's data; the sentinel key -1 is filtered from the sink).
    * Both inputs are single-file so AvailableNow takes them in one
    * batch and the no-data finalization batch evicts deterministically.
    * The DuckDB oracle is the equivalent batch LEFT JOIN, so withheld
    * or duplicated outer rows hash-fail. */
  def streamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val in = graft.Fixtures.stagedInput("slj_in", dir) { d =>
      val ev = graft.Tables.load(spark, dir, "events")
      val sentinelTs = new java.sql.Timestamp(
        ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime +
          10L * 24 * 3600 * 1000)
      import spark.implicits._
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("imp_time"), col("event_id").as("imp_id"))
        .unionByName(Seq((-1L, sentinelTs, -1L)).toDF("user_id", "imp_time", "imp_id"))
        .coalesce(1).write.parquet(s"$d/imps")
      ev.filter(col("event_type") === "click")
        .select(col("user_id").as("click_user"), col("ts").as("click_time"),
          col("event_id").as("click_id"))
        .unionByName(Seq((-1L, sentinelTs, -1L)).toDF("click_user", "click_time", "click_id"))
        .coalesce(1).write.parquet(s"$d/clicks")
    }
    graft.Fixtures.withRunRoot("slj_rt") { root =>
      def fire(): Unit =
        StateStores.runToParquet(spark, s"$root/sink", s"$root/ckpt") { s =>
          val imps = s.readStream
            .schema("user_id BIGINT, imp_time TIMESTAMP, imp_id BIGINT")
            .parquet(s"$in/imps")
          val clicks = s.readStream
            .schema("click_user BIGINT, click_time TIMESTAMP, click_id BIGINT")
            .parquet(s"$in/clicks")
          // NO sentinel filter inside the streaming query: a
          // deterministic predicate on the imp side gets PUSHED BELOW the
          // EventTimeWatermark node, silently dropping the heartbeat row
          // before the watermark operator sees it (found live: the
          // watermark stayed at real-max − 1h and withheld the final
          // hour's outer rows). The sentinel pair instead joins with
          // itself, lands in the sink, and is filtered on read-back.
          graft.streaming.StreamJoin
            .attributeOuter(imps, clicks, impKey = "user_id", clickKey = "click_user")
            .select(col("imp_id"), col("click_id"),
              date_format(col("imp_time"), "yyyy-MM-dd HH:mm:ss").as("imp_t"),
              (col("click_id").isNotNull).as("converted"))
        }
      // two fires over ONE checkpoint — the cadence-tick shape: fire 1
      // ingests everything (watermark advances past the sentinel only
      // in its LAST batch, after eviction already ran for that batch);
      // fire 2 restarts from the checkpointed watermark and its
      // finalization batch evicts the remaining unmatched state. A
      // single AvailableNow run stops without that trailing batch and
      // silently withholds the final hour's outer rows — the exact
      // bounded-replay trap the Scaladoc above documents.
      fire(); fire()
      spark.read.parquet(s"$root/sink").filter(col("imp_id") >= 0)
    }
  }

  val streamLeftJoinSql: String =
    """SELECT i.event_id AS imp_id, c.event_id AS click_id,
      |  strftime(i.ts, '%Y-%m-%d %H:%M:%S') AS imp_t,
      |  c.event_id IS NOT NULL AS converted
      |FROM (SELECT * FROM events WHERE event_type = 'view') i
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON i.user_id = c.user_id
      | AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 1 HOUR""".stripMargin

  /** Streaming approximate unique users per (event_type, ISO week) —
    * the sketch family (rel_approx_distinct / rel_sketch_rollup) made
    * CONTINUOUS, via DataSketches HLL state in `flatMapGroupsWithState`
    * ([[graft.streaming.ApproxUsers]]). Distinctive vs every other
    * stream_* entry: their state is exact and watermark-bounded; a
    * unique-users panel's exact state grows with |users| inside each
    * bucket, and the sketch caps it at one ~2 KiB HLL per open bucket
    * whatever the cardinality — THE 100 TB continuous-cardinality
    * shape. The input deliberately lands as FOUR files read under
    * maxFilesPerTrigger=1, so the sketches provably accumulate across
    * four micro-batches (split-invariance is property-tested in
    * StreamingSpec); a far-future sentinel then kicks the watermark
    * past every real week so the event-time timeouts close them (the
    * [[streamSessionize]] pattern — the sentinel's own bucket never
    * times out and is filtered on read-back).
    *
    * Gate encoding (the rel_approx_distinct convention): the sink's
    * estimates join the batch-exact counts; the output carries the
    * exact counts plus `within_band` (3.5× sketch rsd) and
    * `state_bounded` (compact sketch ≤ 4 KiB) verdicts the oracle pins
    * literally TRUE — an estimator drift OR an unbounded-state
    * regression turns the row red. LEFT join from the exact side: a
    * withheld emission nulls the verdicts and hash-fails. */
  def streamApproxUsers(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ApproxUsers
    val ev = graft.Tables.load(spark, dir, "events")
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
        ((unix_timestamp(date_trunc("week", col("ts"))) + lit(7L * 24 * 3600))
          * 1000L).as("week_end_ms"),
        col("user_id"), col("ts"))
    val staged = graft.Fixtures.stagedInput("hllu_in", dir) { d =>
      // The watermark kicker below reserves this event_type as an in-band
      // sentinel (filtered from results) — refuse loudly if the corpus
      // ever carries it. One pushdown-friendly probe, not a scan.
      require(ev.filter(col("event_type") === "zz_sentinel").head(1).isEmpty,
        "events table contains event_type zz_sentinel, reserved as the watermark sentinel")
      ev.repartition(4).write.parquet(s"$d/in") // 4 files = 4 micro-batches below
      import spark.implicits._
      Seq(("zz_sentinel", "2100-01-04", 4102444800000L, -1L,
        java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
        .toDF("event_type", "week", "week_end_ms", "user_id", "ts")
        .coalesce(1).write.parquet(s"$d/sentinel")
    }
    val in = s"$staged/in"
    val streamed = graft.Fixtures.withRunRoot("hllu_rt") { root =>
      // The sentinel is the 5th file of the single run: it carries the
      // NEWEST mtime (copied now; the base files were staged earlier in
      // the JVM), and the file source orders a capped trigger's files by
      // modification time, so under maxFilesPerTrigger=1 it is batch 5 —
      // after every real batch — and the trailing no-data batch then
      // closes all real buckets. A withheld or early-closed bucket nulls
      // the within_band/state_bounded verdicts via the exact-side left
      // join below, so the oracle hash-fails any ordering regression.
      injectSentinel(spark, s"$staged/sentinel", in)
      StateStores.runToParquet(spark, s"$root/sink", s"$root/ckpt") { s =>
        import s.implicits._
        val src = s.readStream
          .schema("event_type STRING, week STRING, week_end_ms BIGINT, user_id BIGINT, ts TIMESTAMP")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
        ApproxUsers.approxUsers(src.as[graft.streaming.TypedEvent], "90 days")
      }
      spark.read.parquet(s"$root/sink")
        .filter(col("event_type") =!= "zz_sentinel")
    }
    val exact = ev.groupBy(col("event_type"), col("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(streamed, Seq("event_type", "week"), "left")
      .select(col("event_type"), col("week"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users").cast("double"))
          <= col("exact_users").cast("double") * ApproxUsers.Band).as("within_band"),
        (col("sketch_bytes") <= ApproxUsers.MaxSketchBytes).as("state_bounded"))
  }

  val streamApproxUsersSql: String =
    """SELECT event_type, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS within_band, TRUE AS state_bounded
      |FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** Stream-static enrichment join ([[graft.streaming.Enrich]]) — the
    * events stream broadcast-probes the customer⋈nation dim per
    * micro-batch, then daily (nation, type) counts finalize on
    * watermark passage. The sentinel (user −1, year 2100) advances the
    * watermark at the SOURCE and is then dropped by the inner join
    * itself — nation membership is the filter, no sink-side scrub.
    * The DuckDB oracle is the equivalent batch join+rollup, so a
    * dropped batch, a stale dim probe, or an unfinalized window all
    * hash-fail. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val staged = graft.Fixtures.stagedInput("enrich_in", dir) { d =>
      import spark.implicits._
      val ev = graft.Tables.load(spark, dir, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"))
      require(ev.filter(col("user_id") === -1L).head(1).isEmpty,
        "events table contains user_id -1, reserved as the enrich watermark sentinel")
      ev.write.parquet(s"$d/in")
      Seq((-1L, java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), "zz"))
        .toDF("user_id", "ts", "event_type")
        .coalesce(1).write.parquet(s"$d/sentinel")
    }
    val in = s"$staged/in"
    graft.Fixtures.withRunRoot("enrich_rt") { root =>
      injectSentinel(spark, s"$staged/sentinel", in)
      StateStores.runToParquet(spark, s"$root/sink", s"$root/ckpt") { s =>
        val dim = graft.Tables.load(s, dir, "customer")
          .join(graft.Tables.load(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
        val src = s.readStream
          .schema("user_id BIGINT, ts TIMESTAMP, event_type STRING")
          .parquet(in)
        graft.streaming.Enrich.dailyByNation(src, dim)
      }
      spark.read.parquet(s"$root/sink")
    }
  }

  val streamEnrichSql: String =
    """SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
      |  n.n_name, e.event_type, COUNT(*) AS n
      |FROM events e
      |JOIN customer c ON c.c_custkey = e.user_id
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE e.ts IS NOT NULL AND e.user_id IS NOT NULL
      |GROUP BY 1, 2, 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_enrich" -> (streamEnrich _),
    "stream_approx_users" -> (streamApproxUsers _),
    "stream_left_join" -> (streamLeftJoin _),
    "stream_cdc_apply" -> (streamCdcApply _),
    "stream_news_dedup" -> (newsDedup _),
    "stream_sessionize" -> (streamSessionize _),
    "stream_attribution" -> (streamAttribution _),
    "stream_trending" -> (streamTrending _))

  val oracles: Map[String, String] = Map(
    "stream_enrich" -> streamEnrichSql,
    "stream_approx_users" -> streamApproxUsersSql,
    "stream_left_join" -> streamLeftJoinSql,
    "stream_cdc_apply" -> streamCdcApplySql,
    "stream_news_dedup" -> newsDedupSql,
    "stream_sessionize" -> streamSessionizeSql,
    "stream_attribution" -> streamAttributionSql,
    "stream_trending" -> streamTrendingSql)
}
