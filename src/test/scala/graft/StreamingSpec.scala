package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.NewsStream

case class NewsEvt(link: String, date: Timestamp, title: String)

/** Streaming semantics under multi-batch control (SURVEY §5.2 item 5):
  * dedup state persists across micro-batches, and rows behind the
  * watermark are dropped — the two behaviors a single AvailableNow batch
  * cannot show. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("cross-batch dedup + watermark late-row drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[NewsEvt]
    val deduped = mem.toDF()
      .withWatermark("date", "7 days")
      .dropDuplicates("link", "date")
    val q = deduped.writeStream
      .format("memory").queryName("news_mem")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: two fresh rows; max event time 2021-03-10 => watermark
      // after the batch = 2021-03-03.
      mem.addData(
        NewsEvt("l1", ts("2021-03-09 10:00:00"), "first"),
        NewsEvt("l2", ts("2021-03-10 09:00:00"), "second"))
      q.processAllAvailable()
      // batch 2: an exact duplicate of l1 (must be dropped by state), a
      // row behind the watermark (must be dropped as late), a fresh row.
      mem.addData(
        NewsEvt("l1", ts("2021-03-09 10:00:00"), "first"),
        NewsEvt("l_late", ts("2021-03-01 00:00:00"), "too late"),
        NewsEvt("l3", ts("2021-03-10 12:00:00"), "third"))
      q.processAllAvailable()
      val links = spark.table("news_mem").collect().map(_.getAs[String]("link")).sorted
      assert(links.toSeq === Seq("l1", "l2", "l3"))
    } finally q.stop()
  }

  test("windowed aggregation finalizes only watermark-closed windows (T4/T5)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[NewsEvt]
    val counted = mem.toDF()
      .withWatermark("date", "1 hour")
      .groupBy(window(col("date"), "1 hour"), col("title"))
      .count()
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("title"), col("count"))
    val q = counted.writeStream
      .format("memory").queryName("news_windows")
      .outputMode(OutputMode.Append())
      .start()
    try {
      mem.addData(
        NewsEvt("a", ts("2021-03-01 10:05:00"), "covid"),
        NewsEvt("b", ts("2021-03-01 10:40:00"), "covid"),
        NewsEvt("c", ts("2021-03-01 11:10:00"), "vaccine"))
      q.processAllAvailable()
      // watermark = 11:10 - 1h = 10:10 -> no window closed yet
      assert(spark.table("news_windows").count() === 0)
      // advance watermark past 12:00: the 10:00 and 11:00 windows close
      mem.addData(NewsEvt("d", ts("2021-03-01 13:30:00"), "late-driver"))
      q.processAllAvailable()
      val rows = spark.table("news_windows").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows === Set(("10:00", "covid", 2L), ("11:00", "vaccine", 1L)))
    } finally q.stop()
  }

  test("foreachBatch upsert: same-key rows replaced, others carried forward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lake = s"${System.getProperty("java.io.tmpdir")}/graft_upsert_lake"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lake), true)
    val mem = MemoryStream[NewsEvt]
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        NewsStream.upsertToLake(spark, batch, lake)
      }
      .start()
    try {
      mem.addData(
        NewsEvt("l1", ts("2021-03-01 10:00:00"), "v1"),
        NewsEvt("l2", ts("2021-03-01 11:00:00"), "stays"))
      q.processAllAvailable()
      mem.addData(
        NewsEvt("l1", ts("2021-03-02 10:00:00"), "v2"), // replaces l1
        NewsEvt("l3", ts("2021-03-02 11:00:00"), "new"))
      q.processAllAvailable()
      val rows = LakeCommit.read(spark, lake).collect()
        .map(r => r.getAs[String]("link") -> r.getAs[String]("title")).toMap
      assert(rows === Map("l1" -> "v2", "l2" -> "stays", "l3" -> "new"))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: in-batch split, cross-batch continuation, timeout flush") {
    import spark.implicits._
    import graft.streaming.{SessEvent, Sessionize}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessEvent]
    val q = Sessionize.sessions(mem.toDS(), "1 minute").writeStream
      .format("memory").queryName("sess_mem")
      .outputMode(OutputMode.Append())
      .start()
    def rows() = spark.table("sess_mem").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    try {
      // user 1: two events 10 min apart (one session), then a 40-min gap
      // splits IN-batch; user 2: one event, left open.
      mem.addData(
        SessEvent(1L, ts("2021-03-01 10:00:00")),
        SessEvent(1L, ts("2021-03-01 10:10:00")),
        SessEvent(1L, ts("2021-03-01 10:50:00")),
        SessEvent(2L, ts("2021-03-01 10:00:00")))
      q.processAllAvailable()
      // user 1's first session closed by the in-batch 40-min gap; user
      // 2's single-event session timed out right after the batch (the
      // post-batch watermark 10:49 already passes its 10:30 timeout).
      assert(rows() === Seq((1L, 2L), (2L, 1L)))
      // batch 2: user 1 continues within the gap (cross-batch state) —
      // 11:20 - 10:50 = exactly 30 min, and only STRICTLY greater splits.
      mem.addData(SessEvent(1L, ts("2021-03-01 11:20:00")))
      q.processAllAvailable()
      assert(rows() === Seq((1L, 2L), (2L, 1L)))
      // batch 3: far-future sentinel times out user 1's open session,
      // which must contain 10:50 AND 11:20 (continuation, not a restart).
      mem.addData(SessEvent(99L, ts("2021-03-01 18:00:00")))
      q.processAllAvailable()
      val all = spark.table("sess_mem").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def us(s: String) = ts(s).getTime / 1000 * 1000000
      assert(all === Set(
        (1L, us("2021-03-01 10:00:00"), us("2021-03-01 10:10:00"), 2L),
        (1L, us("2021-03-01 10:50:00"), us("2021-03-01 11:20:00"), 2L),
        (2L, us("2021-03-01 10:00:00"), us("2021-03-01 10:00:00"), 1L)))
    } finally q.stop()
  }

  test("sessionization: in-watermark out-of-order event widens, never regresses, the session") {
    import spark.implicits._
    import graft.streaming.{SessEvent, Sessionize}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessEvent]
    // generous delay so the batch-2 event at 10:15 is NOT late-dropped
    val q = Sessionize.sessions(mem.toDS(), "2 hours").writeStream
      .format("memory").queryName("sess_ooo")
      .outputMode(OutputMode.Append())
      .start()
    try {
      mem.addData(SessEvent(1L, ts("2021-03-01 10:20:00")))
      q.processAllAvailable()
      // out-of-order arrival earlier than the stored lastUs
      mem.addData(SessEvent(1L, ts("2021-03-01 10:15:00")))
      q.processAllAvailable()
      // 10:50 is exactly 30 min after the TRUE last event (10:20): must
      // NOT split (it would if lastUs had regressed to 10:15).
      mem.addData(SessEvent(1L, ts("2021-03-01 10:50:00")))
      q.processAllAvailable()
      mem.addData(SessEvent(99L, ts("2021-03-02 23:00:00"))) // flush
      q.processAllAvailable()
      val all = spark.table("sess_ooo").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def us(s: String) = ts(s).getTime / 1000 * 1000000
      assert(all === Set(
        (1L, us("2021-03-01 10:15:00"), us("2021-03-01 10:50:00"), 3L)))
    } finally q.stop()
  }

  test("sessionization: a chain of events far before the open session forms its own closed session") {
    import spark.implicits._
    import graft.streaming.{SessEvent, Sessionize}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessEvent]
    val q = Sessionize.sessions(mem.toDS(), "6 hours").writeStream
      .format("memory").queryName("sess_early")
      .outputMode(OutputMode.Append())
      .start()
    try {
      mem.addData(SessEvent(1L, ts("2021-03-01 12:00:00")))
      q.processAllAvailable()
      // two in-watermark events far before the open session, within one
      // gap of each other: must form ONE two-event session, and the open
      // session at 12:00 must stay untouched. Emission is watermark-
      // gated, so nothing may emit yet (the watermark is still 06:00 —
      // another in-watermark event could legally extend either session).
      mem.addData(
        SessEvent(1L, ts("2021-03-01 08:00:00")),
        SessEvent(1L, ts("2021-03-01 08:10:00")))
      q.processAllAvailable()
      def us(s: String) = ts(s).getTime / 1000 * 1000000
      assert(spark.table("sess_early").count() === 0)
      // flush: the open session emits with its original 12:00 bounds
      mem.addData(SessEvent(99L, ts("2021-03-02 23:00:00")))
      q.processAllAvailable()
      val all = spark.table("sess_early").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(all === Set(
        (1L, us("2021-03-01 08:00:00"), us("2021-03-01 08:10:00"), 2L),
        (1L, us("2021-03-01 12:00:00"), us("2021-03-01 12:00:00"), 1L)))
    } finally q.stop()
  }

  test("sessionization: random multi-batch arrival equals the batch computation") {
    import spark.implicits._
    import graft.streaming.{SessEvent, Sessionize}
    implicit val sqlCtx = spark.sqlContext
    // Seeded random corpus: 40 users x 25 events over ~4 days, delivered
    // in 3 randomly-assigned batches (arbitrary cross-batch disorder; a
    // huge watermark delay keeps every row in scope), then a sentinel
    // flush. Result must equal the batch gap-fold of the same events.
    val rnd = new scala.util.Random(42)
    val events = for (u <- 1 to 40; _ <- 1 to 25) yield
      SessEvent(u.toLong, new Timestamp(
        ts("2021-03-01 00:00:00").getTime + rnd.nextInt(4 * 24 * 3600) * 1000L))
    val batches = events.groupBy(_ => rnd.nextInt(3))

    val mem = MemoryStream[SessEvent]
    val q = Sessionize.sessions(mem.toDS(), "30 days").writeStream
      .format("memory").queryName("sess_rand")
      .outputMode(OutputMode.Append())
      .start()
    try {
      (0 until 3).foreach { b =>
        mem.addData(batches.getOrElse(b, Seq.empty): _*)
        q.processAllAvailable()
      }
      mem.addData(SessEvent(-1L, ts("2022-01-01 00:00:00")))
      q.processAllAvailable()
      val got = spark.table("sess_rand")
        .filter($"user_id" =!= -1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted

      // independent batch computation: per-user sorted gap fold in Scala
      val exp = events.groupBy(_.user_id).toSeq.flatMap { case (u, evs) =>
        val us = evs.map(e => e.ts.getTime / 1000 * 1000000).sorted
        val sessions = us.tail.foldLeft(List(List(us.head))) { (acc, t) =>
          if (t - acc.head.head > Sessionize.GapUs) List(t) :: acc
          else (t :: acc.head) :: acc.tail
        }
        sessions.map(s => (u, s.min, s.max, s.size.toLong))
      }.sorted
      assert(got === exp)
    } finally q.stop()
  }

  test("sessionization state runs on the RocksDB provider (checkpoint artifacts)") {
    import spark.implicits._
    import graft.streaming.{SessEvent, Sessionize, StateStores}
    val scratch = Fixtures.scratchDir("rocksdb_probe")
    Seq(
      SessEvent(1L, ts("2021-03-01 10:00:00")),
      SessEvent(1L, ts("2021-03-01 12:00:00")),
      SessEvent(2L, ts("2021-03-01 10:05:00"))).toDS()
      .write.parquet(s"$scratch/in")
    StateStores.useRocksDB(spark)
    val src = spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
      .parquet(s"$scratch/in")
    val q = Sessionize.sessions(src.as[SessEvent], "1 minute").writeStream
      .format("parquet").option("path", s"$scratch/sink")
      .option("checkpointLocation", s"$scratch/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Prove the provider actually engaged, not just that the conf is
    // set: RocksDB checkpoints state as per-version .zip/.changelog
    // artifacts; the HDFS-map provider writes .delta/.snapshot instead.
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Seq(f))
    val stateFiles = walk(new java.io.File(s"$scratch/ckpt/state")).map(_.getName)
    assert(stateFiles.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      s"no RocksDB artifacts in state dir: $stateFiles")
    assert(!stateFiles.exists(_.endsWith(".delta")),
      s"HDFS-provider artifacts present — RocksDB did not engage: $stateFiles")
  }

  test("trending terms: all landing days emit, sentinel never reaches the sink, reruns agree") {
    def collect() = graft.queries.Streaming.streamTrending(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"),
        r.getAs[Long]("rank"))).toSet
    val rows = collect()
    val days = rows.map(_._1)
    // every landing day (2021-03-01..04) finalized; the 2100 sentinel's
    // window must never flush into the sink
    assert(days === Set("2021-03-01", "2021-03-02", "2021-03-03", "2021-03-04"))
    assert(!rows.exists(_._2 == "sentinel"))
    // dedup upstream of the count: 2021-03-02 carries the duplicated a2
    // doc — without the dedup its tokens would count 2 and dominate the
    // top-3; with it every 03-02 term appears exactly once
    assert(rows.filter(_._1 == "2021-03-02").forall(_._3 == 1L))
    // clean-rerun stability (the reusedScratchDir + lock contract)
    assert(collect() === rows)
  }

  test("landing fixture: duplicate (link, date) rows carry identical payloads") {
    // Load-bearing for BOTH stream_news_dedup's cell agreement and
    // stream_trending's token counts: streaming dropDuplicates keeps an
    // arbitrary first-seen row per (link, date) while the oracles keep
    // the min-title survivor — they agree only while duplicates are
    // payload-identical. A fixture edit that breaks this must fail HERE,
    // not as a nondeterministic oracle hash flake downstream.
    val raw = spark.read
      .schema(NewsStream.newsSchema).json(s"${graft.Fixtures.newsLanding}/*.json")
      .filter(org.apache.spark.sql.functions.col("title").isNotNull)
    val divergent = raw.distinct()
      .groupBy("link", "date")
      .count().filter(org.apache.spark.sql.functions.col("count") > 1)
      .collect()
    assert(divergent.isEmpty,
      s"duplicate (link, date) keys with divergent payloads: ${divergent.mkString(", ")}")
  }

  test("file-source pipeline is idempotent across re-fires") {
    val scratch = Fixtures.scratchDir("news_refire")
    val landing = graft.Fixtures.newsLanding
    NewsStream.runOnce(spark, landing, s"$scratch/sink", s"$scratch/ckpt")
    val first = spark.read.parquet(s"$scratch/sink").count()
    // Re-fire with the SAME checkpoint: no new input => no new rows.
    NewsStream.runOnce(spark, landing, s"$scratch/sink", s"$scratch/ckpt")
    val second = spark.read.parquet(s"$scratch/sink").count()
    assert(first === 6L)
    assert(second === first)
  }

  test("concurrent stream_sessionize calls wait on the run root's lock and agree") {
    def rows(): Seq[String] = graft.queries.Streaming.streamSessionize(spark, sf0001)
      .collect().map(_.toString).toSeq.sorted
    val single = rows()
    val lock = Fixtures.runLock("sess_rt")
    val other = new java.util.concurrent.FutureTask[Seq[String]](() => rows())
    val t = new Thread(other, "sessionize-concurrent")
    // This thread holds the prefix lock while the other call starts: that
    // call must block on exactly this lock (not run beside it), and this
    // thread's own call and read-back run before the other empties the
    // run root.
    val mine = lock.synchronized {
      t.start()
      def waitsOnLock: Boolean = {
        val info = java.lang.management.ManagementFactory.getThreadMXBean
          .getThreadInfo(t.getId)
        info != null && info.getLockInfo != null &&
          info.getLockInfo.getIdentityHashCode == System.identityHashCode(lock)
      }
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!waitsOnLock && System.nanoTime() < deadline) Thread.sleep(10)
      assert(waitsOnLock, "the concurrent call did not wait on the sess_rt run lock")
      rows()
    }
    val theirs = other.get(300, java.util.concurrent.TimeUnit.SECONDS)
    assert(single.nonEmpty)
    assert(mine === single)
    assert(theirs === single)
  }

  test("stream-stream interval join matches within the hour, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(String, Timestamp)]
    val clicks = MemoryStream[(String, Timestamp)]
    val joined = graft.streaming.StreamJoin.attribute(
      imps.toDF().toDF("imp_id", "imp_time"),
      clicks.toDF().toDF("click_imp_id", "click_time"))
    val q = joined.writeStream
      .format("memory").queryName("attrib_mem")
      .outputMode(OutputMode.Append())
      .start()
    try {
      imps.addData(("i1", ts("2021-03-01 10:00:00")), ("i2", ts("2021-03-01 10:05:00")))
      q.processAllAvailable()
      // clicks arrive in a LATER batch: i1 in-window (+30m) joins from
      // buffered state; i2's click is 90m after the impression — outside
      // the 1h attribution window; c_orphan has no impression at all.
      clicks.addData(
        ("i1", ts("2021-03-01 10:30:00")),
        ("i2", ts("2021-03-01 11:35:00")),
        ("c_orphan", ts("2021-03-01 10:40:00")))
      q.processAllAvailable()
      val got = spark.table("attrib_mem").collect()
        .map(r => (r.getAs[String]("imp_id"), r.getAs[Timestamp]("click_time").toString))
      assert(got.toSeq === Seq(("i1", "2021-03-01 10:30:00.0")))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: outer rows emit on watermark eviction, not before") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val joined = graft.streaming.StreamJoin.attributeOuter(
      imps.toDF().toDF("user_id", "imp_time", "imp_id"),
      clicks.toDF().toDF("click_user", "click_time", "click_id"),
      impKey = "user_id", clickKey = "click_user")
    val q = joined.writeStream
      .format("memory").queryName("attrib_outer_mem")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // user 1's click lands in-window; user 2 never clicks.
      imps.addData((1L, ts("2021-03-01 10:00:00"), 101L),
        (2L, ts("2021-03-01 10:05:00"), 102L))
      clicks.addData((1L, ts("2021-03-01 10:30:00"), 201L))
      q.processAllAvailable()
      // The matched row emits promptly; the unmatched imp 102 must NOT
      // have emitted yet — its null side needs watermark PROOF that no
      // click can still arrive, and the watermark hasn't passed
      // imp_time + 1h.
      assert(spark.table("attrib_outer_mem").collect()
        .map(_.getAs[Long]("imp_id")).toSet === Set(101L),
        "outer row emitted before the watermark could prove no-match")
      // Heartbeats on BOTH inputs (global watermark = min over inputs)
      // a day past the horizon; the no-data finalization batch then
      // evicts imp 102 as an outer row.
      imps.addData((-1L, ts("2021-03-02 12:00:00"), -1L))
      clicks.addData((-9L, ts("2021-03-02 12:00:00"), -2L))
      q.processAllAvailable()
      val rows = spark.table("attrib_outer_mem").collect()
        .filter(_.getAs[Long]("imp_id") > 0L)
        .map(r => (r.getAs[Long]("imp_id"),
          if (r.isNullAt(r.fieldIndex("click_id"))) -1L
          else r.getAs[Long]("click_id")))
        .sorted
      assert(rows.toSeq === Seq((101L, 201L), (102L, -1L)),
        "matched row must emit once; evicted row must carry a null click side")
    } finally q.stop()
  }

  test("CDC apply: delete/upsert verbs land; checkpoint replay commits nothing new") {
    import org.apache.spark.sql.functions._
    // First full run (deletes scratch, streams the feed, merges).
    val out = graft.queries.Streaming.streamCdcApply(spark, sf0001).collect()
      .map(r => r.getAs[Long]("key_class") -> r.getAs[Long]("n")).toMap
    // Verb semantics: class 7 fully deleted, class 3 inserted, others kept.
    assert(!out.contains(7L), "removed keys survived the delete verb")
    assert(out.contains(3L), "added keys never landed")
    val lake = s"${graft.Fixtures.reusedScratchDir("cdc_rt")}/lake"
    val ckpt = s"${graft.Fixtures.reusedScratchDir("cdc_rt")}/ckpt"
    // The feed is staged once per dir (r18 staged-input memo), no longer
    // under the per-run scratch root.
    val in = graft.queries.Streaming.cdcFeedDir(sf0001)
      .getOrElse(fail("cdc feed not staged"))
    val versionsAfter = graft.LakeCommit.committedVersions(spark, lake)
    // Exactly-once: re-fire the SAME stream over the SAME checkpoint
    // with no new files — the source must deliver nothing, so no merge
    // commit happens and the lake version stays put.
    val feedSchema = graft.queries.Ingestion.cdcDiff(spark, sf0001).schema
    val q = spark.readStream.schema(feedSchema).json(in)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.LakeCommit.commit(batch.sparkSession.emptyDataFrame, lake): Unit
      }
      .start()
    q.awaitTermination()
    assert(graft.LakeCommit.committedVersions(spark, lake) === versionsAfter,
      "checkpoint replay re-delivered the already-applied feed")
  }

  // ---- stream-static enrichment join (Enrich) ----

  test("stream-static enrich: dim probed per batch, unknown users dropped, window merges across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val dim = Seq((1L, "FRANCE"), (2L, "JAPAN")).toDF("c_custkey", "n_name")
    val q = graft.streaming.Enrich.dailyByNation(
        mem.toDF().toDF("user_id", "ts", "event_type"), dim)
      .writeStream.format("memory").queryName("enrich_mem")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: two FRANCE clicks on day 1 — window still open, no rows
      mem.addData((1L, ts("2024-01-01 10:00:00"), "click"),
        (1L, ts("2024-01-01 11:00:00"), "click"))
      q.processAllAvailable()
      assert(spark.table("enrich_mem").isEmpty, "window emitted before close")
      // batch 2: three more FRANCE clicks + a JAPAN view + an UNKNOWN
      // user (99 — not in the dim, must vanish in the join, not null out)
      mem.addData((1L, ts("2024-01-01 12:00:00"), "click"),
        (1L, ts("2024-01-01 13:00:00"), "click"),
        (1L, ts("2024-01-01 14:00:00"), "click"),
        (2L, ts("2024-01-01 15:00:00"), "view"),
        (99L, ts("2024-01-01 16:00:00"), "click"))
      q.processAllAvailable()
      // batch 3: far-future sentinel (user -1: watermark advances at the
      // source, then the join drops the row itself)
      mem.addData((-1L, ts("2100-01-01 00:00:00"), "zz"))
      q.processAllAvailable()
      val rows = spark.table("enrich_mem").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      // the day-1 FRANCE count is 5 — merged across BOTH batches, so the
      // static side provably joined in each micro-batch
      assert(rows === Set(
        ("2024-01-01", "FRANCE", "click", 5L),
        ("2024-01-01", "JAPAN", "view", 1L)))
    } finally q.stop()
  }

  // ---- streaming HLL approx-distinct (ApproxUsers) ----

  private def hlluEvt(typ: String, weekStr: String, tsStr: String, user: Long) = {
    val weekStart = ts(s"$weekStr 00:00:00").getTime
    graft.streaming.TypedEvent(typ, weekStr,
      weekStart + 7L * 24 * 3600 * 1000, user, ts(tsStr))
  }

  private def runHllu(name: String, batches: Seq[Seq[graft.streaming.TypedEvent]],
      delay: String = "1 minute"): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.TypedEvent]
    val q = graft.streaming.ApproxUsers.approxUsers(mem.toDS(), delay)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  test("approx users: bucket emits on watermark eviction, not before; small sets exact") {
    import org.apache.spark.sql.functions.col
    runHllu("hllu_evict", Seq(
      // batch 1: week-1 only — its bucket must NOT emit yet (watermark
      // still inside the week)
      Seq(hlluEvt("click", "2024-01-01", "2024-01-03 10:00:00", 1L),
        hlluEvt("click", "2024-01-01", "2024-01-04 11:00:00", 2L),
        hlluEvt("click", "2024-01-01", "2024-01-04 12:00:00", 2L))))
    assert(spark.table("hllu_evict").isEmpty,
      "bucket emitted before the watermark passed its end")
    // batches 2+3: week-2 data pushes the watermark past week-1's end
    // (eviction), then a far-future sentinel closes week 2; the
    // sentinel's own bucket stays open and never reaches the sink.
    runHllu("hllu_evict2", Seq(
      Seq(hlluEvt("click", "2024-01-01", "2024-01-03 10:00:00", 1L),
        hlluEvt("click", "2024-01-01", "2024-01-04 11:00:00", 2L),
        hlluEvt("click", "2024-01-01", "2024-01-04 12:00:00", 2L)),
      Seq(hlluEvt("click", "2024-01-08", "2024-01-09 00:00:00", 7L)),
      Seq(hlluEvt("zz", "2100-01-04", "2100-01-05 00:00:00", -1L))))
    val rows = spark.table("hllu_evict2")
      .select(col("event_type"), col("week"), col("approx_users")).collect()
      .map(r => (r.getString(0), r.getString(1), math.round(r.getDouble(2)))).toSet
    // LIST-mode sketches are exact at these cardinalities: 2 users in
    // week 1 (user 2's repeat collapses), 1 in week 2; no sentinel row.
    assert(rows === Set(("click", "2024-01-01", 2L), ("click", "2024-01-08", 1L)))
  }

  test("approx users: estimate and sketch size are batch-split-invariant") {
    import org.apache.spark.sql.functions.col
    val events = (1 to 900).map(u =>
      hlluEvt("view", "2024-01-01", "2024-01-02 10:00:00", u.toLong))
    val flush = Seq(hlluEvt("zz", "2100-01-04", "2100-01-05 00:00:00", -1L))
    runHllu("hllu_one", Seq(events, flush))
    runHllu("hllu_split", Seq(
      events.slice(0, 300), events.slice(300, 600), events.slice(600, 900), flush))
    def row(t: String) = spark.table(t)
      .filter(col("event_type") === "view")
      .select(col("approx_users"), col("sketch_bytes")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    // The sketch state is a pure function of the value SET, so 1-batch
    // and 3-batch ingestion must produce bit-identical estimates.
    assert(row("hllu_one").size === 1)
    assert(row("hllu_one") === row("hllu_split"))
  }

  test("approx users: state stays bounded and in-band where exact state would be ~400 KiB") {
    import org.apache.spark.sql.functions.col
    // 50k distinct users in one bucket: far beyond HLL set mode, so the
    // sketch is genuinely estimating (non-vacuous: est != exact), its
    // error sits inside the declared band, and its serialized size
    // stays under the 4 KiB cap — an exact distinct-set state for the
    // same bucket would hold 50k longs (~400 KiB) and keep growing.
    val n = 50000
    val events = (1 to n).map(u =>
      hlluEvt("view", "2024-01-01", "2024-01-02 10:00:00", u.toLong))
    val flush = Seq(hlluEvt("zz", "2100-01-04", "2100-01-05 00:00:00", -1L))
    runHllu("hllu_big", Seq(events, flush))
    val r = spark.table("hllu_big").filter(col("event_type") === "view")
      .select(col("approx_users"), col("sketch_bytes")).collect()
    assert(r.length === 1)
    val (est, bytes) = (r(0).getDouble(0), r(0).getLong(1))
    assert(bytes <= graft.streaming.ApproxUsers.MaxSketchBytes,
      s"sketch serialized to $bytes bytes")
    assert(math.abs(est - n) <= n * graft.streaming.ApproxUsers.Band,
      s"estimate $est outside the band around $n")
    assert(est !== n.toDouble, "sketch in exact mode at 50k — non-vacuity broken")
  }
}
