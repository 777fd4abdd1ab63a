package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Streaming state-store selection and the one streaming lifecycle.
  *
  * The default HDFS-backed provider keeps every key of every loaded
  * state partition as an on-heap map — at 100 TB event scale (hundreds
  * of millions of live session/dedup keys) that is an executor OOM, not
  * a tuning problem. The RocksDB provider is the production choice: keys
  * live in off-heap block cache + local SST files, memory stays bounded,
  * and checkpointing ships compacted snapshots. Spark ships it in-box
  * (rocksdbjni), so selection is one conf.
  *
  * The provider class is a session-level SQLConf read once per streaming
  * query at start — there is no per-query writer option — so the
  * lifecycle builds its query on a session configured for it.
  *
  * Every AvailableNow run in graft — the catalog's stream_* entries, the
  * news cadence flows and StreamBench's ladders — goes through [[run]]
  * (and all but the CDC apply through its parquet-sink form
  * [[runToParquet]]): checkpoint, trigger, start, await, rows landed.
  * A change to how a lifecycle runs is made here, once.
  */
object StateStores {

  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Route all subsequently-started streaming queries in this session to
    * RocksDB-backed state. Idempotent. */
  def useRocksDB(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDBProvider)

  /** Name of the row count [[runToParquet]] observes on a counted run. */
  private val RowsLanded = "graft_rows_landed"

  /** One AvailableNow lifecycle of `writer` over `checkpoint`: start,
    * drain everything available, stop. Inside a recorded cadence tick
    * ([[graft.Schedule.FlowRuns]]) it reports the rows the run landed:
    * the sum, over the run's micro-batches, of the count
    * [[runToParquet]] observes on the stream's output. (The file sink's
    * own `numOutputRows` reads -1 on every batch, so it cannot be used.)
    * A run without that observation reports 0. */
  def run(writer: DataStreamWriter[_], checkpoint: String): Unit = {
    val q = writer
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (graft.Schedule.FlowRuns.active)
      graft.Schedule.FlowRuns.add(q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get(RowsLanded)))
        .map(_.getLong(0)).sum)
  }

  /** The parquet-sink lifecycle: `build` makes the stream on the
    * streaming session ([[streamingSession]]), and [[run]] appends it to
    * `sink` over `checkpoint`. Only inside a recorded tick does the
    * output carry the rows-landed observation, so catalog runs keep
    * their plans and pay nothing. */
  def runToParquet(spark: SparkSession, sink: String, checkpoint: String)(
      build: SparkSession => Dataset[_]): Unit =
    streamingSession(spark) { s =>
      val out = build(s)
      val counted =
        if (graft.Schedule.FlowRuns.active) out.observe(RowsLanded, count(lit(1)).as("rows"))
        else out
      run(counted.writeStream.format("parquet").option("path", sink)
        .outputMode("append"), checkpoint)
    }

  /** Run `body` on a conf-isolated clone of `spark`
    * ([[graft.Sessions.confIsolated]]) configured for production
    * streaming state: RocksDB provider with changelog checkpointing, and
    * the state-partition width set to `graft.stream.statePartitions`
    * (default 8) instead of the session's scan-oriented
    * `spark.sql.shuffle.partitions`.
    *
    * A streaming query's stateful-operator partition count is locked in
    * from `spark.sql.shuffle.partitions` at the FIRST micro-batch and
    * carried in the checkpoint forever after — and every micro-batch
    * pays a fixed per-partition cost (state store open/commit/snapshot;
    * with RocksDB, an instance each), regardless of data. That width
    * should track the state keyspace and ingest throughput, NOT the
    * core count a batch scan wants: a deployment ingesting 100 TB/day
    * raises the conf; micro-batches over a few thousand keys do not
    * want 32+ mostly-empty RocksDB instances per operator.
    *
    * The clone (not a set/restore on the caller's session) is what makes
    * this safe under the concurrent [[graft.Serve]] layer: two
    * overlapping restores on one shared session race, and the narrowed
    * shuffle width would silently apply to unrelated concurrent batch
    * queries.
    *
    * The clone is MEMOIZED per (parent, state width) — the
    * [[graft.Sessions.confIsolatedCached]] lifecycle the CC loop uses —
    * so a multi-fire lifecycle (stream_left_join fires twice; Bench
    * re-fires per pass) pays session construction + lazy SessionState
    * init once, not per fire. The width rides in the cache key, so a
    * runtime change of `graft.stream.statePartitions` still takes
    * effect on the next lifecycle (ServeSpec pins this). Builders must
    * NOT set session confs on the clone: it is shared across entries and
    * snapshots the parent conf only at first use.
    *
    * Changelog checkpointing: each RocksDB commit ships the batch's
    * CHANGE set instead of a full snapshot per partition per batch —
    * snapshots still happen, but in the background maintenance thread.
    * With 8+ state partitions and AvailableNow's short batches the
    * per-commit snapshot was the measured dominant fixed cost (state
    * commitTimeMs ≈ 2/3 of addBatch on the sessionize probe; ~28% off
    * the whole lifecycle), and at production cadence it is the same
    * setting Spark documents for frequent-commit workloads. */
  private def streamingSession[T](spark: SparkSession)(body: SparkSession => T): T = {
    val width = spark.conf.getOption("graft.stream.statePartitions").getOrElse("8")
    graft.Sessions.confIsolatedCached(spark, s"streaming-state-$width") { s =>
      useRocksDB(s)
      s.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      s.conf.set("spark.sql.shuffle.partitions", width)
    }(body)
  }
}
