package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.CompactibleFileStreamLog
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSinkLog, SinkFileStatus}

/** Bridge into the `private[sql]` file-stream-sink commit log, for the
  * sink compaction operator ([[graft.operators.Compaction]]).
  *
  * A parquet streaming sink directory is committed through
  * `_spark_metadata`: batch `B`'s data files are listed in log file `B`
  * (or `B.compact` on the log's own compaction cadence), and BOTH the
  * batch reader (`MetadataLogFileIndex`) and the resuming streaming
  * writer consult this log — data files not listed there do not exist
  * as far as any log-aware reader is concerned. Compacting the sink
  * therefore means rewriting the LOG's live window to list the
  * replacement files; the physical rewrite alone would change nothing
  * (old files still listed) or everything (new files invisible).
  *
  * The live window is `getAllValidBatches(latest, compactInterval)` —
  * arithmetic on batch ids, not a directory listing — so the rewrite
  * must target exactly those log files, keeping their names (including
  * the `.compact` suffix on the log's own compaction ids): the earliest
  * file in the window receives the full replacement listing, every
  * later one becomes an empty delta. The resuming writer appends
  * `latest+1` afterwards, untouched; its next own log-compaction folds
  * our rewritten window forward.
  */
object SinkLogShim {

  /** The sink's metadata directory name (`FileStreamSink.metadataDir`). */
  val MetadataDir = "_spark_metadata"

  /** True when `dir` is a file-stream-sink root (has a metadata log). */
  def hasMetadata(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, MetadataDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The data files the sink log currently lists (what any log-aware
    * reader — batch or streaming — actually reads). The log stores each
    * path as an encoded URI, so the statuses come from the entries' own
    * decoding (`SinkFileStatus.toFileStatus`): a `new Path(entry)` would
    * quote its `%` escapes again, naming a file that does not exist when
    * the sink's path holds a space or a `%`. */
  def listedFiles(spark: SparkSession, sinkDir: String): Seq[FileStatus] = {
    val log = sinkLog(spark, sinkDir)
    log.allFiles().toSeq.map(_.toFileStatus)
  }

  /** Replace the log's live window so it lists exactly `files`:
    * the earliest valid batch gets the full listing, every later one an
    * empty delta. The rewrite spans multiple log files, so it is NOT
    * atomic as a whole — before touching the log, the full new listing
    * is journaled in ONE atomic file ([[recover]] replays it), making
    * the rewrite idempotent across a crash at any step. Each individual
    * file is written through the checkpoint file manager's
    * atomic-create (temp + rename — the same atomicity the sink's own
    * log writer already requires of this filesystem). Caller must hold
    * exclusive WRITE access (stream stopped); batch readers that
    * already planned keep working because the files they resolved stay
    * on disk until the next
    * [[graft.operators.Compaction.compactSink]] of the sink reaps them. */
  def rewriteListing(spark: SparkSession, sinkDir: String,
      files: Seq[FileStatus]): Unit = {
    val entries = writeJournal(spark, sinkDir, files)
    applyRewrite(spark, sinkDir, sinkLog(spark, sinkDir),
      fileManager(spark, sinkDir), entries)
    fileManager(spark, sinkDir).delete(journalPath(sinkDir))
  }

  /** Step 1 of [[rewriteListing]] alone — the journal lands atomically
    * but the log is untouched. Exposed so a spec can park the rewrite
    * exactly in its crash window and prove [[recover]] completes it. */
  def writeJournal(spark: SparkSession, sinkDir: String,
      files: Seq[FileStatus]): Array[SinkFileStatus] = {
    val entries = files.map(SinkFileStatus.apply).toArray
    val log = sinkLog(spark, sinkDir)
    val fm = fileManager(spark, sinkDir)
    val out = fm.createAtomic(journalPath(sinkDir), overwriteIfPossible = true)
    try { log.serialize(entries, out); out.close() }
    catch { case e: Throwable => out.cancel(); throw e }
    entries
  }

  /** Complete a crashed [[rewriteListing]] from its journal. Returns
    * true when a journal was found and replayed. Run this before
    * trusting the log's listing (compaction and GC both do). */
  def recover(spark: SparkSession, sinkDir: String): Boolean = {
    val fm = fileManager(spark, sinkDir)
    val jp = journalPath(sinkDir)
    if (!fm.exists(jp)) false
    else {
      val log = sinkLog(spark, sinkDir)
      val in = fm.open(jp)
      val entries = try log.deserialize(in) finally in.close()
      applyRewrite(spark, sinkDir, log, fm, entries)
      fm.delete(jp)
      true
    }
  }

  private def applyRewrite(spark: SparkSession, sinkDir: String,
      log: GraftSinkLog, fm: CheckpointFileManager,
      entries: Array[SinkFileStatus]): Unit = {
    val latest = log.getLatestBatchId().getOrElse(
      throw new IllegalStateException(s"$sinkDir has an empty sink log"))
    val valid = CompactibleFileStreamLog
      .getAllValidBatches(latest, log.interval)
    valid.foreach { id =>
      val payload = if (id == valid.min) entries else Array.empty[SinkFileStatus]
      val out = fm.createAtomic(log.batchIdToPath(id), overwriteIfPossible = true)
      try { log.serialize(payload, out); out.close() }
      catch { case e: Throwable => out.cancel(); throw e }
    }
  }

  // journal lives INSIDE the metadata dir but with a non-numeric dotted
  // name, so the log's own batch-file listing (name-parses to a batch
  // id) never sees it
  private def journalPath(sinkDir: String): Path =
    new Path(new Path(new Path(sinkDir), MetadataDir), ".graft-compact-journal")

  private def fileManager(spark: SparkSession, sinkDir: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(new Path(sinkDir), MetadataDir),
      spark.sparkContext.hadoopConfiguration)

  // compactInterval is protected on CompactibleFileStreamLog; the
  // one-line subclass is the sanctioned way to read it
  private class GraftSinkLog(spark: SparkSession, path: String)
      extends FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, path, None) {
    def interval: Long = compactInterval.toLong
  }

  private def sinkLog(spark: SparkSession, sinkDir: String): GraftSinkLog =
    new GraftSinkLog(spark,
      new Path(new Path(sinkDir), MetadataDir).toString)
}
