package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SinkLogShim

import graft.{LakeCommit, PathLocks, Sessions}
import graft.LakeCommit.hidden

/** Small-file compaction — the standard answer to the file accretion an
  * incremental lake design inherits: the crawl sink appends parquet
  * files per AvailableNow tick forever (the reference's 24 h crawl
  * cadence, crawl_google_news.py:28-30, lands a fresh index instead —
  * sidestepping accretion by paying the full-reload non-atomicity this
  * engine was built to avoid), and at 100 TB a lake of million-row
  * ticks becomes a lake of millions of KB-files whose per-file open
  * cost dominates every scan.
  *
  * Two lake shapes, two entry points:
  *
  *  - [[compactLake]]: a [[graft.LakeCommit]] versioned lake (or a
  *    plain flat directory, which the commit upgrades). The rewrite is
  *    just the next version — readers keep their snapshots, the commit
  *    point is the usual marker create, nothing special anywhere.
  *  - [[compactSink]]: a Structured Streaming parquet sink, whose
  *    directory is committed through the `_spark_metadata` log. The
  *    replacement files are invisible until the LOG lists them, so the
  *    operator rewrites the log's live window (journaled — crash at any
  *    step replays idempotently, [[SinkLogShim.rewriteListing]]) while
  *    the stream is stopped; the checkpointed writer then resumes
  *    appending batch `latest+1` as if nothing happened. Old data files
  *    stay on disk as the grace window for already-planned readers
  *    until the next [[compactSink]] of the sink reaps them.
  *
  * Sizing: the input is re-read with
  * `spark.sql.files.maxPartitionBytes = targetBytes` on a conf-isolated
  * session, so Spark's own scan bin-packing assembles ~target-sized
  * partitions from the small files and the write emits one file per
  * partition — NO shuffle anywhere (a `repartition(n)` would move every
  * byte through an exchange; the scan packing moves nothing and scales
  * per-file, which is what survives 100 TB).
  */
object Compaction {

  /** `filesBefore/After` count data files visible to a reader;
    * `bytesBefore` their payload. */
  final case class Report(filesBefore: Long, bytesBefore: Long, filesAfter: Long,
      dataDir: String)

  val DefaultTargetBytes: Long = 128L << 20

  /** Rewrite the current version of a [[LakeCommit]] lake (or a flat
    * directory) into ~`targetBytes` files, committed as the next
    * version. Content-identical by construction (a scan-and-write of
    * the same rows); pass `partitionBy` to preserve a partitioned
    * layout. */
  def compactLake(spark: SparkSession, path: String,
      targetBytes: Long = DefaultTargetBytes,
      partitionBy: Seq[String] = Nil, keepVersions: Int = 2): Report =
    PathLocks.lockFor(path).synchronized {
      val current = LakeCommit.resolve(spark, path).getOrElse(
        throw new java.io.FileNotFoundException(s"no lake at $path"))
      require(!SinkLogShim.hasMetadata(spark, current),
        s"$path is a streaming sink - use compactSink (its metadata log owns the listing)")
      val (nFiles, nBytes) = dataFileStats(fsFor(spark, path), new Path(current))
      val dir = packedRead(spark, current, targetBytes) { df =>
        LakeCommit.commit(df, path, partitionBy, keepVersions)
      }
      Report(nFiles, nBytes, dataFileStats(fsFor(spark, path), new Path(dir))._1, dir)
    }

  /** Rewrite a streaming parquet sink's committed files into
    * ~`targetBytes` files. Contract: the writing stream is STOPPED
    * (Schedule runs flows sequentially, so between AvailableNow ticks
    * is the natural slot); it resumes from its checkpoint afterwards.
    * The files it replaces stay on disk for one compaction cycle, the
    * reader grace [[graft.LakeCommit]]'s `keepVersions = 2` gives: the
    * next compaction of the sink deletes them first. */
  def compactSink(spark: SparkSession, sinkDir: String,
      targetBytes: Long = DefaultTargetBytes): Report =
    PathLocks.lockFor(sinkDir).synchronized {
      require(SinkLogShim.hasMetadata(spark, sinkDir),
        s"$sinkDir has no _spark_metadata log - use compactLake")
      SinkLogShim.recover(spark, sinkDir): Unit // finish any crashed rewrite first
      val fs = fsFor(spark, sinkDir)
      val before = SinkLogShim.listedFiles(spark, sinkDir)
      reapUnlisted(fs, sinkDir, before)
      val bytesBefore = before.map(_.getLen).sum
      // stage the compacted files in a dotted dir INSIDE the sink (same
      // filesystem, so the move below is a metadata op), invisible to
      // both the log-aware reader and the log's batch listing
      val scratch = new Path(new Path(sinkDir), ".graft-compact-tmp")
      fs.delete(scratch, true)
      packedRead(spark, sinkDir, targetBytes) { df =>
        df.write.parquet(scratch.toString)
      }
      val moved = fs.listStatus(scratch).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map { st =>
          val dst = new Path(new Path(sinkDir), st.getPath.getName)
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(s"could not move ${st.getPath} to $dst")
          fs.getFileStatus(dst)
        }
      SinkLogShim.rewriteListing(spark, sinkDir, moved)
      fs.delete(scratch, true)
      Report(before.size.toLong, bytesBefore, moved.size.toLong, sinkDir)
    }

  /** Data files a reader would scan at `path` right now: a streaming
    * sink's committed listing, a [[graft.LakeCommit]] version's files,
    * or None when nothing has landed yet. The cheap probe the cadence
    * loop's housekeeping flow gates on before paying for a rewrite. */
  def visibleFileCount(spark: SparkSession, path: String): Option[Long] =
    if (SinkLogShim.hasMetadata(spark, path))
      Some(SinkLogShim.listedFiles(spark, path).size.toLong)
    else graft.LakeCommit.resolve(spark, path).map(v =>
      dataFileStats(fsFor(spark, path), new Path(v))._1)

  /** Hive-style partition columns of the layout at `dataDir` (the
    * `k=v` subdirectory chain), outermost first. A compaction that
    * ignores these would silently rewrite a partitioned lake flat —
    * losing partition pruning for every later reader — so
    * [[compactAny]] infers and preserves them. */
  def inferPartitioning(spark: SparkSession, dataDir: String): Seq[String] = {
    val fs = fsFor(spark, dataDir)
    @annotation.tailrec
    def walk(dir: Path, acc: Seq[String]): Seq[String] = {
      val sub = fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && !hidden(st.getPath.getName))
        .map(_.getPath.getName)
        .find(_.contains("="))
      sub match {
        case Some(kv) => walk(new Path(dir, kv), acc :+ kv.takeWhile(_ != '='))
        case None => acc
      }
    }
    walk(new Path(dataDir), Nil)
  }

  /** Dispatch to the right rewrite for whatever lives at `path`
    * (streaming sink vs versioned/flat lake), preserving a partitioned
    * lake's layout. */
  def compactAny(spark: SparkSession, path: String,
      targetBytes: Long = DefaultTargetBytes): Report =
    if (SinkLogShim.hasMetadata(spark, path)) compactSink(spark, path, targetBytes)
    else {
      val parts = graft.LakeCommit.resolve(spark, path)
        .map(inferPartitioning(spark, _)).getOrElse(Nil)
      compactLake(spark, path, targetBytes, partitionBy = parts)
    }

  /** Delete the sink-root data files missing from `listed`. */
  private def reapUnlisted(fs: FileSystem, sinkDir: String, listed: Seq[FileStatus]): Unit = {
    val referenced = listed.map(_.getPath.toUri.getPath).toSet
    fs.listStatus(new Path(sinkDir)).toSeq
      .filter(st => st.isFile && !hidden(st.getPath.getName) &&
        !referenced(st.getPath.toUri.getPath))
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** Read `dir` with scan bin-packing tuned so each input partition —
    * and therefore each output file — approaches `targetBytes`. */
  private def packedRead[T](spark: SparkSession, dir: String, targetBytes: Long)(
      body: org.apache.spark.sql.DataFrame => T): T =
    Sessions.confIsolated(spark) { s =>
      s.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
      body(LakeCommit.pinnedRead(s, dir))
    }

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (file count, byte total) of the data files under `dir`, recursive,
    * hidden and metadata entries skipped. */
  private def dataFileStats(fs: FileSystem, dir: Path): (Long, Long) = {
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName)).flatMap {
        case st if st.isDirectory => walk(st.getPath)
        case st => Seq(st)
      }
    val files = walk(dir)
    (files.size.toLong, files.map(_.getLen).sum)
  }
}
