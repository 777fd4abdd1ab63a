package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.SinkLogShim
import org.apache.spark.sql.types.StructType

/** Striped per-path locks serializing in-process writers of the same
  * lake (two concurrent commits would race version allocation; two
  * upserts would race read-merge-write). Normalized so `/a/b` and
  * `/a/./b` share a stripe; scheme-qualified paths (hdfs://, s3a://)
  * normalize by suffix only. Cross-PROCESS writers remain the caller's
  * contract (one Schedule/Serve owner per lake root), same as the
  * reference's one-Prefect-deployment-per-flow.
  */
private[graft] object PathLocks {
  private val Stripes = 64
  private val locks = Array.fill(Stripes)(new Object)
  private val SchemePrefix = "^[A-Za-z][A-Za-z0-9+.-]*://".r
  def lockFor(path: String): Object = {
    val norm =
      if (SchemePrefix.findPrefixOf(path).isDefined) path.stripSuffix("/")
      else
        try java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString
        catch {
          case _: java.nio.file.InvalidPathException => path.stripSuffix("/")
        }
    locks(math.floorMod(norm.hashCode, Stripes))
  }
}

/** Versioned, rename-free lake commits for path-based full refreshes.
  *
  * The reference full-refreshes by delete-then-reinsert
  * (insert_owid.py:231-252 deletes the index, then re-bulk-inserts —
  * README.md:225-227 documents readers seeing a missing/partial index
  * for the whole reload). The previous engine answer (a staged
  * directory-rename swap) narrowed the window to two renames but still
  * ASSUMED rename-atomic filesystems — on S3-class object stores a
  * directory rename is copy+delete: non-atomic, O(data) slow, and the
  * crash window widens from instants to minutes.
  *
  * This commit protocol depends on NO rename anywhere:
  *
  *   `<lake>/v000000012/`            immutable data directories
  *   `<lake>/_commits/v000000012`    empty marker files — the commit log
  *
  * A refresh writes the full dataset into a FRESH `v<N>/` (invisible to
  * every reader), then creates the empty marker `_commits/v<N>`. The
  * marker's NAME is the entire commit record — readers never read its
  * content, so there is no torn-read window: a single empty-file create
  * (one object PUT on S3) is the commit point. This is the Structured
  * Streaming sink-log / table-format pattern: versioned immutable data
  * plus a log whose filenames carry the versions.
  *
  * Readers ([[resolve]]) list the marker dir and pin the HIGHEST marker
  * whose data dir exists — a crash after data-write but before marker
  * leaves an invisible orphan directory (GC'd later, its number never
  * reused), and a crash mid-GC leaves at worst a marker whose dir is
  * partially deleted, which resolve skips by falling back to the next
  * lower committed version. Every reader query is therefore pinned to
  * ONE immutable directory for its whole lifetime: snapshot isolation,
  * not just atomicity. `keepVersions` (default 2) retains the previous
  * version as the grace period for in-flight readers across a refresh.
  *
  * A lake without a `_commits` dir is read as a plain flat directory
  * (legacy layout / a streaming sink owning its own `_spark_metadata`
  * log), so [[resolve]]/[[current]] are safe on every lake shape.
  * [[current]] is the one current-version read (None for an absent
  * lake); [[read]] is its throwing form.
  */
object LakeCommit {

  private val CommitsDir = "_commits"
  private val VersionRe = "^v(\\d{9})$".r
  private def versionName(v: Long): String = f"v$v%09d"

  private def fsFor(root: Path, spark: SparkSession): FileSystem =
    // the PATH's filesystem, not the default one: a scheme-qualified
    // lake (hdfs://, s3a://, a test fs) must not throw "Wrong FS"
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listVersions(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case VersionRe(n) => Some(n.toLong)
      case _ => None
    })

  /** Commit `df` as the new current version of `path`; returns the data
    * directory written. The plan executes INTO the fresh version dir
    * while readers (including the plan itself — an upsert's
    * carry-forward leg reads the current version) see only committed
    * versions, so there is no self-overwrite hazard and no visibility
    * window. After the marker lands, versions below
    * `current - keepVersions + 1` are GC'd — marker first, then data,
    * so a reader listing markers can never pin a dir being deleted. */
  def commit(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      keepVersions: Int = 2): String = {
    require(keepVersions >= 1, s"keepVersions must be >= 1 (got $keepVersions)")
    PathLocks.lockFor(path).synchronized {
      val spark = df.sparkSession
      val root = new Path(path)
      val fs = fsFor(root, spark)
      val commits = new Path(root, CommitsDir)
      // next = max over markers AND data dirs: a crashed write's orphan
      // dir (no marker) must never have its number reused, or the next
      // commit's mode("overwrite") would blend with the orphan's files
      val next = (listVersions(fs, commits) ++ listVersions(fs, root))
        .maxOption.getOrElse(0L) + 1L
      val data = new Path(root, versionName(next))
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(data.toString)
      // Rows-landed for the cadence run history (/flows): counted from
      // the freshly-written parquet FOOTERS (driver-side metadata reads,
      // no Spark job, no data pages) and only while a recorded tick is
      // collecting — the commit calls made by tests and catalog queries
      // skip this entirely. Reporting must never fail a commit.
      if (Schedule.FlowRuns.active) {
        try Schedule.FlowRuns.add(footerRowCount(fs, data,
          spark.sparkContext.hadoopConfiguration))
        catch { case _: Exception => () }
      }
      fs.mkdirs(commits)
      // the commit point: one empty-file create; `false` = never
      // clobber (a duplicate version number must fail loudly, not
      // silently re-point)
      fs.create(new Path(commits, versionName(next)), false).close()
      gc(fs, root, next, keepVersions)
      data.toString
    }
  }

  /** Sum of row counts in `dir`'s parquet footers (recursive, so
    * partitioned layouts count too). Footer-only: milliseconds per file
    * locally, and at scale it runs once per cadence tick, not per query. */
  private def footerRowCount(fs: FileSystem, dir: Path,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val it = fs.listFiles(dir, true)
    var n = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }

  private def gc(fs: FileSystem, root: Path, current: Long, keep: Int): Unit = {
    val floor = current - keep + 1
    // markers strictly below the retention floor go first: once a
    // marker is gone no new reader can resolve to its dir, and only
    // then is the dir itself deleted
    listVersions(fs, new Path(root, CommitsDir)).filter(_ < floor).foreach { v =>
      fs.delete(new Path(root, s"$CommitsDir/${versionName(v)}"), false): Unit
    }
    // data dirs below the floor — committed-and-expired AND crashed
    // orphans alike (an orphan >= floor is left alone: it may be a
    // concurrent writer's in-flight dir in a misconfigured two-writer
    // deployment, and deleting it buys nothing)
    listVersions(fs, root).filter(_ < floor).foreach { v =>
      fs.delete(new Path(root, versionName(v)), true): Unit
    }
  }

  /** The current data directory of `path`: the highest committed
    * version whose data dir exists, or the path itself for a flat
    * (legacy / streaming-sink) lake, or None for an absent lake. */
  def resolve(spark: SparkSession, path: String): Option[String] = {
    val root = new Path(path)
    val fs = fsFor(root, spark)
    val committed = listVersions(fs, new Path(root, CommitsDir)).sorted.reverse
    committed
      .collectFirst {
        case v if fs.exists(new Path(root, versionName(v))) =>
          new Path(root, versionName(v)).toString
      }
      .orElse(if (committed.isEmpty && fs.exists(root)) Some(path) else None)
  }

  /** Committed, still-readable versions of `path`, ascending — the
    * history listing (Delta's DESCRIBE HISTORY shape): marker exists
    * AND the data dir survived GC. Empty for flat/absent lakes. */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = fsFor(root, spark)
    listVersions(fs, new Path(root, CommitsDir)).sorted
      .filter(v => fs.exists(new Path(root, versionName(v))))
  }

  /** Time travel: read a SPECIFIC committed version of `path`. The
    * version must be committed (marker) and inside the retention
    * window (data dir not GC'd) — reading an expired version fails
    * loudly rather than silently returning the wrong snapshot. */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame = {
    val root = new Path(path)
    val fs = fsFor(root, spark)
    val marker = new Path(root, s"$CommitsDir/${versionName(version)}")
    val data = new Path(root, versionName(version))
    if (!fs.exists(marker)) throw new java.io.FileNotFoundException(
      s"version $version of lake $path was never committed")
    if (!fs.exists(data)) throw new java.io.FileNotFoundException(
      s"version $version of lake $path is outside the retention window (GC'd)")
    pinnedRead(spark, data.toString)
  }

  /** The current version of `path` as a DataFrame pinned to that
    * version's immutable directory ([[resolve]]), or None for an absent
    * lake — later commits and their GC (within the grace window) cannot
    * change or break this plan. Every current-version read goes through
    * here, so how a lake version is read is decided in one place: by
    * [[pinnedRead]], whose schema comes from one footer read
    * in-process, so the read submits no Spark job. */
  def current(spark: SparkSession, path: String): Option[DataFrame] =
    resolve(spark, path).map(pinnedRead(spark, _))

  /** `dir` — a lake version, a flat lake or a streaming sink — read with
    * the schema of one data file's footer, converted in-process by
    * the per-file step of Spark's own parquet schema inference
    * (`ParquetFileFormat.readSchemaFromFooter`), so the read submits no
    * inference job. Partition columns stay with Spark's discovery, so
    * the schema holds the data columns only. A sink's file comes from
    * its `_spark_metadata` listing: a file the log does not list may be
    * a failed batch's torn write. A directory with no data file is left
    * to inference, which throws as it always has. [[current]],
    * [[readVersion]] and a compaction's input all read through here. */
  private[graft] def pinnedRead(spark: SparkSession, dir: String): DataFrame = {
    val reader = spark.read
    dataFile(spark, dir).fold(reader)(f => reader.schema(footerSchema(spark, f))).parquet(dir)
  }

  /** Names a reader skips: `_SUCCESS`, `_spark_metadata`, `_commits`,
    * `.crc` files, staging directories. */
  private[graft] def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** One data file a reader of `dir` would scan, if any: the first the
    * sink log lists, or else the first in name order of a depth-first
    * walk (partitioned layouts keep theirs under `k=v` directories). */
  private def dataFile(spark: SparkSession, dir: String): Option[FileStatus] = {
    val root = new Path(dir)
    val fs = fsFor(root, spark)
    def first(p: Path): Option[FileStatus] = {
      val (dirs, files) = fs.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName))
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => first(d.getPath)).nextOption())
    }
    if (SinkLogShim.hasMetadata(spark, dir))
      SinkLogShim.listedFiles(spark, dir).headOption
    else first(root)
  }

  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** [[current]], throwing for an absent lake. */
  def read(spark: SparkSession, path: String): DataFrame =
    current(spark, path).getOrElse(throw new java.io.FileNotFoundException(
      s"no committed version and no flat data at lake path $path"))
}
