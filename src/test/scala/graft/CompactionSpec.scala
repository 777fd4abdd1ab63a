package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Compaction

/** [[graft.operators.Compaction]] — small-file compaction for both lake
  * shapes. The load-bearing claims: file count drops by an order of
  * magnitude, content is hash-identical pre/post, a versioned lake's
  * readers keep snapshot isolation through the rewrite, and a streaming
  * sink's checkpointed writer RESUMES appending after its log's live
  * window is rewritten.
  */
class CompactionSpec extends SparkSpec {

  import spark.implicits._

  private def contentHash(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("versioned lake: ≥10x file drop, content identical, snapshot kept for pinned readers") {
    val lake = s"${Fixtures.scratchDir("cp_lake")}/lake"
    val data = (1 to 2000).map(i => (i, s"row_$i")).toDF("id", "s")
    // fragment deliberately: 40 shuffle partitions -> 40 part files
    LakeCommit.commit(data.repartition(40), lake)
    val before = contentHash(LakeCommit.read(spark, lake))
    val pinned = LakeCommit.read(spark, lake)

    val report = Compaction.compactLake(spark, lake)
    assert(report.filesBefore >= 40, s"fixture not fragmented: ${report.filesBefore}")
    assert(report.filesAfter * 10 <= report.filesBefore,
      s"only ${report.filesBefore} -> ${report.filesAfter} files")
    assert(report.dataDir.endsWith("v000000002"))
    assert(contentHash(LakeCommit.read(spark, lake)) === before, "content changed")
    // the pre-compaction reader still reads its pinned v1 snapshot
    assert(contentHash(pinned) === before)
  }

  test("compactLake refuses a streaming sink; compactSink refuses a plain lake") {
    val root = Fixtures.scratchDir("cp_guard")
    val lake = s"$root/lake"
    LakeCommit.commit((1 to 5).toDF("i"), lake)
    intercept[IllegalArgumentException](Compaction.compactSink(spark, lake))
    val sink = s"$root/sink"
    Files.createDirectories(Paths.get(s"$sink/_spark_metadata"))
    intercept[IllegalArgumentException](Compaction.compactLake(spark, sink))
  }

  test("streaming sink: compaction rewrites the log window, the checkpointed stream resumes, GC reaps replaced files") {
    val root = Fixtures.scratchDir("cp_sink")
    val landing = s"$root/landing"
    val sink = s"$root/sink"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(landing))

    def landFile(tick: Int): Unit =
      Files.write(Paths.get(landing, s"t$tick.json"),
        (1 to 5).map(i => s"""{"tick":$tick,"i":$i}""").mkString("\n").getBytes(UTF_8))

    def tick(): Unit = {
      val q = spark.readStream
        .schema("tick INT, i INT")
        .json(landing)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // 21 ticks = 21 sink batches, one part file each; crosses the sink
    // log's OWN compaction cadence twice (default interval 10 -> both a
    // .compact and trailing deltas in the live window), so the rewrite
    // handles both file shapes. 21 inputs because the compacted output
    // is 2 files (split sizing spreads bytes over defaultParallelism=2
    // even under one maxPartitionBytes) and the gate is a 10x drop.
    (1 to 21).foreach { t => landFile(t); tick() }
    val before = contentHash(spark.read.parquet(sink))
    assert(before.size === 105)
    val listedBefore = org.apache.spark.sql.graft.SinkLogShim.listedFiles(spark, sink)
    assert(listedBefore.size >= 21, s"fixture not fragmented: ${listedBefore.size}")

    val report = Compaction.compactSink(spark, sink)
    assert(report.filesAfter * 10 <= report.filesBefore,
      s"only ${report.filesBefore} -> ${report.filesAfter} files")
    assert(contentHash(spark.read.parquet(sink)) === before, "content changed")

    // replaced files still on disk (reader grace) until the next
    // compaction of the sink reaps them first, keeping its own inputs
    val physical = () => new File(sink).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(physical() >= 21 + report.filesAfter.toInt, "grace files deleted too early")
    val reaping = Compaction.compactSink(spark, sink)
    assert(reaping.filesBefore === report.filesAfter)
    assert(physical() === (report.filesAfter + reaping.filesAfter).toInt,
      "the next compaction must reap exactly the replaced files")
    assert(contentHash(spark.read.parquet(sink)) === before, "content changed by the reaping")

    // the stream RESUMES from its checkpoint: a new tick appends on top
    // of the compacted listing, nothing lost, nothing doubled
    landFile(22); tick()
    val after = contentHash(spark.read.parquet(sink))
    assert(after.size === 110, s"resume broke the sink: ${after.size} rows")
    assert(before.forall(after.contains), "pre-compaction rows lost")
    // and a second compaction over the resumed sink still works
    val again = Compaction.compactSink(spark, sink)
    assert(contentHash(spark.read.parquet(sink)) === after)
    assert(again.filesAfter <= again.filesBefore)
  }

  test("a crashed sink-log rewrite replays from the journal before anything trusts the listing") {
    val root = Fixtures.scratchDir("cp_crash")
    val landing = s"$root/landing"
    val sink = s"$root/sink"
    Files.createDirectories(Paths.get(landing))
    Files.write(Paths.get(landing, "a.json"),
      (1 to 8).map(i => s"""{"tick":0,"i":$i}""").mkString("\n").getBytes(UTF_8))
    val q = spark.readStream.schema("tick INT, i INT").json(landing)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val before = contentHash(spark.read.parquet(sink))

    // simulate the crash: journal written, log untouched (the worst
    // window — rewrite not yet begun), compacted file present
    val shim = org.apache.spark.sql.graft.SinkLogShim
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val compacted = s"$root/compacted"
    spark.read.parquet(sink).coalesce(1).write.parquet(compacted)
    val part = new File(compacted).listFiles()
      .find(f => f.getName.startsWith("part-")).get
    val dst = new org.apache.hadoop.fs.Path(s"$sink/${part.getName}")
    assert(fs.rename(new org.apache.hadoop.fs.Path(part.getAbsolutePath), dst))
    // the crash state: journal written atomically, log NOT yet rewritten
    shim.writeJournal(spark, sink, Seq(fs.getFileStatus(dst)))
    assert(shim.listedFiles(spark, sink).size >= 1)
    assert(!shim.listedFiles(spark, sink)
      .map(_.getPath.getName).contains(part.getName),
      "log rewritten before the crash point - the test proves nothing")
    // recovery replays the journal and the listing lands on the
    // compacted file, content unchanged; a second recover is a no-op
    assert(shim.recover(spark, sink), "journal not found")
    assert(shim.listedFiles(spark, sink)
      .map(_.getPath.getName) === Seq(part.getName))
    assert(contentHash(spark.read.parquet(sink)) === before)
    assert(!shim.recover(spark, sink), "journal must be consumed")
    // and the next compaction now safely reaps the pre-compaction
    // files, keeping the recovered listing's file as its own grace
    val dataFiles = () => new File(sink).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    val unlisted = dataFiles() - part.getName
    assert(unlisted.nonEmpty)
    Compaction.compactSink(spark, sink): Unit
    assert(dataFiles().contains(part.getName), "grace file deleted too early")
    assert((dataFiles() intersect unlisted).isEmpty, "pre-compaction files not reaped")
    assert(contentHash(spark.read.parquet(sink)) === before)
  }
}
