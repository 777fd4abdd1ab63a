package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.Compaction
import graft.streaming.StateStores

/** The cadence loop's housekeeping flow: lakes over the file-count
  * threshold compact (content-identical), lakes under it are left
  * alone, missing lakes are skipped — all within one isolated tick. */
class CompactionFlowSpec extends SparkSpec {
  import spark.implicits._

  test("compaction flow rewrites only over-threshold lakes, content-identical") {
    val lakeDir = Fixtures.scratchDir("compact_flow_lake")
    // "cases": fragmented (40 files > threshold 8); "virtests": 2 files
    val frag = (1 to 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    LakeCommit.commit(frag.repartition(40), s"$lakeDir/cases")
    val small = (1 to 10).map(i => (i.toLong, s"s$i")).toDF("k", "v")
    LakeCommit.commit(small.repartition(2), s"$lakeDir/virtests")

    assert(Compaction.visibleFileCount(spark, s"$lakeDir/cases").get >= 40L)
    val smallBefore = Compaction.visibleFileCount(spark, s"$lakeDir/virtests").get

    val report = Schedule.runTick(
      Seq(Schedule.compactionFlow(spark, lakeDir, maxFiles = 8)), 0)
    assert(report.outcomes.forall(_._2.isEmpty), report.outcomes.toString)

    // fragmented lake compacted, rows identical
    val after = Compaction.visibleFileCount(spark, s"$lakeDir/cases").get
    assert(after < 8L, s"still $after files")
    val rows = spark.read.parquet(LakeCommit.resolve(spark, s"$lakeDir/cases").get)
    assert(rows.count() === 400L)
    assert(rows.agg(sum($"k")).as[Long].collect().head === (1 to 400).map(_.toLong).sum)
    // under-threshold lake untouched (same version, same file count)
    assert(Compaction.visibleFileCount(spark, s"$lakeDir/virtests").get === smallBefore)
    // absent lakes (news_crawl etc.) were skipped without failing the tick
  }

  test("compacting a partitioned lake preserves its hive layout") {
    val lakeDir = Fixtures.scratchDir("compact_flow_part")
    // the cases-lake shape: partitioned by source, many small files
    val df = (1 to 300).map(i => (i.toLong, s"src${i % 3}", s"v$i"))
      .toDF("k", "source_index", "v")
    LakeCommit.commit(df.repartition(30), s"$lakeDir/cases", Seq("source_index"))
    val before = LakeCommit.resolve(spark, s"$lakeDir/cases").get
    assert(Compaction.inferPartitioning(spark, before) === Seq("source_index"))

    val report = Schedule.runTick(
      Seq(Schedule.compactionFlow(spark, lakeDir, maxFiles = 8)), 0)
    assert(report.outcomes.forall(_._2.isEmpty), report.outcomes.toString)

    val after = LakeCommit.resolve(spark, s"$lakeDir/cases").get
    assert(after !== before, "compaction did not commit a new version")
    // layout preserved: still hive-partitioned on source_index...
    assert(Compaction.inferPartitioning(spark, after) === Seq("source_index"))
    // ...fewer files, identical content including the partition column
    assert(Compaction.visibleFileCount(spark, s"$lakeDir/cases").get < 30L)
    val rows = spark.read.parquet(after)
    assert(rows.count() === 300L)
    assert(rows.groupBy("source_index").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("src0" -> 100L, "src1" -> 100L, "src2" -> 100L))
  }

  test("repeated compactions of a news sink keep its files on disk bounded") {
    val lakeDir = Fixtures.scratchDir("compact_flow_news")
    val sink = s"$lakeDir/news_crawl"
    val landing = s"$lakeDir/_landing"
    Files.createDirectories(Paths.get(landing))
    // one AvailableNow batch per file landed: the crawl sink's shape
    def land(tick: Int): Unit = {
      Files.write(Paths.get(landing, s"t$tick.json"), (1 to 5)
        .map(i => s"""{"tick":$tick,"i":$i}""").mkString("\n").getBytes(UTF_8))
      StateStores.runToParquet(spark, sink, s"$lakeDir/_ckpt")(
        _.readStream.schema("tick INT, i INT").json(landing))
    }
    def onDisk: Int = new File(sink).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    def rows: Seq[(Int, Int)] =
      spark.read.parquet(sink).as[(Int, Int)].collect().toSeq.sorted

    (1 to 4).foreach(land)
    val counts = (5 to 11).map { t =>
      land(t)
      val report = Schedule.runTick(
        Seq(Schedule.compactionFlow(spark, lakeDir, maxFiles = 2)), t.toLong)
      assert(report.outcomes.forall(_._2.isEmpty), report.outcomes.toString)
      // every landed row, once: compaction changed the files, not the rows
      assert(rows === (for (k <- 1 to t; i <- 1 to 5) yield (k, i)))
      onDisk
    }
    // each tick compacts (over 2 visible files after a landing); its
    // inputs stay one cycle for planned readers, then the next
    // compaction deletes them, so the count levels off instead of
    // growing by every compaction's inputs
    assert(counts.drop(2).forall(_ <= counts(1)), s"files on disk per tick: $counts")
  }
}
