package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.ingest.CasesIngest
import graft.operators.Compaction

/** Pins the schemas the cadence's reads declare against the ones Spark
  * infers: every CSV source read through [[CasesIngest.readCsv]] (its
  * header read in-process) and every lake read through
  * [[LakeCommit.pinnedRead]] (one footer read in-process). A declared
  * schema that drifts from inference reads a column as null or drops it,
  * so schemas and rows must be equal; and the reads must submit no job,
  * which is their point.
  */
class IngestSchemaSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def inferredCsv(path: String): DataFrame =
    spark.read.option("header", "true").option("sep", CasesIngest.sniffDelimiter(path)).csv(path)

  private def assertPinnedCsv(path: String): Unit = {
    val pinned = CasesIngest.readCsv(spark, path)
    val inferred = inferredCsv(path)
    // StructType equality covers names, order, types and nullability.
    assert(pinned.schema === inferred.schema, path)
    assert(rows(pinned) === rows(inferred), path)
  }

  private lazy val scratch = Fixtures.scratchDir("csv_headers")

  private def csv(name: String, body: String): String = {
    val p = Paths.get(scratch, s"$name.csv")
    Files.write(p, body.getBytes(UTF_8))
    p.toString
  }

  test("every fixture CSV reads with the inferred header schema and rows, without a job") {
    val csvs = new java.io.File(Fixtures.dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".csv")).sorted.toSeq
    assert(csvs.size === 7, csvs)
    csvs.foreach(assertPinnedCsv)
    // Control: header inference does run a job, so the listener can see one.
    assert(jobsDuring(inferredCsv(csvs.head).schema).exists(SparkSpec.csvHeader))
    csvs.foreach(p => assert(jobsDuring(CasesIngest.readCsv(spark, p).schema).isEmpty, p))
  }

  // Headers whose names Spark's own header handling rewrites or whose
  // line a naive split would misread.
  private val adversarial = Seq(
    "quoted_delimiter" -> "\"a,b\",c\n1,2\n",
    "empty_name" -> "a,,c\n1,2,3\n",
    "duplicate_names" -> "a,A,b,a\n1,2,3,4\n",
    "crlf" -> "a;b\r\n1;2\r\n3;4\r\n",
    "empty_file" -> "",
    "padded_names" -> " a , b ,c \n1,2,3\n",
    "leading_blank_lines" -> "\n \nx|y\n1|2\n",
    // 13 kB, past the 10 kB the header read once stopped at: truncated
    // there, a declared schema would silently drop the last columns
    "wide_header" -> {
      val names = (1 to 1300).map(i => f"col_$i%05d")
      names.mkString(",") + "\n" + names.indices.mkString(",") + "\n"
    })

  for ((name, body) <- adversarial)
    test(s"adversarial header '$name': pinned schema and rows equal the inferred ones") {
      assertPinnedCsv(csv(name, body))
    }

  test("a header longer than the cap fails loudly, naming the file") {
    val path = csv("too_wide", "x" * (CasesIngest.MaxHeaderBytes + 1) + "\n1\n")
    val e = intercept[java.io.IOException](CasesIngest.readCsv(spark, path))
    assert(e.getMessage.contains("too_wide.csv"), e.getMessage)
  }

  /** A lake after one tick of the cadence's flows: the partitioned
    * `cases`, the flat `news_crawl` sink, `vocab` and the others. */
  private lazy val lake: String = {
    val lake = Fixtures.scratchDir("pinned_lake") + "/lake"
    Schedule.runTick(Schedule.defaultFlows(spark, lake) :+ Schedule.vocabIndexFlow(spark, lake), 0)
      .outcomes.foreach { case (n, err) => assert(err.isEmpty, s"flow $n failed: $err") }
    lake
  }

  test("every flow output reads with the inferred schema and rows, without a job") {
    val outputs = (Schedule.IngestOutputs :+ Schedule.VocabOutput)
      .flatMap(n => LakeCommit.resolve(spark, s"$lake/$n").map(n -> _))
    assert(outputs.map(_._1) ===
      Seq("cases", "france_cases", "virtests", "news_crawl", "vocab"))
    outputs.foreach { case (n, dir) =>
      val pinned = LakeCommit.read(spark, s"$lake/$n")
      val inferred = spark.read.parquet(dir)
      assert(pinned.schema === inferred.schema, n)
      assert(rows(pinned) === rows(inferred), n)
      assert(jobsDuring(LakeCommit.read(spark, s"$lake/$n").schema).isEmpty, n)
    }
    // Control: inference does run a job, so the listener can see one.
    assert(jobsDuring(spark.read.parquet(outputs.head._2).schema)
      .exists(SparkSpec.parquetInference))
  }

  test("a news sink under a directory named with a space and a '%' reads, registers and compacts") {
    // The sink log stores each file as an encoded URI (`a%20b`): read
    // back as a plain path string, the name would be quoted again and
    // name no file.
    val lake = Fixtures.scratchDir("pinned_lake") + "/news lake %41"
    val news = Schedule.defaultFlows(spark, lake).filter(_.name == "news_crawl")
    Schedule.runTick(news, 0).outcomes.foreach { case (n, err) =>
      assert(err.isEmpty, s"flow $n failed: $err") }
    val sink = s"$lake/news_crawl"
    val inferred = spark.read.parquet(sink)
    val content = rows(inferred)
    assert(content.size === 6)
    val pinned = LakeCommit.read(spark, sink)
    assert(pinned.schema === inferred.schema)
    assert(rows(pinned) === content)
    try assert(Serve.registerLake(spark, lake) === Seq("news_crawl", "news"))
    finally Serve.LakeViewNames.foreach(spark.catalog.dropTempView)
    // the compaction lists, rewrites and reaps by the decoded paths: a
    // listed file misread as unlisted would be deleted as an orphan
    val listedNames = () =>
      org.apache.spark.sql.graft.SinkLogShim.listedFiles(spark, sink).map(_.getPath.getName).toSet
    val landed = listedNames()
    Compaction.compactAny(spark, sink): Unit
    assert(rows(LakeCommit.read(spark, sink)) === content)
    val compacted = listedNames()
    Compaction.compactAny(spark, sink): Unit
    val onDisk = new java.io.File(sink).list().toSet
    assert(compacted.subsetOf(onDisk), "grace files deleted too early")
    assert((landed intersect onDisk).isEmpty, "replaced files not reaped")
    assert(rows(spark.read.parquet(sink)) === content)
  }

  test("readVersion and a compaction's packed read keep the inferred schema and rows") {
    val cases = s"$lake/cases"
    val v = LakeCommit.committedVersions(spark, cases).last
    val dir = LakeCommit.resolve(spark, cases).get
    assert(LakeCommit.readVersion(spark, cases, v).schema === spark.read.parquet(dir).schema)
    // a versioned partitioned lake and a streaming sink, each rewritten
    // from its packed read: the rewrite reads back as the input did
    for (n <- Seq("cases", "news_crawl")) {
      val before = spark.read.parquet(LakeCommit.resolve(spark, s"$lake/$n").get)
      val (schema, content) = (before.schema, rows(before))
      val jobs = jobsDuring(Compaction.compactAny(spark, s"$lake/$n"): Unit)
      assert(!jobs.exists(SparkSpec.parquetInference), n)
      val after = spark.read.parquet(LakeCommit.resolve(spark, s"$lake/$n").get)
      assert(after.schema === schema, n)
      assert(rows(after) === content, n)
    }
  }
}
