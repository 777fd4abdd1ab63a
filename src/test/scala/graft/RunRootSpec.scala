package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Fixtures.withRunRoot]] — one fresh generation directory per run,
  * and only generations older than the previous run's deleted. The
  * load-bearing claim: a catalog entry whose result reads its run
  * directory lazily stays readable through the next run of the same
  * entry.
  */
class RunRootSpec extends SparkSpec {

  test("a run's directory survives the next run on its prefix, not the one after") {
    def run(): String = Fixtures.withRunRoot("run_root_gen") { d =>
      java.nio.file.Files.writeString(new File(d, "f").toPath, "x")
      d
    }
    val first = run()
    val second = run()
    assert(first !== second)
    assert(new File(first, "f").exists(), "the next run deleted the previous run's files")
    assert(Fixtures.latestRun("run_root_gen") === second)
    val third = run()
    assert(!new File(first).exists(), "a generation older than the previous run survived")
    assert(new File(second, "f").exists())
    assert(Fixtures.latestRun("run_root_gen") === third)
  }

  /** Build the entry, build it again, then read the FIRST result. */
  private def buildTwiceReadFirst(build: (SparkSession, String) => DataFrame): Unit = {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val first = build(spark, sf0001)
    val second = build(spark, sf0001)
    val firstRows = rows(first)
    assert(firstRows.nonEmpty)
    assert(firstRows === rows(second))
  }

  test("stream_sessionize: a built result stays readable after the next build") {
    buildTwiceReadFirst(queries.Streaming.streamSessionize)
  }

  test("ing_lake_timetravel: a built result stays readable after the next build") {
    buildTwiceReadFirst(queries.Ingestion.lakeTimetravel)
  }

  test("ing_schema_evolution: a built result stays readable after the next build") {
    buildTwiceReadFirst(queries.Ingestion.schemaEvolution)
  }
}
