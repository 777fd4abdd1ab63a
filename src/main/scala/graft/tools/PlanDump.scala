package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Dev tool: write the `explain("formatted")` physical plan of catalog
  * queries to files — the optimization rounds' before/after plan
  * evidence (plans/rNN/<query>_<tag>.txt). The queries are the ones a
  * [[SparkEntry.select]] name filter picks; "all" is the whole catalog.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <name,name,...|all>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The session Bench measures with, so the dumped plan is the one
    // the bench actually executes (shuffle partitions, AQE, UTC).
    val spark = graft.Tables.session("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.select(Some(args(2)).filter(_ != "all")).foreach { name =>
      // queryExecution.explainString gives the same text explain()
      // prints, without going through stdout.
      val txt = SparkEntry.isolated(spark) {
        SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }.fold(e => s"ERROR ${e.getClass.getName}: ${e.getMessage}", identity)
      Files.write(outDir.resolve(s"${name}_$tag.txt"), txt.getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
