package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: write the `explain("formatted")` physical plan of named
  * catalog queries to files — the optimization rounds' before/after
  * plan evidence (plans/rNN/<query>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <name,name,...>
  *        (names "all" = every catalog query)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val wanted: Seq[String] =
      if (args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(',').toSeq.filter(_.nonEmpty)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The session Bench measures with, so the dumped plan is the one
    // the bench actually executes (shuffle partitions, AQE, UTC).
    val spark = graft.Tables.session("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    wanted.foreach { name =>
      val txt =
        try {
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          // queryExecution.explainString gives the same text explain()
          // prints, without going through stdout.
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"ERROR ${e.getClass.getName}: ${e.getMessage}" }
      Files.write(outDir.resolve(s"${name}_$tag.txt"), txt.getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_$tag.txt (${txt.length} chars)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
