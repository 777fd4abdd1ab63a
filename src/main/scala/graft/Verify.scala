package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: the [[SparkEntry.select]] name filter, for
    // local iteration; with two args Verify runs the full catalog.
    val (sfDir, outDir) = (args(0), args(1))
    val t0 = System.nanoTime()
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = Tables.session("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failed queries must be DURABLE in the artifact, not just stderr:
    // r14's 14 analysis-broken queries were absent from the correctness
    // artifact entirely because their parquet dirs never materialized
    // (ADVICE r14) — errors.json makes every failure explicit.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.select(args.lift(2))
    selected.foreach { name =>
      SparkEntry.isolated(spark) {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }.left.foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }))
    Files.writeString(Paths.get(s"$outDir/errors.json"), Json.write(failed))
    // Environment evidence riding with the artifact (the Bench
    // convention, VERDICT r12 item 8): per-run wall time and start/end
    // 1-min loadavg, so a contended correctness run is diagnosable from
    // the artifact alone. Informational — the driver reads only
    // oracle_sql.json and the parquet dirs.
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val wallSec = (System.nanoTime() - t0) / 1e9
    Files.writeString(Paths.get(s"$outDir/run_env.json"),
      Json.write(Json.obj("sf" -> sfDir, "wall_sec" -> Json.fixed(wallSec, 3),
        "loadavg_start" -> Json.fixed(loadStart, 3),
        "loadavg_end" -> Json.fixed(loadEnd, 3))))
    spark.stop()
  }
}
