package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated name substrings — run only
    // matching queries (local iteration; the driver passes two args and
    // gets the full catalog).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
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
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.contains)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      // Caches are scoped per query: without this, persisted
      // intermediates (e.g. the dedup shingle index) accumulate across
      // the whole 50+-query session.
      spark.catalog.clearCache()
    }
    // Every string is escaped: a tab or CR in oracle SQL must not make
    // oracle_sql.json unreadable and silently skip the oracle compare.
    import Serve.jstr
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.exists(k.contains)) }
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failed.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}"))
    // Environment evidence riding with the artifact (the Bench
    // convention, VERDICT r12 item 8): per-run wall time and start/end
    // 1-min loadavg, so a contended correctness run is diagnosable from
    // the artifact alone. Informational — the driver reads only
    // oracle_sql.json and the parquet dirs.
    def load: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadEnd = load
    val wallSec = (System.nanoTime() - t0) / 1e9
    def f3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    Files.writeString(Paths.get(s"$outDir/run_env.json"),
      s"""{"sf":${jstr(sfDir)},"wall_sec":${f3(wallSec)},"loadavg_start":${f3(loadStart)},"loadavg_end":${f3(loadEnd)}}""")
    spark.stop()
  }
}
