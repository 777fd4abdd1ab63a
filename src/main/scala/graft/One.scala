package graft

/** Dev tool: run one named query from [[SparkEntry.queries]] on the
  * [[Tables.session]] Bench measures with, print per-iteration wall
  * time (cache cleared between iterations, like Bench), and optionally
  * the formatted plan.
  *
  * Usage: runMain graft.One <queryName>[,<queryName>...] [iters] [explain]
  */
object One {
  def main(args: Array[String]): Unit = {
    // Comma-separated names share one JVM/session — a decade probe over a
    // whole family pays sbt+SparkSession startup once, not per query.
    val names = args(0).split(',').toSeq.filter(_.nonEmpty)
    // iters and "explain" are both optional and order-insensitive;
    // toIntOption makes the fallback total (empty, unicode digits, or
    // overflow-length strings all fall back to 3).
    val iters = args.drop(1).flatMap(_.toIntOption).headOption.getOrElse(3)
    val explain = args.contains("explain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session("graft-one")
    spark.sparkContext.setLogLevel("ERROR")

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) fn(spark, sfDir).explain("formatted")
      (1 to iters).foreach { i =>
        spark.catalog.clearCache()
        // clearCache() frees persist()ed plans, but localCheckpoint
        // blocks are reaped by the ContextCleaner only after their RDD
        // references are GC'd — without a GC nudge, a checkpoint-heavy
        // query (pagerank, dedup_clusters) accumulates every prior
        // iteration's blocks and a multi-iter probe at the 1000×
        // decade exhausts the 8 GiB harness heap on iter 2 even though
        // each single iteration fits comfortably.
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        // loadavg with every sample, same rationale as Bench: a timing
        // quoted from a contended box should carry its own evidence.
        val load = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        println(f"[one] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s (loadavg $load%.2f)")
      }
    }
    spark.stop()
  }
}
