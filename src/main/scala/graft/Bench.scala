package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Benchmark main: one JSON line with per-query wall seconds.
  *
  * Methodology (fixes the r1 harness flaws flagged in VERDICT.md):
  *  - FULL materialization via a noop-format write — every output column
  *    is computed (a bare `count()` lets Catalyst prune projections and
  *    drop unreferenced windows, timing a cheaper plan than the one that
  *    is correctness-checked);
  *  - a complete unmeasured warmup pass first, so no measured query
  *    absorbs session/codegen/scan-init cost;
  *  - queries run in sorted name order (deterministic, comparable across
  *    rounds);
  *  - a failing query reports in `errors` instead of producing a bogus
  *    fast time;
  *  - the shared [[Tables.session]] (UTC, AQE on, shuffle partitions =
  *    cores, local mode), the same one the plan tools use;
  *  - each measured run goes through [[SparkEntry.isolated]] (cached
  *    blocks dropped, error captured), like every other catalog main,
  *    and runs a GC before its timed window.
  *
  * Self-defense against contended measurement (r15 verdict item 2: ~19
  * queries inflated 1.3-1.8x by box-wide load, diagnosable only by
  * archeology): every pass of every query records (loadavg at start,
  * external-CPU share over the pass — system CPU minus this JVM's, the
  * discriminator loadavg isn't); after the two standard passes, any
  * query whose best pass is SUSPECT — external share above
  * SPARK_GRAFT_EXT_CPU (default 0.20), or the two passes disagreeing by
  * >40% — gets a THIRD pass, and the artifact says which queries were
  * retried. The detail artifact also
  * carries per-query deltas vs the previous BENCH_DETAIL.json (the
  * tools/bench_compare.py movers rule, computed at measurement time), so
  * a regression is visible in the artifact itself, not a rerun later.
  *
  * Usage: runMain graft.Bench [name,name,...] — a [[SparkEntry.select]]
  * filter times only those entries and leaves BENCH_DETAIL.json, the
  * full-catalog record the next run's movers compare against, alone.
  */
object Bench {

  /** One run: per query, each pass's (wall sec, loadavg at start,
    * external-CPU share); `prevTimes` are the previous file's minima. */
  final case class Run(sfDir: String, warmupSec: Double,
      passLoads: Seq[(Double, Double)], finalLoad: Double, extCpuThreshold: Double,
      retried: Seq[String], passTimes: Seq[(String, Seq[(Double, Double, Double)])],
      errors: Seq[(String, String)], prevTimes: Map[String, Double])

  private def bestOf(ts: Seq[(Double, Double, Double)]): (Double, Double, Double) =
    ts.minBy(_._1)

  /** The stdout line and the BENCH_DETAIL.json text of `r`. */
  def documents(r: Run): (String, String) = {
    val best = r.passTimes.map { case (k, ts) => k -> bestOf(ts) }
    val times = best.map { case (k, b) => k -> b._1 }
    // Movers vs the previous detail artifact (the bench_compare rule:
    // >60% relative AND >0.3 s absolute delta on the per-query minima).
    val movers = times.flatMap { case (k, v) =>
      r.prevTimes.get(k).collect {
        case p if (v - p).abs > 0.3 && p > 0 && (v - p).abs / p > 0.6 =>
          k -> Json.obj("prev" -> Json.fixed(p, 3), "now" -> Json.fixed(v, 3))
      }
    }
    def byQuery(f: ((Double, Double, Double)) => Double) =
      Json.obj(best.map { case (k, b) => k -> Json.fixed(f(b), 3) }: _*)
    val errors = Json.obj(r.errors: _*)
    val passLoads = r.passLoads.map { case (a, b) => Seq(Json.fixed(a, 3), Json.fixed(b, 3)) }
    val line = Json.obj("metric" -> "total", "value" -> Json.fixed(times.map(_._2).sum, 3),
      "unit" -> "sec", "queries" -> byQuery(_._1), "errors" -> errors, "sf" -> r.sfDir,
      "loadavg" -> Json.fixed(r.finalLoad, 3), "pass_loadavg" -> passLoads,
      "warmup_sec" -> Json.fixed(r.warmupSec, 3), "retried" -> r.retried.size,
      "movers_vs_prev" -> movers.size)
    // Full per-pass detail as a standalone artifact: a reader that keeps
    // only a bounded tail of the stdout line truncates the query map (as
    // in r11/r12), so the diagnosable evidence lives in a file instead.
    val detail = Json.obj("sf" -> r.sfDir, "warmup_sec" -> Json.fixed(r.warmupSec, 3),
      "pass_loadavg" -> passLoads, "final_loadavg" -> Json.fixed(r.finalLoad, 3),
      "ext_cpu_threshold" -> Json.fixed(r.extCpuThreshold, 3), "retried" -> r.retried,
      "movers_vs_prev" -> Json.obj(movers: _*), "errors" -> errors,
      "best_pass_loadavg" -> byQuery(_._2), "best_pass_external_cpu" -> byQuery(_._3),
      "pass_times" -> Json.obj(r.passTimes.map { case (k, ts) =>
        k -> ts.map(t => Json.fixed(t._1, 3)) }: _*))
    (Json.write(line), Json.write(detail) + "\n")
  }

  /** Per-query minimum pass time of a BENCH_DETAIL.json text. */
  def previousTimes(detail: String): Map[String, Double] =
    Json.read(detail).get("pass_times").properties.asScala.collect {
      case e if e.getValue.size > 0 =>
        e.getKey -> e.getValue.asScala.map(_.asDouble).min
    }.toMap

  def main(args: Array[String]): Unit = {
    val filter = args.headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Contention discriminator: loadavg can't tell the bench's OWN
    // local[32] bursts from a neighbor burning the box (both push the
    // 1-min average into the same 3-5 band — measured when a first cut
    // of this retry logic re-ran 79/138 queries off the warmup's decay
    // tail). What can: system CPU share minus THIS process's share —
    // self-load is subtracted out by construction. A best pass during
    // which external processes held more than this fraction of the box
    // is suspect and re-measured.
    val extCpuThreshold = sys.env.get("SPARK_GRAFT_EXT_CPU")
      .flatMap(_.toDoubleOption).getOrElse(0.20)
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", "/root/repo/BENCH_DETAIL.json")

    // Previous round's per-query minima, read BEFORE this run overwrites
    // the file.
    val prevTimes: Map[String, Double] =
      try previousTimes(Files.readString(Paths.get(detailPath)))
      catch { case _: Throwable => Map.empty }

    val spark = Tables.session("graft-bench")
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.select(filter)

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def loadavg: Double = osBean.getSystemLoadAverage
    // Fraction of the box burned by processes OTHER than this JVM since
    // the previous call (both gauges are tick-deltas on Linux; calling
    // once per measured query makes the window that query's own span).
    // NaN/negative (first call, platform gaps) degrade to 0 = trusted.
    def externalCpu: Double = {
      val sys = osBean.getCpuLoad; val self = osBean.getProcessCpuLoad
      if (sys.isNaN || self.isNaN || sys < 0 || self < 0) 0.0
      else math.max(0.0, sys - self)
    }

    val warmupT0 = System.nanoTime()
    // warmup pass, unmeasured; a failure shows up in the measured passes
    names.foreach(n => try materialize(n) catch { case _: Throwable => () })
    val warmupSec = (System.nanoTime() - warmupT0) / 1e9

    // Per-query per-pass (wall sec, loadavg at start, external-CPU share
    // over the pass): three rounds running, the dedup-family gate numbers
    // were un-debuggable from a min-only artifact (VERDICT r12 item 1/3)
    // — a cold or contended pass is now visible in the artifact itself,
    // no rerun needed.
    val passTimes = scala.collection.mutable.LinkedHashMap[String, List[(Double, Double, Double)]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]

    def measure(name: String, retry: Boolean = false): Unit =
      SparkEntry.isolated(spark) {
        System.gc() // no earlier garbage collected inside the timed window
        val l = loadavg
        externalCpu // reset the tick window to the query's own span
        val t0 = System.nanoTime()
        materialize(name)
        ((System.nanoTime() - t0) / 1e9, l, externalCpu)
      } match {
        case Right(pass) =>
          passTimes(name) = passTimes.getOrElse(name, Nil) :+ pass
        case Left(e) =>
          // Pass kind decides (ADVICE r16): a transient failure during
          // the contention-retry third pass must not erase the two valid
          // standard-pass measurements — keep the best-of-N and stay
          // silent. A STANDARD-pass failure removes any earlier pass and
          // records the error: an intermittently failing query must
          // report as the failure it is, never as a valid-looking fast
          // time with an empty errors map (the header contract).
          if (!retry || !passTimes.contains(name)) {
            if (!retry) { passTimes.remove(name): Unit }
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
      }

    // Two measured passes, per-query minimum: single-pass numbers on a
    // shared box swing up to 3x from scheduling/GC interference, and the
    // min is the standard estimator for the workload's actual cost.
    for (_ <- 1 to 2) {
      val l0 = loadavg
      for (name <- names if !errors.contains(name)) measure(name)
      passLoads += ((l0, loadavg))
    }

    // Third pass for contention-suspect queries only: external processes
    // held >20% of the box during the best pass, or the two passes
    // disagree beyond the identical-code noise band (>40% relative
    // spread with an absolute floor so millisecond queries don't all
    // retry). Constant external load inflates BOTH passes with a small
    // spread (the r15 signature), which is exactly what the external-CPU
    // trigger catches and the spread trigger can't.
    val retried = names.filter { n =>
      passTimes.get(n).exists { ts =>
        val (best, _, ext) = bestOf(ts)
        val worst = ts.map(_._1).max
        ext > extCpuThreshold ||
          (worst - best > 0.3 && (worst - best) / best > 0.4)
      }
    }
    retried.foreach(measure(_, retry = true))

    val (line, detail) = documents(Run(sfDir, warmupSec, passLoads.toSeq,
      loadavg, extCpuThreshold, retried, passTimes.toSeq, errors.toSeq, prevTimes))
    if (filter.isEmpty)
      try Files.writeString(Paths.get(detailPath), detail): Unit
      catch { case _: Throwable => () } // diagnostics must never fail the bench
    println(line)
    spark.stop()
  }
}
