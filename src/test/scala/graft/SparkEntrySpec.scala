package graft

/** [[SparkEntry.isolated]], the per-entry run every catalog main uses. */
class SparkEntrySpec extends SparkSpec {

  test("isolated releases an earlier entry's localCheckpoint blocks without a GC") {
    val sc = spark.sparkContext
    // The first body keeps its result reachable, so no collection can
    // reap the checkpoint: only an explicit release frees its blocks.
    val first = SparkEntry.isolated(spark) {
      val df = SparkEntry.queries("llm_decontaminate")(spark, sf0001)
      df.collect()
      (df, sc.getRDDStorageInfo.length)
    }
    assert(first.map(_._2).exists(_ > 0),
      s"llm_decontaminate left no blocks to release: $first")
    val next = SparkEntry.isolated(spark)(sc.getRDDStorageInfo.map(_.name).toSeq)
    assert(next === Right(Seq.empty))
  }
}
