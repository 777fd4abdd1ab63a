package graft

import graft.queries.Entry

/** The catalog registry ([[SparkEntry.catalog]]) and
  * [[SparkEntry.isolated]], the per-entry run every catalog main uses. */
class SparkEntrySpec extends SparkSpec {

  test("the catalog holds 187 distinct entries, each with an oracle") {
    assert(SparkEntry.catalog.size === 187)
    assert(SparkEntry.catalog.forall { case (n, e) => e.name == n })
    assert(SparkEntry.queries.keySet === SparkEntry.catalog.keySet)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.catalog.keySet)
    val blank = SparkEntry.catalog.values.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"entries without oracle SQL: $blank")
  }

  test("select(None) is every name, sorted") {
    assert(SparkEntry.select(None) === SparkEntry.catalog.keys.toSeq.sorted)
  }

  test("exactly the three time-sliceable entries carry a sliced form") {
    val sliced = SparkEntry.catalog.values.filter(_.sliced.isDefined).map(_.name).toSet
    assert(sliced === Set("rel_histogram_dense", "evt_active_users", "evt_growth_accounting"))
  }

  test("two rows with one name fail the catalog and name the duplicate") {
    val row = SparkEntry.catalog("rel_cube")
    val e = intercept[IllegalArgumentException](
      Entry.catalog(Seq(row, SparkEntry.catalog("rel_rollup"), row.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains("rel_cube"), e.getMessage)
    assert(!e.getMessage.contains("rel_rollup"), e.getMessage)
  }

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
