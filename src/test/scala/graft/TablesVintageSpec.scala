package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Pins the fixture-vintage contract for `Tables.load("events")`.
  *
  * `/root/testdata` has been regenerated under the engine twice, flipping
  * `events.ts` between parquet TIMESTAMP(NANOS) (which Spark reads as raw
  * INT64 under `spark.sql.legacy.parquet.nanosAsLong`, i.e. LongType) and
  * plain timestamp[us] (which reads as TIMESTAMP_NTZ). The loader must
  * dispatch on the loaded dtype and yield the SAME TimestampType instants
  * from either vintage, so the next regeneration is a non-event.
  */
class TablesVintageSpec extends SparkSpec {
  import spark.implicits._

  // Epoch-micros chosen to exercise the 2^53 double-precision hazard: at
  // nanos scale (~1.7e18) a double `/ 1000` would lose 1µs on some rows.
  private val micros = Seq(
    1700000000000001L, 1700000000000002L, 1711111111111113L,
    1722222222222229L, 1700000000999999L)

  private def loadEvents(dir: java.nio.file.Path): Seq[java.sql.Timestamp] = {
    val df = Tables.load(spark, dir.toString, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"loader must normalize to TimestampType, got ${df.schema("ts").dataType}")
    df.select($"ts").as[java.sql.Timestamp].collect().toSeq.sortBy(_.getTime)
  }

  test("nanos-as-long and timestamp[us] vintages load identically") {
    val base = java.nio.file.Files.createTempDirectory("graft_vintage")
    val nanosDir = base.resolve("nanos")
    val microsDir = base.resolve("micros")

    // Vintage A: TIMESTAMP(NANOS) reads as INT64 under the legacy conf, so
    // an actual BIGINT nanos column is dtype-identical to what the loader
    // sees from that vintage.
    micros.map(_ * 1000L).toDF("ts")
      .repartition(1)
      .write.parquet(nanosDir.resolve("events.parquet").toString)

    // Vintage B: plain timestamp[us] — Spark writes TimestampNTZType as
    // parquet timestamp[us] (isAdjustedToUTC=false), exactly the current
    // testdata encoding.
    micros.toDF("us")
      .select(timestamp_micros($"us").cast("timestamp_ntz").as("ts"))
      .repartition(1)
      .write.parquet(microsDir.resolve("events.parquet").toString)

    val fromNanos = loadEvents(nanosDir)
    val fromMicros = loadEvents(microsDir)
    assert(fromNanos == fromMicros)
    // And both round-trip the exact micros (no double-division loss).
    val got = fromNanos.map(ts => ts.getTime / 1000 * 1000000 + ts.getNanos / 1000)
    assert(got == micros.sorted)
  }

  test("live testdata events loads as TimestampType with rows") {
    val df = Tables.load(spark, sf0001, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(1).count() == 1)
  }

  test("parquet TIMESTAMP(NANOS) loads under the session conf and fails without it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft_vintage_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try micros.foreach(m => w.write(rows.newGroup().append("ts", m * 1000L)))
    finally w.close()

    val got = loadEvents(dir).map(ts => ts.getTime / 1000 * 1000000 + ts.getNanos / 1000)
    assert(got == micros.sorted)

    val bare = spark.newSession()
    bare.conf.set(Tables.NanosAsLong, "false")
    val e = intercept[IllegalStateException](Tables.load(bare, dir.toString, "events"))
    assert(e.getMessage.contains(Tables.NanosAsLong))
  }

  test("events.ts that is neither a timestamp nor INT64 nanos fails the load") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vintage_string")
    Seq("2024-01-01 00:00:00").toDF("ts")
      .write.parquet(dir.resolve("events.parquet").toString)
    val e = intercept[IllegalStateException](Tables.load(spark, dir.toString, "events"))
    assert(e.getMessage.contains("events.ts"))
  }

  test("an unknown table name fails the load") {
    val e = intercept[IllegalArgumentException](Tables.load(spark, sf0001, "lineitems"))
    assert(e.getMessage.contains("lineitems"))
  }
}
