package graft

import org.apache.spark.sql.functions._

import graft.functions.GeohashUtil

/** Geohash expression: published known values, boundary behavior, prefix
  * property, and the registered codegen expression end-to-end. */
class GeohashSpec extends SparkSpec {

  private def enc(lat: Double, lon: Double, p: Int): String =
    GeohashUtil.encode(lat, lon, p).toString

  test("published known value: (57.64911, 10.40744) -> u4pruy") {
    // Classic worked example from the public geohash spec.
    assert(enc(57.64911, 10.40744, 6) === "u4pruy")
    assert(enc(57.64911, 10.40744, 11) === "u4pruydqqvj")
  }

  test("origin and corners") {
    assert(enc(0.0, 0.0, 4) === "s000")
    assert(enc(-90.0, -180.0, 4) === "0000")
  }

  test("prefix property: longer precision extends shorter (500 seeded samples)") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val lat = rnd.nextDouble() * 180 - 90
      val lon = rnd.nextDouble() * 360 - 180
      assert(enc(lat, lon, 8).startsWith(enc(lat, lon, 5)),
        s"prefix violated at ($lat, $lon)")
    }
  }

  test("registered expression runs inside a DataFrame plan") {
    import spark.implicits._
    val out = Seq((57.64911, 10.40744)).toDF("lat", "lon")
      .select(call_function("geohash_encode", $"lat", $"lon", lit(6)).as("g"))
      .collect()(0).getString(0)
    assert(out === "u4pruy")
  }

  test("token_overlap expression: known scores, dup query tokens, null") {
    val rows = spark.sql(
      """SELECT token_overlap('The quick  Brown fox', 'quick fox none') AS a,
        |       token_overlap('a b c', 'a a b') AS dup,
        |       token_overlap(CAST(NULL AS STRING), 'x') AS n""".stripMargin)
      .collect()(0)
    assert(rows.getLong(0) === 2L)
    assert(rows.getLong(1) === 3L) // duplicate query tokens each count
    assert(rows.isNullAt(2))
  }

  test("null inputs propagate null") {
    val out = spark.sql(
      "SELECT geohash_encode(CAST(NULL AS DOUBLE), CAST(1.0 AS DOUBLE), 4) AS g")
      .collect()(0)
    assert(out.isNullAt(0))
  }

  test("polygon containment matches a driver-side cross-product walk; filter is non-vacuous") {
    val out = graft.queries.Geo.geoPolygonFilter(spark, sf0001).collect()
      .map(r => r.getAs[Number]("c_nationkey").longValue ->
        r.getAs[Number]("n").longValue).toMap
    val verts = graft.queries.Geo.Pentagon
    def cross(i: Int, x: Long, y: Long): Long = {
      val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.size)
      (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
    }
    val expect = Tables.load(spark, sf0001, "customer")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .filter { case (k, _) =>
        val x = k * 73 % 3500 - 1750; val y = k * 37 % 1700 - 850
        verts.indices.forall(i => cross(i, x, y) >= 0)
      }
      .groupBy(_._2).map { case (nk, xs) => nk -> xs.length.toLong }
    assert(out == expect)
    assert(out.values.sum > 0, "no customer inside the pentagon — the filter is vacuous")
    // Points exist OUTSIDE too, or the polygon test isn't filtering.
    val all = Tables.load(spark, sf0001, "customer").count()
    assert(out.values.sum < all)
  }
}
