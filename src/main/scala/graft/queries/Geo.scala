package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Geo-grid bucketing (A2/U2 proper): geohash cells over a lat/lon
  * domain, aggregated per cell — the Kibana map-tile aggregation
  * (reference: mapping.py:12 geo_point; README.md:22-28 world maps).
  *
  * The Spark side runs the native [[graft.functions.GeohashEncode]]
  * codegen expression; the DuckDB oracle computes the same cells through
  * an INDEPENDENT closed-form bit-quantization formula (quantize lat/lon
  * to 10 bits each, interleave lon-first, base32-map each 5-bit group) —
  * so the expression's interval-halving algorithm is cross-checked
  * against a second implementation, not a mirror of itself.
  *
  * lat/lon are synthesized deterministically from `customer` keys (the
  * testdata has no geo columns); values stay ≥ 1/1280° away from any
  * cell boundary, so double rounding cannot flip a cell.
  */
object Geo {

  /** Geohash length-4 cells: groupBy on a native-codegen expression. */
  def geoCellAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val lat = (col("c_custkey") * 37 % 1700) / lit(10.0) - 85.0
    val lon = (col("c_custkey") * 73 % 3500) / lit(10.0) - 175.0
    cust
      .withColumn("lat", lat).withColumn("lon", lon)
      .withColumn("cell", call_function("geohash_encode", col("lat"), col("lon"), lit(4)))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n"),
        min(col("c_custkey")).as("min_key"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
  }

  val geoCellAggSql: String = {
    // Interleave lon-first: bit (19-2k) <- lon bit (9-k), bit (18-2k) <-
    // lat bit (9-k). Written as multiply/add (NOT <</|) because
    // Postgres-style bitwise operators are flat-precedence left-assoc.
    val interleave = (0 until 10).flatMap { k =>
      Seq(
        s"((lonq >> ${9 - k}) & 1) * ${1L << (19 - 2 * k)}",
        s"((latq >> ${9 - k}) & 1) * ${1L << (18 - 2 * k)}")
    }.mkString(" + ")
    val chars = Seq(15, 10, 5, 0).map(s =>
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((g >> $s) & 31 AS INT) + 1, 1)")
      .mkString(" || ")
    s"""WITH pts AS (SELECT c_custkey, c_acctbal,
       |    (c_custkey * 37 % 1700) / 10.0 - 85.0 AS lat,
       |    (c_custkey * 73 % 3500) / 10.0 - 175.0 AS lon
       |  FROM customer),
       |q AS (SELECT *,
       |    CAST(FLOOR((lon + 180) / 360 * 1024) AS BIGINT) AS lonq,
       |    CAST(FLOOR((lat + 90) / 180 * 1024) AS BIGINT) AS latq
       |  FROM pts),
       |code AS (SELECT *, $interleave AS g FROM q),
       |cells AS (SELECT *, $chars AS cell FROM code)
       |SELECT cell, COUNT(*) AS n, MIN(c_custkey) AS min_key,
       |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
       |FROM cells GROUP BY cell""".stripMargin
  }

  /** Haversine radius join — the Kibana live-map-around-a-point shape
    * (README.md:22-28 "France 3-weeks live map": the dashboard slices
    * facts to a geographic neighborhood): for each of 20 query centers,
    * the customers within 800 km, aggregated per center.
    *
    * The naive form is a cross join (centers × points) with a
    * great-circle filter — a nested loop at scale. The scale-safe shape
    * is the 1-D banding member of the bucket-explode family
    * (rel_range_join's trick in geo space): points key on
    * `floor(lat/8°)`; each center explodes to the ≤3 latitude bands
    * that can contain a point within range (800 km = 7.195° of
    * latitude < 7.3 margin < 8° band), the join is a keyed equi-join
    * on the band (centers broadcast — constant-size dim), and the
    * haversine is a residual filter on ~3/22 of the cross product.
    * Complete by construction: |Δlat| ≤ radius bounds the band delta.
    * The DuckDB oracle runs the naive cross join, proving the banded
    * plan equivalent.
    *
    * Cross-engine float care: the formula is mirrored OPERATION-ORDER
    * exact (e.g. `radians(Δ)/2`, never `radians(Δ/2)` — algebraically
    * equal, different rounding), and no transcendental value reaches
    * the output (counts and keys only), so the only divergence surface
    * is a point landing within ~1 ulp of the 800 km cutoff — measured
    * margins are 2.24 km at sf0.01 and 11.6 m at sf0.1, ~10^8 x above
    * any trig-library ulp difference. */
  def geoRadiusJoin(spark: SparkSession, dir: String): DataFrame = {
    val lat = (col("c_custkey") * 37 % 1700) / lit(10.0) - 85.0
    val lon = (col("c_custkey") * 73 % 3500) / lit(10.0) - 175.0
    val pts = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), lat.as("lat"), lon.as("lon"))
      .withColumn("band", floor(col("lat") / 8.0).cast("long"))
    val centers = spark.range(20).select(
      col("id").as("center_id"),
      ((col("id") * 137 % 120) - 60 + 0.5).cast("double").as("clat"),
      ((col("id") * 241 % 340) - 170 + 0.5).cast("double").as("clon"))
    val cb = centers.withColumn("band",
      explode(sequence(
        floor((col("clat") - 7.3) / 8.0).cast("long"),
        floor((col("clat") + 7.3) / 8.0).cast("long"))))
    val dist = lit(2.0) * 6371.0 * asin(sqrt(
      pow(sin(radians(col("clat") - col("lat")) / 2), 2) +
        cos(radians(col("lat"))) * cos(radians(col("clat"))) *
          pow(sin(radians(col("clon") - col("lon")) / 2), 2)))
    pts.join(broadcast(cb), "band")
      .filter(dist <= 800.0)
      .groupBy(col("center_id"))
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"))
  }

  val geoRadiusJoinSql: String =
    """WITH pts AS (SELECT c_custkey,
      |    (c_custkey * 37 % 1700) / 10.0 - 85.0 AS lat,
      |    (c_custkey * 73 % 3500) / 10.0 - 175.0 AS lon
      |  FROM customer),
      |c AS (SELECT i AS center_id,
      |    CAST((i * 137 % 120) - 60 + 0.5 AS DOUBLE) AS clat,
      |    CAST((i * 241 % 340) - 170 + 0.5 AS DOUBLE) AS clon
      |  FROM range(20) t(i)),
      |d AS (SELECT center_id, c_custkey,
      |    2.0 * 6371.0 * asin(sqrt(
      |      power(sin(radians(clat - lat) / 2), 2) +
      |      cos(radians(lat)) * cos(radians(clat)) *
      |      power(sin(radians(clon - lon) / 2), 2))) AS dist
      |  FROM pts CROSS JOIN c)
      |SELECT center_id, COUNT(*) AS n, MIN(c_custkey) AS min_key
      |FROM d WHERE dist <= 800.0 GROUP BY 1""".stripMargin

  /** Convex-polygon vertices for [[geoPolygonFilter]], in integer
    * TENTHS of a degree (x = lon, y = lat), counter-clockwise. Corner
    * cross-products all positive (verified), so the containment test
    * is "left of every edge". */
  val Pentagon: Seq[(Long, Long)] =
    Seq((-300L, -200L), (300L, -250L), (500L, 200L), (0L, 500L), (-450L, 150L))

  /** ES `geo_polygon` query (the geo_shape member of the map-filter
    * family next to the radius join and cell agg): customers inside a
    * fixed convex pentagon, counted per nation. Containment for a
    * CONVEX CCW polygon is "non-negative cross-product against every
    * edge" — five integer multiply-compares over the tenth-of-degree
    * coordinates, all EXACT in long arithmetic (|cross| ≤ ~3.5e6), so
    * no epsilon and no cross-engine float surface at all. Scale:
    * map-only scan work (the five predicates are one codegen
    * conjunction); with a stored geo table the polygon's bounding box
    * is the scan-pushable prefilter — here the coordinates are
    * synthesized from the key, so the conjunction evaluates in the
    * same codegen stage instead. */
  def geoPolygonFilter(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val x = col("c_custkey") * 73 % 3500 - 1750 // lon tenths
    val y = col("c_custkey") * 37 % 1700 - 850  // lat tenths
    val inside = Pentagon.indices.map { i =>
      val (x1, y1) = Pentagon(i)
      val (x2, y2) = Pentagon((i + 1) % Pentagon.size)
      (lit(x2 - x1) * (y - lit(y1)) - lit(y2 - y1) * (x - lit(x1))) >= 0
    }.reduce(_ && _)
    cust.filter(inside)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"))
  }

  val geoPolygonFilterSql: String = {
    val conds = Pentagon.indices.map { i =>
      val (x1, y1) = Pentagon(i)
      val (x2, y2) = Pentagon((i + 1) % Pentagon.size)
      s"(${x2 - x1}) * (y - (${y1})) - (${y2 - y1}) * (x - (${x1})) >= 0"
    }.mkString("\n  AND ")
    s"""WITH p AS (SELECT c_custkey, c_nationkey,
       |    c_custkey * 73 % 3500 - 1750 AS x,
       |    c_custkey * 37 % 1700 - 850 AS y
       |  FROM customer)
       |SELECT c_nationkey, COUNT(*) AS n, MIN(c_custkey) AS min_key
       |FROM p
       |WHERE $conds
       |GROUP BY 1""".stripMargin
  }

  /** Grid-density clustering — DBSCAN's grid-cell approximation (the
    * "hotspot detection" map analytic the reference's Kibana heat map
    * eyeballs, README.md:22-28, made a first-class operator): bucket
    * points into 10° cells, call a cell dense when it holds ≥ 2× the
    * mean occupied-cell population, then merge 8-neighbor-adjacent
    * dense cells into clusters via the SAME pointer-doubling
    * connected-components loop the dedup family runs
    * ([[LlmDedup.connectedComponents]]). Output: one row per cluster
    * (id = min cell key in the component) with its cell and point mass.
    *
    * Point synthesis (testdata has no geo columns): two planted 20°×20°
    * hotspots each holding a third of the keys, over a uniform
    * background third — so the operator provably separates multiple
    * components from noise at every SF, instead of degenerating to one
    * blob on a uniform lattice. All arithmetic is integer mod plus one
    * exact /10.0 — bit-identical cross-engine, so no boundary margin is
    * needed (unlike geohash, both engines run the SAME formula).
    *
    * 100 TB: the corpus-sized work is ONE map-side-partial count into
    * ≤ 648 grid cells; density threshold, adjacency (explode 8 neighbor
    * keys + equi-join — never an all-pairs distance), and the CC loop
    * all run on the grid-bounded cell set, independent of row count. */
  def geoDbscanGrid(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val k = col("c_custkey")
    val lat = when(k % 3 === 0, lit(-60.0) + (k * 37 % 200) / lit(10.0))
      .when(k % 3 === 1, lit(30.0) + (k * 37 % 200) / lit(10.0))
      .otherwise(lit(-85.0) + (k * 37 % 1700) / lit(10.0))
    val lon = when(k % 3 === 0, lit(-100.0) + (k * 73 % 200) / lit(10.0))
      .when(k % 3 === 1, lit(60.0) + (k * 73 % 200) / lit(10.0))
      .otherwise(lit(-175.0) + (k * 73 % 3500) / lit(10.0))
    val cells = cust
      .select(floor(lat / 10.0).cast("long").as("cx"),
        floor(lon / 10.0).cast("long").as("cy"))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n"))
    val mean = cells.agg(
      (sum(col("n")).cast("double") / count(lit(1)).cast("double")).as("mean_n"))
    val dense = cells.crossJoin(broadcast(mean))
      .filter(col("n").cast("double") >= lit(2.0) * col("mean_n"))
      .select(col("cx"), col("cy"), col("n"),
        ((col("cx") + 9L) * 64L + (col("cy") + 18L)).as("cid"))
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1; if dx != 0 || dy != 0 }
      yield struct((col("cx") + dx).as("nx"), (col("cy") + dy).as("ny"))
    val nb = dense
      .select(col("cid").as("x_id"), explode(array(offsets: _*)).as("nb"))
      .select(col("x_id"), col("nb.nx").as("cx"), col("nb.ny").as("cy"))
    val edges = nb
      .join(broadcast(dense.select(col("cx"), col("cy"), col("cid").as("y_id"))),
        Seq("cx", "cy"))
      .filter(col("x_id") < col("y_id"))
      .select(col("x_id"), col("y_id"))
    // isolated dense cells never appear in an edge — register every
    // dense cell as a vertex via a self-pair so it survives as a
    // singleton cluster
    val selfPairs = dense.select(col("cid").as("x_id"), col("cid").as("y_id"))
    val labels = LlmDedup.connectedComponents(edges.unionByName(selfPairs))
    labels.join(broadcast(dense), labels("doc_id") === dense("cid"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).cast("long").as("n_points"))
  }

  val geoDbscanGridSql: String =
    """WITH RECURSIVE pts AS (SELECT
      |    CASE c_custkey % 3
      |      WHEN 0 THEN -60.0 + (c_custkey * 37 % 200) / 10.0
      |      WHEN 1 THEN 30.0 + (c_custkey * 37 % 200) / 10.0
      |      ELSE -85.0 + (c_custkey * 37 % 1700) / 10.0 END AS lat,
      |    CASE c_custkey % 3
      |      WHEN 0 THEN -100.0 + (c_custkey * 73 % 200) / 10.0
      |      WHEN 1 THEN 60.0 + (c_custkey * 73 % 200) / 10.0
      |      ELSE -175.0 + (c_custkey * 73 % 3500) / 10.0 END AS lon
      |  FROM customer),
      |cells AS (SELECT CAST(FLOOR(lat / 10.0) AS BIGINT) AS cx,
      |    CAST(FLOOR(lon / 10.0) AS BIGINT) AS cy, COUNT(*) AS n
      |  FROM pts GROUP BY 1, 2),
      |m AS (SELECT CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_n
      |  FROM cells),
      |dense AS (SELECT cx, cy, n, (cx + 9) * 64 + (cy + 18) AS cid
      |  FROM cells, m WHERE CAST(n AS DOUBLE) >= 2.0 * mean_n),
      |edges AS (SELECT a.cid AS src, b.cid AS dst FROM dense a JOIN dense b
      |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
      |  AND a.cid <> b.cid),
      |reach AS (SELECT cid, cid AS lab FROM dense
      |  UNION
      |  SELECT e.dst AS cid, r.lab FROM reach r JOIN edges e ON e.src = r.cid),
      |comp AS (SELECT cid, MIN(lab) AS cluster_id FROM reach GROUP BY cid)
      |SELECT cluster_id, COUNT(*) AS n_cells,
      |  CAST(SUM(n) AS BIGINT) AS n_points
      |FROM comp JOIN dense USING (cid) GROUP BY 1""".stripMargin

  /** Bounded k-nearest-neighbor spatial join — the store-locator /
    * "nearest facility" shape that completes the spatial-join family
    * (radius join = "everything within R"; this = "the K closest
    * within R", ES `geo_distance` sort + size): for every customer,
    * the [[KnnK]] nearest suppliers within [[KnnRadiusKm]], ranked.
    *
    * Same scale architecture as [[geoRadiusJoin]]: the radius bound is
    * what makes exact kNN scale-safe — candidates come from a keyed
    * equi-join on ≤3 latitude bands (800 km = 7.195° < 7.3 margin
    * < 8° band, complete by construction), never a cross join; the
    * per-customer top-K is a rank ≤ K filter over a (customer)-keyed
    * window, which Spark 4 executes as WindowGroupLimit — each
    * partition pre-trims to K candidates per customer before the final
    * rank, so the window never materializes the full candidate list.
    * The supplier side (the POI dim) broadcasts with its band key.
    *
    * Cross-engine float care (the geoRadiusJoin contract): haversine
    * mirrored operation-order exact; ranking is (dist, s_suppkey) and
    * the output distance is fenced round(…,3). The ONLY divergence
    * surface is two distinct distances within ~1 ulp at a rank-K
    * boundary: measured adjacent-rank gaps are 25.1 km at sf0.001,
    * 283 m at sf0.01, 1.83 m at sf0.1 — ≥10⁹× above trig-library ulp
    * differences (same class as the radius join's cutoff margins;
    * re-audit when fixtures change). */
  def geoKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val lat = (col("c_custkey") * 37 % 1700) / lit(10.0) - 85.0
    val lon = (col("c_custkey") * 73 % 3500) / lit(10.0) - 175.0
    val pts = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), lat.as("lat"), lon.as("lon"))
      .withColumn("band", floor(col("lat") / 8.0).cast("long"))
    val slat = (col("s_suppkey") * 41 % 1700) / lit(10.0) - 85.0
    val slon = (col("s_suppkey") * 79 % 3500) / lit(10.0) - 175.0
    // The supplier dim explodes to every band it can serve (≤3), so
    // the probe is a single equi-join on band.
    val sb = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), slat.as("slat"), slon.as("slon"))
      .withColumn("band",
        explode(sequence(
          floor((col("slat") - 7.3) / 8.0).cast("long"),
          floor((col("slat") + 7.3) / 8.0).cast("long"))))
    val dist = lit(2.0) * 6371.0 * asin(sqrt(
      pow(sin(radians(col("slat") - col("lat")) / 2), 2) +
        cos(radians(col("lat"))) * cos(radians(col("slat"))) *
          pow(sin(radians(col("slon") - col("lon")) / 2), 2)))
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("dist").asc, col("s_suppkey").asc)
    pts.join(broadcast(sb), "band")
      .withColumn("dist", dist)
      .filter(col("dist") <= KnnRadiusKm)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KnnK)
      .select(col("c_custkey"), col("rn").cast("long").as("knn_rank"),
        col("s_suppkey"), round(col("dist"), 3).as("dist_km"))
  }

  private val KnnK = 3
  private val KnnRadiusKm = 800.0

  val geoKnnJoinSql: String =
    s"""WITH cp AS (SELECT c_custkey,
       |    (c_custkey * 37 % 1700) / 10.0 - 85.0 AS lat,
       |    (c_custkey * 73 % 3500) / 10.0 - 175.0 AS lon
       |  FROM customer),
       |sp AS (SELECT s_suppkey,
       |    (s_suppkey * 41 % 1700) / 10.0 - 85.0 AS slat,
       |    (s_suppkey * 79 % 3500) / 10.0 - 175.0 AS slon
       |  FROM supplier),
       |d AS (SELECT c_custkey, s_suppkey,
       |    2.0 * 6371.0 * asin(sqrt(
       |      power(sin(radians(slat - lat) / 2), 2) +
       |      cos(radians(lat)) * cos(radians(slat)) *
       |      power(sin(radians(slon - lon) / 2), 2))) AS dist
       |  FROM cp CROSS JOIN sp),
       |r AS (SELECT c_custkey, s_suppkey, dist,
       |    row_number() OVER (PARTITION BY c_custkey
       |                       ORDER BY dist ASC, s_suppkey ASC) AS rn
       |  FROM d WHERE dist <= $KnnRadiusKm)
       |SELECT c_custkey, rn AS knn_rank, s_suppkey,
       |  round(dist, 3) AS dist_km
       |FROM r WHERE rn <= $KnnK""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("geo_cell_agg", geoCellAgg, geoCellAggSql),
    Entry("geo_radius_join", geoRadiusJoin, geoRadiusJoinSql),
    Entry("geo_polygon_filter", geoPolygonFilter, geoPolygonFilterSql),
    Entry("geo_dbscan_grid", geoDbscanGrid, geoDbscanGridSql),
    Entry("geo_knn_join", geoKnnJoin, geoKnnJoinSql))
}
