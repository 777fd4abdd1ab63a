package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{CasesIngest, GeoExtend, SourceSpec}

/** Correctness queries over the EP1 ingestion pipeline
  * ([[graft.ingest.CasesIngest]]); the DuckDB oracles replicate the whole
  * pipeline — synonym coalesce, 3-format date parse with ISO-week
  * expansion, geo-dim melt + first-wins dedup + alias/poison join,
  * validity filter — in SQL over `read_csv` on the same fixture files, so
  * every normalization rule is independently cross-checked.
  */
object Ingestion {

  private val a = s"${CasesIngest.FixtureDir}/contamination_a.csv"
  private val b = s"${CasesIngest.FixtureDir}/vaccination_b.csv"
  private val lk = CasesIngest.LookupPath

  /** Shared oracle prefix: raw union → normalize → dates → alias/poison →
    * casts → dim melt/dedup → canonical join. */
  private val canonCte: String = {
    val wkMon =
      """make_date(CAST(substr(d0,1,4) AS INT),1,4)
        |       - CAST(isodow(make_date(CAST(substr(d0,1,4) AS INT),1,4)) - 1 AS INT)
        |       + (CAST(regexp_extract(d0,'W(\d+)',1) AS INT) - 1) * 7""".stripMargin
    s"""raw AS (
       |  SELECT * FROM read_csv('$a', delim=',', header=true, all_varchar=true, filename=true)
       |  UNION ALL BY NAME
       |  SELECT * FROM read_csv('$b', delim=';', header=true, all_varchar=true, filename=true)),
       |norm AS (SELECT
       |    coalesce(nullif(trim(YearWeekISO),''), nullif(trim(dateRep),'')) AS date_raw,
       |    coalesce(nullif(trim(ReportingCountry),''), nullif(trim(countriesAndTerritories),'')) AS loc_raw,
       |    coalesce(nullif(trim(NumberDosesReceived),''), nullif(trim(cases),'')) AS val_raw,
       |    coalesce(nullif(trim(population),''), nullif(trim(popData2020),'')) AS pop_raw,
       |    regexp_extract(filename, '([^/]+)${"$"}', 1) AS fname
       |  FROM raw),
       |d1 AS (SELECT *, replace(date_raw, '/', '-') AS d0 FROM norm),
       |d2 AS (SELECT *,
       |    CASE WHEN regexp_matches(d0, '^\\d{4}-W\\d{1,2}${"$"}') THEN $wkMon
       |         WHEN regexp_matches(d0, '^\\d{2}-\\d{2}-\\d{4}${"$"}') THEN strptime(d0, '%d-%m-%Y')::DATE
       |         WHEN regexp_matches(d0, '^\\d{4}-\\d{2}-\\d{2}${"$"}') THEN strptime(d0, '%Y-%m-%d')::DATE
       |         WHEN regexp_matches(d0, '^[A-Z][a-z]+ \\d{2}, \\d{4}${"$"}') THEN strptime(d0, '%B %d, %Y')::DATE
       |    END AS date_start,
       |    CASE WHEN regexp_matches(d0, '^\\d{4}-W\\d{1,2}${"$"}') THEN $wkMon + 6 END AS wk_end
       |  FROM d1),
       |d3 AS (SELECT *, COALESCE(wk_end, date_start) AS date_end,
       |    CASE WHEN loc_raw='World' THEN NULL
       |         WHEN loc_raw='EL' THEN 'Greece' ELSE loc_raw END AS loc,
       |    COALESCE(TRY_CAST(val_raw AS BIGINT), 0) AS v,
       |    TRY_CAST(pop_raw AS BIGINT) AS pop,
       |    (fname LIKE 'vacc%') AS is_vacc
       |  FROM d2),
       |lk0 AS (SELECT * FROM read_csv('$lk', header=true, all_varchar=true)),
       |melt AS (
       |  SELECT nullif(trim(Province_State),'') AS name, TRY_CAST(UID AS BIGINT) AS uid,
       |         iso2, TRY_CAST(Lat AS DOUBLE) AS lat, TRY_CAST(Long_ AS DOUBLE) AS lon FROM lk0
       |  UNION ALL
       |  SELECT nullif(trim(Country_Region),''), TRY_CAST(UID AS BIGINT),
       |         iso2, TRY_CAST(Lat AS DOUBLE), TRY_CAST(Long_ AS DOUBLE) FROM lk0
       |  UNION ALL
       |  SELECT nullif(trim(Combined_Key),''), TRY_CAST(UID AS BIGINT),
       |         iso2, TRY_CAST(Lat AS DOUBLE), TRY_CAST(Long_ AS DOUBLE) FROM lk0),
       |dim AS (SELECT * FROM melt
       |        WHERE name IS NOT NULL AND lat IS NOT NULL AND lon IS NOT NULL
       |        QUALIFY row_number() OVER (PARTITION BY name ORDER BY uid ASC) = 1),
       |canon AS (SELECT va.fname AS filename, dim.name AS location_name,
       |    dim.iso2 AS iso_code2, dim.lat, dim.lon,
       |    va.date_start, va.date_end, va.pop AS max_population,
       |    CASE WHEN NOT va.is_vacc THEN va.v END AS confirmed,
       |    CASE WHEN va.is_vacc THEN va.v END AS vaccinated,
       |    CASE WHEN va.pop IS NOT NULL AND va.pop <> 0
       |         THEN CAST(va.v AS DOUBLE) / CAST(va.pop AS DOUBLE) * 100 END AS percentage,
       |    CASE WHEN va.is_vacc THEN 'vaccination' ELSE 'contamination' END AS source_index
       |  FROM d3 va JOIN dim ON va.loc = dim.name
       |  WHERE va.date_start IS NOT NULL)""".stripMargin
  }

  private def canonOut(df: DataFrame): DataFrame =
    df.select(
      col("filename"), col("location_name"), col("iso_code2"),
      date_format(col("date_start"), "yyyy-MM-dd").as("date_start"),
      date_format(col("date_end"), "yyyy-MM-dd").as("date_end"),
      col("confirmed"), col("vaccinated"), col("max_population"), col("percentage"))

  /** The canonical normalized rows (P1 projection over the whole EP1
    * chain) — one row per surviving input record. */
  def casesNorm(spark: SparkSession, dir: String): DataFrame =
    canonOut(CasesIngest.canonicalCases(spark))

  val casesNormSql: String =
    s"""WITH $canonCte
       |SELECT filename, location_name, iso_code2,
       |  strftime(date_start, '%Y-%m-%d') AS date_start,
       |  strftime(date_end, '%Y-%m-%d') AS date_end,
       |  confirmed, vaccinated, max_population, percentage
       |FROM canon""".stripMargin

  /** A1 over the ingested lake: totals per country (the Kibana world-map
    * query over our own ingestion output). */
  def casesByCountry(spark: SparkSession, dir: String): DataFrame =
    CasesIngest.canonicalCases(spark)
      .groupBy(col("iso_code2"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("confirmed")).as("sum_confirmed"),
        sum(col("vaccinated")).as("sum_vaccinated"),
        min(date_format(col("date_start"), "yyyy-MM-dd")).as("first_date"),
        max(date_format(col("date_end"), "yyyy-MM-dd")).as("last_date"))

  val casesByCountrySql: String =
    s"""WITH $canonCte
       |SELECT iso_code2, COUNT(*) AS n_rows,
       |  CAST(SUM(confirmed) AS BIGINT) AS sum_confirmed,
       |  CAST(SUM(vaccinated) AS BIGINT) AS sum_vaccinated,
       |  MIN(strftime(date_start, '%Y-%m-%d')) AS first_date,
       |  MAX(strftime(date_end, '%Y-%m-%d')) AS last_date
       |FROM canon GROUP BY iso_code2""".stripMargin

  /** K2 exercised end-to-end: write the canonical table as a partitioned
    * Parquet lake (the versioned marker-file commit), read the committed
    * version back, aggregate per partition — the reference's
    * index-pattern stats (A6) over our partition layout. */
  def lakeRoundtrip(spark: SparkSession, dir: String): DataFrame =
    graft.Fixtures.withRunRoot("lake_rt") { lake =>
      CasesIngest.writeLake(CasesIngest.canonicalCases(spark), lake)
      graft.LakeCommit.read(spark, lake)
        .groupBy(col("source_index"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(coalesce(col("confirmed"), lit(0L)) + coalesce(col("vaccinated"), lit(0L)))
            .as("total_value"))
    }

  val lakeRoundtripSql: String =
    s"""WITH $canonCte
       |SELECT source_index, COUNT(*) AS n_rows,
       |  CAST(SUM(COALESCE(confirmed, 0) + COALESCE(vaccinated, 0)) AS BIGINT) AS total_value
       |FROM canon GROUP BY source_index""".stripMargin

  /** Partition-pruned lake scan — the Spark equivalent of the reference's
    * index-pattern queries (`news_*`/`contamination_owid_*`,
    * SearchUI.js:6): the `source_index = 'vaccination'` predicate prunes
    * whole partition directories before any file is opened
    * (PruneFileSourcePartitions; asserted in IngestGoldenSpec). */
  def lakePruned(spark: SparkSession, dir: String): DataFrame =
    graft.Fixtures.withRunRoot("lake_pruned") { lake =>
      CasesIngest.writeLake(CasesIngest.canonicalCases(spark), lake)
      graft.LakeCommit.read(spark, lake)
        .filter(col("source_index") === "vaccination")
        .groupBy(col("iso_code2"))
        .agg(sum(col("vaccinated")).as("sum_vaccinated"))
    }

  val lakePrunedSql: String =
    s"""WITH $canonCte
       |SELECT iso_code2, CAST(SUM(vaccinated) AS BIGINT) AS sum_vaccinated
       |FROM canon WHERE source_index = 'vaccination'
       |GROUP BY iso_code2""".stripMargin

  /** P5 tail end-to-end: ingest a source whose locations are partly
    * unknown to the geo dim, with the [[GeoExtend]] dim-extension job in
    * between — previously-dropped rows (Atlantis, Narnia) resolve on the
    * re-ingest; names the job can't place (Mu) still drop, as does
    * the World poison. The oracle replays the whole loop in SQL with the
    * job's placing formula inlined. */
  def geoExtendIngest(spark: SparkSession, dir: String): DataFrame = {
    val dim = CasesIngest.geoDim(spark)
    val ext = GeoExtend.extension(spark, Seq(CasesIngest.extendSpec), dim)
    SourceSpec.ingest(spark, CasesIngest.extendSpec, GeoExtend.extendedDim(dim, ext))
      .select(
        col("location_name"), col("iso_code2"),
        col("location.lat").as("lat"), col("location.lon").as("lon"),
        date_format(col("date_start"), "yyyy-MM-dd").as("date_start"),
        col("confirmed"))
  }

  val geoExtendSql: String = {
    val x = s"${CasesIngest.FixtureDir}/contamination_x.csv"
    s"""WITH rawx AS (
       |  SELECT * FROM read_csv('$x', delim=',', header=true, all_varchar=true)),
       |normx AS (SELECT
       |    nullif(trim(dateRep),'') AS date_raw,
       |    nullif(trim(countriesAndTerritories),'') AS loc_raw,
       |    nullif(trim(cases),'') AS val_raw
       |  FROM rawx),
       |dx AS (SELECT
       |    CASE WHEN loc_raw='World' THEN NULL
       |         WHEN loc_raw='EL' THEN 'Greece' ELSE loc_raw END AS loc,
       |    strptime(replace(date_raw,'/','-'), '%Y-%m-%d')::DATE AS date_start,
       |    COALESCE(TRY_CAST(val_raw AS BIGINT), 0) AS v
       |  FROM normx),
       |lk0 AS (SELECT * FROM read_csv('${CasesIngest.LookupPath}', header=true, all_varchar=true)),
       |melt AS (
       |  SELECT nullif(trim(Province_State),'') AS name, TRY_CAST(UID AS BIGINT) AS uid,
       |         iso2, TRY_CAST(Lat AS DOUBLE) AS lat, TRY_CAST(Long_ AS DOUBLE) AS lon FROM lk0
       |  UNION ALL
       |  SELECT nullif(trim(Country_Region),''), TRY_CAST(UID AS BIGINT),
       |         iso2, TRY_CAST(Lat AS DOUBLE), TRY_CAST(Long_ AS DOUBLE) FROM lk0
       |  UNION ALL
       |  SELECT nullif(trim(Combined_Key),''), TRY_CAST(UID AS BIGINT),
       |         iso2, TRY_CAST(Lat AS DOUBLE), TRY_CAST(Long_ AS DOUBLE) FROM lk0),
       |dim AS (SELECT * FROM melt
       |        WHERE name IS NOT NULL AND lat IS NOT NULL AND lon IS NOT NULL
       |        QUALIFY row_number() OVER (PARTITION BY name ORDER BY uid ASC) = 1),
       |unres AS (SELECT DISTINCT loc FROM dx
       |          WHERE loc IS NOT NULL AND loc NOT IN (SELECT name FROM dim)),
       |ext AS (SELECT loc AS name, upper(substr(loc,1,2)) AS iso2,
       |               CAST(length(loc) AS DOUBLE) AS lat,
       |               CAST(ascii(substr(loc,1,1)) AS DOUBLE) AS lon
       |        FROM unres WHERE length(loc) > 3),
       |dim2 AS (SELECT name, iso2, lat, lon FROM dim
       |         UNION ALL SELECT name, iso2, lat, lon FROM ext)
       |SELECT dim2.name AS location_name, dim2.iso2 AS iso_code2,
       |  dim2.lat, dim2.lon,
       |  strftime(dx.date_start, '%Y-%m-%d') AS date_start,
       |  dx.v AS confirmed
       |FROM dx JOIN dim2 ON dx.loc = dim2.name
       |WHERE dx.date_start IS NOT NULL""".stripMargin
  }

  /** SCD Type-2 dimension merge: apply a change batch to a versioned
    * dimension, KEEPING history — each change closes the key's open row
    * (`valid_to` = effective date) and opens a new one; new keys insert
    * an open row; untouched keys pass through. The reference full-
    * refreshes its dims (insert_owid.py drop-and-reload) and the T2
    * upsert replaces in place; SCD2 is the third maintenance mode — the
    * one an auditable 100 TB lake wants for dims whose past must stay
    * queryable ("what region was this nation in when the order shipped").
    *
    * Shape: one inner join (close), one anti join (pass-through /
    * insert), one union — every leg keyed on the dimension key, change
    * batch broadcast-sized in practice. Nothing iterative, no window.
    *
    * Inputs are deterministic derivations of `nation` (the "current
    * dim" opens at 2020-01-01; the change batch re-homes every third
    * nation and adds key 990), so the oracle mirrors them exactly. */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val eff = "2021-06-01"
    val nation = graft.Tables.load(spark, dir, "nation")
    val dim = nation.select(
      col("n_nationkey").as("key"), col("n_name").as("name"),
      col("n_regionkey").as("region"),
      lit("2020-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"))
    val changes = nation
      .filter(col("n_nationkey") % 3 === 0)
      .select(col("n_nationkey").as("key"), col("n_name").as("name"),
        (col("n_regionkey") + 1).as("region"))
      .unionByName(spark.range(990, 991)
        .select(col("id").cast("int").as("key"),
          lit("NEWLAND").as("name"), lit(9).as("region")))
    val closed = dim.join(changes.select(col("key")), Seq("key"))
      .withColumn("valid_to", lit(eff))
    val untouched = dim.join(changes.select(col("key")), Seq("key"), "left_anti")
    val opened = changes
      .withColumn("valid_from", lit(eff))
      .withColumn("valid_to", lit(null).cast("string"))
    untouched.unionByName(closed).unionByName(opened)
      .select(col("key"), col("name"), col("region").cast("long").as("region"),
        col("valid_from"), col("valid_to"))
  }

  val scd2MergeSql: String =
    """WITH dim AS (SELECT n_nationkey AS key, n_name AS name,
      |    n_regionkey AS region,
      |    '2020-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      |  FROM nation),
      |changes AS (SELECT n_nationkey AS key, n_name AS name,
      |    n_regionkey + 1 AS region FROM nation WHERE n_nationkey % 3 = 0
      |  UNION ALL SELECT 990, 'NEWLAND', 9),
      |closed AS (SELECT dim.key, dim.name, dim.region, dim.valid_from,
      |    '2021-06-01' AS valid_to
      |  FROM dim JOIN changes ON dim.key = changes.key),
      |untouched AS (SELECT dim.* FROM dim
      |  ANTI JOIN changes ON dim.key = changes.key),
      |opened AS (SELECT key, name, region,
      |    '2021-06-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      |  FROM changes)
      |SELECT key, name, CAST(region AS BIGINT) AS region, valid_from, valid_to
      |FROM (SELECT * FROM untouched UNION ALL
      |      SELECT * FROM closed UNION ALL
      |      SELECT * FROM opened)""".stripMargin

  /** Compaction end-to-end over real data: a deliberately fragmented
    * versioned lake of `orders` (64 shuffle-partition part files) is
    * compacted ([[graft.operators.Compaction.compactLake]] — scan
    * bin-packing into target-size partitions, no shuffle) and the
    * COMPACTED version aggregated; the oracle recomputes from the
    * source table directly, so any row the rewrite loses or doubles
    * hash-mismatches. The ≥10x file-count drop itself is asserted in
    * CompactionSpec (not SQL-expressible). */
  def compactionRoundtrip(spark: SparkSession, dir: String): DataFrame =
    graft.Fixtures.withRunRoot("compact_rt") { lake =>
      val orders = graft.Tables.load(spark, dir, "orders")
      graft.LakeCommit.commit(orders.repartition(64), lake)
      val report = graft.operators.Compaction.compactLake(spark, lake)
      spark.read.parquet(report.dataDir)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          // DECIMAL fence per the catalog convention (Relational.scala:16):
          // a raw DOUBLE sum drifts with partition fold order (64 files
          // here) and hash-mismatches DuckDB; exact decimal agg, then one
          // cast.
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    }

  val compactionSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Z-order layout audit `ing_lake_zorder`: Morton values over
    * (o_custkey, days-since-1992) — the two dimensions a lake would
    * cluster on for customer- AND time-selective pruning — bucketed by
    * their top 5 bits (the 32 coarse Z-tiles a writer would bin files
    * by). `sum_z` pins the exact interleave cross-engine (the 32-term
    * bit arithmetic is mirrored verbatim in SQL); the per-bucket
    * min/max of BOTH source dimensions exhibits the locality rectangle
    * each tile covers. The file-level pruning effect is measured in
    * ZOrderSpec (file stats aren't SQL-expressible). */
  def lakeZorder(spark: SparkSession, dir: String): DataFrame = {
    val Z = graft.operators.ZOrder
    val orders = graft.Tables.load(spark, dir, "orders")
      .withColumn("day", to_date(col("o_orderdate")))
      .withColumn("yd",
        datediff(col("day"), lit("1992-01-01").cast("date")).cast("long"))
    // domain bounds: what a real Z-order writer computes before binning
    // (one row, broadcast — the k-centroid/bounded-fold tier)
    val bounds = orders.agg(
      min(col("o_custkey")).as("cmin"), max(col("o_custkey")).as("cmax"),
      min(col("yd")).as("dmin"), max(col("yd")).as("dmax"))
    orders.crossJoin(broadcast(bounds))
      .withColumn("z", Z.zValue(
        Z.norm(col("o_custkey"), col("cmin"), col("cmax")),
        Z.norm(col("yd"), col("dmin"), col("dmax"))))
      .withColumn("bucket", shiftrightunsigned(col("z"), 2 * Z.Bits - 5))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("z")).as("sum_z"),
        min(col("o_custkey")).as("min_cust"),
        max(col("o_custkey")).as("max_cust"),
        // formatted strings per the catalog determinism rules
        date_format(min(col("day")), "yyyy-MM-dd").as("min_date"),
        date_format(max(col("day")), "yyyy-MM-dd").as("max_date"))
  }

  val lakeZorderSql: String = {
    val bits = graft.operators.ZOrder.Bits
    val top = (1L << bits) - 1
    val z = graft.operators.ZOrder.zValueSql(
      s"((o_custkey - cmin) * $top) // greatest(cmax - cmin, 1)",
      s"((yd - dmin) * $top) // greatest(dmax - dmin, 1)")
    s"""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
       |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS yd
       |  FROM orders),
       |b AS (SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
       |        MIN(yd) AS dmin, MAX(yd) AS dmax FROM o),
       |z AS (SELECT o_custkey, day, $z AS z FROM o CROSS JOIN b)
       |SELECT (z >> ${2 * bits - 5}) AS bucket,
       |  COUNT(*) AS n, CAST(SUM(z) AS BIGINT) AS sum_z,
       |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
       |  strftime(MIN(day), '%Y-%m-%d') AS min_date,
       |  strftime(MAX(day), '%Y-%m-%d') AS max_date
       |FROM z GROUP BY 1""".stripMargin
  }

  /** Snapshot change-detection diff (CDC feed): given two versions of
    * the orders table — the "previous" load missing keys ≡ 3 (mod 10),
    * the "current" load missing keys ≡ 7 and re-pricing keys ≡ 5 — emit
    * one row per differing key classified added / removed / changed.
    * This is the DETECTION half of slowly-changing ingestion (the
    * APPLYING half is ing_scd2_merge): a lake refresh that wants a
    * change feed without the source providing one diffs the snapshots.
    *
    * Plan: one full-outer join on the key — both sides hash-partition
    * on o_orderkey, so at 100 TB this is a co-partitioned sort-merge,
    * never a broadcast of a snapshot. 'changed' compares the tracked
    * column as exact DECIMAL(18,2) (the money convention), so no float
    * equality enters the classification; unchanged keys are dropped
    * post-join. The synthetic deltas are mod-arithmetic on the key, so
    * the oracle regenerates both snapshots independently. */
  def cdcDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)").as("price"))
    val prev = o.filter(col("o_orderkey") % 10 =!= 3)
    val cur = o.filter(col("o_orderkey") % 10 =!= 7)
      .withColumn("price",
        when(col("o_orderkey") % 10 === 5, col("price") + lit(1).cast("decimal(18,2)"))
          .otherwise(col("price")))
    prev.select(col("o_orderkey"), col("price").as("prev_price"))
      .join(cur.select(col("o_orderkey"), col("price").as("cur_price")),
        Seq("o_orderkey"), "full_outer")
      .withColumn("status",
        when(col("prev_price").isNull, "added")
          .when(col("cur_price").isNull, "removed")
          .when(col("prev_price") =!= col("cur_price"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("o_orderkey"), col("status"),
        col("prev_price").cast("double").as("prev_price"),
        col("cur_price").cast("double").as("cur_price"))
  }

  val cdcDiffSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders),
      |prev AS (SELECT o_orderkey, price AS prev_price FROM o WHERE o_orderkey % 10 != 3),
      |cur AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 10 = 5 THEN price + CAST(1 AS DECIMAL(18,2))
      |         ELSE price END AS cur_price
      |  FROM o WHERE o_orderkey % 10 != 7),
      |d AS (SELECT COALESCE(prev.o_orderkey, cur.o_orderkey) AS o_orderkey,
      |    prev_price, cur_price,
      |    CASE WHEN prev_price IS NULL THEN 'added'
      |         WHEN cur_price IS NULL THEN 'removed'
      |         WHEN prev_price != cur_price THEN 'changed' END AS status
      |  FROM prev FULL OUTER JOIN cur ON prev.o_orderkey = cur.o_orderkey)
      |SELECT o_orderkey, status,
      |  CAST(prev_price AS DOUBLE) AS prev_price,
      |  CAST(cur_price AS DOUBLE) AS cur_price
      |FROM d WHERE status IS NOT NULL""".stripMargin

  /** Time travel over the versioned lake (K2's commit protocol,
    * [[graft.LakeCommit]]): commit two snapshots of orders — v1 the
    * 'F' slice, v2 everything else — then read BOTH v1 (via
    * `readVersion`, after it is no longer current) and v2 (via the
    * normal current-version read), proving a reader can pin any
    * retained snapshot. The aggregate unions the two pinned reads; the
    * oracle recomputes each slice from the source table, so the check
    * covers commit → supersede → time-travel-read end-to-end. Scale:
    * time travel is pure METADATA — resolving a version is one marker
    * lookup; the data dirs are immutable, so a pinned old-version scan
    * plans exactly like any parquet scan. */
  def lakeTimetravel(spark: SparkSession, dir: String): DataFrame =
    // a fresh run directory per call: deterministic version numbering
    graft.Fixtures.withRunRoot("lake_tt") { lake =>
      val o = graft.Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.LakeCommit.commit(o.filter(col("o_orderstatus") === "F"), lake, keepVersions = 3)
      graft.LakeCommit.commit(o.filter(col("o_orderstatus") =!= "F"), lake, keepVersions = 3)
      val v1 = graft.LakeCommit.readVersion(spark, lake, 1L)
      val cur = graft.LakeCommit.read(spark, lake)
      v1.withColumn("version", lit(1L))
        .unionByName(cur.withColumn("version", lit(2L)))
        .groupBy(col("version"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
    }

  val lakeTimetravelSql: String =
    """SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM orders WHERE o_orderstatus != 'F'""".stripMargin

  /** Schema evolution on the lake: an old file vintage written with
    * (custkey, acctbal) and a newer vintage with an added
    * c_mktsegment column coexist in one table; `mergeSchema` reads
    * them as one relation with NULL for the pre-evolution rows — the
    * additive-column migration every long-lived lake performs without
    * rewriting history. The aggregate groups by the evolved column
    * with the NULL bucket kept visible. Scale: schema merge is a
    * footer-metadata union (per-file schemas reconciled at planning);
    * no data is rewritten and the scan stays columnar — the absent
    * column materializes as nulls per batch. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame =
    graft.Fixtures.withRunRoot("lake_evo") { base =>
      val c = graft.Tables.load(spark, dir, "customer")
      c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_acctbal"))
        .write.mode("overwrite").parquet(s"$base/d")
      c.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        .write.mode("append").parquet(s"$base/d")
      spark.read.option("mergeSchema", "true").parquet(s"$base/d")
        .groupBy(coalesce(col("c_mktsegment"), lit("(pre-evolution)")).as("segment"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
    }

  val schemaEvolutionSql: String =
    """WITH merged AS (
      |  SELECT c_custkey, c_acctbal, NULL AS c_mktsegment
      |    FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal, c_mktsegment
      |    FROM customer WHERE c_custkey % 2 = 1)
      |SELECT COALESCE(c_mktsegment, '(pre-evolution)') AS segment,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      |FROM merged GROUP BY 1""".stripMargin

  /** Incremental view maintenance: a per-key-class aggregate (n, total)
    * over the orders snapshot is MAINTAINED under the CDC feed instead
    * of recomputed — base aggregate + per-class deltas derived from the
    * feed verbs (added: +row, removed: −row, changed: ±price delta).
    * Count and SUM are self-maintainable aggregates, so the update is
    * O(|Δ|): at 100 TB the recompute touches the corpus, the
    * maintenance touches only the day's feed — this is the difference
    * between a nightly full pass and a minutes-long refresh.
    * Everything folds in DECIMAL(18,2), so base+delta is exact and the
    * maintained result HASH-EQUALS the from-scratch aggregate of the
    * current snapshot, which is exactly what the oracle computes —
    * the equivalence IS the correctness claim of IVM. Classes whose
    * rows vanish entirely (removed ≡ 7 mod 10) must leave, so the
    * maintained view filters n > 0. */
  def ivmAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val cls = (col("o_orderkey") % 10).as("key_class")
    val base = o.filter(col("o_orderkey") % 10 =!= 3)
      .groupBy(cls)
      .agg(count(lit(1)).as("n"), sum(col("price")).as("total"))
    val feed = cdcDiff(spark, dir) // o_orderkey, status, prev_price, cur_price
    val delta = feed
      .select((col("o_orderkey") % 10).as("key_class"),
        when(col("status") === "added", 1L)
          .when(col("status") === "removed", -1L)
          .otherwise(0L).as("dn"),
        (coalesce(col("cur_price"), lit(0.0)).cast("decimal(18,2)") -
          coalesce(col("prev_price"), lit(0.0)).cast("decimal(18,2)")).as("dtotal"))
      .groupBy(col("key_class"))
      .agg(sum(col("dn")).as("dn"), sum(col("dtotal")).as("dtotal"))
    base.join(delta, Seq("key_class"), "full_outer")
      .select(col("key_class"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0).cast("decimal(18,2)")) +
          coalesce(col("dtotal"), lit(0).cast("decimal(18,2)"))).as("total"))
      .filter(col("n") > 0)
      .select(col("key_class"), col("n"), col("total").cast("double").as("total"))
  }

  /** Oracle = the from-scratch aggregate of the CURRENT snapshot: the
    * maintained view must be indistinguishable from a recompute. */
  val ivmAggSql: String =
    """WITH cur AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 10 = 5
      |         THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1 AS DECIMAL(18,2))
      |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      |  FROM orders WHERE o_orderkey % 10 != 7)
      |SELECT o_orderkey % 10 AS key_class, COUNT(*) AS n,
      |  CAST(SUM(price) AS DOUBLE) AS total
      |FROM cur GROUP BY 1""".stripMargin

  /** Retention purge — the ops obligation every long-lived lake has
    * (age-based retention + per-user erasure, the GDPR shape): events
    * older than 7 days before the corpus max, and all events of the
    * banned user cohort (user_id ≡ 13 mod 100), are purged by rewrite;
    * the kept set lands via the versioned commit with keepVersions = 1
    * — DELIBERATE, because a purge that leaves the data readable in a
    * retained prior version hasn't purged anything; GC destroys the
    * old version dirs at commit time. The reported kept counts come
    * from the LAKE READ-BACK (materialization proven, not inferred);
    * the purge classes are disjoint by construction (age first, then
    * user-within-window), so the three columns partition the source.
    * At 100 TB a date-partitioned lake turns the age purge into
    * partition drops; the user purge is the rewrite path shown here. */
  def retentionPurge(spark: SparkSession, dir: String): DataFrame =
    graft.Fixtures.withRunRoot("lake_purge") { lake =>
      val ev = graft.Tables.load(spark, dir, "events")
      val cut = ev.agg(expr("max(ts) - INTERVAL 7 DAYS").as("cutoff"))
      val evC = ev.crossJoin(broadcast(cut))
      val kept = evC.filter(col("ts") >= col("cutoff") && col("user_id") % 100 =!= 13)
        .select(ev.columns.map(col).toSeq: _*)
      graft.LakeCommit.commit(kept, lake, keepVersions = 1)
      val keptBack = graft.LakeCommit.read(spark, lake)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_kept"))
      val purged = evC.groupBy(col("event_type")).agg(
        count(when(col("ts") < col("cutoff"), 1)).as("n_purged_age"),
        count(when(col("ts") >= col("cutoff") && col("user_id") % 100 === 13, 1))
          .as("n_purged_user"))
      // full_outer: an event_type whose rows are ALL purged has zero kept
      // rows and would vanish from an inner join, while the oracle's
      // per-type FILTER counts still emit it with n_kept = 0.
      keptBack.join(purged, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_purged_age"), lit(0L)).as("n_purged_age"),
          coalesce(col("n_purged_user"), lit(0L)).as("n_purged_user"))
    }

  val retentionPurgeSql: String =
    """WITH c AS (SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM events)
      |SELECT event_type,
      |  COUNT(*) FILTER (ts >= cutoff AND user_id % 100 != 13) AS n_kept,
      |  COUNT(*) FILTER (ts < cutoff) AS n_purged_age,
      |  COUNT(*) FILTER (ts >= cutoff AND user_id % 100 = 13) AS n_purged_user
      |FROM events CROSS JOIN c GROUP BY 1""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("ing_retention_purge", retentionPurge, retentionPurgeSql),
    Entry("ing_ivm_agg", ivmAgg, ivmAggSql),
    Entry("ing_lake_timetravel", lakeTimetravel, lakeTimetravelSql),
    Entry("ing_schema_evolution", schemaEvolution, schemaEvolutionSql),
    Entry("ing_cdc_diff", cdcDiff, cdcDiffSql),
    Entry("ing_lake_zorder", lakeZorder, lakeZorderSql),
    Entry("ing_cases_norm", casesNorm, casesNormSql),
    Entry("ing_cases_by_country", casesByCountry, casesByCountrySql),
    Entry("ing_lake_roundtrip", lakeRoundtrip, lakeRoundtripSql),
    Entry("ing_lake_pruned", lakePruned, lakePrunedSql),
    Entry("ing_compaction", compactionRoundtrip, compactionSql),
    Entry("ing_geo_extend", geoExtendIngest, geoExtendSql),
    Entry("ing_scd2_merge", scd2Merge, scd2MergeSql))
}
