package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.FranceIngest

/** Correctness queries for the France-variant ingestion
  * ([[graft.ingest.FranceIngest]]): granularity filter, DEP→FR rewrite,
  * free-form date tail, null-keeping geo join, alpha2→alpha3. */
object IngestionFrance {

  private val c = FranceIngest.FrancePath
  private val lk = graft.ingest.CasesIngest.LookupPath

  def franceDepts(spark: SparkSession, dir: String): DataFrame =
    FranceIngest.franceCases(spark)
      .select(
        col("iso_region2"), col("location_name"),
        date_format(col("date_start"), "yyyy-MM-dd").as("date_start"),
        col("confirmed"), col("deaths"), col("iso_code2"), col("iso3"),
        col("geo_resolved"))

  val franceDeptsSql: String =
    s"""WITH raw AS (SELECT * FROM read_csv('$c', delim=',', header=true, all_varchar=true)),
       |f AS (SELECT * FROM raw WHERE granularite = 'departement'),
       |d AS (SELECT replace(maille_code, 'DEP', 'FR') AS iso_region2,
       |        maille_nom AS location_name,
       |        CASE WHEN regexp_matches(replace(date,'/','-'), '^\\d{2}-\\d{2}-\\d{4}${"$"}')
       |               THEN strptime(replace(date,'/','-'), '%d-%m-%Y')::DATE
       |             WHEN regexp_matches(replace(date,'/','-'), '^\\d{4}-\\d{2}-\\d{2}${"$"}')
       |               THEN strptime(replace(date,'/','-'), '%Y-%m-%d')::DATE
       |             WHEN regexp_matches(replace(date,'/','-'), '^[A-Z][a-z]+ \\d{2}, \\d{4}${"$"}')
       |               THEN strptime(replace(date,'/','-'), '%B %d, %Y')::DATE
       |        END AS date_start,
       |        TRY_CAST(cas_confirmes AS BIGINT) AS confirmed,
       |        TRY_CAST(deces AS BIGINT) AS deaths,
       |        'FR' AS iso_code2
       |      FROM f),
       |lk0 AS (SELECT * FROM read_csv('$lk', header=true, all_varchar=true)),
       |melt AS (
       |  SELECT nullif(trim(Province_State),'') AS name, TRY_CAST(UID AS BIGINT) AS uid,
       |         TRY_CAST(Lat AS DOUBLE) AS lat, TRY_CAST(Long_ AS DOUBLE) AS lon FROM lk0
       |  UNION ALL SELECT nullif(trim(Country_Region),''), TRY_CAST(UID AS BIGINT),
       |         TRY_CAST(Lat AS DOUBLE), TRY_CAST(Long_ AS DOUBLE) FROM lk0
       |  UNION ALL SELECT nullif(trim(Combined_Key),''), TRY_CAST(UID AS BIGINT),
       |         TRY_CAST(Lat AS DOUBLE), TRY_CAST(Long_ AS DOUBLE) FROM lk0),
       |dim AS (SELECT * FROM melt
       |        WHERE name IS NOT NULL AND lat IS NOT NULL AND lon IS NOT NULL
       |        QUALIFY row_number() OVER (PARTITION BY name ORDER BY uid ASC) = 1),
       |iso AS (SELECT DISTINCT iso2, iso3 FROM lk0 WHERE iso2 IS NOT NULL)
       |SELECT d.iso_region2, d.location_name,
       |  strftime(d.date_start, '%Y-%m-%d') AS date_start,
       |  d.confirmed, d.deaths, d.iso_code2, iso.iso3,
       |  (dim.lat IS NOT NULL) AS geo_resolved
       |FROM d
       |LEFT JOIN dim ON d.location_name = dim.name
       |LEFT JOIN iso ON d.iso_code2 = iso.iso2
       |WHERE d.date_start IS NOT NULL""".stripMargin

  def virtests(spark: SparkSession, dir: String): DataFrame =
    FranceIngest.virtests(spark)
      .select(col("iso_region2"),
        date_format(col("date_start"), "yyyy-MM-dd").as("date_start"),
        col("tested"), col("test_rate"), col("iso_code2"), col("source_index"))

  val virtestsSql: String =
    s"""SELECT 'FR-' || dep AS iso_region2,
       |  strftime(d, '%Y-%m-%d') AS date_start,
       |  COALESCE(TRY_CAST(t AS BIGINT), 0) AS tested,
       |  CASE WHEN TRY_CAST(pop AS BIGINT) IS NOT NULL AND TRY_CAST(pop AS BIGINT) <> 0
       |       THEN CAST(COALESCE(TRY_CAST(t AS BIGINT), 0) AS DOUBLE)
       |            / CAST(TRY_CAST(pop AS BIGINT) AS DOUBLE) * 100 END AS test_rate,
       |  'FR' AS iso_code2, 'virtests_fr' AS source_index
       |FROM (SELECT *,
       |    CASE WHEN regexp_matches(replace(jour,'/','-'), '^\\d{2}-\\d{2}-\\d{4}${"$"}')
       |           THEN strptime(replace(jour,'/','-'), '%d-%m-%Y')::DATE
       |         WHEN regexp_matches(replace(jour,'/','-'), '^\\d{4}-\\d{2}-\\d{2}${"$"}')
       |           THEN strptime(replace(jour,'/','-'), '%Y-%m-%d')::DATE
       |    END AS d
       |  FROM read_csv('${FranceIngest.VirtestsPath}', delim=';', header=true, all_varchar=true))
       |WHERE d IS NOT NULL""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("ing_france_depts", franceDepts, franceDeptsSql),
    Entry("ing_virtests", virtests, virtestsSql))
}
