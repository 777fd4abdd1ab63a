package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The OpenCovid19-fr-shaped ingestion variant (reference:
  * flow/scripts/insert_france.py): mixed-granularity rows → F2
  * granularity filter → P10 region-code rewrite → P3/P4 date cascade →
  * J2 geo join in its NO-DROP variant (unresolved location kept with a
  * null geo, insert_france.py:74-81 — vs. the strict drop in
  * [[CasesIngest]]) → P6 ISO-3166 alpha-2→alpha-3 via a broadcast code
  * dim (parse_insert.py:94-96).
  *
  * Scale shape: scan → narrow filter/projections → two tiny broadcast
  * joins; nothing shuffles.
  */
object FranceIngest {

  val FrancePath = s"${CasesIngest.FixtureDir}/france_c.csv"
  val VirtestsPath = s"${CasesIngest.FixtureDir}/france_virtests_d.csv"

  /** ISO-3166 alpha2 → alpha3 dim from the lookup CSV (P6). */
  def isoDim(spark: SparkSession): DataFrame =
    CasesIngest.readCsv(spark, CasesIngest.LookupPath)
      .select(col("iso2"), col("iso3")).where(col("iso2").isNotNull)
      .distinct()

  /** The virological-tests variant (insert_france_virtests.py): the
    * `tested` counter, `FR-{dep}` region codes built by CONCATENATION
    * (insert_france_virtests.py:122 — vs the DEP→FR REWRITE above,
    * insert_france.py:124), P7 empty-count default, P8 ratio guard. */
  def virtests(spark: SparkSession): DataFrame = {
    val raw = CasesIngest.readCsv(spark, VirtestsPath)
    raw.select(
        concat(lit("FR-"), col("dep")).as("iso_region2"), // P10 concat variant
        DateParse.dateStart(col("jour")).as("date_start"),
        coalesce(expr("try_cast(t AS BIGINT)"), lit(0L)).as("tested"), // P7
        expr("try_cast(pop AS BIGINT)").as("pop"),
        lit("FR").as("iso_code2"))
      .filter(col("date_start").isNotNull)
      .withColumn("test_rate",
        when(col("pop").isNotNull && col("pop") =!= 0,
          col("tested").cast("double") / col("pop").cast("double") * 100.0)) // P8
      .withColumn("source_index", lit("virtests_fr"))
  }

  def franceCases(spark: SparkSession): DataFrame = {
    val raw = CasesIngest.readCsv(spark, FrancePath)
    val dim = CasesIngest.geoDim(spark)

    raw
      .filter(col("granularite") === "departement") // F2
      .select(
        regexp_replace(col("maille_code"), "DEP", "FR").as("iso_region2"), // P10
        col("maille_nom").as("location_name"),
        DateParse.dateStart(col("date")).as("date_start"),
        DateParse.dateEnd(col("date")).as("date_end"),
        expr("try_cast(cas_confirmes AS BIGINT)").as("confirmed"),
        expr("try_cast(deces AS BIGINT)").as("deaths"),
        lit("FR").as("iso_code2"))
      .filter(col("date_start").isNotNull) // F1 (date only — insert_france.py:111)
      .join(broadcast(dim), col("location_name") === dim("name"), "left_outer") // J2 no-drop
      .join(broadcast(isoDim(spark).withColumnRenamed("iso2", "i2")),
        col("iso_code2") === col("i2"), "left_outer") // P6
      .select(
        col("iso_region2"), col("location_name"),
        col("date_start"), col("date_end"),
        col("confirmed"), col("deaths"),
        col("iso_code2"), col("iso3"),
        col("lat").isNotNull.as("geo_resolved"),
        lit("contamination_fr").as("source_index"))
  }
}
