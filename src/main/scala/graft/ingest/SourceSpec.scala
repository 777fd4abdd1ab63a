package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Config-driven ingestion source (SURVEY §7.2 step 3): where the
  * reference maintains four near-duplicate flow scripts, a source here is
  * DATA — synonym lists, a value-target column (P9), paths, an index
  * name. Adding a source means adding a spec, not code.
  *
  * `valueTarget` decides which canonical counter receives the source's
  * value column (the reference keys this on bucket name,
  * parse_insert.py:135).
  */
case class SourceSpec(
    name: String,
    paths: Seq[String],
    dateSynonyms: Seq[String],
    locSynonyms: Seq[String],
    valueSynonyms: Seq[String],
    popSynonyms: Seq[String],
    valueTarget: String) {
  require(valueTarget == "confirmed" || valueTarget == "vaccinated",
    s"unsupported valueTarget: $valueTarget")
}

object SourceSpec {

  private def synCoalesce(df: DataFrame, names: Seq[String]): Column = {
    val present = names.filter(df.columns.contains)
      .map(n => CasesIngest.nullifEmpty(col(n)))
    if (present.isEmpty) lit(null).cast("string") else coalesce(present: _*)
  }

  /** The normalize front of the pipeline (P1-P4, P7, F1, plus the J3
    * alias / World poison): everything BEFORE the dim join, as
    * (date_start, date_end, loc, v, pop, filename). Shared between
    * [[ingest]] and [[GeoExtend]] — the extension job must see exactly
    * the loc values the strict join will see, or the two drift. */
  def normalized(spark: SparkSession, spec: SourceSpec): DataFrame = {
    val raw = spec.paths.map { p =>
      CasesIngest.readCsv(spark, p)
        .withColumn("filename", regexp_extract(input_file_name(), "([^/]+)$", 1))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

    val norm = raw.select(
      synCoalesce(raw, spec.dateSynonyms).as("date_raw"),
      synCoalesce(raw, spec.locSynonyms).as("loc_raw"),
      synCoalesce(raw, spec.valueSynonyms).as("val_raw"),
      synCoalesce(raw, spec.popSynonyms).as("pop_raw"),
      col("filename"))

    val loc = when(col("loc_raw") === "World", lit(null)) // P5 poison
      .when(col("loc_raw") === "EL", lit("Greece")) // J3 alias
      .otherwise(col("loc_raw"))

    norm
      .withColumn("date_start", DateParse.dateStart(col("date_raw")))
      .withColumn("date_end", DateParse.dateEnd(col("date_raw")))
      .withColumn("loc", loc)
      .withColumn("v", coalesce(expr("try_cast(val_raw AS BIGINT)"), lit(0L))) // P7
      .withColumn("pop", expr("try_cast(pop_raw AS BIGINT)"))
      .filter(col("date_start").isNotNull) // F1
  }

  /** One spec → canonical cases rows (SURVEY §1.3), joined against the
    * broadcast geo dim (strict variant: unresolved locations drop; the
    * [[GeoExtend]] job turns those drops into dim extensions). */
  def ingest(spark: SparkSession, spec: SourceSpec, dim: DataFrame): DataFrame = {
    val toVacc = spec.valueTarget == "vaccinated"
    normalized(spark, spec)
      .join(broadcast(dim), col("loc") === dim("name")) // J1 strict
      .select(
        col("date_start"), col("date_end"),
        struct(col("lat"), col("lon")).as("location"),
        col("name").as("location_name"),
        (if (toVacc) lit(null).cast("long") else col("v")).as("confirmed"), // P9
        lit(null).cast("long").as("deaths"),
        lit(null).cast("long").as("recovered"),
        (if (toVacc) col("v") else lit(null).cast("long")).as("vaccinated"),
        lit(null).cast("long").as("tested"),
        col("filename"),
        col("iso2").as("iso_code2"),
        lit(null).cast("string").as("iso_region2"),
        col("pop").as("max_population"),
        when(col("pop").isNotNull && col("pop") =!= 0,
          col("v").cast("double") / col("pop").cast("double") * 100.0).as("percentage"), // P8
        lit(spec.name).as("source_index"))
  }
}
