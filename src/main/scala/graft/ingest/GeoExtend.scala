package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The geocoder dim-extension job (P5 tail, SURVEY §2 "What's missing"
  * item 1 of round 3): ingestion itself stays a pure strict broadcast
  * join — unresolved locations DROP — and this out-of-band batch job
  * turns the drops into geo-dim extension rows for the next ingest.
  * Run it between refreshes: `unresolved → extension → extendedDim`,
  * persist the extension parquet next to the lookup CSV, done.
  *
  * The reference calls Nominatim inline, per unresolved location name,
  * in the middle of its ingest loop (insert_owid.py:81-87) — a remote
  * round-trip per row. Here the names are placed by a deterministic
  * offline formula, one column expression over the DISTINCT unresolved
  * names (a dim-scale set, never a fact-scale one); the
  * ing_geo_extend oracle inlines the same formula, which is what makes
  * the whole job hash-checkable against DuckDB.
  */
object GeoExtend {

  /** Distinct normalized `loc` values the strict dim join would drop:
    * the normalize front of every spec (shared with
    * [[SourceSpec.ingest]], so the two can't drift) → distinct →
    * anti-join the broadcast dim on name. One shuffle, on the
    * already-distinct name set. */
  def unresolved(spark: SparkSession, specs: Seq[SourceSpec], dim: DataFrame): DataFrame = {
    val locs = specs.map(SourceSpec.normalized(spark, _))
      .reduce(_.unionByName(_))
      .select(col("loc"))
      .filter(col("loc").isNotNull) // World-poisoned rows are not "unresolved"
      .distinct()
    locs.join(broadcast(dim), locs("loc") === dim("name"), "left_anti")
  }

  /** [[unresolved]] → dim-extension rows in the [[CasesIngest.geoDim]]
    * schema (name, uid, iso2, lat, lon). Names longer than 3 characters
    * are placed (iso2 = their first two characters upper-cased, lat =
    * their length, lon = their first code point); shorter ones stay
    * unresolved, exactly like the reference's geocode-miss branch.
    * Spark's `length` and `ascii` count code points, as DuckDB's do.
    */
  def extension(spark: SparkSession, specs: Seq[SourceSpec], dim: DataFrame): DataFrame = {
    val loc = col("loc")
    // uid only exists as geoDim's first-wins tiebreak; extension names
    // are disjoint from the dim (anti-join) and distinct among
    // themselves, so any stable value works — a hash keeps it
    // deterministic across runs.
    unresolved(spark, specs, dim)
      .filter(length(loc) > 3)
      .select(
        loc.as("name"),
        xxhash64(loc).as("uid"),
        upper(substring(loc, 1, 2)).as("iso2"),
        length(loc).cast("double").as("lat"),
        ascii(loc).cast("double").as("lon"))
  }

  /** The dim the NEXT ingest should use. No dedup needed: extension
    * names can't collide with dim names by construction. */
  def extendedDim(dim: DataFrame, ext: DataFrame): DataFrame =
    dim.unionByName(ext)
}
