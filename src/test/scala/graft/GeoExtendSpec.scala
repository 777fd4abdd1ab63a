package graft

import org.apache.spark.sql.functions._
import graft.ingest.{CasesIngest, GeoExtend, SourceSpec}

/** Golden test for the P5 geocoder-tail extension job
  * (reference: flow/scripts/insert_owid.py:81-87 calls Nominatim per
  * unresolved name inline; here the same tail is an out-of-band batch
  * job between ingests — see [[GeoExtend]]).
  *
  * Fixture contamination_x.csv carries France (resolves in the base
  * dim), Atlantis + Narnia (unknown, placed by the extension job),
  * Mu (unknown AND too short to place — the geocode-miss branch),
  * World (poison), and EL (alias).
  */
class GeoExtendSpec extends SparkSpec {

  private lazy val dim = CasesIngest.geoDim(spark).cache()
  private val spec = CasesIngest.extendSpec

  test("strict ingest drops every location the dim does not know") {
    val strict = SourceSpec.ingest(spark, spec, dim)
    val names = strict.select("location_name").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSet
    assert(names === Set("France", "Greece")) // EL→Greece; World poisoned
  }

  test("unresolved() is exactly the dropped names, minus the World poison") {
    val unres = GeoExtend.unresolved(spark, Seq(spec), dim)
      .select("loc").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(unres === Set("Atlantis", "Narnia", "Mu"))
  }

  test("extension resolves what the resolver can place; misses stay out") {
    val ext = GeoExtend.extension(spark, Seq(spec), dim)
    val rows = ext.collect().map(r => r.getAs[String]("name") ->
      (r.getAs[String]("iso2"), r.getAs[Double]("lat"), r.getAs[Double]("lon"))).toMap
    assert(rows.keySet === Set("Atlantis", "Narnia")) // Mu: len 2 → miss
    assert(rows("Atlantis") === (("AT", 8.0, 'A'.toInt.toDouble)))
    assert(rows("Narnia") === (("NA", 6.0, 'N'.toInt.toDouble)))
  }

  test("re-ingest against the extended dim recovers the dropped rows") {
    val ext = GeoExtend.extension(spark, Seq(spec), dim)
    val again = SourceSpec.ingest(spark, spec, GeoExtend.extendedDim(dim, ext))
      .cache()
    val names = again.select("location_name").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSet
    // Atlantis + Narnia now land; Mu (a miss) and World still drop.
    assert(names === Set("France", "Greece", "Atlantis", "Narnia"))
    val atlantis = again.filter(col("location_name") === "Atlantis").collect()
    assert(atlantis.length === 1)
    assert(atlantis(0).getAs[Long]("confirmed") === 77L)
    assert(atlantis(0).getAs[String]("iso_code2") === "AT")
  }

  test("extension uids are deterministic and never collide with the dim") {
    val ext = GeoExtend.extension(spark, Seq(spec), dim)
    val extNames = ext.select("name")
    assert(extNames.join(dim, extNames("name") === dim("name")).count() === 0)
    val twice = GeoExtend.extension(spark, Seq(spec), dim)
    assert(ext.exceptAll(twice).count() === 0 && twice.exceptAll(ext).count() === 0)
  }
}
