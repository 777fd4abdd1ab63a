package graft

/** Pins the declared schemas in [[Tables]] against the test tables.
  *
  * A declared schema reads a renamed or retyped column as null (or fails
  * mid-scan) instead of failing at load, so every declaration must equal
  * what inference finds on disk — re-run this spec whenever the fixtures
  * are regenerated. The second half guards the point of declaring: a
  * load resolves its schema without submitting a Spark job.
  */
class TablesSchemaSpec extends SparkSpec {

  private val testdata = new java.io.File(sf0001).getParent

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"declared schemas equal the inferred ones at $sf") {
      val dir = s"$testdata/$sf"
      Tables.names.foreach { name =>
        val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
        // StructType equality covers names, order, types and nullability.
        assert(Tables.schema(spark, dir, name) == inferred, s"$name at $sf")
      }
    }
  }

  test("Tables.load resolves its schema without a Spark job") {
    // Control: inference does run a job, so the listener can see one.
    assert(jobsDuring(spark.read.parquet(s"$sf0001/orders.parquet").schema).nonEmpty)
    Tables.names.foreach { name =>
      assert(jobsDuring(Tables.load(spark, sf0001, name).schema).isEmpty, name)
    }
  }
}
