package graft

import org.apache.spark.sql.functions._

/** Native dot_product / cosine_sim vs the composed higher-order-function
  * forms they replaced: bit-identical on random data, null/length edge
  * cases, float coercion. */
class VectorExprSpec extends SparkSpec {

  private def composedDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("bit-identical to the composed aggregate(zip_with) form on random vectors") {
    import spark.implicits._
    val df = spark.range(1000).select(
      transform(sequence(lit(1), lit(64)),
        i => sin(i * (col("id") + 1))).as("a"),
      transform(sequence(lit(1), lit(64)),
        i => cos(i * (col("id") + 2))).as("b"))
    val cmp = df.select(
      (call_function("dot_product", col("a"), col("b")) === composedDot(col("a"), col("b"))).as("d"),
      (call_function("cosine_sim", col("a"), col("b")) ===
        composedDot(col("a"), col("b")) /
          (sqrt(composedDot(col("a"), col("a"))) * sqrt(composedDot(col("b"), col("b"))))).as("c"))
    // === is exact double equality: the fused kernel must reproduce the
    // fold bit-for-bit, not approximately
    assert(cmp.filter(!col("d") || !col("c")).count() === 0)
  }

  test("null array, null element, and length mismatch all yield null") {
    val df = spark.sql(
      """SELECT
        |  dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS null_arr,
        |  dot_product(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS null_elem,
        |  dot_product(array(1.0d), array(1.0d, 2.0d)) AS len_mismatch,
        |  cosine_sim(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS cos_null
        |""".stripMargin)
    val r = df.collect()(0)
    assert((0 until 4).forall(r.isNullAt), r.toString)
  }

  test("float arrays coerce via ImplicitCastInputTypes") {
    val r = spark.sql(
      "SELECT dot_product(CAST(array(1.5, 2.5) AS ARRAY<FLOAT>), array(2.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r === 13.0)
  }
}
