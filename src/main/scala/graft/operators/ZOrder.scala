package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for lake layout — the data-skipping
  * lever at 100 TB: a lake sorted by ONE dimension prunes scans on that
  * dimension only; writing files in Z-value order makes EVERY
  * interleaved dimension's per-file min/max range narrow, so parquet
  * footer stats (and any file-index layer above them) prune selective
  * filters on either dimension. The reference gets this implicitly from
  * per-index Elasticsearch segments; a parquet lake has to earn it at
  * write time.
  *
  * The Z-value is pure integer bit arithmetic (shift/and/or), built as
  * a 2·16-term sum of codegen builtins — no UDF, stays inside
  * WholeStageCodegen, and mirrors verbatim into DuckDB SQL so the
  * values themselves are oracle-checked, not just downstream
  * aggregates.
  */
object ZOrder {

  val Bits = 16

  /** Interleave the low [[Bits]] bits of `x` (even positions) and `y`
    * (odd positions) into a Z-value column. Inputs are masked to
    * [[Bits]] bits first, so callers normalize dimensions beforehand. */
  def zValue(x: Column, y: Column): Column = {
    val mask = (1L << Bits) - 1
    val xm = x.bitwiseAND(lit(mask))
    val ym = y.bitwiseAND(lit(mask))
    (0 until Bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(xm, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftrightunsigned(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** The same interleave as SQL text (DuckDB dialect: `&`, `|`, `>>`,
    * `<<`), parameterized on the two dimension expressions. Each bit is
    * cast to BIGINT BEFORE its left shift — DuckDB shifts in the
    * argument's width and an INT32 `1 << 31` overflows. */
  def zValueSql(x: String, y: String): String = {
    val mask = (1L << Bits) - 1
    val terms = (0 until Bits).flatMap { i =>
      Seq(s"(CAST((($x) & $mask) >> $i & 1 AS BIGINT) << ${2 * i})",
        s"(CAST((($y) & $mask) >> $i & 1 AS BIGINT) << ${2 * i + 1})")
    }
    terms.mkString("(", " | ", ")")
  }

  /** Scale `v` from [lo, hi] onto the full [[Bits]]-bit domain.
    * Interleaving only works on dimensions of EQUAL bit width — raw
    * dims of different magnitudes make one dimension's bits dominate
    * the order and the tiles degenerate to stripes (measured in
    * ZOrderSpec's first draft). Floor division via double is exact
    * while (hi−lo)·65535 stays under 2^53. */
  private[graft] def norm(v: Column, lo: Column, hi: Column): Column =
    floor(((v - lo).cast("long") * ((1L << Bits) - 1)) /
      greatest((hi - lo).cast("long"), lit(1L))).cast("long")

  /** Rewrite `df` into Z-order: compute the two dimensions' bounds (one
    * broadcast row — what any range-binning Z-order writer needs),
    * normalize both onto the 16-bit domain, range-partition on the
    * Z-value (balanced output files via sampled range bounds — the
    * write path's shuffle), sort within each partition, and drop the
    * helpers. The result is ready for a lake write where every file
    * covers a narrow rectangle of (x, y) space. */
  def cluster(df: DataFrame, x: Column, y: Column, numFiles: Int): DataFrame = {
    val bounds = df.agg(
      min(x).as("__xmin"), max(x).as("__xmax"),
      min(y).as("__ymin"), max(y).as("__ymax"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", zValue(
        norm(x, col("__xmin"), col("__xmax")),
        norm(y, col("__ymin"), col("__ymax"))))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__xmin", "__xmax", "__ymin", "__ymax")
  }
}
