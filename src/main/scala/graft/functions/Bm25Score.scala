package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernel shared by the interpreted and codegen paths: the BM25
  * score of one field of one document. */
object Bm25ScoreUtil {

  /** Spark's ANSI `Divide` on doubles: a zero divisor is an error. */
  private def div(a: Double, b: Double): Double =
    if (b == 0.0) throw PlanShim.divideByZero() else a / b

  /** Σ_t idf(t) · tf·(k1+1) / (tf + k1·((1−b) + b·dl/avgdl)), with
    * idf(t) = ln(1 + (n − df + 0.5)/(df + 0.5)), summed left to right
    * over `terms` (a repeated term counts once per repeat). Every term's
    * tf comes from ONE pass over `tokens`; the arithmetic is the
    * composed column form's, operation for operation, so the result is
    * the same double. Null when a stat is null or the log argument is
    * not positive (as Spark's `ln`); DIVIDE_BY_ZERO on a zero avgdl. */
  def score(tokens: ArrayData, stats: InternalRow, terms: Array[UTF8String]): java.lang.Double = {
    if (stats.isNullAt(0) || stats.isNullAt(1) || stats.isNullAt(2)) return null
    val dfs = stats.getArray(2)
    val nt = terms.length
    if (dfs.numElements() != nt)
      throw new IllegalArgumentException(s"bm25_score: ${dfs.numElements()} df values for $nt terms")
    var i = 0
    while (i < nt) { if (dfs.isNullAt(i)) return null; i += 1 }
    val dl = tokens.numElements()
    val tf = new Array[Int](nt)
    var j = 0
    while (j < dl) {
      if (!tokens.isNullAt(j)) {
        val w = tokens.getUTF8String(j)
        i = 0
        while (i < nt) { if (terms(i) == w) tf(i) += 1; i += 1 }
      }
      j += 1
    }
    val n = stats.getDouble(0)
    val lenNorm = Bm25Score.K1 *
      ((1.0 - Bm25Score.B) + div(Bm25Score.B * dl.toDouble, stats.getDouble(1)))
    var total = 0.0
    i = 0
    while (i < nt) {
      val df = dfs.getDouble(i)
      val arg = 1.0 + div((n - df) + 0.5, df + 0.5)
      if (arg <= 0.0) return null
      val t = tf(i).toDouble
      val s = StrictMath.log(arg) * div(t * (Bm25Score.K1 + 1.0), t + lenNorm)
      total = if (i == 0) s else total + s
      i += 1
    }
    java.lang.Double.valueOf(total)
  }
}

/** Native BM25 score of one search field: `left` is the field's token
  * array, `right` its corpus statistics (n, avgdl, and one df per query
  * term: the literal struct that
  * [[graft.queries.TextAnalysis.SearchCorpus.stats]] builds), and the
  * query terms are a constructor field, so the score of a field is ONE
  * kernel call per document however many terms the query has.
  *
  * It replaced a composed form that scored every (field, term) pair
  * through `size(filter(tokens, w -> w = term))`: an interpreted
  * higher-order-function lambda per pair, 5 × T subtrees for a
  * five-field search. A native count per (field, term) was no faster:
  * the generated method outgrew what the JIT compiles. Codegen embeds
  * the terms once per stage via `addReferenceObj` (they ride the task
  * binary to executors).
  *
  * Semantics are the composed form's under the engine's default ANSI
  * mode: a null token array or a null stat gives null, a zero avgdl
  * raises DIVIDE_BY_ZERO. Graft-internal (not registry-exposed): the
  * terms are not SQL arguments.
  */
case class Bm25Score(terms: Seq[String], left: Expression, right: Expression)
  extends BinaryExpression {

  @transient private lazy val termBytes: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "bm25_score"

  override def checkInputDataTypes(): TypeCheckResult = {
    val typesOk = (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), StructType(Array(StructField(_, DoubleType, _, _),
          StructField(_, DoubleType, _, _), StructField(_, ArrayType(DoubleType, _), _, _)))) => true
      case _ => false
    }
    if (terms.nonEmpty && typesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires >=1 term, an array<string> and a " +
        s"struct<double, double, array<double>>, got ${terms.size} terms, " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(tokens: Any, stats: Any): Any =
    Bm25ScoreUtil.score(tokens.asInstanceOf[ArrayData],
      stats.asInstanceOf[InternalRow], termBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bm25Terms", termBytes,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val boxed = ctx.freshName("bm25")
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"""java.lang.Double $boxed = graft.functions.Bm25ScoreUtil$$.MODULE$$.score($t, $s, $ref);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Bm25Score {

  /** BM25 shape parameters (the textbook defaults). */
  val K1 = 1.2
  val B = 0.75

  /** The field's score column over its token array and its [[stats]]. */
  def score(tokens: Column, stats: Column, terms: Seq[String]): Column =
    PlanShim.column(Bm25Score(terms,
      PlanShim.expression(tokens), PlanShim.expression(stats)))
}
