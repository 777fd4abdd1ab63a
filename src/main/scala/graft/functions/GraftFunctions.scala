package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** graft's native expressions, as `spark.sql.extensions` entries.
  *
  * [[GraftExtensions]] injects them (with the as-of join plan layer) into
  * every session [[graft.Tables.session]] builds and every clone of one,
  * so no query registers anything at run time. A session built elsewhere
  * must set the extension itself (see [[graft.SparkEntry]]).
  *
  * Two native expressions carry non-SQL constructor state and so are
  * not registered here: [[BloomMightContain]] (a bitset) and
  * [[Bm25Score]] (the query terms of one BM25 search field). Callers
  * build them as Columns through [[BloomProbe.might]] and
  * [[Bm25Score.score]].
  */
object GraftFunctions {

  /** geohash_encode(lat, lon[, precision]) — precision must be a literal. */
  private def geohashBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(lat, lon) => GeohashEncode(lat, lon, 6)
    case Seq(lat, lon, Literal(p: Int, _)) => GeohashEncode(lat, lon, p)
    case _ => throw new IllegalArgumentException(
      "geohash_encode(lat, lon[, precision-literal])")
  }

  private def tokenOverlapBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(text, query) => TokenOverlap(text, query)
    case _ => throw new IllegalArgumentException("token_overlap(text, query)")
  }

  private def binary(mk: (Expression, Expression) => Expression, name: String)(
      args: Seq[Expression]): Expression = args match {
    case Seq(a, b) => mk(a, b)
    case _ => throw new IllegalArgumentException(s"$name(a, b)")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("geohash_encode"),
      new ExpressionInfo(classOf[GeohashEncode].getName, "geohash_encode"),
      geohashBuilder _),
    (FunctionIdentifier("token_overlap"),
      new ExpressionInfo(classOf[TokenOverlap].getName, "token_overlap"),
      tokenOverlapBuilder _),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      binary(DotProduct.apply, "dot_product") _),
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      binary(CosineSim.apply, "cosine_sim") _))
}

/** `spark.sql.extensions` entry point: native functions plus the custom
  * plan layer (as-of join rule + strategy). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinPruning)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
