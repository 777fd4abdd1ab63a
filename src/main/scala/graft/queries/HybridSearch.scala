package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Hybrid retrieval — reciprocal-rank fusion (RRF) of the lexical BM25
  * ranking and the dense embedding-cosine ranking, the modern two-leg
  * search stack (Cormack, Clarke & Büttcher, SIGIR 2009; shipped as the
  * ES 8 `rrf` retriever). The reference serves pure lexical ES search
  * (news_app/app/app/src/SearchUI.js:15-33); this closes the gap to the
  * RAG-era surface a training-data pipeline actually runs: fuse what the
  * tokens say with what the embedding space says, without score
  * calibration between the two systems — RRF uses only the RANKS,
  * `score(d) = Σ_legs 1/(K + rank_leg(d))`, K = 60 (the paper's
  * constant), so the legs' incomparable score scales never meet.
  *
  * Determinism: the fused score is computed in integer micro-units —
  * `1e12 div (K + rank)` summed as BIGINT — so cross-engine float
  * division can't smear a hash; ties broken by doc_id.
  *
  * Scale shape: each leg is already a bounded top-k (BM25's corpus-stat
  * fold + TakeOrderedAndProject, brute cosine's broadcast-query pass —
  * the plans those catalog entries pin); the fusion itself joins two
  * ≤k-row sides, driver-trivial at any corpus size. At 100 TB the legs
  * are the cost, and they stay one-pass each; swapping the dense leg for
  * [[VectorSearch]]'s IVF/PQ tiers changes nothing in the fusion.
  */
object HybridSearch {

  /** RRF rank constant (Cormack et al. 2009 use 60; so does ES). */
  private val RrfK = 60

  /** Integer micro-unit RRF contribution of a leg rank column (null-safe:
    * a doc absent from a leg contributes 0). */
  private def contrib(rankCol: String): Column =
    coalesce(expr(s"1000000000000 div ($RrfK + $rankCol)"), lit(0L))

  /** Fused top-10 over the BM25 leg (fixed demo query, k=10) and the
    * dense leg (query vector vec_id=0, k=10). Embeddings align 1:1 with
    * doc_ids (TESTDATA.md), so the two legs rank the same id space. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = TextAnalysis.searchBm25(spark, dir)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val den = VectorSearch.annSearch(spark, dir, Seq(0L), k = 10)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
    val w = Window.orderBy(col("rrf_score").desc, col("doc_id").asc)
    lex.join(den, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        (contrib("lex_rank") + contrib("vec_rank")).as("rrf_score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
  }

  /** Dense-leg oracle: brute cosine top-10 for query vec_id=0, the same
    * fold/rounding contract as [[VectorSearch.bruteTopkSql]]. */
  private val denseSql: String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |s AS (SELECT vec_id,
       |        round(${dot("qv", "v")} / (sqrt(${dot("qv", "qv")}) * sqrt(${dot("v", "v")})), 6) AS score
       |      FROM e, q WHERE vec_id <> 0),
       |r AS (SELECT vec_id,
       |        row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rank
       |      FROM s)
       |SELECT vec_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10""".stripMargin
  }

  val hybridRrfSql: String =
    s"""WITH lex AS (SELECT doc_id, rank AS lex_rank FROM (${TextAnalysis.searchBm25Sql})),
       |den AS (SELECT vec_id AS doc_id, rank AS vec_rank FROM ($denseSql)),
       |f AS (SELECT COALESCE(lex.doc_id, den.doc_id) AS doc_id, lex_rank, vec_rank,
       |        COALESCE(1000000000000 // ($RrfK + lex_rank), 0)
       |          + COALESCE(1000000000000 // ($RrfK + vec_rank), 0) AS rrf_score
       |      FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id),
       |r AS (SELECT doc_id, lex_rank, vec_rank, CAST(rrf_score AS BIGINT) AS rrf_score,
       |        row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
       |      FROM f)
       |SELECT doc_id, lex_rank, vec_rank, rrf_score, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("txt_hybrid_rrf", hybridRrf, hybridRrfSql))
}
