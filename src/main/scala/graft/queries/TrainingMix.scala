package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-selection operators for assembling a training mixture — the
  * stage after cleaning/dedup where a pipeline decides WHICH surviving
  * documents to train on and IN WHAT ORDER:
  *
  *  - [[dsirWeights]]: hashed-n-gram importance weights (DSIR, Xie et
  *    al., NeurIPS 2023): train a tiny hashed unigram model of a target
  *    domain and of the raw corpus, score every document by
  *    Σ log(p_target/p_raw) over its tokens. The weight drives
  *    importance resampling toward the target domain.
  *  - [[curriculumBands]]: difficulty banding for curriculum ordering —
  *    assign each doc a band from the global quality-score distribution
  *    (mean/σ bands), so a trainer can feed easy→hard without a global
  *    sort.
  *
  * Scale design (the 100 TB answers):
  *
  *  - DSIR's whole point is that the model is HASH-BOUNDED: features are
  *    md5-bucketed into 256 buckets, so both "models" are 256-row
  *    aggregates regardless of corpus size, broadcast to the scorers.
  *    Token streams collapse to per-(doc, bucket) counts before any
  *    join — the joins move collapsed counts, not tokens.
  *  - Curriculum banding deliberately avoids the textbook NTILE form: a
  *    global ntile/rank window funnels the corpus through ONE partition.
  *    Banding against broadcast global moments (one agg pass → 1 row →
  *    map-side band assignment) gives a deterministic curriculum label
  *    with no global sort; at 100 TB the trainer range-reads one band at
  *    a time.
  *
  * Cross-engine determinism follows the file-wide catalog conventions
  * ([[TextAnalysis.unigramLm]]): all float inputs are exact counts, each
  * double term is produced by identical expressions in both engines,
  * re-aggregated doubles pass through DECIMAL(28,12) so the fold is
  * order-independent, and round(…,6) happens once at the end.
  *
  * Reference tie-in: the reference ingests multilingual news/tweets into
  * one index with no notion of selecting or ordering content for a
  * downstream consumer (crawl_google_news.py:52-57 fans out over
  * languages and stores everything); these operators are the selection
  * layer such a corpus needs before it can train anything.
  */
object TrainingMix {

  /** Hashed feature space: 2 hex chars of md5 → 256 buckets. md5 (not
    * murmur3 `hash`) for the catalog-wide reason: both engines implement
    * identical md5, so the bucketing is bit-reproducible cross-engine. */
  private val NumBuckets = 256

  /** DSIR importance weights: target model = `lang = 'en'` docs (the
    * target-domain proxy this fixture affords), raw model = the whole
    * corpus; both are add-one-smoothed hashed unigram distributions over
    * [[NumBuckets]] buckets. Per doc:
    * `log_w = Σ_tokens ln p̂_t(bucket) − ln p̂_r(bucket)`, emitted
    * rounded to 6 with `dsir_pos` = the resampling-preference verdict
    * (weight > 0 ⇔ doc looks more target-like than corpus-average;
    * non-vacuous both ways at every gate SF — validated at
    * sf0.001/0.01/0.1).
    *
    * Plan: one explode collapses immediately to per-(doc, bucket)
    * counts (the only corpus-sized shuffle); both models fold FROM that
    * collapsed form in ONE 256-key aggregate, broadcast back. The
    * normalizers N_t/N_r deliberately do NOT re-aggregate the model
    * branch (Spark doesn't reuse the subtree across branches — the
    * [[TextAnalysis.unigramLm]] lesson): Σ_b c(b) = Σ_docs |tokens|,
    * so they fold from a narrow column-pruned doc scan with no explode
    * and no shuffle beyond the one-row agg. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(Text.tokens(col("text"))).as("w"))
    val db = tok
      .select(col("doc_id"), col("lang"), substring(md5(col("w")), 1, 2).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    // both models in ONE 256-key aggregate over the collapsed counts
    val model = db.groupBy(col("b")).agg(
      sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"),
      sum(col("cnt")).as("cr"))
    val scal = docs.agg(
      sum(when(col("lang") === "en", size(Text.tokens(col("text"))))
        .otherwise(0)).cast("double").as("nt"),
      sum(size(Text.tokens(col("text")))).cast("double").as("nr"))
    val term = (col("cnt").cast("double") *
      (log((col("ct").cast("double") + 1.0) / (col("nt") + NumBuckets)) -
        log((col("cr").cast("double") + 1.0) / (col("nr") + NumBuckets))))
      .cast("decimal(28,12)")
    db.join(broadcast(model), Seq("b"))
      .crossJoin(broadcast(scal))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).cast("long").as("n_toks"),
        sum(term).cast("double").as("lw"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        round(col("lw"), 6).as("log_w"))
      .withColumn("dsir_pos", col("log_w") > 0.0)
  }

  val dsirWeightsSql: String =
    s"""WITH d AS (SELECT doc_id, lang, ${Text.tokensSql()} AS t FROM documents),
       |db AS (SELECT doc_id, lang, substr(md5(w),1,2) AS b, count(*) AS cnt
       |       FROM (SELECT doc_id, lang, unnest(t) AS w FROM d)
       |       GROUP BY doc_id, lang, b),
       |m AS (SELECT b,
       |        SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS ct,
       |        SUM(cnt) AS cr
       |      FROM db GROUP BY b),
       |scal AS (SELECT CAST(SUM(CASE WHEN lang = 'en' THEN len(t) ELSE 0 END)
       |                     AS DOUBLE) AS nt,
       |                CAST(SUM(len(t)) AS DOUBLE) AS nr FROM d),
       |w AS (SELECT doc_id, lang,
       |        CAST(SUM(cnt) AS BIGINT) AS n_toks,
       |        CAST(SUM(CAST(CAST(cnt AS DOUBLE) *
       |              (ln((ct + 1) / (nt + $NumBuckets))
       |               - ln((cr + 1) / (nr + $NumBuckets)))
       |            AS DECIMAL(28,12))) AS DOUBLE) AS lw
       |      FROM db JOIN m USING (b), scal
       |      GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_toks, round(lw, 6) AS log_w,
       |  round(lw, 6) > 0.0 AS dsir_pos
       |FROM w""".stripMargin

  /** Curriculum difficulty banding: quality score
    * `s = ttr · ln(1 + n_toks)` (lexical diversity damped by length —
    * short word-soup and long boilerplate both score low), banded
    * against the corpus-global mean/σ: band 0 = z < −1 (hardest /
    * lowest quality, fed last), 1 = z < 0, 2 = z < 1, 3 = z ≥ 1
    * (cleanest, fed first). Emitted per (band, lang) with doc/token
    * mass and the fenced mean score — the mixture table a curriculum
    * schedule is built from.
    *
    * z is rounded to 6 BEFORE banding on both sides so the band
    * comparison never sits on a sub-ulp boundary. Two narrow passes:
    * per-doc score (no shuffle — map-side from the row), one global
    * moment agg (1 row, broadcast), one 8-key final agg. */
  def curriculumBands(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    def t: Column = Text.tokens(col("text"))
    val scored = docs.select(col("lang"),
      (size(array_distinct(t)).cast("double") / size(t).cast("double") *
        log(lit(1.0) + size(t).cast("double"))).as("s"))
    val mom = scored.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("s").cast("decimal(28,12)")).cast("double").as("sx"),
      sum((col("s") * col("s")).cast("decimal(28,12)")).cast("double").as("sxx"))
    val mean = col("sx") / col("n")
    val std = sqrt(col("sxx") / col("n") - mean * mean)
    val z = round((col("s") - mean) / std, 6)
    scored.crossJoin(broadcast(mom))
      .select(col("lang"), col("s"),
        (when(z < -1.0, 0).when(z < 0.0, 1).when(z < 1.0, 2).otherwise(3))
          .cast("long").as("band"))
      .groupBy(col("band"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("s").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_score"))
  }

  val curriculumBandsSql: String =
    s"""WITH sc AS (SELECT lang,
       |    CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
       |      * ln(1.0 + CAST(len(t) AS DOUBLE)) AS s
       |  FROM (SELECT lang, ${Text.tokensSql()} AS t FROM documents)),
       |mom AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(s * s AS DECIMAL(28,12))) AS DOUBLE) AS sxx
       |  FROM sc),
       |b AS (SELECT lang, s,
       |    CASE WHEN z < -1.0 THEN 0 WHEN z < 0.0 THEN 1
       |         WHEN z < 1.0 THEN 2 ELSE 3 END AS band
       |  FROM (SELECT lang, s,
       |          round((s - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)), 6) AS z
       |        FROM sc, mom))
       |SELECT CAST(band AS BIGINT) AS band, lang,
       |  COUNT(*) AS n_docs,
       |  round(CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE)
       |        / CAST(COUNT(*) AS DOUBLE), 6) AS avg_score
       |FROM b GROUP BY band, lang""".stripMargin

  /** Supervised quality classifier — the fastText-recipe filter the
    * GPT-3/LLaMA pipelines run between cleaning and mixing: train a
    * classifier to separate a "curated" reference class from the raw
    * crawl, then keep documents the classifier scores curated-like.
    * The model here is multinomial Naive Bayes over the same 256
    * hashed-unigram buckets as [[dsirWeights]] (add-one smoothing),
    * which keeps the whole train+score pipeline closed-form and
    * hash-checkable — unlike SGD classifiers, every parameter is an
    * exact count ratio, so DuckDB replays training symbolically.
    * Label proxy on this fixture: sources src0..src9 = curated class
    * (the fixture's text is label-independent noise, so separation is
    * chance — [[centroidClassify]]'s documented stance: the oracle pins
    * the MECHANISM; both verdict branches stay non-vacuous at every
    * gate SF). Per doc: `log_odds = ln(P_hi/P_lo) + Σ_b c_b·(ln
    * p_hi(b) − ln p_lo(b))`, `quality_pass = log_odds > 0`.
    *
    * Plan (the DSIR shape): ONE corpus-sized shuffle (the per-(doc,
    * bucket) collapse), both class models in one 256-key aggregate
    * broadcast back, scalar priors/normalizers in a one-row broadcast,
    * scoring a map-side fold over collapsed counts. */
  def nbQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // try_cast, not cast: a source outside the srcN scheme (real crawls
    // have arbitrary domains — the 10x synth corpus's mega-domain found
    // this as an ANSI cast crash) must land in the crawl class, not
    // fail the job
    val isHi = coalesce(
      expr("try_cast(substring(source, 4, 10) AS INT)") < 10, lit(false))
    // Carry the RAW source column through the explode and derive the
    // class AFTER the per-(doc,bucket) collapse: an expression in the
    // same select as explode lands in the Project ABOVE Generate and
    // re-evaluates per TOKEN (measured 4x the whole query's wall at the
    // 100x corpus vs dsirWeights' raw-column passthrough); post-collapse
    // it runs once per cell, ~40x fewer evaluations
    val tok = docs.select(col("doc_id"), col("source"),
      explode(Text.tokens(col("text"))).as("w"))
    val db = tok
      .select(col("doc_id"), col("source"), substring(md5(col("w")), 1, 2).as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("hi", isHi)
    val model = db.groupBy(col("b")).agg(
      sum(when(col("hi"), col("cnt")).otherwise(0L)).as("ch"),
      sum(when(!col("hi"), col("cnt")).otherwise(0L)).as("cl"))
    val scal = docs.agg(
      sum(when(isHi, size(Text.tokens(col("text")))).otherwise(0)).cast("double").as("nh"),
      sum(when(!isHi, size(Text.tokens(col("text")))).otherwise(0)).cast("double").as("nl"),
      sum(when(isHi, 1L).otherwise(0L)).cast("double").as("dh"),
      sum(when(!isHi, 1L).otherwise(0L)).cast("double").as("dl"))
    val term = (col("cnt").cast("double") *
      (log((col("ch").cast("double") + 1.0) / (col("nh") + NumBuckets)) -
        log((col("cl").cast("double") + 1.0) / (col("nl") + NumBuckets))))
      .cast("decimal(28,12)")
    db.join(broadcast(model), Seq("b"))
      .crossJoin(broadcast(scal))
      .groupBy(col("doc_id"), col("hi"))
      .agg(sum(col("cnt")).cast("long").as("n_toks"),
        round(first(log(col("dh") / col("dl"))) +
          sum(term).cast("double"), 6).as("log_odds"))
      .select(col("doc_id"), col("hi").as("is_curated_source"), col("n_toks"),
        col("log_odds"), (col("log_odds") > 0.0).as("quality_pass"))
  }

  val nbQualitySql: String =
    s"""WITH d AS (SELECT doc_id,
       |    COALESCE(TRY_CAST(substr(source, 4, 10) AS INT) < 10, FALSE)
       |      AS hi, ${Text.tokensSql()} AS t
       |  FROM documents),
       |db AS (SELECT doc_id, hi, substr(md5(w),1,2) AS b, count(*) AS cnt
       |       FROM (SELECT doc_id, hi, unnest(t) AS w FROM d)
       |       GROUP BY doc_id, hi, b),
       |m AS (SELECT b,
       |        SUM(CASE WHEN hi THEN cnt ELSE 0 END) AS ch,
       |        SUM(CASE WHEN hi THEN 0 ELSE cnt END) AS cl
       |      FROM db GROUP BY b),
       |scal AS (SELECT
       |    CAST(SUM(CASE WHEN hi THEN len(t) ELSE 0 END) AS DOUBLE) AS nh,
       |    CAST(SUM(CASE WHEN hi THEN 0 ELSE len(t) END) AS DOUBLE) AS nl,
       |    CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS DOUBLE) AS dh,
       |    CAST(SUM(CASE WHEN hi THEN 0 ELSE 1 END) AS DOUBLE) AS dl
       |  FROM d),
       |w AS (SELECT doc_id, hi,
       |        CAST(SUM(cnt) AS BIGINT) AS n_toks,
       |        round(ln(dh / dl) + CAST(SUM(CAST(CAST(cnt AS DOUBLE) *
       |              (ln((ch + 1) / (nh + $NumBuckets))
       |               - ln((cl + 1) / (nl + $NumBuckets)))
       |            AS DECIMAL(28,12))) AS DOUBLE), 6) AS log_odds
       |      FROM db JOIN m USING (b), scal
       |      GROUP BY doc_id, hi, dh, dl)
       |SELECT doc_id, hi AS is_curated_source, n_toks, log_odds,
       |  log_odds > 0.0 AS quality_pass
       |FROM w""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("llm_dsir_weights", dsirWeights, dsirWeightsSql),
    Entry("llm_curriculum", curriculumBands, curriculumBandsSql),
    Entry("llm_nb_quality", nbQuality, nbQualitySql))
}
