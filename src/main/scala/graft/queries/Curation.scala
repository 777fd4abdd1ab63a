package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.Bpe

/** Corpus-curation composites — the queries a training-data pipeline
  * actually ends with, composed from the catalog's primitives:
  *
  *  - [[stratifiedSample]]: reproducible per-class example selection by
  *    hash order — the standard deterministic alternative to
  *    `TABLESAMPLE` (same rows on every run, every engine, any
  *    partitioning), used for eval-set carving and data audits.
  *  - [[corpusFilter]]: the end-to-end keep/drop accounting — exact-dup
  *    survivor election, then quality gates, with one drop-reason per
  *    doc in precedence order, aggregated per language. This is the
  *    "what goes into training and why" report.
  *
  * Both are single-pass plans: a window over one shuffle
  * (stratifiedSample, survivor election) feeding a map-side-combined
  * aggregation; no joins, nothing driver-side.
  */
object Curation {

  /** Deterministic stratified sample: 3 docs per lang, ordered by
    * md5(doc_id) (hash order ≈ uniform-random but reproducible;
    * tiebreak doc_id). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("skey").asc, col("doc_id").asc)
    docs.select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("skey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("doc_id"), col("rn"))
  }

  val stratifiedSampleSql: String =
    """SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
      |FROM (SELECT lang, doc_id,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
      |      FROM documents)
      |WHERE rn <= 3""".stripMargin

  /** Keep/drop accounting per language: docs whose normalized text is a
    * non-survivor duplicate drop as 'dup' (survivor = min doc_id per
    * hash, elected with a window — no self-join); survivors below the
    * quality gates (type-token ratio >= 0.3, >= 10 whitespace tokens)
    * drop as 'quality'; the rest are 'kept'. Reported with doc and
    * token counts — the corpus-size answer downstream training needs. */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t = col("t")
    // duplicate identity + tokenization from [[Text]], as in
    // llm_exact_dedup — the 'dup' classification here and its survivor
    // set stay definitionally identical
    val withT = docs
      .withColumn("h", md5(Text.norm(col("text"))))
      .withColumn("t", Text.tokens(col("text")))
    val surv = min(col("doc_id")).over(Window.partitionBy(col("h")))
    val ttr = size(array_distinct(t)).cast("double") / size(t)
    val reason = when(col("doc_id") =!= col("surv"), "dup")
      .when(!(col("ttr") >= 0.3 && col("ws_toks") >= 10L), "quality")
      .otherwise("kept")
    withT
      .select(col("lang"), col("doc_id"),
        surv.as("surv"), ttr.as("ttr"), size(t).cast("long").as("ws_toks"))
      .withColumn("reason", reason)
      .groupBy(col("lang"), col("reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_toks")).as("sum_ws_toks"))
  }

  val corpusFilterSql: String =
    s"""WITH d AS (SELECT lang, doc_id,
      |    md5(${Text.normSql()}) AS h,
      |    ${Text.tokensSql()} AS t
      |  FROM documents),
      |e AS (SELECT lang, doc_id,
      |    MIN(doc_id) OVER (PARTITION BY h) AS surv,
      |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
      |    CAST(len(t) AS BIGINT) AS ws_toks
      |  FROM d),
      |r AS (SELECT lang, ws_toks,
      |    CASE WHEN doc_id <> surv THEN 'dup'
      |         WHEN NOT (ttr >= 0.3 AND ws_toks >= 10) THEN 'quality'
      |         ELSE 'kept' END AS reason
      |  FROM e)
      |SELECT lang, reason, COUNT(*) AS n_docs,
      |  CAST(SUM(ws_toks) AS BIGINT) AS sum_ws_toks
      |FROM r GROUP BY lang, reason""".stripMargin

  /** Deterministic train/val/test split — the hand-off a curated corpus
    * ends with: every doc lands in exactly one split as a pure function
    * of its id (md5 bucket mod 100: <96 train, <98 val, else test), so
    * re-runs, engines, and partitionings agree, and the assignment is
    * APPEND-STABLE — growing the corpus never moves an existing doc
    * across splits (re-splitting by fractions would, leaking train docs
    * into a later eval set). Reported per (source, split) with doc and
    * char totals — the split manifest a trainer consumes.
    *
    * Scale: one narrow projection into one map-side-combined
    * aggregation; only the manifest rows shuffle. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100L))
    val split = when(bucket < 96, "train").when(bucket < 98, "val").otherwise("test")
    docs.select(col("source"), split.as("split"), col("n_chars"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  // '0x…'::BIGINT mirrors Spark's conv(hex, 16, 10): both are exact on
  // the 32-bit prefix, and the value is non-negative so % needs no pmod
  // mirroring (the exportJsonl convention).
  val trainSplitSql: String =
    """SELECT source,
      |  CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM (SELECT source, n_chars,
      |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
      |      FROM documents)
      |GROUP BY 1, 2""".stripMargin

  /** The full curation chain as ONE dataflow — what actually ships to
    * the trainer: exact-dup survivor election → quality gates (the
    * [[corpusFilter]] 'kept' rule, same normalization as
    * llm_exact_dedup so the stages can't drift) → deterministic
    * [[trainSplit]] bucket assignment → the per-split manifest (docs,
    * chars, whitespace tokens). The component operators verify each
    * stage in isolation; THIS entry verifies their composition — the
    * oracle recomputes the whole chain independently, so a rule drift
    * between stages (e.g. dedup key vs survivor filter) hash-fails
    * here even when every piece passes alone.
    *
    * Scale shape: one window over the hash-keyed shuffle (survivor
    * election), narrow gates, a pure-function split, and a 3-row
    * manifest aggregation — the chain adds NO shuffle beyond its most
    * expensive member. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t = col("t")
    val withT = docs
      .withColumn("h", md5(Text.norm(col("text"))))
      .withColumn("t", Text.tokens(col("text")))
    val surv = min(col("doc_id")).over(Window.partitionBy(col("h")))
    val kept = withT
      .withColumn("surv", surv)
      .withColumn("ttr", size(array_distinct(t)).cast("double") / size(t))
      .withColumn("ws_toks", size(t).cast("long"))
      .filter(col("doc_id") === col("surv") &&
        col("ttr") >= 0.3 && col("ws_toks") >= 10L)
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100L))
    kept
      .select(
        when(bucket < 96, "train").when(bucket < 98, "val").otherwise("test")
          .as("split"),
        col("n_chars"), col("ws_toks"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("ws_toks")).as("sum_ws_toks"))
  }

  val curationPipelineSql: String =
    s"""WITH d AS (SELECT doc_id, n_chars,
      |    md5(${Text.normSql()}) AS h,
      |    ${Text.tokensSql()} AS t
      |  FROM documents),
      |e AS (SELECT doc_id, n_chars,
      |    MIN(doc_id) OVER (PARTITION BY h) AS surv,
      |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
      |    CAST(len(t) AS BIGINT) AS ws_toks
      |  FROM d),
      |k AS (SELECT * FROM e
      |      WHERE doc_id = surv AND ttr >= 0.3 AND ws_toks >= 10),
      |s AS (SELECT *,
      |    CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT *,
      |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
      |        FROM k))
      |SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(ws_toks) AS BIGINT) AS sum_ws_toks
      |FROM s GROUP BY 1""".stripMargin

  /** Chunk geometry: [[ChunkSize]]-token windows advancing by
    * [[ChunkStride]] tokens (16-token overlap) — the overlap is what
    * keeps a fact straddling a boundary intact in at least one chunk. */
  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Document chunking — the bridge between curation and tokenization:
    * training examples are fixed-size windows, not whole documents, so
    * the last pipeline step slices each doc's token stream into
    * [[ChunkSize]]-token chunks every [[ChunkStride]] tokens. Every doc
    * yields at least one chunk; the final window is allowed to run
    * short (standard packing-side behavior — [[CorpusOps.packBins]]
    * consumes the remainder). Each chunk carries its md5 content hash,
    * so chunk-level dedup / lineage tracking downstream needs no second
    * pass over the text.
    *
    * Scale shape: one narrow per-doc pass — tokenize, integer chunk
    * count, explode, slice — no join, no shuffle at all (the output is
    * written partition-parallel); at 100 TB this is the map-only job it
    * looks like. Determinism: chunk geometry is integer arithmetic,
    * the hash is md5 over the space-joined window, identical in the
    * oracle. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    chunkPlan(docs.select(col("doc_id"),
      Text.tokens(col("text")).as("t")))
  }

  /** [[chunkDocs]] over the TRAINED tokenizer's token stream
    * ([[graft.functions.Bpe.tokensCol]]) instead of whitespace words —
    * the chunk geometry a training run actually packs. Same map-only
    * shape; the oracle reassembles each doc's BPE stream symbolically
    * (`bpe_doc_stream` in [[graft.functions.Bpe.oracleCtes]]) and
    * re-chunks it, so both chunk boundaries AND window hashes are
    * hash-checked. */
  def chunkDocsBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = Bpe.tokensCol(Bpe.fixtureMerges)
    chunkPlan(docs.select(col("doc_id"), toks(col("text")).as("t")))
  }

  /** The tokenizer-independent chunk geometry: expects `(doc_id, t)`
    * where `t` is the doc's token array under WHATEVER tokenizer the
    * caller chose. */
  private def chunkPlan(tokenized: DataFrame): DataFrame = {
    tokenized
      .withColumn("n", size(col("t")))
      // 1 + ceil(max(n - size, 0) / stride), in exact integer arithmetic
      .withColumn("n_chunks", expr(
        s"CAST(1 + (GREATEST(n - $ChunkSize, 0) + ${ChunkStride - 1}) DIV $ChunkStride AS BIGINT)"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .select(col("doc_id"), col("chunk_idx"), col("n_chunks"),
        slice(col("t"), col("chunk_idx").cast("int") * ChunkStride + 1,
          lit(ChunkSize)).as("c"))
      .select(col("doc_id"), col("chunk_idx"), col("n_chunks"),
        size(col("c")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("c"))).as("chunk_hash"))
  }

  /** The chunk-geometry SQL over a CTE `src` exposing `(doc_id, t)` —
    * the oracle mirror of [[chunkPlan]], tokenizer-independent. */
  private def chunkSqlFrom(src: String): String =
    s"""g AS (SELECT doc_id, t, len(t) AS n,
       |        1 + (greatest(len(t) - $ChunkSize, 0) + ${ChunkStride - 1}) // $ChunkStride AS n_chunks
       |      FROM $src),
       |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |        CAST(n_chunks AS BIGINT) AS n_chunks,
       |        t[(CAST(i AS INT) * $ChunkStride + 1):(CAST(i AS INT) * $ChunkStride + $ChunkSize)] AS ck
       |      FROM g, unnest(range(0, n_chunks)) AS r(i))
       |SELECT doc_id, chunk_idx, n_chunks,
       |  CAST(len(ck) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(ck, ' ')) AS chunk_hash
       |FROM c""".stripMargin

  val chunkDocsSql: String =
    s"""WITH d AS (SELECT doc_id, ${Text.normSql()} AS norm FROM documents),
       |s AS (SELECT doc_id, string_split(norm, ' ') AS t FROM d),
       |${chunkSqlFrom("s")}""".stripMargin

  val chunkDocsBpeSql: String =
    s"""WITH RECURSIVE
       |${Bpe.oracleCtes()},
       |s AS (SELECT doc_id, t FROM bpe_doc_stream),
       |${chunkSqlFrom("s")}""".stripMargin

  /** Per-domain quota: cap any one source's contribution to the corpus. */
  private val DomainCap = 20

  /** Per-domain quota downsampling — the source-balancing step of
    * RefinedWeb/Gopher-style curation: no single domain may contribute
    * more than [[DomainCap]] docs, and when a domain is over quota the
    * HIGHEST-SIGNAL docs win (most whitespace tokens first — the same
    * proxy [[corpusFilter]]'s length gate uses; tie-break doc_id so the
    * cut is deterministic on any engine). Complements
    * [[stratifiedSample]] (which draws a FIXED COUNT per stratum,
    * hash-ordered) and [[CorpusOps.domainMixture]] (which reports
    * weights): this one actually elects the per-domain keep set.
    *
    * Scale shape: one shuffle partitioned on `source`, and the
    * rank-then-filter shape is the WindowGroupLimit pattern
    * ([[TextAnalysis.keywordTopk]]): each map task pre-prunes to its
    * local top-[[DomainCap]] per source before the exchange, so the
    * shuffle carries at most cap·tasks rows per domain, never the
    * domain's full doc list — the property that matters when one domain
    * is half the crawl. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("ws_toks").desc, col("doc_id").asc)
    docs.select(col("source"), col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("ws_toks"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= DomainCap)
  }

  val domainCapSql: String =
    s"""SELECT source, doc_id, ws_toks, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT source, doc_id,
       |        CAST(len(${Text.tokensSql()}) AS BIGINT) AS ws_toks,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY len(${Text.tokensSql()}) DESC,
       |            doc_id ASC) AS rank
       |      FROM documents)
       |WHERE rank <= $DomainCap""".stripMargin

  /** Token-budget share kept by [[tokenBudget]], in percent. */
  private val BudgetPct = 25

  /** Token-budget curation WITHOUT a global sort — keep the
    * highest-quality docs whose cumulative token count fits a corpus-wide
    * budget (25% of all tokens). The selection order is
    * (quality DESC, doc_id ASC) where quality = integer type-token ratio
    * in basis points, `floor(10000·distinct_toks/toks)` — exact
    * integers, so the order (and the kept set) is bit-identical
    * cross-engine.
    *
    * The naive form is a GLOBAL sort + running sum — a single-partition
    * window over the whole corpus, the one shape that cannot survive
    * 100 TB. This plan gets the identical keep set in three bounded
    * steps (the distributed-threshold pattern):
    *
    *  1. per-QUALITY-BUCKET token totals (≤10001 rows; quality is
    *     integer-grained, and equal-quality docs land in the same
    *     bucket, so inter-bucket order is exactly the global order —
    *     the basis-point grain exists for SKEW: 10001 buckets keep any
    *     one bucket a small corpus share where a percent grain's 101
    *     would not);
    *  2. running totals over the TINY bucket table (a single-partition
    *     window over ≤10001 rows — bounded by construction, unlike a
    *     corpus-wide one) → each bucket's tokens-before-me, broadcast
    *     back onto the docs;
    *  3. a PER-BUCKET (partitioned, bounded-per-group) cumulative sum in
    *     (doc_id) order; keep while bucket-prior + within-bucket cum ≤
    *     budget. Only the boundary bucket is actually cut — better
    *     buckets pass whole, worse ones drop whole.
    *
    * The budget itself is `floor(Σtoks·25/100)` — floored explicitly on
    * both engines (a bare double→int cast truncates in Spark but
    * half-even-rounds in DuckDB). */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    // The narrow (doc_id, ws_toks, ttr) projection feeds THREE consumers
    // (budget fold, bucket totals, the doc-side join) — a lazy
    // localCheckpoint tokenizes the corpus once and rescans 24 bytes/doc
    // instead of re-reading text 3×. It also makes `ttr` a LEAF
    // attribute: as a projected alias, the ttr-join's inferred
    // isnotnull(ttr) would push below the Project and inline the whole
    // tokenizer into a scan Filter (caught by PlanInvariantSpec's
    // array-constructor-in-Filter guard — the join-key cousin of the
    // explode-alias trap).
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        Text.tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("ws_toks"),
        size(array_distinct(col("t"))).cast("long").as("nd"))
      .select(col("doc_id"), col("ws_toks"),
        floor(col("nd") * 10000 / col("ws_toks")).as("ttr"))
      .localCheckpoint(eager = false)
    tokenBudgetPlan(docs, "ws_toks")
  }

  /** [[tokenBudget]] where the budget is spent in TRAINED-tokenizer
    * tokens ([[graft.functions.Bpe]]) — the unit a training run is
    * actually budgeted in. The quality axis stays the whitespace-token
    * ttr (quality is a property of the text, not the tokenizer), so the
    * keep ORDER matches [[tokenBudget]]; only the token accounting — and
    * therefore where the budget line falls — changes. */
  def tokenBudgetBpe(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Bpe.tokenCountCol(Bpe.fixtureMerges)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), cnt(col("text")).as("bpe_toks"),
        Text.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("bpe_toks"),
        size(col("t")).cast("long").as("ws_toks"),
        size(array_distinct(col("t"))).cast("long").as("nd"))
      .select(col("doc_id"), col("bpe_toks"),
        floor(col("nd") * 10000 / col("ws_toks")).as("ttr"))
      .localCheckpoint(eager = false)
    tokenBudgetPlan(docs, "bpe_toks")
  }

  /** The distributed-threshold budget selection over a pre-tokenized
    * `(doc_id, <tokCol>, ttr)` projection (already lineage-truncated by
    * the caller): quality-bucket totals → tiny-window running priors →
    * per-bucket bounded cumulative sum. Token accounting is whatever
    * column the caller spent the budget in. */
  private def tokenBudgetPlan(docs: DataFrame, tokCol: String): DataFrame = {
    val budget = docs.agg(
      floor(sum(col(tokCol)) * BudgetPct / 100).as("budget"))
    val wBuckets = Window.orderBy(col("ttr").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val priors = docs.groupBy(col("ttr"))
      .agg(sum(col(tokCol)).as("btoks"))
      .withColumn("prior", coalesce(sum(col("btoks")).over(wBuckets), lit(0L)))
      .select(col("ttr"), col("prior"))
    val wIn = Window.partitionBy(col("ttr")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(priors), "ttr")
      .crossJoin(broadcast(budget))
      .withColumn("cum_toks", col("prior") + sum(col(tokCol)).over(wIn))
      .filter(col("cum_toks") <= col("budget"))
      .select(col("doc_id"), col("ttr"), col(tokCol), col("cum_toks"))
  }

  val tokenBudgetSql: String =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS ws_toks,
       |    CAST(FLOOR(len(list_distinct(t)) * 10000.0 / len(t)) AS BIGINT) AS ttr
       |  FROM (SELECT doc_id, ${Text.tokensSql()} AS t
       |        FROM documents)),
       |tot AS (SELECT CAST(FLOOR(SUM(ws_toks) * $BudgetPct / 100.0) AS BIGINT)
       |          AS budget FROM d),
       |c AS (SELECT doc_id, ttr, ws_toks,
       |        CAST(SUM(ws_toks) OVER (ORDER BY ttr DESC, doc_id ASC
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks FROM d)
       |SELECT doc_id, ttr, ws_toks, cum_toks
       |FROM c, tot WHERE cum_toks <= budget""".stripMargin

  val tokenBudgetBpeSql: String =
    s"""WITH RECURSIVE
       |${Bpe.oracleCtes()},
       |d AS (SELECT doc_id, b.n_toks AS bpe_toks,
       |    CAST(FLOOR(len(list_distinct(t)) * 10000.0 / len(t)) AS BIGINT) AS ttr
       |  FROM (SELECT doc_id, ${Text.tokensSql()} AS t
       |        FROM documents) x JOIN bpe_doc_toks b USING (doc_id)),
       |tot AS (SELECT CAST(FLOOR(SUM(bpe_toks) * $BudgetPct / 100.0) AS BIGINT)
       |          AS budget FROM d),
       |c AS (SELECT doc_id, ttr, bpe_toks,
       |        CAST(SUM(bpe_toks) OVER (ORDER BY ttr DESC, doc_id ASC
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks FROM d)
       |SELECT doc_id, ttr, bpe_toks, cum_toks
       |FROM c, tot WHERE cum_toks <= budget""".stripMargin

  /** Quality-weighted Bernoulli sampling WITHOUT an RNG — each doc is
    * kept with probability proportional to its quality, decided by a
    * pure function of the doc (md5 bucket vs quality threshold), so the
    * sample is reproducible across runs/engines/partitionings and
    * APPEND-STABLE (growing the corpus never flips an existing doc's
    * fate — a seeded `rand()` re-draws everything on every change of
    * partitioning; this is [[trainSplit]]'s hash-bucket move applied to
    * weighted selection). Weight = the basis-point type-token ratio
    * capped at 10000 ([[tokenBudget]]'s quality axis): a doc with
    * ttr 8000 survives with p=0.8, boilerplate with ttr 1500 with
    * p=0.15 — quality-proportional downsampling (the FineWeb/CCNet
    * quality-bucket sampling shape).
    *
    * Scale: one narrow map-only pass — no shuffle, no state; the keep
    * decision is embarrassingly parallel. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t = Text.tokens(col("text"))
    val ttr = floor(size(array_distinct(t)).cast("long") * 10000 /
      size(t).cast("long"))
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(10000L))
    // Filter-via-generate, not `.filter(bucket < weight)`: a Filter
    // above the defining projection would be pushed below it and
    // re-evaluate the tokenizer per row in FilterExec (the
    // PlanInvariantSpec array-constructor guard rejects exactly that).
    // Exploding a 0/1-element array keeps the decision and the output
    // in ONE Generate expression — single evaluation, still map-only.
    docs.select(explode(
        when(bucket < ttr,
          array(struct(col("doc_id"), ttr.as("weight_bp"), bucket.as("bucket"))))
          .otherwise(array().cast("array<struct<doc_id:bigint,weight_bp:bigint,bucket:bigint>>")))
      .as("r"))
      .select(col("r.doc_id"), col("r.weight_bp"), col("r.bucket"))
  }

  val weightedSampleSql: String =
    s"""SELECT doc_id, weight_bp, bucket FROM (
       |  SELECT doc_id,
       |    CAST(FLOOR(len(list_distinct(t)) * 10000.0 / len(t)) AS BIGINT)
       |      AS weight_bp,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
       |      AS bucket
       |  FROM (SELECT doc_id, ${Text.tokensSql()} AS t
       |        FROM documents))
       |WHERE bucket < weight_bp""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("llm_stratified_sample", stratifiedSample, stratifiedSampleSql),
    Entry("llm_corpus_filter", corpusFilter, corpusFilterSql),
    Entry("llm_train_split", trainSplit, trainSplitSql),
    Entry("llm_curation_pipeline", curationPipeline, curationPipelineSql),
    Entry("llm_chunk_docs", chunkDocs, chunkDocsSql),
    Entry("llm_chunk_docs_bpe", chunkDocsBpe, chunkDocsBpeSql),
    Entry("llm_domain_cap", domainCap, domainCapSql),
    Entry("llm_token_budget", tokenBudget, tokenBudgetSql),
    Entry("llm_token_budget_bpe", tokenBudgetBpe, tokenBudgetBpeSql),
    Entry("llm_weighted_sample", weightedSample, weightedSampleSql))
}
