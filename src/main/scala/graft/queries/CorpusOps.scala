package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Corpus-hygiene operators a production training-data pipeline runs
  * between dedup and training — benchmark decontamination, repetition
  * quality gates, and domain-mixture rebalancing. (The reference has no
  * counterpart: its corpus is duplicate-prone and served raw,
  * README.md:225-227 — these extend the LLM-pipeline family the same way
  * [[LlmDedup]] and [[Curation]] do.)
  *
  * All three are shuffle-lean by construction: decontamination is ONE
  * keyed join over a df-capped inverted n-gram index (never all-pairs),
  * repetition metrics are per-document aggregations (shuffles keyed by
  * doc_id only), and mixture sampling is one window pass.
  */
object CorpusOps {

  /** Eval-set membership: a deterministic doc_id split standing in for
    * "this doc is in a held-out benchmark". In production the eval side
    * is a separately-loaded benchmark table; the overlap machinery is
    * identical. */
  private val EvalMod = 97

  /** Train→eval benchmark contamination: pairs (train doc, eval doc)
    * sharing ≥ 2 distinct informative word-3-shingles. The shingle
    * identity (normalization, 3-gram window, md5 → two 32-bit halves)
    * and the document-frequency cap are [[LlmDedup]]'s — the dedup
    * family and decontamination must agree on what "same text" means,
    * and the df cap keeps a stop-shingle from putting df² rows under one
    * join key at 100 TB. Plan shape: one scan → inverted index (persisted
    * once — Spark does not reuse identical subtrees), window df-cap (one
    * pass, leaves the index partitioned on the join key), then a keyed
    * equi-join whose eval side is benchmark-sized (tiny vs the corpus —
    * AQE broadcasts it at scale). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val g0 = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(LlmDedup.shingleCol(col("t"))).as("shingle"))
      .select(col("doc_id"), md5(col("shingle")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("b"))
      // Dedup rides the (a, b) exchange the df window needs anyway
      // (the [[LlmDedup.hashedShingles]] r19 fold): one index-sized
      // shuffle instead of distinct's plus the window's.
      .repartition(col("a"), col("b"))
      .dropDuplicates("doc_id", "a", "b")
    val w = Window.partitionBy(col("a"), col("b"))
    val g = g0
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= LlmDedup.DfCap)
      .drop("df")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ev = g.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("a"), col("b"))
    val tr = g.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id").as("train_id"), col("a"), col("b"))
    val out = tr.join(ev, Seq("a", "b"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    // Materialize the (tiny) contamination pairs once, then release the
    // index cache — a long-lived Serve session must not accumulate one
    // persisted index per dir (see [[LlmDedup.incrementalDedup]]).
    val snap = out.localCheckpoint()
    g.unpersist()
    snap
  }

  val decontaminateSql: String =
    s"""WITH g0 AS (SELECT DISTINCT doc_id,
       |      ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS a,
       |      ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS b
       |    FROM (SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
       |          FROM (SELECT doc_id, ${Text.tokensSql()} AS t
       |                FROM documents),
       |               unnest(range(1, len(t)-1)) AS r(i))),
       |hot AS (SELECT a, b FROM g0 GROUP BY a, b HAVING COUNT(*) > ${LlmDedup.DfCap}),
       |g AS (SELECT g0.* FROM g0 ANTI JOIN hot USING (a, b))
       |SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, COUNT(*) AS n_shared
       |FROM g tr JOIN g ev USING (a, b)
       |WHERE tr.doc_id % $EvalMod <> 0 AND ev.doc_id % $EvalMod = 0
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin

  /** Tagged n-gram array over a pre-materialized token array (the array
    * is bound behind a projection boundary by the caller — `element_at`
    * inside the lambda must not re-evaluate the split per element). */
  private def gramArr(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => struct(lit(n).as("kind"),
          concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*).as("gram"))))
      .otherwise(array().cast("array<struct<kind:int,gram:string>>"))

  /** Gopher-style repetition quality gates, per document:
    * `top2_frac` = occurrences of the most frequent word-2-gram over all
    * 2-gram occurrences; `dup5_frac` = fraction of word-5-gram
    * occurrences that are repeats (1 − distinct/total). Docs too short
    * for a 5-gram drop out (inner semantics, mirrored by the oracle).
    * Both n-gram families explode from ONE projection of one scan; the
    * three aggregations are all keyed by doc_id — per-doc state only,
    * nothing global, so the plan is embarrassingly parallel at 100 TB. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val grams = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(concat(gramArr(col("t"), 2), gramArr(col("t"), 5))).as("g"))
      .select(col("doc_id"), col("g.kind").as("kind"), col("g.gram").as("gram"))
    // Two aggregations, not three: after the per-(doc, kind, gram)
    // count, BOTH kinds' stats fold into one conditional groupBy(doc_id)
    // — sum/max/count gated on kind — saving a full shuffle of the gram
    // counts. total5 is null (not 0) for docs with no 5-gram, so the
    // dup5 division nulls out and the inner-semantics filter drops them.
    // The gram key shuffles as xxhash64, NOT text (the dedup-family
    // rule): the stats need gram EQUALITY only, and the raw 2+5-gram
    // stream is ~7× the corpus text; hashed, the exchange carries three
    // longs per partially-collapsed gram row. On CPU-bound local[32]
    // the wall barely moves (the gram CONSTRUCTION dominates) — the win
    // is the ~7×-corpus-bytes exchange a real cluster would pay in
    // network. A zero-shuffle per-row sorted-run-length fold was tried
    // and REJECTED: interpreted higher-order-function folds ran 25×
    // slower than this codegen hash aggregation (80 s vs 3 s at 10× —
    // the char_entropy idiom only wins when the alternative is a
    // per-distinct-element rescan, not a hash agg).
    grams
      .groupBy(col("doc_id"), col("kind"), xxhash64(col("gram")).as("gh"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("kind") === 2, col("n"))).cast("double").as("top2"),
        sum(when(col("kind") === 2, col("n"))).cast("double").as("total2"),
        count(when(col("kind") === 5, lit(1))).cast("double").as("nd5"),
        sum(when(col("kind") === 5, col("n"))).cast("double").as("total5"))
      .select(col("doc_id"),
        (col("top2") / col("total2")).as("top2_frac"),
        (lit(1.0) - col("nd5") / col("total5")).as("dup5_frac"))
      .filter(col("top2_frac").isNotNull && col("dup5_frac").isNotNull)
      .withColumn("is_repetitive",
        col("top2_frac") > 0.08 || col("dup5_frac") > 0.05)
  }

  val repetitionSql: String =
    s"""WITH toks AS (SELECT doc_id, ${Text.tokensSql()} AS t
       |             FROM documents),
       |g2 AS (SELECT doc_id, 2 AS kind, concat_ws(' ', t[i], t[i+1]) AS gram
       |       FROM toks, unnest(range(1, len(t))) AS r(i)),
       |g5 AS (SELECT doc_id, 5 AS kind,
       |         concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS gram
       |       FROM toks, unnest(range(1, len(t)-3)) AS r(i)),
       |c AS (SELECT doc_id, kind, gram, COUNT(*) AS n
       |      FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g5) GROUP BY 1, 2, 3),
       |k AS (SELECT doc_id, kind, CAST(SUM(n) AS DOUBLE) AS total,
       |        CAST(MAX(n) AS DOUBLE) AS top, CAST(COUNT(*) AS DOUBLE) AS nd
       |      FROM c GROUP BY 1, 2),
       |p AS (SELECT doc_id,
       |        MAX(CASE WHEN kind = 2 THEN top / total END) AS top2_frac,
       |        MAX(CASE WHEN kind = 5 THEN 1.0 - nd / total END) AS dup5_frac
       |      FROM k GROUP BY 1)
       |SELECT doc_id, top2_frac, dup5_frac,
       |  (top2_frac > 0.08 OR dup5_frac > 0.05) AS is_repetitive
       |FROM p WHERE top2_frac IS NOT NULL AND dup5_frac IS NOT NULL""".stripMargin

  /** Domain-mixture rebalancing: per-source budgets by sqrt scaling
    * (n_take = ⌈√n_avail⌉ — the standard temperature-style de-biasing
    * that downsamples hot domains hard and keeps the tail), selection by
    * md5 hash order — reproducible on any engine, any partitioning (same
    * determinism contract as [[Curation.stratifiedSample]], which takes
    * a FIXED per-class count; here the budget is data-dependent). One
    * window pass over one shuffle keyed by source; skew-safe because
    * output per source is √n. */
  def domainMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val bySrc = Window.partitionBy(col("source"))
    val w = bySrc.orderBy(col("skey").asc, col("doc_id").asc)
    docs
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("skey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_avail", count(lit(1)).over(bySrc))
      .withColumn("n_take", ceil(sqrt(col("n_avail").cast("double"))).cast("long"))
      .filter(col("rn") <= col("n_take"))
      .select(col("source"), col("doc_id"), col("n_avail"), col("n_take"))
  }

  val domainMixtureSql: String =
    """SELECT source, doc_id, n_avail, n_take FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_avail,
      |    CAST(CEIL(SQRT(COUNT(*) OVER (PARTITION BY source))) AS BIGINT) AS n_take
      |  FROM documents)
      |WHERE rn <= n_take""".stripMargin

  /** Token budget per packed bin. */
  private val PackBudget = 512

  /** Width of the hash-bucket pre-partitioning for [[packBins]]. */
  private val PackBuckets = 8

  /** Sequence packing: assign docs to fixed token-budget bins (the prep
    * step that turns a ragged corpus into dense training batches). Docs
    * are taken in md5-hash order and greedily fill bins of
    * [[PackBudget]] tokens: bin = ⌊(running-total − own-tokens)/budget⌋.
    *
    * Scale shape: the running total is a windowed cumsum, and an
    * un-partitioned cumsum is a single-partition scan — so packing runs
    * inside (lang, hash-bucket) partitions ([[PackBuckets]]-way here,
    * thousands-way at 100 TB). Bucketing costs nothing in packing
    * quality (bins are budget-fulls either way, only their membership
    * shifts) and bounds every window partition to corpus/buckets. One
    * shuffle, one window pass, one partial-agg rollup. */
  def packBins(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val d = docs.select(col("lang"), col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("toks"),
        md5(col("doc_id").cast("string")).as("skey"))
      .withColumn("bucket",
        conv(substring(col("skey"), 1, 2), 16, 10).cast("long") % PackBuckets)
    val w = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("skey").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("toks")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("toks")).cast("double") / PackBudget).cast("long"))
      .groupBy(col("lang"), col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_tokens"))
  }

  val packBinsSql: String =
    s"""WITH d AS (SELECT lang, doc_id,
       |    len(${Text.tokensSql()}) AS toks,
       |    md5(CAST(doc_id AS VARCHAR)) AS skey,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT % $PackBuckets AS BIGINT) AS bucket
       |  FROM documents),
       |c AS (SELECT lang, bucket, toks,
       |    SUM(toks) OVER (PARTITION BY lang, bucket ORDER BY skey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT lang, bucket,
       |  CAST(FLOOR((cum - toks) / $PackBudget.0) AS BIGINT) AS bin,
       |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS sum_tokens
       |FROM c GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------- JSONL export

  /** Number of export shards. Here 8 so sf0.01 exercises multi-shard
    * layout; at 100 TB the same op runs with thousands of shards plus
    * `maxRecordsPerFile` — the shard key and layout are what matter. */
  private val ExportShards = 8

  /** Order-independent content signature of the exported text: the sum
    * of 32-bit md5 prefixes. */
  private val textSig: Column =
    sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("text_sig")

  /** The JSONL exports' roundtrip fold: per-shard counts, char totals
    * and [[textSig]]. */
  private val exportFold: Seq[Column] =
    Seq(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"), textSig)

  /** Write `sharded` (which carries a `shard` column) as a gzip-JSONL
    * tree, one directory per shard, into a fresh run directory of
    * `prefix`, and return the tree read back and folded per shard by
    * `fold`. Same-prefix exports serialize on the run root's lock. The
    * fold is pinned as DRIVER-held rows before the lock releases, not
    * localCheckpoint: the result is one row per shard (bounded, small at
    * any scale), and executor-memory blocks would not survive executor
    * churn on a real cluster (dynamic allocation, preemption). */
  private def exportRoundtrip(spark: SparkSession, prefix: String,
      sharded: DataFrame, fold: Seq[Column] = exportFold): DataFrame =
    graft.Fixtures.withRunRoot(prefix) { out =>
      sharded.write.mode("overwrite").partitionBy("shard")
        .option("compression", "gzip").json(out)
      val folded = spark.read.json(out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(fold.head, fold.tail: _*)
      val rows = folded.collect() // bounded: one row per shard
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), folded.schema)
    }

  /** Sharded gzip-JSONL export — the delivery last-mile of a training
    * corpus (the lake stores parquet; trainers consume JSONL shards).
    * Deterministic sharding on `doc_id % shards`, written as one
    * directory per shard (`partitionBy`), gzip-compressed. The query
    * returns the ROUNDTRIP: the exported JSONL read back and folded to
    * per-shard counts, char totals, and an order-independent content
    * signature (sum of 32-bit md5 prefixes of the text) — proving both
    * the shard layout and schema/content fidelity through the JSON
    * boundary. The oracle computes the identical fold from the parquet
    * source, so any loss or mangling in the export path hash-fails.
    *
    * Scale: the export itself is one narrow pass (no shuffle beyond the
    * partitioned write); the verification fold is one shuffle keyed on
    * the shard id. */
  def exportJsonl(spark: SparkSession, dir: String): DataFrame =
    exportRoundtrip(spark, "jsonl_export", Tables.load(spark, dir, "documents")
      .withColumn("shard", pmod(col("doc_id"), lit(ExportShards.toLong))))

  /** Target uncompressed chars per export shard for the sized planner
    * (chars proxy JSONL bytes; loaders want ~even shards of a target
    * SIZE, not a fixed count — a fixed count under-shards a growing
    * corpus and over-shards a small one). */
  val ExportTargetChars: Long = 50000L

  /** Cap on planned shards — a corrupted n_chars column must not plan
    * a million output directories. */
  val ExportMaxShards: Int = 4096

  /** Size-targeted export planning: shards = clamp(⌈Σ n_chars /
    * target⌉, 1, cap), then the same deterministic doc_id-mod
    * assignment and roundtrip fold as [[exportJsonl]]. The corpus
    * total is ONE driver-held row (the bounded-fold tier) — at 100 TB
    * this is the difference between "shards sized for the loader" and
    * "8 shards of 12 TB each". The oracle derives the identical count
    * from the same sum, so the PLAN (not just the content) is under
    * the hash gate. */
  def exportJsonlSized(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val total = docs.agg(sum(col("n_chars")).cast("long")).head.getLong(0)
    val shards = math.min(ExportMaxShards.toLong,
      math.max(1L, (total + ExportTargetChars - 1) / ExportTargetChars))
    exportRoundtrip(spark, "jsonl_export_sized",
      docs.withColumn("shard", pmod(col("doc_id"), lit(shards))))
  }

  val exportJsonlSizedSql: String =
    s"""WITH n AS (SELECT LEAST($ExportMaxShards,
       |    GREATEST(1, CAST(CEIL(SUM(n_chars) / $ExportTargetChars.0) AS BIGINT))) AS ns
       |  FROM documents)
       |SELECT ((doc_id % ns) + ns) % ns AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_sig
       |FROM documents CROSS JOIN n GROUP BY 1""".stripMargin

  // pmod on the Spark side is always non-negative; mirror it exactly in
  // the oracle (DuckDB's % is sign-preserving) so a negative doc_id
  // lands in the same shard group on both sides.
  val exportJsonlSql: String =
    s"""SELECT ((doc_id % $ExportShards) + $ExportShards) % $ExportShards AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_sig
       |FROM documents GROUP BY 1""".stripMargin

  /** Shard count for the range-sorted export. */
  val SortShards = 4

  /** Range-partitioned SORTED export — the bulk-load shape (the
    * reference bulk-inserts into ES, insert_owid.py:153-155; loaders
    * and external index builds want non-overlapping sorted runs they
    * can merge or binary-search). Unlike [[exportJsonl]]'s hash shards,
    * shard ranges here are MONOTONE: shard k's max key < shard k+1's
    * min key, each run internally sorted (repartition on the shard +
    * sortWithinPartitions — one exchange, no global sort). Boundaries
    * derive from the key bounds by exact integer arithmetic (one
    * driver-held row) rather than Spark's sampled RangePartitioner, so
    * the assignment is deterministic and the oracle replays it — the
    * production trade is sampled boundaries for balance; the
    * DETERMINISM here is what makes the export hash-verifiable. The
    * roundtrip fold proves the written runs, not the plan. */
  def exportSorted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val b = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    exportRoundtrip(spark, "jsonl_export_sorted", docs.crossJoin(broadcast(b))
      .withColumn("shard",
        least(lit(SortShards - 1L),
          expr(s"((doc_id - mn) * $SortShards) div (mx - mn + 1)")))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .drop("mn", "mx"),
      Seq(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"), textSig))
  }

  val exportSortedSql: String =
    s"""WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents)
       |SELECT LEAST(${SortShards - 1},
       |    ((doc_id - mn) * $SortShards) // (mx - mn + 1)) AS shard,
       |  COUNT(*) AS n_docs,
       |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_sig
       |FROM documents CROSS JOIN b GROUP BY 1""".stripMargin

  /** Corpus datasheet — the "dataset card" table published WITH a
    * training corpus (Datasheets for Datasets; every serious release
    * ships one): per language plus an `__all__` rollup row — doc and
    * token mass, corpus share, exact-duplicate rate, length p50/p95,
    * mean lexical diversity. One operator so the release artifact is a
    * query result, not a hand-maintained document that drifts.
    *
    * Shapes: ONE per-doc pass (tokenize + md5 + ttr, map-only), then a
    * single rollup aggregate — |langs|+1 output rows at any corpus
    * size. The exact `percentile`/`countDistinct` here are the gate-SF
    * encodings; at 100 TB the caller swaps in `percentile_approx` and
    * HLL exactly as the evt_percentiles / rel_approx_distinct split
    * documents (bounded sketch state, same output shape). */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t = Text.tokens(col("text"))
    val perDoc = docs.select(
      col("lang"), col("n_chars").cast("double").as("nc"),
      size(t).cast("long").as("toks"),
      (size(array_distinct(t)).cast("double") / size(t).cast("double"))
        .as("ttr"),
      md5(col("text")).as("h"))
    val total = perDoc.agg(count(lit(1)).cast("double").as("all_docs"))
    perDoc.rollup(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("n_tokens"),
        countDistinct(col("h")).as("n_unique"),
        round(percentile(col("nc"), lit(0.5)), 6).as("p50_chars"),
        round(percentile(col("nc"), lit(0.95)), 6).as("p95_chars"),
        round(sum(col("ttr").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_ttr"))
      .crossJoin(broadcast(total))
      .select(
        coalesce(col("lang"), lit("__all__")).as("lang"),
        col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("all_docs"), 6).as("pct_docs"),
        round(lit(1.0) - col("n_unique").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"),
        col("p50_chars"), col("p95_chars"), col("mean_ttr"))
  }

  val corpusCardSql: String =
    s"""WITH d AS (SELECT lang, CAST(n_chars AS DOUBLE) AS nc,
       |    ${Text.tokensSql()} AS t,
       |    md5(text) AS h
       |  FROM documents),
       |p AS (SELECT lang, nc, CAST(len(t) AS BIGINT) AS toks,
       |    CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
       |      AS ttr, h
       |  FROM d),
       |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS all_docs FROM p),
       |card AS (SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |    COUNT(DISTINCT h) AS n_unique,
       |    round(quantile_cont(nc, 0.5), 6) AS p50_chars,
       |    round(quantile_cont(nc, 0.95), 6) AS p95_chars,
       |    round(CAST(SUM(CAST(ttr AS DECIMAL(28,12))) AS DOUBLE)
       |          / CAST(COUNT(*) AS DOUBLE), 6) AS mean_ttr
       |  FROM p GROUP BY ROLLUP(lang))
       |SELECT COALESCE(lang, '__all__') AS lang, n_docs, n_tokens,
       |  round(CAST(n_docs AS DOUBLE) / all_docs, 6) AS pct_docs,
       |  round(1.0 - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    AS dup_rate,
       |  p50_chars, p95_chars, mean_ttr
       |FROM card, tot""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("llm_corpus_card", corpusCard, corpusCardSql),
    Entry("llm_export_sorted", exportSorted, exportSortedSql),
    Entry("llm_decontaminate", decontaminate, decontaminateSql),
    Entry("txt_repetition", repetition, repetitionSql),
    Entry("llm_domain_mixture", domainMixture, domainMixtureSql),
    Entry("llm_pack_bins", packBins, packBinsSql),
    Entry("llm_export_jsonl", exportJsonl, exportJsonlSql),
    Entry("llm_export_sized", exportJsonlSized, exportJsonlSizedSql))
}
