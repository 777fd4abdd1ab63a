package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Similarity search over the `embeddings` table (vec_id, embedding
  * FLOAT[64], label) — the ANN surface of a training-data pipeline.
  *
  * Two tiers:
  *  - [[bruteTopk]]: exact cosine top-k. The candidate set is
  *    |queries| × N with the (tiny) query side broadcast — a single
  *    narrow pass over the data, no shuffle of the embedding column;
  *    per-query top-k via a rank window partitioned by query. This is
  *    the correctness baseline and is already the right plan when the
  *    query batch is small.
  *  - [[lshBucketTopk]]: the 100 TB scale path — random-hyperplane LSH.
  *    Each vector gets a sign-bit bucket from 8 fixed hyperplanes
  *    (dataset vectors 0..7, so the "model" is deterministic and
  *    reproducible in the DuckDB oracle); search touches ONLY the
  *    query's bucket (a keyed equi-join on the bucket id, ~N/256 of the
  *    data), never the full corpus.
  *
  * Scores are computed in double (float→double widening is exact) and
  * rounded to 6 decimals in BOTH engines so cross-engine float-sum
  * association differences (~1e-15) cannot flip a hash compare; rank
  * ties broken by vec_id.
  *
  * The reference has no vector surface at all — this is part of the
  * training-data extension mandated by the brief (SURVEY.md §2 addendum).
  */
object VectorSearch {

  /** Element-wise dot product — the native codegen
    * [[graft.functions.DotProduct]] expression. Promoted from the
    * composed `aggregate(zip_with(a, b, _*_), 0.0, _+_)` form: the
    * higher-order functions are CodegenFallback (three array
    * materializations per cosine, per row); the kernel is one fused
    * primitive loop. Bit-identical fold order, proven by the unchanged
    * DuckDB oracles. */
  private def dot(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  private def cosine(a: Column, b: Column): Column =
    round(call_function("cosine_sim", a, b), 6)

  /** DuckDB equivalents of the helpers above (same fold, same rounding). */
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]))"
  private def sqlCos(a: String, b: String): String =
    s"round(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})), 6)"

  /** Exact cosine top-10 for query vectors vec_id < 5. */
  def bruteTopk(spark: SparkSession, dir: String): DataFrame =
    annSearch(spark, dir, 0L until 5L, k = 10)

  /** The parameterized form behind [[bruteTopk]] and the `/ann` endpoint
    * of [[graft.Serve]]: exact cosine top-k for arbitrary query ids.
    * Query side stays broadcast-tiny (a handful of ids per request);
    * the corpus side is one narrow pass — the serving-time plan is the
    * same one the catalog entry pins. */
  def annSearch(spark: SparkSession, dir: String, queryIds: Seq[Long],
      k: Int): DataFrame = {
    require(queryIds.nonEmpty && k >= 1,
      s"annSearch needs >=1 query id and k>=1 (got $queryIds, $k)")
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("score"), col("rank"))
  }

  val bruteTopkSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |s AS (SELECT q_id, vec_id, ${sqlCos("qv", "v")} AS score
       |      FROM e CROSS JOIN q WHERE vec_id <> q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY score DESC, vec_id ASC) AS rank FROM s)
       |SELECT q_id, vec_id AS neighbor_id, score, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin

  /** LSH-bucketed approximate top-5 for query vectors 100..104: sign-bit
    * bucket from 8 hyperplanes, candidates restricted to the query's
    * bucket via a keyed join. */
  def lshBucketTopk(spark: SparkSession, dir: String,
      ids: Seq[Long] = 100L until 105L, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val planes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("j"), col("v").as("pv"))
    // bucket id = Σ_j (dot(v, plane_j) > 0) << j  — one narrow pass,
    // planes broadcast; at 100 TB this is a map-side computation.
    val buckets = emb.crossJoin(broadcast(planes))
      .groupBy(col("vec_id"))
      .agg(sum(when(dot(col("v"), col("pv")) > 0,
        pow(lit(2.0), col("j").cast("double")).cast("long")).otherwise(0L)).as("bucket"))
    val embB = emb.join(buckets, "vec_id")
    val q = embB.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket").as("qbucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    embB.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("score"), col("rank"))
  }

  val lshBucketTopkSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id AS j, v AS pv FROM e WHERE vec_id < 8),
       |bk AS (SELECT e.vec_id,
       |         SUM(CASE WHEN ${sqlDot("e.v", "p.pv")} > 0
       |             THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS bucket
       |       FROM e CROSS JOIN p GROUP BY e.vec_id),
       |eb AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk ON e.vec_id = bk.vec_id),
       |q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbucket FROM eb
       |      WHERE vec_id >= 100 AND vec_id < 105),
       |s AS (SELECT q_id, eb.vec_id, ${sqlCos("qv", "eb.v")} AS score
       |      FROM eb JOIN q ON eb.bucket = q.qbucket AND eb.vec_id <> q.q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY score DESC, vec_id ASC) AS rank FROM s)
       |SELECT q_id, vec_id AS neighbor_id, score, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** IVF (inverted-file) ANN: vectors are partitioned into Voronoi cells
    * of 16 centroids (deterministic "training": dataset vectors 0..15);
    * a query probes only its nprobe=2 nearest cells. The second classic
    * ANN scale path next to [[lshBucketTopk]]: search cost drops to
    * ~nprobe/16 of the corpus, via keyed joins on the cell id.
    * Assignment scores are rounded (tiebreak: centroid id) so the argmax
    * is cross-engine deterministic. */
  def ivfTopk(spark: SparkSession, dir: String,
      ids: Seq[Long] = 200L until 205L, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // cell assignment: one narrow pass, centroids broadcast
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cscore").desc, col("cid").asc)
    val assign = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"), cosine(col("v"), col("cv")).as("cscore"))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("cid"))
    // query probes: nprobe=2 best cells per query vector
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cscore").desc, col("cid").asc)
    val probes = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("cid"), cosine(col("qv"), col("cv")).as("cscore"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= 2)
      .select(col("q_id"), col("qv"), col("cid"))
    // search only the probed cells
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    assign.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("score"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("score"), col("rank"))
  }

  val ivfTopkSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |asg AS (SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |pr AS (SELECT q_id, qv, cid FROM (
       |    SELECT e.vec_id AS q_id, e.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c WHERE e.vec_id >= 200 AND e.vec_id < 205)
       |  WHERE rn <= 2),
       |s AS (SELECT pr.q_id, asg.vec_id, ${sqlCos("pr.qv", "asg.v")} AS score
       |      FROM asg JOIN pr ON asg.cid = pr.cid AND asg.vec_id <> pr.q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY score DESC, vec_id ASC) AS rank FROM s)
       |SELECT q_id, vec_id AS neighbor_id, score, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** Embedding-cosine near-dup detection: candidate pairs restricted to
    * the same LSH sign bucket (keyed join — never all-pairs), kept above
    * a cosine threshold. The embedding-space member of the dedup family
    * (complements the lexical MinHash/SimHash detectors). Threshold 0.4
    * here: the synthetic embeddings carry no true near-dups (max pairwise
    * cosine 0.51), so a production-style 0.95+ would verify nothing. */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val planes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("j"), col("v").as("pv"))
    val buckets = emb.crossJoin(broadcast(planes))
      .groupBy(col("vec_id"))
      .agg(sum(when(dot(col("v"), col("pv")) > 0,
        pow(lit(2.0), col("j").cast("double")).cast("long")).otherwise(0L)).as("bucket"))
    val embB = emb.join(buckets, "vec_id")
    embB.as("a")
      .join(embB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("x_id"), col("b.vec_id").as("y_id"),
        cosine(col("a.v"), col("b.v")).as("score"))
      .filter(col("score") >= 0.4)
  }

  val embedNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id AS j, v AS pv FROM e WHERE vec_id < 8),
       |bk AS (SELECT e.vec_id,
       |         SUM(CASE WHEN ${sqlDot("e.v", "p.pv")} > 0
       |             THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS bucket
       |       FROM e CROSS JOIN p GROUP BY e.vec_id),
       |eb AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk ON e.vec_id = bk.vec_id)
       |SELECT a.vec_id AS x_id, b.vec_id AS y_id, ${sqlCos("a.v", "b.v")} AS score
       |FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${sqlCos("a.v", "b.v")} >= 0.4""".stripMargin

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication in embedding space — vectors are clustered (here the
    * deterministic 16-centroid Voronoi assignment [[ivfTopk]] uses), and
    * within each cluster a vector is DROPPED when a lower-id member sits
    * above the cosine threshold — the paper's keep-one-per-semantic-
    * duplicate-group rule with a deterministic canonical (min id), which
    * complements the LEXICAL dedup family ([[LlmDedup]]) by catching
    * paraphrases and re-encodings that share no shingles.
    *
    * Scale shape: assignment is one narrow broadcast pass; the pairwise
    * test runs ONLY within a cell (keyed self-join on cid — never
    * corpus × corpus), which is exactly the paper's trick: centroid
    * count scales with the corpus (k ~ √N), holding per-cell pair work
    * bounded. Threshold 0.4 (not a production 0.95) because the
    * synthetic embeddings' max pairwise cosine is 0.51 — see
    * [[embedNearDup]].
    *
    * THIS entry keeps the fixed 16-id centroid model so the whole job
    * stays DuckDB-expressible (the oracle row); the production form with
    * k ~ √N LEARNED centroids is [[semDedupKmeans]] (its own catalog
    * row, rows-only checked). */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    dropDominated(assignCells(emb, cents), threshold = 0.4)
  }

  /** Voronoi assignment of every vector to its nearest centroid (max
    * cosine, ties to the lower cid): one narrow pass, centroids
    * broadcast — the shared front of [[semDedup]], [[semDedupKmeans]]
    * and [[ivfTopk]]'s cell build. */
  private def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cscore").desc, col("cid").asc)
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"), cosine(col("v"), col("cv")).as("cscore"))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("cid"))
  }

  /** SemDeDup's keep-rule over an assignment: within each cell, a vector
    * is dropped when a lower-id member sits at/above the cosine
    * threshold. Pair test keyed on cid — never corpus × corpus.
    *
    * The assignment feeds THREE subtrees (pair a-side, pair b-side, the
    * final keep join); without a lineage cut the compute-heavy
    * assignment (k broadcast cosines + per-vector rank per row) re-runs
    * once per consumer — the r18 plan audit found the whole subtree
    * repeated 3× in llm_semdedup_kmeans's physical plan. Lazy
    * localCheckpoint (the dedup-family lifecycle: materializes once,
    * frees via the ContextCleaner, never pins a CacheManager entry on
    * the Serve path) makes it one pass. */
  private def dropDominated(assign0: DataFrame, threshold: Double): DataFrame = {
    val assign = assign0.localCheckpoint(false)
    val dominated = assign.as("a")
      .join(assign.as("b"), col("a.cid") === col("b.cid") &&
        col("a.vec_id") < col("b.vec_id") &&
        cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assign
      .join(dominated.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** The production form of [[semDedup]] (r11 verdict note 1): centroid
    * count PARAMETERIZED — defaulting to the paper's k ~ ⌈√N⌉, which is
    * what keeps per-cell pair work bounded as the corpus grows — and the
    * centroids LEARNED by `lloydIters` deterministic Lloyd (k-means)
    * iterations instead of frozen at the first k ids, so cells track the
    * data's actual density. Everything stays reproducible without a
    * random seed: initial centroids are the k lowest vec_ids, assignment
    * ties break on cid, and per-cell means are folded through
    * DECIMAL(28,12) (the txt_unigram_lm convention) so the float sums
    * are order-independent — two runs give bit-identical clusters.
    *
    * Scale shape per iteration: assignment = one narrow broadcast pass
    * (k·dim doubles — √10⁹ centroids × 64 dims ≈ 16 MB, broadcastable);
    * the mean recompute is one (cid, pos)-keyed aggregation with
    * map-side partial fold; centroids land on the driver (k·dim scalars,
    * the standard k-means driver loop — MLlib does the same) so the
    * iteration's lineage stays flat instead of stacking k join plans.
    * Cells that lose every member simply vanish (k shrinks) — fine for
    * dedup, where cells are a partitioning device, not a model output.
    * Deterministic end-to-end, so the ORACLE REPLAYS the training
    * symbolically (the [[graft.functions.Bpe]] merge-recursion
    * precedent): both Lloyd iterations are unrolled as DuckDB CTEs —
    * init = k lowest vec_ids via QUALIFY, assignment = the same rounded
    * cosine argmax, means = the same DECIMAL fold + one division — and
    * the final keep/drop output hash-compares. TextVectorSpec
    * additionally pins lloydIters=0 ≡ the oracle-checked [[semDedup]]
    * and the keep-rule invariants. */
  def semDedupKmeans(spark: SparkSession, dir: String, k: Int = 0,
      lloydIters: Int = 2, threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val k0 = if (k > 0) k else math.ceil(math.sqrt(emb.count().toDouble)).toInt
    var cents = emb.orderBy(col("vec_id").asc).limit(k0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    for (_ <- 1 to lloydIters) {
      val means = assignCells(emb, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        // sum-then-one-division (not avg-over-decimal): the exact
        // DECIMAL sum casts to double and divides ONCE, so the oracle's
        // CAST(SUM(..) AS DOUBLE)/COUNT(*) reproduces the centroid
        // bit-for-bit — what makes the Lloyd replay hash-comparable.
        .agg(sum(col("x").cast("decimal(28,12)")).as("sx"),
          count(lit(1)).as("n"))
        .select(col("cid"), col("pos"),
          (col("sx").cast("double") / col("n").cast("double")).as("m"))
        .groupBy(col("cid"))
        .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
        .select(col("cid"),
          transform(array_sort(col("pm")), p => p.getField("m")).as("cv"))
      val rows = means.collect() // bounded: k rows of dim doubles
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      cents = rows.toSeq.toDF("cid", "cv")
    }
    dropDominated(assignCells(emb, cents), threshold)
  }

  val semDedupSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |asg AS (SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |d AS (SELECT DISTINCT b.vec_id
       |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |      WHERE ${sqlCos("a.v", "b.v")} >= 0.4)
       |SELECT asg.vec_id, asg.cid, (d.vec_id IS NOT NULL) AS dropped
       |FROM asg LEFT JOIN d ON asg.vec_id = d.vec_id""".stripMargin

  /** Product-quantization ANN — the MEMORY scale path next to the two
    * search-cost paths ([[lshBucketTopk]], [[ivfTopk]]): each 64-dim
    * vector is encoded as 8 sub-space codes into a 64-entry codebook
    * per sub-space, i.e. 8 byte-sized codes instead of 64 doubles
    * (8 B vs 512 B per vector, ~64× smaller — the difference between
    * "embeddings fit in executor memory at 100 TB" and "they don't").
    * Queries score candidates by asymmetric
    * distance (ADC): one 8×64 lookup table per query, and
    * the candidate's approximate distance is a sum of 8 table hits —
    * no float math per candidate at all.
    *
    * Determinism/verifiability: codebooks are FROZEN from the dataset
    * (sub-vectors of vec_id 0..63 — the frozen-prefix convention of
    * [[semDedup]]/[[lshBucketTopk]], widened to 64 codes), so the whole model is SQL-expressible and the oracle
    * hash-checks end-to-end. Sub-space distances are rounded to 6dp
    * (the family's float fence) and the ADC table is scaled to exact
    * MICRO-units (longs), so the 8-term candidate sum is integer —
    * fold-order-free by construction — and the reported double is one
    * pinned division at the end.
    *
    * The ADC pass is a CANDIDATE GENERATOR, not the final ranking —
    * quantization distorts exact ranks, so (as in production IVFPQ
    * systems) the top-100 ADC candidates are re-scored with the exact
    * distance and only then cut to top-10. Measured on the sf0.01
    * fixture that lifts recall@10 vs exact search from 0.16 (raw ADC
    * order) to 0.92; AnnRecallSpec gates it on planted clusters.
    *
    * 100 TB shape: codebook = 8×64 sub-vectors (~32 KB) broadcast;
    * encoding = map-only pass (broadcast join + partial-agg argmin);
    * candidate scan = broadcast of the 5×512-row query table, then one
    * (q, candidate)-keyed partial-agg integer sum over CODES only (the
    * float embeddings never shuffle); rerank touches just |queries|×100
    * vectors by key. */
  def pqTopk(spark: SparkSession, dir: String,
      ids: Seq[Long] = 200L until 205L, k: Int = 10): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val sub = emb
      .select(col("vec_id"), explode(expr("sequence(0, 7)")).as("m"), col("v"))
      .select(col("vec_id"), col("m"), expr("slice(v, m*8+1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") < 64)
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cv"))
    def d2(a: Column, b: Column): Column =
      round(dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b), 6)
    // Encode: per (vector, sub-space) argmin over the 64 codes; min of
    // (dist, code) struct = partial-aggregatable argmin, tie -> lower code.
    val enc = sub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        d2(col("sv"), col("cv")).as("dist"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code").as("code"))
    // ADC lookup table for queries 200..204, in exact micro-units so
    // the 8-term candidate sum is an integer (fold-order-free).
    val qd = sub.filter(col("vec_id").isin(ids: _*))
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id").as("q_id"), col("m"), col("code"),
        round(d2(col("sv"), col("cv")) * 1e6).cast("long").as("qd2i"))
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("adi").asc, col("vec_id").asc)
    val cands = enc.join(broadcast(qd), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("qd2i")).as("adi"))
      .withColumn("crank", row_number().over(wCand))
      // candidate pool must cover the ask: rerank can never emit more
      // rows than ADC passes through, so a k above the default 100-deep
      // pool widens it rather than silently truncating the result
      .filter(col("crank") <= math.max(100, k))
      .select(col("q_id"), col("vec_id"))
    // Exact rerank of the candidates only.
    val qv = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    cands.join(emb, "vec_id").join(broadcast(qv), "q_id")
      .select(col("q_id"), col("vec_id"), d2(col("qv"), col("v")).as("d2"))
      .withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("d2"), col("rank"))
  }

  val pqTopkSql: String = {
    def d2(a: String, b: String): String =
      s"round(${sqlDot(a, a)} - 2.0*${sqlDot(a, b)} + ${sqlDot(b, b)}, 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS sv
       |        FROM e CROSS JOIN range(0, 8) t(m)),
       |cb AS (SELECT m, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 64),
       |enc0 AS (SELECT s.vec_id, s.m, cb.code, ${d2("s.sv", "cb.cv")} AS dist
       |         FROM sub s JOIN cb ON s.m = cb.m),
       |enc AS (SELECT vec_id, m, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist ASC, code ASC) AS rn FROM enc0) WHERE rn = 1),
       |qd AS (SELECT s.vec_id AS q_id, s.m, cb.code,
       |    CAST(round(${d2("s.sv", "cb.cv")} * 1e6) AS BIGINT) AS qd2i
       |  FROM sub s JOIN cb ON s.m = cb.m
       |  WHERE s.vec_id >= 200 AND s.vec_id <= 204),
       |ad AS (SELECT qd.q_id, enc.vec_id, SUM(qd.qd2i) AS adi
       |  FROM enc JOIN qd ON enc.m = qd.m AND enc.code = qd.code
       |  WHERE enc.vec_id <> qd.q_id GROUP BY 1, 2),
       |c AS (SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adi ASC, vec_id ASC) AS crank FROM ad) WHERE crank <= 100),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e
       |  WHERE vec_id >= 200 AND vec_id <= 204),
       |ex AS (SELECT c.q_id, c.vec_id, ${d2("qv.qv", "e.v")} AS d2
       |  FROM c JOIN e ON c.vec_id = e.vec_id JOIN qv ON c.q_id = qv.q_id),
       |r AS (SELECT q_id, vec_id, d2, row_number() OVER (PARTITION BY q_id
       |        ORDER BY d2 ASC, vec_id ASC) AS rank FROM ex)
       |SELECT q_id, vec_id AS neighbor_id, d2, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** IVF-PQ (FAISS IVFADC, Jégou et al. 2011 "Product Quantization for
    * Nearest Neighbor Search" §IV): the composition of the two scale
    * paths that production billion-vector indexes actually ship —
    * [[ivfTopk]]'s coarse Voronoi partition restricts the search to
    * nprobe cells, and inside those cells candidates are scored by
    * product-quantized RESIDUALS (v − centroid), not raw vectors. The
    * residual trick is the paper's key insight: residuals concentrate
    * around 0, so the same 64-code budget quantizes them far more finely
    * than raw vectors, and the ADC table must be rebuilt per probed cell
    * (the query residual differs per cell) — exactly what this plan does.
    *
    * Determinism/verifiability: coarse centroids = vectors 0..15,
    * residual codebooks = residual sub-vectors of vectors 0..63 (the
    * family's frozen-prefix convention), every distance rounded to 6dp
    * with id tiebreaks, ADC sums in exact micro-unit longs (fold-order-
    * free), so the full model is SQL-expressible and hash-checked.
    * Like [[pqTopk]], ADC is a candidate generator: top-100 per query is
    * re-scored exactly and only then cut to top-10.
    *
    * 100 TB shape: centroids (~8 KB) and codebooks (~32 KB) broadcast;
    * assignment + residual + encoding are broadcast joins whose aggs
    * collapse map-side ((vec,m) argmin is a partial-agg min-struct); the
    * ADC scan touches ONLY probed cells via the keyed (cid,m,code) join
    * — the float embeddings never shuffle after encoding, candidates
    * move as integer code sums; rerank touches |queries|×100 rows. */
  def ivfPqTopk(spark: SparkSession, dir: String,
      ids: Seq[Long] = 300L until 305L, k: Int = 10): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    def d2(a: Column, b: Column): Column =
      round(dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b), 6)
    // coarse assignment (L2 argmin, tie -> lower cid) + residual; the
    // centroid vector rides along so the residual is one zip_with
    val assign = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"), col("cv"),
        d2(col("v"), col("cv")).as("cd"))
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"),
        min(struct(col("cd"), col("cid"), col("cv"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        zip_with(col("v"), col("best.cv"), (a, b) => a - b).as("r"))
    val rsub = assign
      .select(col("vec_id"), col("cid"), explode(expr("sequence(0, 7)")).as("m"),
        col("r"))
      .select(col("vec_id"), col("cid"), col("m"), expr("slice(r, m*8+1, 8)").as("sv"))
    // residual codebooks from the frozen prefix (vec_id < 64)
    val cb = rsub.filter(col("vec_id") < 64)
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cbv"))
    val enc = rsub.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("cid"), col("m"), col("code"),
        d2(col("sv"), col("cbv")).as("dist"))
      .groupBy(col("vec_id"), col("cid"), col("m"))
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col("vec_id"), col("cid"), col("m"), col("best.code").as("code"))
    // query probes: nprobe=2 nearest cells, then a PER-CELL ADC table
    // from the query residual w.r.t. that cell's centroid
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cd").asc, col("cid").asc)
    val probes = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("cid"), col("cv"),
        d2(col("qv"), col("cv")).as("cd"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= 2)
      .select(col("q_id"), col("cid"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qr"))
    val qd = probes
      .select(col("q_id"), col("cid"), explode(expr("sequence(0, 7)")).as("m"),
        col("qr"))
      .select(col("q_id"), col("cid"), col("m"), expr("slice(qr, m*8+1, 8)").as("qsv"))
      .join(broadcast(cb), Seq("m"))
      .select(col("q_id"), col("cid"), col("m"), col("code"),
        round(d2(col("qsv"), col("cbv")) * 1e6).cast("long").as("qd2i"))
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("adi").asc, col("vec_id").asc)
    val cands = enc.join(broadcast(qd), Seq("cid", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("qd2i")).as("adi"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= math.max(100, k))
      .select(col("q_id"), col("vec_id"))
    val qv = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    cands.join(emb, "vec_id").join(broadcast(qv), "q_id")
      .select(col("q_id"), col("vec_id"), d2(col("qv"), col("v")).as("d2"))
      .withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("d2"), col("rank"))
  }

  val ivfPqTopkSql: String = {
    def d2(a: String, b: String): String =
      s"round(${sqlDot(a, a)} - 2.0*${sqlDot(a, b)} + ${sqlDot(b, b)}, 6)"
    val rdiff = "list_transform(range(1, len(v)+1), i -> v[i] - cv[i])"
    val qdiff = "list_transform(range(1, len(qv)+1), i -> qv[i] - cv[i])"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |asg AS (SELECT vec_id, cid, $rdiff AS r FROM (
       |    SELECT e.vec_id, e.v, c.cid, c.cv,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |sub AS (SELECT vec_id, cid, m, r[m*8+1 : m*8+8] AS sv
       |        FROM asg CROSS JOIN range(0, 8) t(m)),
       |cb AS (SELECT m, vec_id AS code, sv AS cbv FROM sub WHERE vec_id < 64),
       |enc AS (SELECT vec_id, cid, m, code FROM (
       |    SELECT s.vec_id, s.cid, s.m, cb.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${d2("s.sv", "cb.cbv")} ASC, cb.code ASC) AS rn
       |    FROM sub s JOIN cb ON s.m = cb.m) WHERE rn = 1),
       |pr AS (SELECT q_id, cid, $qdiff AS qr FROM (
       |    SELECT e.vec_id AS q_id, e.v AS qv, c.cid, c.cv,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM e CROSS JOIN c WHERE e.vec_id >= 300 AND e.vec_id <= 304)
       |  WHERE rn <= 2),
       |qsub AS (SELECT q_id, cid, m, qr[m*8+1 : m*8+8] AS qsv
       |         FROM pr CROSS JOIN range(0, 8) t(m)),
       |qd AS (SELECT q.q_id, q.cid, q.m, cb.code,
       |    CAST(round(${d2("q.qsv", "cb.cbv")} * 1e6) AS BIGINT) AS qd2i
       |  FROM qsub q JOIN cb ON q.m = cb.m),
       |ad AS (SELECT qd.q_id, enc.vec_id, SUM(qd.qd2i) AS adi
       |  FROM enc JOIN qd ON enc.cid = qd.cid AND enc.m = qd.m
       |    AND enc.code = qd.code
       |  WHERE enc.vec_id <> qd.q_id GROUP BY 1, 2),
       |cand AS (SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adi ASC, vec_id ASC) AS crank FROM ad) WHERE crank <= 100),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e
       |  WHERE vec_id >= 300 AND vec_id <= 304),
       |ex AS (SELECT cand.q_id, cand.vec_id, ${d2("qv.qv", "e.v")} AS d2
       |  FROM cand JOIN e ON cand.vec_id = e.vec_id JOIN qv ON cand.q_id = qv.q_id),
       |r AS (SELECT q_id, vec_id, d2, row_number() OVER (PARTITION BY q_id
       |        ORDER BY d2 ASC, vec_id ASC) AS rank FROM ex)
       |SELECT q_id, vec_id AS neighbor_id, d2, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** Nearest-centroid classification — the cheap "label a 100 TB corpus
    * by domain prototype" curation op (the classify half of the CCNet-
    * style bucketing family; train = 80% split by vec_id mod 5, eval =
    * the held-out 20%). Training is ONE aggregation: per-(label, pos)
    * mean through DECIMAL(28,12) (the txt_unigram_lm convention — the
    * fold is exact, the only double is a pinned division), so unlike
    * iterative classifiers the whole model is SQL-expressible and the
    * entry hash-checks end-to-end. Scoring: eval rows × |labels|
    * broadcast centroids, rounded cosine, argmax via the partial-
    * aggregatable min-struct (tie → lower label). Output is the
    * confusion matrix — |labels|² bounded at any corpus size.
    *
    * On the noise fixture accuracy is chance by construction (labels
    * are independent of geometry there) — the CORRECTNESS of the
    * mechanism is what the oracle pins; AnnRecallSpec gates accuracy
    * ≥0.95 on planted clusters where labels = cluster ids.
    *
    * 100 TB: train fold is map-side partial (|labels|×64 cells),
    * centroids broadcast (~5 KB), scoring + argmax map-only, and the
    * confusion fold collapses map-side — no stage shuffles the
    * embedding column. */
  def centroidClassify(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val tr = emb.filter(col("vec_id") % 5 =!= 0)
    val ev = emb.filter(col("vec_id") % 5 === 0)
    val cent = tr
      .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("clabel"), col("pos"))
      .agg(sum(col("x").cast("decimal(28,12)")).as("sx"), count(lit(1)).as("n"))
      .select(col("clabel"), col("pos"),
        (col("sx").cast("double") / col("n").cast("double")).as("m"))
      .groupBy(col("clabel"))
      .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
      .select(col("clabel"),
        transform(array_sort(col("pm")), p => p.getField("m")).as("cv"))
    ev.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clabel"),
        cosine(col("v"), col("cv")).as("cos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct((-col("cos")).as("nc"), col("clabel").as("c"))).as("best"))
      .select(col("label"), col("best.c").as("pred"))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  val centroidClassifySql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |tr AS (SELECT * FROM e WHERE vec_id % 5 != 0),
       |ev AS (SELECT * FROM e WHERE vec_id % 5 = 0),
       |cent0 AS (SELECT label AS clabel, i,
       |    CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS m
       |  FROM tr CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2),
       |cvec AS (SELECT clabel, list(m ORDER BY i) AS cv FROM cent0 GROUP BY 1),
       |sc AS (SELECT ev.vec_id, ev.label, cvec.clabel,
       |    ${sqlCos("ev.v", "cvec.cv")} AS cos
       |  FROM ev CROSS JOIN cvec),
       |pred AS (SELECT vec_id, label, clabel AS pred FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, clabel ASC) AS rn FROM sc) WHERE rn = 1)
       |SELECT label, pred, COUNT(*) AS n FROM pred GROUP BY 1, 2""".stripMargin

  /** Symbolic replay of [[semDedupKmeans]]'s two deterministic Lloyd
    * iterations, fully unrolled as CTEs — init is the k = ⌈√N⌉ lowest
    * vec_ids, each assignment the identical rounded-cosine argmax, each
    * mean the identical DECIMAL(28,12) fold with one final double
    * division, so every centroid is bit-identical cross-engine and the
    * final keep/drop verdict hash-compares. */
  val semDedupKmeansSql: String = {
    def asg(name: String, cents: String): String =
      s"""$name AS (SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
         |    FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def means(name: String, asgName: String): String =
      s"""$name AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
         |    SELECT cid, i-1 AS pos,
         |      CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)/COUNT(*) AS m
         |    FROM (SELECT cid, i, v[i] AS x FROM $asgName CROSS JOIN dims t(i))
         |    GROUP BY cid, i) GROUP BY cid)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (SELECT unnest(range(1, (SELECT min(len(v)) FROM e)+1)) AS i),
       |cents0 AS (SELECT vec_id AS cid, v AS cv FROM e
       |  QUALIFY row_number() OVER (ORDER BY vec_id)
       |    <= CAST(CEIL(SQRT((SELECT COUNT(*) FROM e))) AS BIGINT)),
       |${asg("asg1", "cents0")},
       |${means("cents1", "asg1")},
       |${asg("asg2", "cents1")},
       |${means("cents2", "asg2")},
       |${asg("asgf", "cents2")},
       |d AS (SELECT DISTINCT b.vec_id
       |      FROM asgf a JOIN asgf b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |      WHERE ${sqlCos("a.v", "b.v")} >= 0.4)
       |SELECT asgf.vec_id, asgf.cid, (d.vec_id IS NOT NULL) AS dropped
       |FROM asgf LEFT JOIN d ON asgf.vec_id = d.vec_id""".stripMargin
  }

  /** Hard-negative mining for contrastive training (the DPR/Contriever
    * recipe): for each probe vector (vec_id < 5), the top-5 most-similar
    * vectors whose LABEL DIFFERS from the probe's — maximally confusing
    * non-matches, the negatives a retriever is trained against. Same
    * scale shape as [[bruteTopk]]: probe side broadcast-tiny, corpus
    * side one narrow pass, per-probe window top-k with the shared
    * (score desc, vec_id asc) tie-break. At production scale the
    * candidate stream swaps to the [[ivfTopk]]/[[lshBucketTopk]] keyed
    * generators — the label-mismatch predicate and ranking are
    * unchanged. */
  def hardNegatives(spark: SparkSession, dir: String,
      queryIds: Seq[Long] = 0L until 5L, k: Int = 5): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        cosine(col("qv"), col("v")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("q_label").cast("long").as("q_label"),
        col("vec_id").as("neighbor_id"), col("label").cast("long").as("neg_label"),
        col("score"), col("rank"))
  }

  val hardNegativesSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id < 5),
       |s AS (SELECT q_id, q_label, vec_id, label, ${sqlCos("qv", "v")} AS score
       |      FROM e CROSS JOIN q WHERE label <> q_label),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY score DESC, vec_id ASC) AS rank FROM s)
       |SELECT q_id, CAST(q_label AS BIGINT) AS q_label, vec_id AS neighbor_id,
       |  CAST(label AS BIGINT) AS neg_label, score, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** Embedding outlier detection — the "quarantine corrupted vectors"
    * curation gate that runs BEFORE SemDeDup/classification trusts the
    * embedding column (truncated texts, encoder failures and mixed-in
    * foreign-domain docs all land far from their domain prototype).
    * Mechanism: per-label centroid (same DECIMAL(28,12)-folded mean as
    * [[centroidClassify]], trained on all rows), per-vector cosine to
    * its OWN label's centroid, then a per-label z-score of that
    * similarity; `is_outlier` flags z < −2 (the low-similarity tail).
    * std is floored at 0 via greatest() so a degenerate one-point label
    * yields z = 0, not NaN.
    *
    * Cross-engine determinism: sims are rounded to 6 before the moment
    * fold, both moment sums pass through DECIMAL(28,12) (order-free),
    * mean/std are then single pinned double ops, and z is rounded to 6
    * before the −2 comparison — identical bits in both engines.
    *
    * 100 TB: centroid fold is map-side partial (|labels|×64 cells →
    * broadcast ~5 KB), the similarity pass is map-only against the
    * broadcast centroids, the moment fold collapses map-side to
    * |labels| rows (broadcast back), and the verdict pass is map-only —
    * the embedding column is never shuffled. */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val cent = emb
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x").cast("decimal(28,12)")).as("sx"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sx").cast("double") / col("n").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
      .select(col("label"),
        transform(array_sort(col("pm")), p => p.getField("m")).as("cv"))
    val sims = emb.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"), cosine(col("v"), col("cv")).as("sim"))
    val mom = sims.groupBy(col("label")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("sim").cast("decimal(28,12)")).cast("double").as("s1"),
      sum((col("sim") * col("sim")).cast("decimal(28,12)")).cast("double").as("s2"))
    val mean = col("s1") / col("n")
    val std = sqrt(greatest(col("s2") / col("n") - mean * mean, lit(0.0)))
    val z = when(std <= 0.0, lit(0.0))
      .otherwise(round((col("sim") - mean) / std, 6))
    sims.join(broadcast(mom), "label")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("sim"), z.as("z"), (z < -2.0).as("is_outlier"))
  }

  val embedOutliersSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |cent0 AS (SELECT label, i,
       |    CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS m
       |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2),
       |cvec AS (SELECT label, list(m ORDER BY i) AS cv FROM cent0 GROUP BY 1),
       |s AS (SELECT e.vec_id, e.label, ${sqlCos("e.v", "cvec.cv")} AS sim
       |      FROM e JOIN cvec USING (label)),
       |mom AS (SELECT label, CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(sim AS DECIMAL(28,12))) AS DOUBLE) AS s1,
       |    CAST(SUM(CAST(sim*sim AS DECIMAL(28,12))) AS DOUBLE) AS s2
       |  FROM s GROUP BY 1),
       |z AS (SELECT vec_id, label, sim,
       |    CASE WHEN sqrt(greatest(s2/n - (s1/n)*(s1/n), 0)) <= 0 THEN 0.0
       |         ELSE round((sim - s1/n)
       |                / sqrt(greatest(s2/n - (s1/n)*(s1/n), 0)), 6) END AS z
       |  FROM s JOIN mom USING (label))
       |SELECT vec_id, CAST(label AS BIGINT) AS label, sim, z,
       |  z < -2.0 AS is_outlier FROM z""".stripMargin

  // ----------------------------------------------------- int8 quantize

  /** Int8 symmetric per-vector quantization with a reconstruction-error
    * report — the standard 4× memory/IO lever for embedding storage and
    * ANN serving (FAISS `SQ8` / the int8 path every vector DB ships).
    * Per vector: scale = max|v|/127, q_i = clamp(round(v_i/scale)); the
    * report aggregates per label how well the quantized form preserves
    * geometry (cosine(v, dequant(q)), MSE, max abs error) — the numbers
    * an operator checks before switching a 100 TB corpus to int8.
    *
    * Determinism: rounding is `floor(x/scale + 0.5)` IN BOTH ENGINES
    * (identical on every input, no half-even vs half-up divergence);
    * per-vector metrics are rounded to 6dp (the family float fence) and
    * re-aggregated through DECIMAL so group sums are order-free.
    *
    * 100 TB shape: quantize + metrics are ONE map-only pass (the
    * embedding column never shuffles); the per-label fold collapses
    * map-side into |labels| rows. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val scale = array_max(transform(col("v"), x => abs(x))) / lit(127.0)
    val withQ = emb
      .withColumn("scale", scale)
      .withColumn("deq", when(col("scale") === 0.0,
          transform(col("v"), _ => lit(0.0)))
        .otherwise(transform(col("v"), x =>
          greatest(lit(-127.0), least(lit(127.0),
            floor(x / col("scale") + lit(0.5)))) * col("scale"))))
    val err = zip_with(col("v"), col("deq"), (a, b) => a - b)
    val perVec = withQ.select(
      col("label"),
      cosine(col("v"), col("deq")).as("cos_q"),
      round(aggregate(err, lit(0.0), (acc, e) => acc + e * e) / lit(64.0), 6)
        .as("mse"),
      round(array_max(transform(err, e => abs(e))), 6).as("max_err"))
    val dec = "decimal(28,12)"
    perVec.groupBy(col("label")).agg(
      count(lit(1)).as("n_vecs"),
      (sum(col("cos_q").cast(dec)).cast("double") / count(lit(1))).as("avg_cos"),
      (sum(col("mse").cast(dec)).cast("double") / count(lit(1))).as("avg_mse"),
      (sum(col("max_err").cast(dec)).cast("double") / count(lit(1))).as("avg_max_err"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("avg_cos"), col("avg_mse"), col("avg_max_err"))
  }

  val embedQuantizeSql: String = {
    val deq = "CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0) ELSE " +
      "list_transform(v, x -> greatest(-127.0, least(127.0, floor(x/scale + 0.5))) * scale) END"
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |sc AS (SELECT vec_id, label, v,
       |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
       |dq AS (SELECT vec_id, label, v, $deq AS deq FROM sc),
       |pv AS (SELECT label,
       |    ${sqlCos("v", "deq")} AS cos_q,
       |    round(list_sum(list_transform(range(1, len(v)+1),
       |      i -> (v[i]-deq[i])*(v[i]-deq[i]))) / 64.0, 6) AS mse,
       |    round(list_max(list_transform(range(1, len(v)+1),
       |      i -> abs(v[i]-deq[i]))), 6) AS max_err
       |  FROM dq)
       |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
       |  CAST(SUM(CAST(cos_q AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_cos,
       |  CAST(SUM(CAST(mse AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_mse,
       |  CAST(SUM(CAST(max_err AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_max_err
       |FROM pv GROUP BY label""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("llm_embed_outliers", embedOutliers, embedOutliersSql),
    Entry("llm_hard_negatives", hardNegatives(_, _), hardNegativesSql),
    Entry("llm_centroid_classify", centroidClassify, centroidClassifySql),
    Entry("llm_embed_ann_pq", pqTopk(_, _), pqTopkSql),
    Entry("llm_embed_topk", bruteTopk, bruteTopkSql),
    Entry("llm_embed_ann_lsh", lshBucketTopk(_, _), lshBucketTopkSql),
    Entry("llm_embed_ann_ivf", ivfTopk(_, _), ivfTopkSql),
    Entry("llm_embed_ann_ivfpq", ivfPqTopk(_, _), ivfPqTopkSql),
    Entry("llm_embed_quantize", embedQuantize, embedQuantizeSql),
    Entry("llm_embed_neardup", embedNearDup, embedNearDupSql),
    Entry("llm_semdedup", semDedup, semDedupSql),
    Entry("llm_semdedup_kmeans", semDedupKmeans(_, _), semDedupKmeansSql))

}
