package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for a large-scale training-data pipeline, over
  * the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Four dedup families, each designed to scale to 100 TB (every join is
  * keyed — hash buckets, LSH bands, or inverted shingle index — never an
  * all-pairs cartesian):
  *
  *  - exact:   md5 of normalized text → hash-groupBy (one shuffle on the
  *             hash; map-side partial agg).
  *  - minhash: word-3-shingles → 32 minhash signatures → 16 LSH bands of
  *             2 rows → candidate pairs ONLY where a band collides →
  *             exact shingle-Jaccard verification on the candidates.
  *             At j=0.5 similarity the band-collision probability is
  *             1-(1-0.5^2)^16 ≈ 99%; false positives are removed by the
  *             verification join, so precision is exact.
  *  - simhash: 16-bit term-frequency simhash from per-token md5 bits;
  *             identical-fingerprint grouping.
  *  - shingle-Jaccard: exact sparse similarity join via an inverted
  *             shingle index (pairs share ≥1 shingle; no LSH recall loss).
  *
  * Division of labor at scale: the pairwise operators (minhash,
  * shingle-Jaccard) report pairs BETWEEN EXACT-DEDUP REPRESENTATIVES
  * only — identical texts are exactDedup's job, and emitting a
  * duplicate-heavy corpus's same-text cliques as pairs is inherently
  * O(clique²) no matter how they are found. [[dedupClusters]] reunites
  * the two families (near-dup pairs + exact-dup star edges), so cluster
  * coverage over the full corpus is preserved.
  *
  * The md5-based hash family is used (instead of Spark's murmur3 `hash`)
  * because both engines — Spark and the DuckDB oracle — implement
  * identical md5, making the whole pipeline bit-reproducible across
  * engines; determinism is also what makes dedup auditable in production.
  *
  * Reference tie-in: the reference is duplicate-prone by design (random
  * uuid4 doc ids + full refresh, insert_owid.py:154; dedup is its
  * acknowledged TODO, README.md:225-227) — these operators are the
  * capability it lacks.
  */
object LlmDedup {

  private val NumHashes = 32
  private val NumBands = 16 // 2 rows per band

  /** Document-frequency cap on the shingle index: a shingle occurring in
    * more than this many (distinct-text) documents is dropped before any
    * pairwise join. A stop-shingle ("of the and") in df documents would
    * otherwise put df² join rows under ONE key — quadratic blowup plus
    * catastrophic skew at 100 TB — while carrying no discriminative
    * signal precisely because it is near-universal. Recall contract:
    * pairs whose ONLY shared shingles are above-cap boilerplate are not
    * reported; the oracle applies the identical cap so the comparison
    * stays exact. (Declared before the oracle CTE strings below — they
    * interpolate it at object init.) */
  private[queries] val DfCap = 256

  /** word 3-gram shingles (empty array when < 3 tokens — mirrors DuckDB's
    * empty `range`). Shared with [[CorpusOps.decontaminate]] so the
    * dedup family and decontamination agree on the shingle identity. */
  private[queries] def shingleCol(t: Column): Column =
    when(size(t) >= 3,
      transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** Oracle mirror of [[hashedShingles]] (shared by both pairwise dedup
    * oracles so the hashed identity, the representative collapse, and
    * the df cap cannot silently diverge between them). */
  private val shingleSqlCte =
    s"""rep AS (SELECT MIN(doc_id) AS doc_id, MIN(norm) AS norm
      |        FROM (SELECT doc_id, ${Text.normSql()} AS norm FROM documents)
      |        GROUP BY md5(norm)),
      |toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM rep),
      |sh AS (SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
      |       FROM toks, unnest(range(1, len(t)-1)) AS r(i))""".stripMargin

  private val hashedShingleSqlCte =
    s"""hs0 AS (SELECT DISTINCT doc_id,
      |          ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS a,
      |          ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS b
      |        FROM sh),
      |hot AS (SELECT a, b FROM hs0 GROUP BY a, b HAVING COUNT(*) > $DfCap),
      |hs AS (SELECT hs0.* FROM hs0 ANTI JOIN hot USING (a, b))""".stripMargin

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by md5 of normalized text; survivor = min doc_id.
    * At 100 TB this is one shuffle keyed on the 128-bit hash (never on the
    * full text), with map-side partial aggregation. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs
      .select(md5(Text.norm(col("text"))).as("text_hash"), col("doc_id"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_dups"))
  }

  val exactDedupSql: String =
    s"""SELECT md5(${Text.normSql()}) AS text_hash,
      |  MIN(doc_id) AS survivor_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- minhash

  /** Modulus of the derived-hash family: largest prime below 2^32. */
  private val P = 4294967291L

  /** Exact-duplicate representatives (min doc_id per normalized text),
    * carrying the normalized text: same-text cliques collapse to one
    * vertex BEFORE any pairwise machinery, so a duplicate-heavy corpus
    * (the case where dedup matters most) can never feed a k-clique's
    * O(k²) pairs into the band join. One shuffle keyed on the md5 with
    * map-side partial agg; all normalized texts in a group are equal by
    * construction, so MIN(norm) is just "the text". */
  private def repDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs
      .select(col("doc_id"), Text.norm(col("text")).as("norm"))
      .groupBy(md5(col("norm")).as("th"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("norm")).as("norm"))
  }

  /** Hashed shingle index (doc_id, a, b) over exact-dedup representatives
    * ([[repDocs]]), df-capped ([[DfCap]]): one md5 per shingle, split into
    * two 32-bit halves. All downstream hashing derives from (a, b) with
    * integer arithmetic — the Kirsch–Mitzenmacher trick: g_i = a + i*b
    * mod P is pairwise-independent enough for minhash, and replaces 32
    * md5 evaluations per index row (the measured hot spot: ~77M digest
    * calls at sf0.1, ~5s of the 6s pipeline) with one. The shingle string
    * itself never shuffles — the 64-bit (a, b) pair is the shingle
    * identity everywhere downstream (md5-collision odds at corpus scale
    * are ~n²/2^65 — negligible, and the oracle uses the identical
    * identity so the comparison stays exact). */
  private def hashedShingles(spark: SparkSession, dir: String): DataFrame = {
    // The token array is materialized behind a projection boundary BEFORE
    // the shingle transform: `element_at` inside the lambda would
    // otherwise re-evaluate the split per element (~3 × shingle-count
    // re-splits per document — measured 10× slowdown).
    val hs0 = repDocs(spark, dir)
      .select(col("doc_id"), split(col("norm"), " ").as("t"))
      .select(col("doc_id"), explode(shingleCol(col("t"))).as("shingle"))
      .select(col("doc_id"), md5(col("shingle")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("b"))
      // Dedup RIDES the (a, b) exchange instead of paying its own
      // (r19): the index used to shuffle twice — a (doc_id, a, b)
      // distinct, then a repartition-by-(a, b) for the df window.
      // HashPartitioning(a, b) clusters every copy of a (doc_id, a, b)
      // row just as well (partition keys ⊆ dedup keys), so one
      // repartition + an exchange-free dropDuplicates replaces both.
      // Trade-off, measured: the wire now carries the within-doc
      // duplicate grams the distinct's map-side partial agg used to
      // collapse (the rows are three longs — the strings-never-shuffle
      // rule is untouched), and the index build drops a full
      // index-sized exchange + sort (ExchangeCount: build subtree
      // 3 -> 2; One min-of-4 llm_minhash_neardup 2.73 -> 2.45 s,
      // llm_shingle_jaccard 2.62 -> 2.15 s, inside ambient noise on a
      // shared box — the structural exchange cut is the claim). Skew:
      // same argument as the df window below — hot (a, b) keys are
      // hash-spread, and the 1000× harness re-gates the build.
      .repartition(col("a"), col("b"))
      .dropDuplicates("doc_id", "a", "b")
    // df cap in ONE pass: a count window over the (a, b) partition,
    // filter df <= cap. vs the agg + anti-join alternative this saves a
    // second full computation/shuffle of the index, and it leaves the
    // result hash-partitioned by (a, b) — the exact partitioning the
    // downstream same-shingle self-joins key on, so the cache feeds them
    // exchange-free. Skew-safe: a partition holds at most
    // (distinct shingles in it) × max-df rows post-filter, and the hot
    // keys the window counts are bounded by corpus-size/1 occurrences
    // spread over the hash space.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("a"), col("b"))
    hs0
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= DfCap)
      .drop("df")
      // Consumed by the signature agg, both sides of the verification
      // join, and the size agg; Spark does NOT deduplicate identical
      // non-exchange subtrees (measured: 0 ReusedExchange, the index
      // recomputed ~5x unpersisted), so materialize once. Lifecycle: the
      // harness (Bench/Verify) clears the cache between queries, so the
      // persist is scoped to one query and never times a warm cache.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** MinHash + LSH near-dup: banded candidate generation (the join key is
    * a band's (m_2b, m_2b+1) signature pair, NEVER a cartesian pair),
    * then exact Jaccard verification restricted to candidates. Output:
    * near-dup pairs with j >= 0.5 between exact-dedup representatives
    * (see the object doc for the division-of-labor contract). */
  def minhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val hs = hashedShingles(spark, dir)

    // 32 minima over the derived family, computed inline in ONE
    // partial-aggregating pass (map-side combine; no extra shuffle),
    // with the set size folded into the same pass.
    val mhAggs = (0 until NumHashes).map(i =>
      min((col("a") + lit(i.toLong) * col("b")) % P).as(s"m$i")) :+
      count(lit(1)).as("n")
    // The signature agg feeds four consumers (both band-join sides, both
    // size lookups) and Spark recomputes per consumer, so persist the
    // one-row-per-doc frame (re-measured after the index cache became
    // (a, b)-partitioned: each recompute now pays a full doc_id reshuffle
    // of the index, which flipped the r3 "recompute beats persist" call).
    val mh = hs.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // A band's identity IS its two signature values — no band hash
    // needed; the self-join keys on (band, k1, k2).
    val bandKeys = (0 until NumBands).map(b =>
      struct(col(s"m${2 * b}").as("k1"), col(s"m${2 * b + 1}").as("k2")))
    val bands = mh.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bk")))
      .select(col("doc_id"), col("band"), col("bk.k1"), col("bk.k2"))

    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("x_id"), col("b.doc_id").as("y_id"))
      .distinct()

    // Exact Jaccard verification: candidates joined back against the
    // hashed index; shared shingles join on (a, b). No broadcast hint:
    // the candidate set's size is data-dependent, so AQE broadcasts it
    // when (and only when) its runtime size allows — a forced broadcast
    // would OOM exactly when the corpus is collision-heavy.
    val shared = cand
      .join(hs.as("sa"), col("x_id") === col("sa.doc_id"))
      .join(hs.as("sb"),
        col("y_id") === col("sb.doc_id") &&
          col("sa.a") === col("sb.a") && col("sa.b") === col("sb.b"))
      .groupBy(col("x_id"), col("y_id"))
      .agg(count(lit(1)).as("shared"))
    withJaccard(shared, mh.select(col("doc_id"), col("n")))
      .filter(col("jaccard") >= 0.5)
  }

  /** Attach set sizes and the Jaccard ratio to (x_id, y_id, shared). */
  private def withJaccard(shared: DataFrame, sz: DataFrame): DataFrame = {
    shared
      .join(sz.as("nx"), col("x_id") === col("nx.doc_id"))
      .join(sz.as("ny"), col("y_id") === col("ny.doc_id"))
      .select(col("x_id"), col("y_id"),
        (col("shared").cast("double") /
          (col("nx.n") + col("ny.n") - col("shared"))).as("jaccard"))
  }

  val minhashNearDupSql: String = {
    val mhAggs = (0 until NumHashes)
      .map(i => s"min((a + $i * b) % $P) AS m$i").mkString(", ")
    val bandArms = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS band, m${2 * b} AS k1, m${2 * b + 1} AS k2 FROM mh")
      .mkString("\n UNION ALL ")
    s"""WITH $shingleSqlCte,
       |$hashedShingleSqlCte,
       |mh AS (SELECT doc_id, $mhAggs, COUNT(*) AS n FROM hs GROUP BY doc_id),
       |bands AS ($bandArms),
       |cand AS (SELECT DISTINCT a.doc_id AS x_id, b.doc_id AS y_id
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |              AND a.doc_id < b.doc_id),
       |shared AS (SELECT c.x_id, c.y_id, COUNT(*) AS shared
       |           FROM cand c
       |           JOIN hs sa ON sa.doc_id = c.x_id
       |           JOIN hs sb ON sb.doc_id = c.y_id AND sb.a = sa.a AND sb.b = sa.b
       |           GROUP BY c.x_id, c.y_id)
       |SELECT s.x_id, s.y_id,
       |  CAST(s.shared AS DOUBLE) / (nx.n + ny.n - s.shared) AS jaccard
       |FROM shared s
       |JOIN mh nx ON nx.doc_id = s.x_id
       |JOIN mh ny ON ny.doc_id = s.y_id
       |WHERE CAST(s.shared AS DOUBLE) / (nx.n + ny.n - s.shared) >= 0.5""".stripMargin
  }

  // -------------------------------------------------------------- simhash

  /** 16-bit term-frequency SimHash: per token, bit j of the fingerprint
    * votes +1/-1 by the high bit of hex digit j of md5(token); fingerprint
    * bit = sign of the vote sum. One shuffle (groupBy doc_id) with 16
    * map-side partial sums; no join at all.
    *
    * The per-token bit extraction is integer arithmetic: the first 16 hex
    * digits parse (via `conv`) into two 32-bit halves and digit j's high
    * bit is `(v >> (31-4j)) & 1` — 16 shifts/masks per row instead of 16
    * substring+IN string comparisons (measured ~6x cheaper). The +1/-1
    * vote sum over n tokens equals `2*Σbit - n`, so the sign test is
    * `2*s_j > n` — identical output to the voting formulation (and to
    * the oracle's CASE-per-digit SQL). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("v1"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("v2"))
    val bitSums = (0 until 16).map { j =>
      val v = if (j < 8) col("v1") else col("v2")
      sum(shiftright(v, 31 - 4 * (j % 8)).bitwiseAND(1)).as(s"s$j")
    } :+ count(lit(1)).as("n")
    val fp = (0 until 16).map(j =>
      when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  val simhashSql: String = {
    val votes = (0 until 16).map(j =>
      s"SUM(CASE WHEN substr(md5(tok), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val fp = (0 until 16).map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest(${Text.tokensSql()}) AS tok
       |           FROM documents),
       |v AS (SELECT doc_id, $votes FROM t GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v""".stripMargin
  }

  // ----------------------------------------------------- shingle jaccard

  /** Exact n-gram Jaccard similarity join via the inverted shingle index:
    * candidate pairs are docs sharing >= 1 below-cap shingle (keyed join
    * on the shingle — scales with index selectivity, never cartesian),
    * reported at j >= 0.05 between exact-dedup representatives. The
    * exact-recall counterpart to [[minhashNearDup]] (same index, same
    * representative collapse, same [[DfCap]]). */
  def shingleJaccard(spark: SparkSession, dir: String): DataFrame = {
    val hs = hashedShingles(spark, dir)
    // One self-join on the hashed shingle identity produces the
    // shared-count per pair directly (no candidates-then-recount round
    // trip): the intersection size IS the number of index rows joining
    // per pair. Joining on two longs, not the shingle string — the
    // string never shuffles.
    val shared = hs.as("a")
      .join(hs.as("b"),
        col("a.a") === col("b.a") && col("a.b") === col("b.b") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("x_id"), col("b.doc_id").as("y_id"))
      .agg(count(lit(1)).as("shared"))
    val sz = hs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    withJaccard(shared, sz).filter(col("jaccard") >= 0.05)
  }

  val shingleJaccardSql: String =
    s"""WITH $shingleSqlCte,
       |$hashedShingleSqlCte,
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
       |shared AS (SELECT sa.doc_id AS x_id, sb.doc_id AS y_id, COUNT(*) AS shared
       |           FROM hs sa
       |           JOIN hs sb ON sb.a = sa.a AND sb.b = sa.b
       |                     AND sa.doc_id < sb.doc_id
       |           GROUP BY sa.doc_id, sb.doc_id)
       |SELECT s.x_id, s.y_id,
       |  CAST(s.shared AS DOUBLE) / (nx.n + ny.n - s.shared) AS jaccard
       |FROM shared s
       |JOIN sz nx ON nx.doc_id = s.x_id
       |JOIN sz ny ON ny.doc_id = s.y_id
       |WHERE CAST(s.shared AS DOUBLE) / (nx.n + ny.n - s.shared) >= 0.05""".stripMargin

  // ----------------------------------------------------- dedup clusters

  /** Connected components over the full duplicate graph: a pair list is
    * not yet a dedup decision — near-duplication is transitive in
    * practice (A~B, B~C ⇒ keep one of {A,B,C}), so the pipeline's last
    * step clusters the graph and elects min-doc_id as each component's
    * survivor.
    *
    * Only the rep-level near-dup graph is ITERATED. Exact-duplicate
    * members are leaves hanging off their group's rep (pairwise dedup
    * runs between exact-dedup representatives — the family contract),
    * so their component is their rep's component and they contribute
    * nothing to convergence: r12's formulation fed them through the loop
    * as star edges anyway, paying per-round join cost proportional to
    * the whole duplicate set. Attaching them AFTER the fixpoint with one
    * keyed join is output-identical — a rep is its group's min doc_id,
    * so no member can ever be a component minimum — and shrinks every
    * round of the loop to the (much smaller) near-dup rep graph
    * (VERDICT r12 item 1: cut the CC loop's fixed cost). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val byText = docs.select(
      md5(Text.norm(col("text"))).as("th"), col("doc_id"))
    val reps = byText.groupBy(col("th")).agg(min(col("doc_id")).as("rep"))
    // Feeds two subtrees (star-rep vertex set + member attachment);
    // localCheckpoint (not persist) so the documents scan + rep groupBy
    // run once AND the blocks free via the ContextCleaner when the
    // result drops — a cache-manager persist is never unpersisted on
    // the long-lived Serve path, where repeated /query calls would pin
    // it for the session's lifetime (same lifecycle reasoning as the
    // CC loop's round frames).
    val members = byText.join(reps, "th")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep"), col("doc_id").as("member_id"))
      .localCheckpoint(false)
    val repCC = connectedComponents(
      minhashNearDup(spark, dir).select(col("x_id"), col("y_id")))
      .select(col("doc_id"), col("cluster_id"))
    // Vertex set = near-dup reps (from the loop) ∪ reps that only have
    // exact members (their own one-rep cluster). USING full outer
    // coalesces the key; a rep absent from the loop labels itself.
    val repAll = repCC
      .join(members.select(col("rep").as("doc_id")).distinct(),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val memberOut = members.join(repAll, members("rep") === repAll("doc_id"))
      .select(col("member_id").as("doc_id"), col("cluster_id"))
    repAll.unionByName(memberOut)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_survivor"))
  }

  /** Min-label propagation over an (x_id, y_id) pair graph, with
    * pointer doubling from round 1.
    *
    * Every vertex starts as its own label; each round takes the min over
    * neighbors' labels and then follows one label indirection
    * (label ← min(label, label-of-label)); fixpoint = component minimum
    * (unique, hence deterministic regardless of iteration count). Rounds
    * are dominated by fixed per-round cost (plan + broadcast +
    * scheduling — measured ~1 s at any small scale, and the dominant
    * cold-JVM cost center per VERDICT r12), so the loop spends its fixed
    * cost on the round shape that converges in O(log diameter) rounds
    * unconditionally — r12's "escalate after 4 cheap rounds" heuristic
    * paid 4 single-hop rounds of fixed cost before doubling ever
    * started, which on the dense-clique common case IS the whole loop.
    * All rounds now share one plan shape, so round 2+ reuses round 1's
    * JVM-wide codegen cache entries even on a cold JVM. The driver loop
    * carries only a convergence scalar, never data; the MaxIters cap
    * turns a pathological graph into an error, not an endless job. */
  /** Serializes [[connectedComponents]]: each run materializes its own
    * checkpointed pairs/edges/labels blocks, so two concurrent loops
    * would hold two full working sets and interleave their per-round
    * jobs on the same executors — the loop is heavy enough that
    * queueing beats the multiplied memory + scheduling contention. */
  private val ccLock = new Object

  /** Edge-count ceiling for the driver union-find route (overridable
    * via [[CcLocalEdgesConf]] — the triangle [[graft.queries.Graph]]
    * broadcast-ceiling convention, applied to the driver). Below it the
    * materialized pair list is a MODEL-SIZED aggregate (1M pairs = 16 MB
    * of longs, well under the broadcast budget the bloom bitset / Lloyd
    * centroid collects already ride), so the fixpoint runs as a single
    * union-find pass on the driver instead of O(log d) distributed
    * rounds whose per-round cost at small |E| is pure scheduling (r19
    * probe: the loop's rounds cost ~0.5 s each over a 241-pair graph at
    * sf0.1). Above the ceiling the pointer-doubling loop below runs
    * unchanged — the 100 TB path never assumes the pair graph fits
    * anywhere. Both routes produce the identical min-label fixpoint
    * (the component minimum is unique); DedupSpec pins them equal on
    * randomized graphs. */
  private[graft] val CcLocalEdgesConf = "spark.graft.cc.localEdges"
  private[graft] val CcLocalEdgesDefault = 1000000L

  /** Min-label connected components of a collected pair list: union-find
    * with path halving, then one pass electing each root's minimum
    * member as the component label. */
  private[graft] def localMinLabel(pairs: Array[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrElse(p, p)
        parent.update(x, gp)
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
    }
    // Component minimum per root: roots are reached by find(), and the
    // union above always points the larger root at the smaller, so the
    // final root IS the component minimum (labels only ever decrease —
    // the loop's monotone invariant, locally).
    val labels = new scala.collection.mutable.LongMap[Long]()
    parent.foreachKey { v => labels.update(v, find(v)) }
    labels
  }

  private[graft] def connectedComponents(pairsIn: DataFrame): DataFrame = ccLock.synchronized {
    val MaxIters = 20
    val callerSession = pairsIn.sparkSession
    val localMax = callerSession.conf.getOption(CcLocalEdgesConf)
      .map(_.toLong).getOrElse(CcLocalEdgesDefault)
    // Materialize the pair list once, lineage-truncated (the loop
    // needed this checkpoint anyway); its count routes the fixpoint.
    val pairsLocal = pairsIn.select(col("x_id"), col("y_id")).localCheckpoint(false)
    if (pairsLocal.count() <= localMax) {
      val edgeArr = pairsLocal.collect().map(r => (r.getLong(0), r.getLong(1)))
      val labels = localMinLabel(edgeArr)
      val out = labels.toSeq.map { case (v, lab) => (v, lab, v == lab) }
      import callerSession.implicits._
      callerSession.sparkContext
        .parallelize(out, math.max(1, out.size / 500000))
        .toDF("doc_id", "cluster_id", "is_survivor")
    } else connectedComponentsLoop(pairsLocal, MaxIters)
  }

  /** The distributed pointer-doubling fixpoint — the at-scale route of
    * [[connectedComponents]]; `pairsIn` arrives checkpointed. */
  private def connectedComponentsLoop(pairsIn: DataFrame, MaxIters: Int): DataFrame = {
    // The whole loop runs on a conf-isolated clone of the caller's
    // session (AQE off, below): toggling AQE on the shared session races
    // under the concurrent Serve layer (two overlapping set/restore
    // windows leave the second request's stale capture behind) and
    // silently re-plans unrelated concurrent queries. The clone shares
    // the cache manager, so the persists below behave identically.
    val parent = pairsIn.sparkSession
    // Memoized clone: repeated clustering calls (Bench iterations,
    // concurrent Serve requests) reuse one AQE-off session instead of
    // paying session construction + lazy SessionState init per call.
    graft.Sessions.confIsolatedCached(parent, "cc-aqe-off")(
      // AQE off for the loop only: every round re-plans the same tiny
      // vertex-sized query, and AQE's per-stage re-optimization (stage
      // materialization barriers + re-planning) is pure fixed cost here —
      // the loop's inputs are all cached with known sizes, so the static
      // planner already picks the right join strategy (broadcast when the
      // label frame is small, sort-merge when it isn't).
      _.conf.set("spark.sql.adaptive.enabled", "false")) { spark =>
    // localCheckpoint (lazy) at every round boundary: it materializes
    // like persist AND truncates the logical lineage to a leaf RDD.
    // Without the truncation, round N's plan carries the whole upstream
    // pair pipeline plus every previous round's operators, so the
    // per-round analyzer/optimizer walk GROWS with the round number —
    // the dominant cold fixed cost the loop used to pay (and under the
    // doubling self-join the tree would double per round). With it,
    // every round analyzes the same small constant plan over three RDD
    // leaves, and round 2+ reuses round 1's codegen through the
    // JVM-wide cache. Block lifecycle: checkpointed partitions are
    // freed by the ContextCleaner when the round's Dataset reference
    // drops (reassignment below / method exit), so the loop pins at
    // most a couple of label frames plus pairs/edges at a time.
    // pairsIn is already a checkpointed leaf (the router materialized
    // it to count it) — rebinding its LogicalRDD into the clone is a
    // plan-only move, no second materialization.
    val pairs = org.apache.spark.sql.graft.PlanShim
      .ofRows(spark, pairsIn.queryExecution.logical)
    val verts = pairs.select(explode(array(col("x_id"), col("y_id"))).as("id"))
      .distinct()
    // Self-loops fold "keep your own label" into the same neighbor-min,
    // so a round is ONE join + ONE aggregation — no left-join/coalesce
    // leg (fewer AQE stages per round; at tiny graph sizes the loop is
    // pure scheduling overhead, at scale it is one fewer shuffle).
    val edges = pairs.unionByName(
      pairs.select(col("y_id").as("x_id"), col("x_id").as("y_id")))
      .unionByName(verts.select(col("id").as("x_id"), col("id").as("y_id")))
      .toDF("src", "dst").localCheckpoint(false)

    var labels = verts.select(col("id"), col("id").as("label")).localCheckpoint(false)
    // Labels only ever decrease, so the label sum is a strictly
    // decreasing monotone: an unchanged sum IS the fixpoint proof — one
    // tiny aggregate per round instead of a diff join against the
    // previous labels. DECIMAL so a 100 TB-scale id sum cannot overflow.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    // Null sum = zero vertices (clean corpus, no near-dup pairs): the
    // empty labels frame is already the fixpoint.
    var converged = prevSum == null
    var iters = 0
    locally {
      while (!converged && iters < MaxIters) {
        // One propagation hop: label ← min over neighbors' labels (the
        // self-loop edges fold "keep your own" into the same min).
        val nbrMin = edges.join(labels, col("dst") === col("id"))
          .groupBy(col("src")).agg(min(col("label")).as("label"))
          .select(col("src").as("id"), col("label"))
        // Pointer doubling: follow one label indirection on top of the
        // propagation hop (label ← min(label, label-of-label)), making
        // the round count O(log diameter) from round 1. The doubling
        // join is valid because labels are always vertex ids and the
        // self-loops put every vertex in nbrMin; `least` keeps monotone
        // descent, so the label-sum convergence proof is unchanged.
        // nbrMin is checkpointed first: Spark never reuses identical
        // unexchanged subtrees, so an untruncated self-join would
        // compute the propagation (and everything under it) twice.
        val nm = nbrMin.localCheckpoint(false)
        val step = nm.as("s").join(nm.as("t"), col("s.label") === col("t.id"))
          .select(col("s.id").as("id"),
            least(col("s.label"), col("t.label")).as("label"))
          .localCheckpoint(false)
        val s = labelSum(step)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        labels = step
        iters += 1
      }
    }
    require(converged, s"dedup clustering did not converge in $MaxIters rounds")
    // pairs/edges/intermediate-round blocks free via the ContextCleaner
    // as their references drop; the converged labels stay materialized
    // (checkpointed) for the consumers below.
    val out = labels
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_survivor"))
    // Rebind the result onto the caller's session so downstream execution
    // runs under the caller's conf (AQE back on); the plan is a
    // projection over the checkpointed labels RDD, shared via the
    // common SparkContext.
    org.apache.spark.sql.graft.PlanShim.ofRows(parent, out.queryExecution.logical)
    }
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE
       |ex AS (SELECT md5(${Text.normSql()}) AS th, doc_id FROM documents),
       |exr AS (SELECT th, MIN(doc_id) AS rep FROM ex GROUP BY th),
       |pairs AS (SELECT x_id, y_id FROM ($minhashNearDupSql)
       |          UNION ALL
       |          SELECT exr.rep AS x_id, ex.doc_id AS y_id
       |          FROM ex JOIN exr USING (th) WHERE ex.doc_id <> exr.rep),
       |e AS (SELECT x_id AS src, y_id AS dst FROM pairs
       |      UNION ALL SELECT y_id, x_id FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
       |SELECT id AS doc_id, MIN(r) AS cluster_id,
       |  (id = MIN(r)) AS is_survivor
       |FROM reach GROUP BY id""".stripMargin

  // ---------------------------------------------------- incremental dedup

  /** Batch split for [[incrementalDedup]]: doc_id % 7 == 0 stands in for
    * "today's crawl" arriving against the existing corpus. */
  private val BatchMod = 7

  /** Incremental dedup — the production ingest path. A NEW batch of docs
    * is vetted against the EXISTING corpus without re-running any
    * corpus-wide pairwise work: exact matches resolve with ONE keyed
    * join on the text hash against the corpus representative set
    * (`kind = 'exact'`, jaccard 1 by identity); the remainder probe the
    * corpus's df-capped inverted shingle index and keep their best
    * jaccard ≥ 0.5 match (`kind = 'near'`; ties broken toward the
    * smallest corpus id, so the verdict is deterministic on any engine).
    *
    * Scale shape: the corpus index is built over exact representatives
    * (the family contract — a same-text clique contributes one vertex)
    * and is write-once/probe-often in production, so per-ingest cost
    * scales with the BATCH, not the corpus; the probe is a keyed join on
    * the 64-bit shingle identity, and the df cap bounds any one key's
    * fan-out. The cap is computed on the corpus side and applied to both
    * sides, keeping the jaccard universe consistent (mirrored in the
    * oracle). */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.load(spark, dir, "documents")
    val d = docs.select(col("doc_id"), Text.norm(col("text")).as("norm"))
      .withColumn("th", md5(col("norm")))
      .withColumn("is_batch", col("doc_id") % BatchMod === 0)
      .persist(sl)
    // The rep's norm rides the SAME aggregation that elects it (the
    // [[repDocs]] trick, r19): all norms in a th group are equal by
    // construction (th = md5(norm)), so min(norm) IS the rep's text and
    // the corpus-docs ⋈ rep self-join the previous shape paid to fetch
    // it (one full corpus re-scan + a corpus-sized join) disappears —
    // `crd` is now a projection of the cached rep table.
    val cr = d.filter(!col("is_batch")).groupBy(col("th"))
      .agg(min(col("doc_id")).as("rep"), min(col("norm")).as("norm"))
      .persist(sl)
    val batch = d.filter(col("is_batch"))
    val ex = batch.join(cr.select(col("th"), col("rep")), "th")
      .select(col("doc_id").as("batch_id"), col("rep").as("dup_of"))
    val crd = cr.select(col("rep").as("doc_id"), col("norm"))
    val bd = batch.join(cr.select(col("th")), Seq("th"), "left_anti")
      .select(col("doc_id"), col("norm"))
    // one md5 per shingle, 64-bit (a, b) identity — strings never shuffle
    def hashedGrams(side: DataFrame): DataFrame = side
      .select(col("doc_id"), split(col("norm"), " ").as("t"))
      .select(col("doc_id"), explode(shingleCol(col("t"))).as("shingle"))
      .select(col("doc_id"), md5(col("shingle")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("b"))
    // Corpus index in the [[hashedShingles]] shape (r19): ONE (a, b)
    // exchange carries the dedup (partition keys ⊆ dedup keys), the df
    // arrives as a count window riding the same partitioning, and both
    // the kept index (df ≤ cap) and the over-cap key set the batch side
    // anti-joins are filters over ONE cached pass — replacing the
    // distinct exchange + separate df aggregation + second cache the
    // agg-and-anti-join shape paid. Skew: identical to hashedShingles —
    // hot (a, b) keys hash-spread, per-key locality bounded by df
    // occurrences, and the oracle re-pins the df-cap semantics.
    val wdf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"), col("b"))
    val csdf = hashedGrams(crd)
      .repartition(col("a"), col("b"))
      .dropDuplicates("doc_id", "a", "b")
      .withColumn("df", count(lit(1)).over(wdf))
      .persist(sl)
    val cs = csdf.filter(col("df") <= DfCap).drop("df")
    val hot = csdf.filter(col("df") > DfCap)
      .dropDuplicates("a", "b").select(col("a"), col("b"))
    // Batch side: the dedup rides a doc_id repartition instead — the
    // per-doc gram-count agg below (bsz) then reuses that partitioning
    // exchange-free, and per-doc locality is bounded by document length
    // (no corpus-hot key class on this side). `hot` is pinned broadcast:
    // a sort-merge anti join would re-shuffle bs on (a, b) and cost bsz
    // a fresh doc_id exchange. It is bounded by the over-cap key count.
    val bs = hashedGrams(bd)
      .repartition(col("doc_id"))
      .dropDuplicates("doc_id", "a", "b")
      .join(broadcast(hot), Seq("a", "b"), "left_anti").persist(sl)
    val csz = cs.groupBy(col("doc_id")).agg(count(lit(1)).as("cn"))
    val bsz = bs.groupBy(col("doc_id")).agg(count(lit(1)).as("bn"))
    val sh = bs.select(col("doc_id").as("batch_id"), col("a"), col("b"))
      .join(cs.select(col("doc_id").as("dup_of"), col("a"), col("b")), Seq("a", "b"))
      .groupBy(col("batch_id"), col("dup_of")).agg(count(lit(1)).as("shared"))
    val nr = sh
      .join(bsz.withColumnRenamed("doc_id", "batch_id"), "batch_id")
      .join(csz.withColumnRenamed("doc_id", "dup_of"), "dup_of")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("bn") + col("cn") - col("shared")))
      .filter(col("jaccard") >= 0.5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("batch_id")).orderBy(col("jaccard").desc, col("dup_of").asc)
    val nbest = nr.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("batch_id"), col("dup_of"), lit("near").as("kind"), col("jaccard"))
    val out = ex.select(col("batch_id"), col("dup_of"),
        lit("exact").as("kind"), lit(1.0).as("jaccard"))
      .unionByName(nbest)
    // Materialize the batch-sized verdicts ONCE (lineage truncated), then
    // drop every working cache — under a long-lived Serve session the
    // persists above would otherwise accumulate per distinct dir forever
    // (the [[connectedComponents]] discipline). A lazy return can't do
    // this: unpersisting before the caller's action would recompute the
    // whole pipeline cache-less. Checkpoint blocks are executor-local and
    // freed by the ContextCleaner with the frame, not cacheManager entries.
    val snap = out.localCheckpoint()
    Seq(d, cr, csdf, bs).foreach(_.unpersist())
    snap
  }

  /** `bd` must ANTI JOIN `cr`, not `th NOT IN (SELECT th FROM cr)`: a
    * NULL `documents.text` puts a NULL th into `cr`, and SQL `NOT IN`
    * over a NULL-bearing set returns NO rows — while the Spark side's
    * `left_anti` (and the anti join here) keeps every non-matching batch
    * doc. */
  val incrementalDedupSql: String =
    s"""WITH d AS (SELECT doc_id, ${Text.normSql()} AS norm,
       |             md5(${Text.normSql()}) AS th,
       |             (doc_id % $BatchMod = 0) AS is_batch FROM documents),
       |cr AS (SELECT th, MIN(doc_id) AS rep FROM d WHERE NOT is_batch GROUP BY th),
       |ex AS (SELECT d.doc_id AS batch_id, cr.rep AS dup_of
       |       FROM d JOIN cr USING (th) WHERE d.is_batch),
       |crd AS (SELECT cr.rep AS doc_id, d.norm FROM cr JOIN d ON d.doc_id = cr.rep),
       |bd AS (SELECT d.doc_id, d.norm FROM d ANTI JOIN cr USING (th)
       |       WHERE d.is_batch),
       |ct AS (SELECT doc_id, string_split(norm, ' ') AS t FROM crd),
       |bt AS (SELECT doc_id, string_split(norm, ' ') AS t FROM bd),
       |cs0 AS (SELECT DISTINCT doc_id,
       |          ('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 8))::BIGINT AS a,
       |          ('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 9, 8))::BIGINT AS b
       |        FROM ct, unnest(range(1, len(t)-1)) AS r(i)),
       |bs0 AS (SELECT DISTINCT doc_id,
       |          ('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 8))::BIGINT AS a,
       |          ('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 9, 8))::BIGINT AS b
       |        FROM bt, unnest(range(1, len(t)-1)) AS r(i)),
       |hot AS (SELECT a, b FROM cs0 GROUP BY a, b HAVING COUNT(*) > $DfCap),
       |cs AS (SELECT cs0.* FROM cs0 ANTI JOIN hot USING (a, b)),
       |bs AS (SELECT bs0.* FROM bs0 ANTI JOIN hot USING (a, b)),
       |csz AS (SELECT doc_id, COUNT(*) AS n FROM cs GROUP BY 1),
       |bsz AS (SELECT doc_id, COUNT(*) AS n FROM bs GROUP BY 1),
       |sh AS (SELECT bs.doc_id AS batch_id, cs.doc_id AS dup_of, COUNT(*) AS shared
       |       FROM bs JOIN cs USING (a, b) GROUP BY 1, 2),
       |nr AS (SELECT batch_id, dup_of, CAST(shared AS DOUBLE) / (b.n + c.n - shared) AS j
       |       FROM sh JOIN bsz b ON b.doc_id = sh.batch_id
       |               JOIN csz c ON c.doc_id = sh.dup_of
       |       WHERE CAST(shared AS DOUBLE) / (b.n + c.n - shared) >= 0.5),
       |nbest AS (SELECT batch_id, dup_of, j FROM (
       |    SELECT *, row_number() OVER (PARTITION BY batch_id
       |      ORDER BY j DESC, dup_of ASC) AS rn FROM nr) WHERE rn = 1)
       |SELECT batch_id, dup_of, 'exact' AS kind, CAST(1.0 AS DOUBLE) AS jaccard FROM ex
       |UNION ALL
       |SELECT batch_id, dup_of, 'near' AS kind, j AS jaccard FROM nbest""".stripMargin

  // ------------------------------------------------- substring-dup coverage

  /** Cross-document duplicated-substring coverage — the ExactSubstr
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499): per document, the
    * fraction of token positions covered by at least one word 5-gram
    * that also occurs in ANOTHER document. [[CorpusOps.repetition]]
    * measures within-doc repetition; this is the cross-doc axis — the
    * number substring-level dedup (remove-the-span, not
    * drop-the-document) keys its decisions on.
    *
    * Scale shape: the gram stream is built narrowly (one projected
    * md5-per-position array per doc, then posexplode — the token array
    * is never duplicated per position) and immediately collapses to the
    * md5-derived 64-bit (a, b) identity (the [[hashedShingles]]
    * convention — the hash STRING never shuffles); the dup-gram set is
    * two map-side-collapsing aggregations (distinct (gram, doc) pairs →
    * grams in ≥2 docs); the gram⋈dup join is keyed on (a, b). Coverage
    * is then an INTERVAL UNION, not an explode: matched positions are
    * unique per (doc, p) by construction, so per doc the union of the
    * [p, p+4] spans is Σ min(5, p − prev_p) over a lag window — one
    * narrow int-only window instead of the previous 5× position explode
    * + corpus-sized distinct, which the 1000× harness showed going
    * superlinear (billions of (doc, pos) rows once the duplicated-span
    * volume approaches the whole corpus — the only family that timed
    * out at 1000×; completes at ~252 s warm after this rewrite). The
    * unchanged explode-form DuckDB oracle independently proves the
    * interval-union equivalent. Nothing is pairwise; cost is linear in
    * corpus tokens plus matched-gram volume. Determinism: counts and
    * positions are exact integers; `dup_frac` is a division of
    * identical ints — bit-identical cross-engine with no rounding
    * fence needed. */
  def substrDupCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text")))
    val gramArr = when(size(col("t")) >= 5,
      transform(sequence(lit(1), size(col("t")) - 4),
        p => md5(array_join(slice(col("t"), p, lit(5)), " "))))
      .otherwise(array().cast("array<string>"))
    val grams = docs
      .select(col("doc_id"), posexplode(gramArr).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("p"),
        conv(substring(col("g"), 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(col("g"), 9, 8), 16, 10).cast("long").as("b"))
    // Dedup rides the (a, b) exchange (the hashedShingles r19 fold):
    // distinct-then-regroup used to shuffle the gram set twice — once
    // hash-partitioned by (a, b, doc_id), once by (a, b). One
    // repartition + exchange-free dropDuplicates + a groupBy that
    // reuses the same partitioning is a single gram-sized exchange.
    val dup = grams.select(col("a"), col("b"), col("doc_id"))
      .repartition(col("a"), col("b"))
      .dropDuplicates("a", "b", "doc_id")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("a"), col("b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val covered = grams.join(dup, Seq("a", "b"))
      .select(col("doc_id"), col("p"))
      .withColumn("gap", col("p") - lag(col("p"), 1).over(w))
      .select(col("doc_id"),
        when(col("gap").isNull, lit(5L))
          .otherwise(least(lit(5L), col("gap").cast("long"))).as("contrib"))
      .groupBy(col("doc_id")).agg(sum(col("contrib")).as("n_dup_pos"))
    docs.select(col("doc_id"), size(col("t")).cast("long").as("n_toks"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        (coalesce(col("n_dup_pos"), lit(0L)).cast("double") /
          col("n_toks").cast("double")).as("dup_frac"))
  }

  val substrDupCoverageSql: String =
    s"""WITH d AS (SELECT doc_id, ${Text.tokensSql()} AS t FROM documents),
       |gr AS (SELECT doc_id, i AS p, md5(array_to_string(t[i:i+4], ' ')) AS g
       |       FROM d, unnest(range(1, len(t) - 3)) AS r(i)
       |       WHERE len(t) >= 5),
       |dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gr)
       |        GROUP BY g HAVING COUNT(*) >= 2),
       |cov AS (SELECT DISTINCT doc_id, p + o AS pos
       |        FROM gr SEMI JOIN dup USING (g), unnest([0,1,2,3,4]) AS u(o)),
       |cc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_pos
       |       FROM cov GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_toks,
       |       COALESCE(n_dup_pos, 0) AS n_dup_pos,
       |       CAST(COALESCE(n_dup_pos, 0) AS DOUBLE) / CAST(len(t) AS BIGINT) AS dup_frac
       |FROM d LEFT JOIN cc USING (doc_id)""".stripMargin

  // ------------------------------------------------- bloom span membership

  /** Bloom-prefiltered span membership — Dolma-style Bloom dedup
    * (Soldaini et al. 2024, arXiv:2402.00159, whose dedup stage IS a
    * Bloom filter over paragraph hashes) at the word-5-gram granularity
    * this corpus's cross-doc duplication actually lives at: for each
    * batch doc, how many of its distinct 5-gram spans were already seen
    * anywhere in the existing corpus. The gram identity (the
    * space-joined normalized 5-token window) matches
    * [[substrDupCoverage]]'s spans — that operator measures
    * corpus-internal span duplication, this one vets an INCOMING batch
    * against the corpus without touching corpus-vs-corpus pairs. Batch
    * split shared with [[incrementalDedup]] (`doc_id % BatchMod == 0`).
    *
    * Scale shape — the corpus's span set is huge (≈ one gram per
    * token), so the design goal is to never shuffle it:
    *
    *  1. corpus gram stream → ONE Bloom bitset
    *     ([[graft.functions.BloomBits]], constant 512 KiB state) via a
    *     map-side-combined aggregation. Because bit-OR insertion is
    *     IDEMPOTENT, the stream needs no pre-`distinct` — the one
    *     shuffle a hash-set build would require simply disappears.
    *     Bit positions come from the two 32-bit halves of the gram's
    *     md5 (Kirsch–Mitzenmacher double hashing) — the
    *     [[hashedShingles]] identity, shared with every downstream
    *     distinct/join here so the gram STRING never shuffles.
    *  2. the finished bitset is `head()`ed to the driver — a BOUNDED
    *     512 KiB collect (the k-centroid precedent), the same move
    *     Spark's own runtime-filter rewrite uses to turn a subquery
    *     result into a literal — and probed as a CONSTANT array:
    *     K pmod/element_at/bitwiseAND probes per batch gram, all
    *     builtin codegen. (Joining the bitset on as a column instead
    *     would memcpy the full bitset per gram row through the join — measured
    *     3× the whole query's budget.) Bloom-negative ⇒ span
    *     DEFINITELY unseen (no false negatives — the direction a
    *     dedup prefilter must never get wrong).
    *  3. Bloom-positive candidates (the trickle) exact-confirm: the
    *     corpus gram stream runs once more against the BROADCAST
    *     candidate set (map-only semi join — still no corpus shuffle),
    *     and the surviving seen-set broadcasts back onto the batch for
    *     per-doc counting. BLOOM false positives die here, so the
    *     sketch lives only in the scale path; membership itself is by
    *     the md5-derived 64-bit identity (collision odds ~n²/2^65),
    *     which the DuckDB oracle recomputes identically. */
  def bloomDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomBits
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .withColumn("is_batch", col("doc_id") % BatchMod === 0)
    val gramArr = when(size(col("t")) >= 5,
      transform(sequence(lit(1), size(col("t")) - 4),
        p => array_join(slice(col("t"), p, lit(5)), " ")))
      .otherwise(array().cast("array<string>"))
    // Gram identity = md5-derived 64-bit (a, b), the [[hashedShingles]]
    // convention — the gram STRING never shuffles, never sits in an
    // aggregation buffer, and never broadcasts. The third-decade scale
    // harness (1000× corpus) caught the previous form OOMing
    // (AGGREGATE_OUT_OF_MEMORY) in the batch distinct's map-side hash
    // map, which keyed on full gram strings against the family's own
    // strings-never-shuffle rule; on (long, long) the same distinct is
    // ~4× narrower and spill-friendly. Collision odds ~n²/2^65 and the
    // oracle computes the IDENTICAL identity, so the compare stays exact.
    def ab(df: DataFrame): DataFrame = df
      .withColumn("h", md5(col("g")))
      .select(df.columns.filter(_ != "g").map(col) :+
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("a") :+
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("b"): _*)
    // explode(gramArr) stays an EXPRESSION, never an aliased column:
    // exploding an aliased array attribute trips InferFiltersFromGenerate,
    // whose inferred size(g)>0/isnotnull(g) predicates push below the
    // defining Project and inline the regex+split+transform gram build
    // 3× into a non-codegen Filter — measured 12× this stage's cost
    // (the rule skips complex generator children, so the direct form is
    // immune; PLANS.md r13 "explode-alias trap").
    val corpusG = ab(docs.filter(!col("is_batch")).select(explode(gramArr).as("g")))
    // The batch gram set feeds BOTH the probe→confirm chain and the final
    // per-doc count join; without a cut it would re-pay its explode +
    // distinct shuffle once per consumer. Lazy localCheckpoint (the
    // [[dedupClusters]] lifecycle) materializes it once — it is the
    // small side (one ingest batch), so the cut is bounded.
    val batchG = ab(docs.filter(col("is_batch"))
      .select(col("doc_id"), explode(gramArr).as("g")))
      .distinct()
      .localCheckpoint(eager = false)

    val bloomAgg = udaf(BloomBits,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    val bloomBits: Seq[Long] = corpusG
      .agg(bloomAgg(col("a"), col("b")).as("bloom"))
      .head().getAs[scala.collection.Seq[Long]]("bloom").toSeq

    // Native K-probe with the bitset as expression state, not a 512 KiB
    // array literal (see [[graft.functions.BloomMightContain]]) — same
    // indices, same null behavior, ~free plan canonicalization.
    val might = batchG.withColumn("might",
      graft.functions.BloomProbe.might(bloomBits, col("a"), col("b")))

    val candG = might.filter(col("might")).select(col("a"), col("b")).distinct()
    val seen = corpusG.join(broadcast(candG), Seq("a", "b"), "left_semi")
      .distinct().withColumn("hit", lit(1))
    val hits = batchG.join(broadcast(seen), Seq("a", "b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_seen"))
    docs.filter(col("is_batch")).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id").as("batch_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          coalesce(col("n_seen"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("seen_frac"))
  }

  /** Oracle = span membership by the identical md5-derived 64-bit
    * identity (the Bloom is a prefilter whose false positives are
    * removed before output, so no sketch state needs mirroring —
    * unlike [[graft.functions.CmsSketch]]'s oracle, which must rebuild
    * the sketch because estimates ARE the output). `seen_frac` is a
    * division of identical exact ints — bit-identical cross-engine, no
    * rounding fence needed (the [[substrDupCoverage]] precedent). */
  val bloomDedupSql: String =
    s"""WITH d AS (SELECT doc_id, ${Text.tokensSql()} AS t,
       |            doc_id % $BatchMod = 0 AS is_batch FROM documents),
       |g0 AS (SELECT doc_id, is_batch,
       |         md5(array_to_string(t[i:i+4], ' ')) AS h
       |       FROM d, unnest(range(1, len(t) - 3)) AS r(i)
       |       WHERE len(t) >= 5),
       |gr AS (SELECT DISTINCT doc_id, is_batch,
       |         ('0x' || substr(h, 1, 8))::BIGINT AS a,
       |         ('0x' || substr(h, 9, 8))::BIGINT AS b
       |       FROM g0),
       |cg AS (SELECT DISTINCT a, b FROM gr WHERE NOT is_batch),
       |b AS (SELECT gr.doc_id, COUNT(*) AS n_grams, COUNT(cg.a) AS n_seen
       |      FROM gr LEFT JOIN cg USING (a, b) WHERE gr.is_batch GROUP BY 1)
       |SELECT d.doc_id AS batch_id,
       |  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(COALESCE(n_seen, 0) AS BIGINT) AS n_seen,
       |  CASE WHEN COALESCE(n_grams, 0) > 0
       |       THEN CAST(n_seen AS DOUBLE) / n_grams ELSE 0.0 END AS seen_frac
       |FROM d LEFT JOIN b USING (doc_id) WHERE d.is_batch""".stripMargin

  // ---------------------------------------------------- paragraph dedup

  /** Paragraph window size (tokens). The fixture is single-paragraph
    * prose, so "paragraphs" are fixed non-overlapping token windows —
    * the synthetic-boundary move the chunker family uses; the tiny
    * fixture vocabulary guarantees genuine cross-document collisions,
    * so the dedup is non-vacuous. */
  val ParaTokens = 10

  /** Paragraph-level exact dedup (the Dolma pipeline's middle
    * granularity, between whole-doc [[exactDedup]] and span-level
    * [[substrDupCoverage]]): a paragraph that appears anywhere earlier
    * in the corpus — ANY document — is dropped; first occurrence wins,
    * ordered by (doc_id, paragraph index). Output = per-document audit
    * (paragraphs in, paragraphs kept, surviving chars).
    *
    * Scale design: first-occurrence election is groupBy(hash) →
    * min(struct(doc_id, idx)) rather than a row_number window — the
    * min-fold partial-aggregates MAP-SIDE, so a boilerplate paragraph
    * duplicated 10⁹ times collapses to one row per map task before the
    * shuffle, where a window would sort the whole 10⁹-row hash
    * partition in one task. The rejoin keys on the same hash, so the
    * exploded side's exchange is reused. */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphAudit(Tables.load(spark, dir, "documents"))

  /** The election + audit over any (doc_id, text) frame — exposed for
    * the composite clean pipeline ([[TextClean.cleanPipeline]]). */
  private[queries] def paragraphAudit(docs: DataFrame): DataFrame = {
    val paras = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(
        transform(
          expr(s"sequence(0, (size(t) + ${ParaTokens - 1}) div $ParaTokens - 1)"),
          i => concat_ws(" ", slice(col("t"), i * ParaTokens + 1, lit(ParaTokens))))))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "para")
      .withColumn("h", md5(col("para")))
    val firsts = paras.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    paras.join(firsts, "h")
      .withColumn("kept",
        struct(col("doc_id"), col("idx")) === col("first"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(when(col("kept"), length(col("para"))).otherwise(lit(0)))
          .as("kept_chars"))
  }

  val paragraphDedupSql: String =
    s"""WITH toks AS (SELECT doc_id, ${Text.tokensSql()} AS t
       |             FROM documents),
       |p AS (SELECT doc_id, CAST(i AS INT) AS idx,
       |        array_to_string(t[(CAST(i AS INT)*$ParaTokens + 1):(CAST(i AS INT)*$ParaTokens + $ParaTokens)], ' ') AS para
       |      FROM toks, unnest(range(0, (len(t) + ${ParaTokens - 1}) // $ParaTokens)) AS r(i)),
       |h AS (SELECT doc_id, idx, para, md5(para) AS hh FROM p),
       |f AS (SELECT hh, MIN(doc_id * 1000000 + idx) AS first_key
       |      FROM h GROUP BY hh),
       |k AS (SELECT h.doc_id, h.para,
       |        (h.doc_id * 1000000 + h.idx = f.first_key) AS kept
       |      FROM h JOIN f ON h.hh = f.hh)
       |SELECT doc_id, COUNT(*) AS n_paras,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN kept THEN len(para) ELSE 0 END) AS BIGINT) AS kept_chars
       |FROM k GROUP BY doc_id""".stripMargin

  // ------------------------------------------------- simhash hamming join

  /** Bucket cap on the SimHash block index (same rationale as [[DfCap]]):
    * a (block, value) bucket holding more than this many representatives
    * would contribute bucket² candidate rows under ONE join key —
    * quadratic blowup plus catastrophic skew at 100 TB. Recall contract:
    * pairs whose ONLY equal blocks live in above-cap buckets are not
    * reported; the oracle applies the identical cap so the comparison
    * stays exact. */
  private[graft] val SimBucketCap = 256

  /** Max Hamming distance reported by [[simhashNearDup]]. With 4 blocks,
    * d <= 3 guarantees >= 1 equal block (pigeonhole), so block-keyed
    * candidate generation has full recall (up to [[SimBucketCap]]). */
  private[graft] val SimHamMax = 3

  /** SimHash NEAR-duplicate join (Manku, Jain & Sarma, WWW 2007 "Detecting
    * near-duplicates for web crawling"): a 64-bit term-frequency SimHash
    * per exact-dedup representative, split into 4 16-bit blocks; a pair
    * within Hamming distance <= 3 must agree on at least one whole block
    * (pigeonhole), so candidates are generated by a keyed self-join on
    * (block index, block value) — never an all-pairs cartesian — then
    * verified with an exact popcount over the XOR of the full
    * fingerprints. Complements [[minhashNearDup]]: MinHash targets
    * set-Jaccard similarity, SimHash Hamming proximity of the
    * frequency-weighted profile (it catches token-frequency rebalances
    * that keep the vocabulary — which Jaccard scores as identical — and
    * is one shuffle cheaper since there is no per-shingle index).
    *
    * Scale shape: 2^16 values per block means a candidate bucket holds
    * ~n/65536 docs under uniform hashing; the [[SimBucketCap]] window cap
    * bounds the adversarial case. The 64 per-token bit votes fold
    * map-side in ONE partial-aggregating pass (same trick as
    * [[simhash]]: vote sum s_j over n tokens → fingerprint bit =
    * (2*s_j > n)), and the join keys/verification carry only 5 longs per
    * side — the text never shuffles past the tokenizer. */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    // Per-token 64 bit-votes from the first 16 hex digits of md5(token),
    // parsed once into two 32-bit halves (integer shifts beat 64
    // substring comparisons — measured ~6x on [[simhash]]).
    val tok = repDocs(spark, dir)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("v0"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("v1"))
    val bitSums = (0 until 64).map { j =>
      val v = if (j < 32) col("v0") else col("v1")
      sum(shiftright(v, j % 32).bitwiseAND(1)).as(s"s$j")
    } :+ count(lit(1)).as("n")
    def blockCol(k: Int): Column =
      (0 until 16).map { i =>
        when(col(s"s${16 * k + i}") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    val fp = tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: (0 until 4).map(k => blockCol(k).as(s"b$k")): _*)
    // One (k, bval) row per block; b0..b3 ride along as plain refs (no
    // expression above the Generate — the trap [[substrDupCoverage]]
    // documents does not apply to pre-computed columns).
    val keyed = fp
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .withColumnRenamed("pos", "k")
      .withColumnRenamed("col", "bval")
    // Bucket cap in one pass (window count), leaving the frame
    // hash-partitioned on the self-join key so the second consumer rides
    // a ReusedExchange.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"), col("bval"))
    val idx = keyed
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= SimBucketCap)
      .drop("bucket_n")
      // Both sides of the self-join consume this subtree; Spark does not
      // deduplicate identical non-exchange subtrees (the [[hashedShingles]]
      // lesson — measured here: 7 shuffles unpersisted, the 64-sum
      // fingerprint agg paid twice), so materialize once. The harness
      // clears the cache between queries.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ham = (0 until 4)
      .map(k => bit_count(col(s"x.b$k").bitwiseXOR(col(s"y.b$k"))))
      .reduce(_ + _)
    idx.as("x")
      .join(idx.as("y"),
        col("x.k") === col("y.k") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        ham.cast("long").as("hamming"))
      .filter(col("hamming") <= SimHamMax)
      .distinct() // a pair can agree on several blocks
  }

  val simhashNearDupSql: String = {
    val sums = (0 until 64).map { j =>
      val v = if (j < 32) "v0" else "v1"
      s"SUM((($v >> ${j % 32}) & 1)) AS s$j"
    }.mkString(", ")
    def block(k: Int): String =
      (0 until 16).map(i => s"CASE WHEN s${16 * k + i} * 2 > n THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
    val ham = (0 until 4).map(k => s"bit_count(xor(x.b$k, y.b$k))").mkString(" + ")
    s"""WITH rep AS (SELECT MIN(doc_id) AS doc_id, MIN(norm) AS norm
       |            FROM (SELECT doc_id, ${Text.normSql()} AS norm FROM documents)
       |            GROUP BY md5(norm)),
       |t AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM rep),
       |hx AS (SELECT doc_id,
       |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS v0,
       |         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS v1 FROM t),
       |s AS (SELECT doc_id, $sums, COUNT(*) AS n FROM hx GROUP BY doc_id),
       |fp AS (SELECT doc_id,
       |         CAST(${block(0)} AS BIGINT) AS b0, CAST(${block(1)} AS BIGINT) AS b1,
       |         CAST(${block(2)} AS BIGINT) AS b2, CAST(${block(3)} AS BIGINT) AS b3
       |       FROM s),
       |kx AS (SELECT doc_id, b0, b1, b2, b3, k,
       |         CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bval
       |       FROM fp, unnest([0, 1, 2, 3]) AS u(k)),
       |hot AS (SELECT k, bval FROM kx GROUP BY k, bval HAVING COUNT(*) > $SimBucketCap),
       |kf AS (SELECT kx.* FROM kx ANTI JOIN hot USING (k, bval))
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST($ham AS BIGINT) AS hamming
       |FROM kf x JOIN kf y ON x.k = y.k AND x.bval = y.bval AND x.doc_id < y.doc_id
       |WHERE $ham <= $SimHamMax""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("llm_simhash_neardup", simhashNearDup, simhashNearDupSql),
    Entry("llm_para_dedup", paragraphDedup, paragraphDedupSql),
    Entry("llm_exact_dedup", exactDedup, exactDedupSql),
    Entry("llm_minhash_neardup", minhashNearDup, minhashNearDupSql),
    Entry("llm_simhash", simhash, simhashSql),
    Entry("llm_shingle_jaccard", shingleJaccard, shingleJaccardSql),
    Entry("llm_dedup_clusters", dedupClusters, dedupClustersSql),
    Entry("llm_incremental_dedup", incrementalDedup, incrementalDedupSql),
    Entry("llm_substr_dup", substrDupCoverage, substrDupCoverageSql),
    Entry("llm_bloom_dedup", bloomDedup, bloomDedupSql))
}
