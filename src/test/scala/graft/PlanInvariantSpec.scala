package graft

import org.apache.spark.sql.catalyst.expressions.ArrayFilter
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions.{lit, struct}

/** Engine-wide physical-plan invariants over the whole query catalog:
  * every batch query must plan without an unbroadcast cartesian product
  * (the one join shape that cannot survive 100 TB). Planning alone — no
  * execution — so this also catches analysis regressions across all ~60
  * queries in seconds. Queries that run pipelines eagerly on
  * construction (streaming, lake-writing ingestion, iterative
  * clustering) are exercised by their own specs and the oracle gate
  * instead. */
class PlanInvariantSpec extends SparkSpec {

  import PlanTestUtil.deepCollect

  private val eagerPrefixes = Seq("stream_", "ing_", "mm_")
  private val eagerNames = Set("llm_dedup_clusters", "rel_bucketed_join",
    // checkpoint-then-unpersist their working caches on construction
    "llm_incremental_dedup", "llm_decontaminate",
    // runs its Lloyd iterations (driver-collected centroids) eagerly
    "llm_semdedup_kmeans")

  test("every lazily-planned catalog query plans without a cartesian product") {
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => eagerPrefixes.exists(n.startsWith) || eagerNames(n))
    assert(names.size >= 70) // the catalog can only grow (r12: 76 lazy of 95)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val cartesians = deepCollect(df.queryExecution.executedPlan) {
        case c: CartesianProductExec => c
      }
      assert(cartesians.isEmpty,
        s"$name plans a CartesianProduct:\n${df.queryExecution.executedPlan}")
    }
  }

  test("shuffle budgets: the most expensive queries never grow a new Exchange") {
    // Per-query EXACT ShuffleExchange counts for the costliest lazily-
    // planned catalog entries (top of BENCH_DETAIL by wall time),
    // pinned at the audited plans and swept to measured actuals in r17
    // (tools/ExchangeCount: every pin == actual). Counts include
    // subquery plans. The assert is EQUALITY, both directions
    // deliberate: +1 means a join stopped broadcasting, an exchange
    // stopped being reused, or a partial aggregate split — all
    // scale-killers at 100 TB; -1 means the plan improved and the pin
    // must be updated so the gain is recorded and can't silently erode.
    val budgets = Map(
      "llm_bloom_dedup" -> 3, "llm_shingle_jaccard" -> 3,
      "llm_minhash_neardup" -> 1,
      // like minhash: the persisted block index hides its build behind
      // the cache boundary; the only live exchange is the pair distinct
      "llm_simhash_neardup" -> 1, "llm_embed_ann_pq" -> 3,
      // 2 since r19 (was 3 after the interval-union rewrite): the
      // dup-gram set's distinct now rides the (a,b) repartition its
      // groupBy reuses, so the gram stream shuffles once, not twice
      "llm_substr_dup" -> 2, "llm_clean_pipeline" -> 3,
      "rel_table_profile" -> 3,
      // 0 since the search corpus (was 2): the BM25 statistics are
      // computed while the entry is built and enter the plan as
      // literals, and the payload rides through the top-k instead of a
      // join; the one-file sf0.001 table is one partition, so the top-k
      // merges in place
      "txt_search_hits" -> 0,
      "txt_repetition" -> 2, "llm_export_jsonl" -> 0,
      "llm_export_sorted" -> 0, "llm_export_sized" -> 0,
      "llm_centroid_classify" -> 4, "rel_approx_distinct" -> 2,
      "rel_shipping_priority" -> 1, "txt_heavy_hitters" -> 2,
      "evt_cohort_ltv" -> 5, "llm_para_dedup" -> 2,
      // 4 since r18: dropDominated checkpoints the assignment, so its
      // crossJoin+rank subtree no longer replans under both pair sides
      "llm_semdedup" -> 4, "rel_factfact_join" -> 2,
      "evt_transitions" -> 5, "rel_dim_join_agg" -> 1,
      "llm_perplexity_filter" -> 7,
      "llm_dsir_weights" -> 5, "llm_curriculum" -> 2,
      "llm_hard_negatives" -> 1,
      // 5 = the centroid fold's 2 aggs counted under BOTH consumers of
      // the sims subtree (moments + final verdict; map-only after the
      // broadcast centroid join, so the double-count is two cheap scans,
      // not two shuffled passes) + the |labels|-row moment agg
      "llm_embed_outliers" -> 5,
      // the DSIR plan shape: one corpus-sized (doc,bucket) collapse, the
      // rest are the 256-key model agg + scalar agg + final per-doc fold
      "llm_nb_quality" -> 5,
      // detection side only: (source,h,doc) distinct + doc-count agg +
      // per-source set fold; the corpus-text rewrite is map-only behind
      // the broadcast, so the text column itself never shuffles
      "llm_line_scrub" -> 3,
      // IVFADC: coarse-assign agg + (vec,m) encode argmin + ADC
      // candidate agg + candidate/final rank windows; the model sides
      // (centroids, codebooks, per-cell ADC tables) are all broadcast
      "llm_embed_ann_ivfpq" -> 5,
      // both are one map-only pass + a small-key fold that collapses
      // map-side — the payload column never shuffles
      "llm_embed_quantize" -> 1,
      "txt_gopher_rules" -> 1,
      // the only corpus-sized exchange is the key-count agg; the global
      // fold and the |keys|-row rank window are model-sized
      "rel_skew_profile" -> 3,
      // pure map pass: per-row array-function char counts + entropy fold;
      // the text never leaves its input partition
      "txt_char_entropy" -> 0,
      // corpus-sized work = the (type, day) count agg (map-side
      // collapse); the bounds fold, spine fill, and 14-tap lag window
      // are model-sized (types × days)
      "evt_ewma" -> 3,
      // the unigram-LM scoring family (tf collapse + vocab agg + score
      // join + per-doc fold) + one per-lang ntile window over doc-level
      // rows — same class as llm_dsir_weights' 5
      "llm_ccnet_buckets" -> 5,
      // the prefiltered fact side joins broadcast-dim then folds to
      // |priorities| keys; the Bloom build is a driver-side head() agg
      // outside the lazy plan
      "rel_bloom_join" -> 1,
      // one fingerprint-collapse agg over the batched-hash map stage
      "mm_phash" -> 1,
      // persisted block index (the simhash_neardup shape); live exchange
      // = the pair distinct
      "mm_phash_dedup" -> 1,
      // both legs are bounded top-k; fusion joins two ≤10-row sides +
      // the final ≤20-row rank window. 3 since the search corpus (was
      // 4): the BM25 leg's statistics fold is gone, its stats are
      // literals computed while the entry is built
      "txt_hybrid_rrf" -> 3,
      // synthesis + canonicalization are map-only string expressions;
      // 2 = the two-phase hash-keyed group collapse (count_distinct)
      "llm_url_dedup" -> 2,
      // the live plan is the LAST Pregel round only (per-round lazy
      // localCheckpoint truncation — the un-truncated form planned 27);
      // 1 = the final |nodes|-row ordering window's single partition
      "rel_pagerank" -> 1,
      // persisted ud + samples (13 unpersisted); 5 = the (type,user)
      // distinct, per-type top-K window, pair-union window, and the
      // exact side's user-keyed join + pair agg
      "evt_audience_overlap" -> 5,
      // 4 = the day-partial sketch agg + the month merge + the exact
      // side's two-phase countDistinct; the month join broadcasts
      "rel_sketch_rollup" -> 4,
      // 4 = the 4096-cell grid agg (map-side collapse of the ×4
      // explode), the probe exact agg, the probe min-fold after the
      // broadcast grid join, and the probe/estimate join alignment
      "evt_cms_freq" -> 4,
      // 4 = the (type,day) bottom-K window, the (type,week) re-trim
      // window (the value-rank window and est fold reuse its
      // partitioning), the rank-count verdict agg after the broadcast
      // est join, and the final alignment; est broadcasts (≤|weeks| rows)
      "evt_quantile_rollup" -> 4,
      // 3 = the dim-key distinct, the two-phase countDistinct split, and
      // the final one-row fused-analyzer fold; the RI join broadcasts
      // (ing_ prefix is lake-writing-eager by convention, but this one
      // is lazily planned, so it CAN be pinned)
      "ing_data_contract" -> 3,
      // 3 = the (type, day) count agg, the distinct-types pass, and the
      // per-type collect_list fold; days + the day-spine broadcast
      "evt_holt_trend" -> 3,
      // 1 since the r18 wedge-volume guard: its eager Σoutdeg² agg
      // MATERIALIZES the persisted edges/deg/oriented caches before the
      // final plan exists, so the build exchanges (edge collect_set +
      // pair distinct, degree agg, orientation alignments — the pre-r18
      // pin of 6) sit behind materialized cache boundaries and the
      // model-sized sides broadcast; live = the per-node triangle fold.
      // Unchanged by the r18 broadcast-adjacency enumeration: the
      // adjacency build reuses oriented's persisted (a) partitioning
      // and both adjacency sides broadcast
      "rel_triangle_count" -> 1,
      // 1 since the r18 broadcast-adjacency enumeration: the eager |E|
      // probe (like the exact form's wedge guard) materializes the
      // persisted caches INCLUDING the full-degree agg, so the only
      // live shuffle left is the per-node triangle fold — the
      // adjacency sides broadcast
      "rel_triangle_sample" -> 1,
      // 2 since the r18 pair-volume probe: its eager agg MATERIALIZES
      // the baskets cache (pre-r18 pin 3 counted the basket
      // collect_set), so live = the item-support agg and the
      // volume-scaled pair repartition (whose (pa,pb)-partitioning the
      // groupBy reuses — the pruned re-group still rides the baskets'
      // ok-partitioning); supports/frequent-set/N all broadcast
      "rel_assoc_rules" -> 2,
      // 3 = the exposure min-struct agg, the attribution join's event
      // side (the (u,t) collapse reuses the join's u-partitioning),
      // and the |metrics|-key pivot fold; exposure + Ns broadcast
      "evt_ab_test" -> 3,
      // 3 = the (u,day) visit window (the path collect reuses its
      // partitioning), the path-count agg, and the top-K window;
      // the total-visits scalar broadcasts off the persisted visits
      "evt_path_topk" -> 3,
      // 1 = the per-customer rank window's exchange; the banded
      // supplier dim broadcasts (×≤3 band explode), so the probe is
      // map-side and candidates never shuffle
      "geo_knn_join" -> 1,
      // STANDALONE counts (the loop below clears the CacheManager
      // before each construction, so a pin can never depend on which
      // family member happened to construct first — r17's 1/2 pins
      // encoded the alphabetical accident that evt_anomaly_mad's
      // persisted dense spine was already registered): 2 = the corpus
      // (type,day) count agg feeding dailyCounts' own cache boundary
      // + the per-type window alignment. In a shared session the
      // family still collapses to 1 via the dailyCounts cache —
      // TrendOpsSpec pins that sharing explicitly, with the ordering
      // it depends on stated.
      "evt_cusum" -> 2,
      // the (t,dow) re-fold cannot reuse the cached counts'
      // partitioning, and its share-of-type windows need the hash(t)
      // alignment
      "evt_seasonality" -> 2,
      // 3 = the persisted per-user lifetime collapse (the only
      // corpus-sized exchange), the |lifetimes|-key KM fold, and the
      // model-sized suffix/running window alignment
      "evt_survival" -> 3,
      // 3 = the persisted per-part revenue collapse (corpus-sized),
      // the |parts|-row ranking window (dim-sized by construction —
      // the pagerank final-window convention), and the 3-key class fold
      "rel_abc_analysis" -> 3,
      // 2 since r19 (was 5): lead rides the lag window's exchange (the
      // separate last-day groupBy(u) is gone) and flows ∪ churn fold in
      // ONE day-keyed aggregation (the flows ⋈ churn full-outer join is
      // gone); the (u,day) distinct + per-user window alignment hide
      // behind the cached window frame, so live = the day fold + the
      // corpus-edge scalar
      "evt_growth_accounting" -> 2,
      // 4 since r19 (was 10): the three per-metric histogram subtrees
      // (agg + single-partition cut window each) collapsed into one
      // unpivoted metric-keyed pass whose window rides the repartition;
      // live = that repartition, the per-user score fold, the ≤125-key
      // cell fold, and the N scalar — the per-user metric fold hides
      // behind the metrics cache
      "evt_rfm" -> 4,
      // the persisted dense spine hides its corpus agg behind the
      // cache boundary (the minhash convention); live = the shared
      // per-type window alignment all four median/rank windows reuse
      "evt_anomaly_mad" -> 1,
      // standalone: the (type,day) corpus agg + the per-type day-index
      // window; the |types|-row normal-equation fold collapses map-side
      "evt_forecast_linreg" -> 2)
    // LIVE shuffles: a persisted intermediate's build plan runs once
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      graft.plans.PlanWalk.nodes(p)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    budgets.toSeq.sortBy(_._1).foreach { case (name, budget) =>
      // Pin STANDALONE plans: drop caches registered by earlier
      // constructions so a pin never encodes cross-query CacheManager
      // sharing that flips with this map's iteration order (the query's
      // OWN persists, registered during its construction below, still
      // apply — those cache boundaries are part of its plan shape).
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sf0001)
      val got = shuffles(df.queryExecution.executedPlan)
      assert(got === budget,
        (if (got > budget) s"$name GREW to $got shuffles (pinned $budget) — a " +
          "broadcast/reuse/partial-agg regression"
        else s"$name IMPROVED to $got shuffles (pinned $budget) — update the " +
          "pin to record the gain") +
          s":\n${df.queryExecution.executedPlan}")
    }
  }

  test("no catalog query evaluates an array constructor inside a Filter") {
    // The explode-alias trap (PLANS.md r13): InferFiltersFromGenerate +
    // predicate pushdown can inline a projected array build (split /
    // transform / sequence / …) into a pre-Generate Filter, evaluating
    // it 2× per row outside codegen — measured 12× on the gram stage it
    // was found on. Filters must test scalars; array CONSTRUCTION in a
    // FilterExec condition means the trap (or a shape like it) is back.
    val needles = Seq("split(", "transform(", "sequence(", "slice(", "array_join(")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => eagerPrefixes.exists(n.startsWith) || eagerNames(n))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val offending = deepCollect(df.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FilterExec
            if needles.exists(f.condition.toString.contains) => f
      }
      assert(offending.isEmpty,
        s"$name builds arrays inside a Filter:\n${offending.headOption.map(_.condition)}")
    }
  }

  test("filter queries push their predicates into the parquet scan") {
    // The F1/F5 filter surface claims scan-level pushdown (PLANS.md).
    // If a refactor ever rewraps the predicate so it stops reaching the
    // FileSourceScan (e.g. behind a non-pushable cast or udf), the scan
    // silently reads everything — fail here instead.
    Seq("rel_filter_scan", "rel_revenue_agg").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val scans = deepCollect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, s"$name has no FileSourceScan")
      assert(scans.exists(_.metadata.get("PushedFilters").exists(_ != "[]")),
        s"$name pushed no filters to the scan:\n" +
          scans.map(_.metadata.get("PushedFilters")).mkString(", "))
    }
  }

  test("searchTopk's global ranking window pre-limits before the merge") {
    // The un-partitioned row_number window in txt_search_topk is only
    // scale-safe because Spark 4.x bounds it: LimitPushDownThroughWindow
    // rewrites `rank <= 16` into TakeOrderedAndProject(limit=16)
    // (per-partition top-16, then one 16-row merge), or — when that rule
    // doesn't fire — WindowGroupLimit pre-limits each partition. If a
    // plan change ever loses both, the query silently becomes a
    // full-corpus single-partition sort — fail here instead.
    // txt_search_bm25's `rank <= 10` filter rides the same rewrite over
    // its un-partitioned scoring window — pin every search query,
    // txt_search_hits too: its payload rides through that top-k.
    Seq("txt_search_topk" -> 16, "txt_search_bm25" -> 10,
        "txt_search_bm25_fields" -> 10, "txt_search_hits" -> 10,
        "txt_vocab_topk" -> 100).foreach {
      case (name, k) =>
        val df = SparkEntry.queries(name)(spark, sf0001)
        val plan = df.queryExecution.executedPlan
        val bounded = deepCollect(plan) {
          case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec if t.limit <= k => t
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
        }
        assert(bounded.nonEmpty,
          s"$name lost its pre-limit (TakeOrderedAndProject/WindowGroupLimit):\n$plan")
    }
  }

  test("searchHits carries the payload through the top-k, never shuffling documents") {
    // The /search payload rides through the bounded ranking (≤ page·size
    // rows leave it), so the plan joins nothing: documents are read
    // once, and the BM25 statistics arrive as literals. If the payload
    // were joined back unbroadcast, the full documents table would
    // shuffle per search request — fail here instead.
    val df = graft.queries.TextAnalysis.searchHits(
      spark, sf0001, Seq("spark", "join"), page = 1, pageSize = 5)
    val plan = df.queryExecution.executedPlan
    val joins = deepCollect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"searchHits joins:\n$plan")
    // The only exchange allowed is the bounded one: the SinglePartition
    // merge of the per-partition top-k. A HASH-partition exchange means
    // a corpus-sized shuffle crept in.
    val unbounded = deepCollect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning != org.apache.spark.sql.catalyst.plans.physical.SinglePartition => e
    }
    assert(unbounded.isEmpty,
      s"searchHits shuffles more than the top-k merge (the payload must ride the rank):\n$plan")
  }

  test("BM25 searches score each document once: one native kernel per field, no ArrayFilter") {
    // bm25_score replaced the 5 × T size(filter(tokens, w -> w = term))
    // trees (an interpreted lambda per field and term). Exactly one
    // kernel per field in the executed plan means each document's score
    // is computed once: a `score > 0` filter pushed below the scoring
    // projection would evaluate every kernel a second time.
    import spark.implicits._
    val news = Seq(("corona surge", "daily report", "https://n/1"))
      .toDF("title", "desc", "link")
      .withColumn("lang", lit("en"))
      .withColumn("date", lit("2021-03-01 10:00:00").cast("timestamp"))
      .withColumn("source", struct(lit("googlenews").as("crawler"),
        lit("news.example").as("website")))
    Seq(
      ("txt_search_bm25", SparkEntry.queries("txt_search_bm25")(spark, sf0001), 1),
      ("txt_search_bm25_fields", SparkEntry.queries("txt_search_bm25_fields")(spark, sf0001), 5),
      ("searchHits", graft.queries.TextAnalysis.searchHits(
        spark, sf0001, Seq("spark", "join"), page = 1, pageSize = 5), 5),
      ("newsSearchHits", graft.queries.TextAnalysis.newsSearchHits(
        news, Seq("corona"), page = 1, pageSize = 10), 4)).foreach { case (name, df, fields) =>
      val plan = df.queryExecution.executedPlan
      val exprs = graft.plans.PlanWalk.nodes(plan)
        .flatMap(_.expressions.flatMap(_.collect { case e => e }))
      val kernels = exprs.count(_.isInstanceOf[graft.functions.Bm25Score])
      assert(kernels === fields, s"$name plans $kernels bm25_score calls for $fields fields:\n$plan")
      assert(!exprs.exists(_.isInstanceOf[ArrayFilter]), s"$name evaluates an ArrayFilter:\n$plan")
    }
  }

  test("overlap search scores each document once: one token_overlap, one source lambda") {
    // A `score >= 1` filter below the rank window is pushed under the
    // scoring projection, so token_overlap and the source-match
    // size(filter(…)) lambda would each run twice per document.
    Seq(
      "txt_search_topk" -> SparkEntry.queries("txt_search_topk")(spark, sf0001),
      "searchHits overlap" -> graft.queries.TextAnalysis.searchHits(
        spark, sf0001, Seq("spark", "join"), page = 1, pageSize = 5, ranker = "overlap"))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val exprs = graft.plans.PlanWalk.nodes(plan)
          .flatMap(_.expressions.flatMap(_.collect { case e => e }))
        val overlaps = exprs.count(_.isInstanceOf[graft.functions.TokenOverlap])
        assert(overlaps === 1, s"$name plans $overlaps token_overlap calls:\n$plan")
        val lambdas = exprs.count(_.isInstanceOf[ArrayFilter])
        assert(lambdas === 1, s"$name plans $lambdas ArrayFilter lambdas:\n$plan")
      }
  }

  test("chunking stays a map-only pass: zero exchanges of any kind") {
    // llm_chunk_docs claims one narrow per-doc pass (tokenize → integer
    // geometry → explode → slice). Any Exchange in the plan means a
    // shuffle crept into what must stay embarrassingly parallel at
    // 100 TB — fail here instead.
    val plan = graft.queries.Curation.chunkDocs(spark, sf0001)
      .queryExecution.executedPlan
    // the Exchange BASE class: a broadcast exchange breaks the map-only
    // claim just as much as a shuffle would
    val exchanges = deepCollect(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.isEmpty, s"chunking exchanges:\n$plan")
  }
}
