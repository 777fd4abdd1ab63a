package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Association-rule mining over order baskets — the A-Priori frequent-
  * pair pass (Agrawal & Srikant 1994) with support / confidence / lift,
  * the market-basket complement to the co-occurrence shapes already in
  * the catalog ([[Graph]] builds the co-supply GRAPH from the same
  * per-order expansion; this ranks the part-pair RULES). The analytics
  * question is the recommender / merchandising panel: "customers who
  * ordered part A also ordered part B" — the reference's Kibana layer
  * answers the single-field version with a terms agg; the pair version
  * is the first genuinely relational mining op.
  *
  * Determinism: supports and co-counts are exact integers; support /
  * confidence / lift are BIGINT micro-units via integer division
  * (`div` here, `//` in the oracle) — no floats anywhere. Top-K is a
  * total order: (co_orders DESC, part_a ASC, part_b ASC).
  *
  * Overflow bound (documented, not hoped): lift's numerator is
  * `1e6 · co · N`; with co ≤ N this is ≤ 1e6·N², safe in BIGINT while
  * N ≤ 3·10⁶ orders per partition-of-analysis. A 100 TB caller with
  * more orders than that runs the same plan over DECIMAL(38,0) — the
  * three ratio columns are the only lines that change.
  *
  * Scale shape (100 TB answer): the basket collapse is one exchange of
  * (order, part) pairs with map-side partial collect_set; the pair
  * expansion is per-order and schema-bounded (order width ≤ 7 in
  * TPC-H, ≤ 16 in the adversarial corpus — never all-pairs over the
  * catalog); the A-Priori prune runs BEFORE the expansion: item
  * supports are a |parts|-sized agg, the frequent-item set broadcasts,
  * and infrequent items drop out of the baskets so the quadratic step
  * only ever sees items that could still form a frequent pair (the
  * classic pass-1/pass-2 split — at minsup levels real recommenders
  * use, this is a 10-100× reduction of the expansion input). Pair
  * counting is one agg keyed by (pa,pb) with map-side partials; the
  * top-K window runs on the ≥minsup survivors only; the support joins
  * after top-K touch 25 rows against a broadcast |frequent-parts| dim.
  */
object AssocRules {

  private val MinSup = 2       // absolute co-order support floor
  private val TopK = 25
  private val Micro = 1000000L
  /** Pair-exchange sizing: keys one partition's aggregation map holds
    * comfortably (~64 B/entry ⇒ ~64 MiB per task at this bound). */
  private val PairKeysPerPartition = 1000000L

  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    // ONE corpus exchange: baskets via groupBy(order).collect_set —
    // the set dedups within the order (a part twice in one order
    // counts once) and the partial agg collapses map-side, so the raw
    // (ok, p) stream never shuffles un-deduped. Persisted: every later
    // pass (supports, prune, expansion) derives from this collapsed
    // |orders|-row table, hash-partitioned by ok.
    val baskets = li.groupBy(col("ok")).agg(collect_set(col("p")).as("ps"))
      .persist(sl)
    // Pass 1: item supports = explode of the persisted baskets (narrow
    // — explode preserves the ok-partitioning; the groupBy(p) exchange
    // moves |basket items| rows, already order-deduped).
    val items = baskets.select(col("ok"), explode(col("ps")).as("p"))
    val sup = items.groupBy(col("p")).agg(count(lit(1)).as("sup")).persist(sl)
    val frequent = sup.filter(col("sup") >= MinSup)
    // A-Priori prune: an infrequent ITEM cannot be in a frequent PAIR,
    // so drop it before the quadratic expansion — broadcast semi-join
    // on the exploded items (the frequent set is |parts|-bounded,
    // model-sized next to the stream). The re-group to pruned baskets
    // is EXCHANGE-FREE: explode and the broadcast semi-join both
    // preserve baskets' HashPartitioning(ok), which satisfies the
    // groupBy(ok) distribution (pass 2 of A-Priori re-reads pruned
    // transactions without re-shuffling them).
    val pruned = items
      .join(broadcast(frequent.select(col("p"))), Seq("p"), "left_semi")
      .groupBy(col("ok")).agg(collect_set(col("p")).as("ps"))
    // Pair expansion: per-order inline pairs (the Graph.pagerank edge
    // build — bounded in-memory expansion, NOT a fact-fact self-join;
    // see that file for the 1000×-decade post-mortem of the join
    // form). pa < pb canonicalizes the pair; order width is
    // schema-bounded so the expansion is O(k²·orders) with small k.
    val pairs = expr(
      "flatten(transform(ps, x -> transform(filter(ps, y -> y > x), " +
        "y -> struct(x AS pa, y AS pb))))")
    // The pair-count agg's KEY SET is corpus-sized at high density —
    // the 1000× decade probe (600M lines, ~9·10⁸ pair instances over
    // ~2·10⁸ distinct pairs) OOM'd the fixed-width aggregation map when
    // the session's 32 shuffle partitions left ~6M keys per concurrent
    // task. One model-sized agg off the persisted baskets (the
    // triangle wedge-guard trick) estimates the expansion volume
    // UP-FRONT, and the pair exchange scales its width so a
    // partition's key slice always fits a task's aggregation map; at
    // gate SFs the estimate collapses to the session default and the
    // plan is unchanged (groupBy reuses the repartition's
    // (pa,pb)-partitioning — same single exchange either way).
    val pairVolume = baskets
      .select(size(col("ps")).cast("long").as("k"))
      .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L)))
      .head.getLong(0)
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pairParts = math.max(defaultParts,
      math.min(4096L, pairVolume / PairKeysPerPartition).toInt)
    val co = pruned
      .select(explode(pairs).as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb"))
      .repartition(pairParts, col("pa"), col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("co"))
      .filter(col("co") >= MinSup)
    // Top-K via orderBy+limit, NOT a global rank window: at the 10×
    // decade minsup stops pruning (every cloned pair clears it) and
    // the surviving-pair set grows to ~1M rows — a partition-less
    // row_number window drags them all through ONE partition (measured
    // 34 s at 10×; the rewrite to WindowGroupLimit does not fire when
    // the rank column is consumed downstream). TakeOrderedAndProject
    // instead takes the top 25 PER PARTITION and merges 32×25 rows;
    // the rank window then runs on the 25 survivors only (same total
    // order, so the same rows and the same ranks).
    val w = Window.orderBy(col("co").desc, col("pa").asc, col("pb").asc)
    val top = co.orderBy(col("co").desc, col("pa").asc, col("pb").asc)
      .limit(TopK)
      .withColumn("rk", row_number().over(w))
    val nOrders = broadcast(
      Tables.load(spark, dir, "orders").agg(count(lit(1)).as("n")))
    // Support joins AFTER top-K: 25 rows probe the broadcast item-
    // support dim twice (once per side of the rule).
    top
      .join(broadcast(sup.select(col("p").as("pa"), col("sup").as("sup_a"))), "pa")
      .join(broadcast(sup.select(col("p").as("pb"), col("sup").as("sup_b"))), "pb")
      .crossJoin(nOrders)
      .select(
        col("pa").as("part_a"), col("pb").as("part_b"),
        col("co").as("co_orders"), col("sup_a"), col("sup_b"),
        col("rk").cast("long").as("rule_rank"),
        expr(s"($Micro * co) div n").as("support_micro"),
        expr(s"($Micro * co) div sup_a").as("conf_ab_micro"),
        expr(s"($Micro * co) div sup_b").as("conf_ba_micro"),
        expr(s"($Micro * co * n) div (sup_a * sup_b)").as("lift_micro"))
  }

  val assocRulesSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |sup AS (SELECT p, COUNT(*) AS sup FROM op GROUP BY 1),
       |pruned AS (SELECT op.ok, op.p FROM op
       |           JOIN sup ON sup.p = op.p AND sup.sup >= $MinSup),
       |co AS (SELECT a.p AS pa, b.p AS pb, COUNT(*) AS co
       |       FROM pruned a JOIN pruned b ON a.ok = b.ok AND a.p < b.p
       |       GROUP BY 1, 2 HAVING COUNT(*) >= $MinSup),
       |top AS (SELECT pa, pb, co,
       |          row_number() OVER (ORDER BY co DESC, pa ASC, pb ASC) AS rk
       |        FROM co QUALIFY rk <= $TopK),
       |n AS (SELECT COUNT(*) AS n FROM orders)
       |SELECT top.pa AS part_a, top.pb AS part_b, top.co AS co_orders,
       |  sa.sup AS sup_a, sb.sup AS sup_b, top.rk AS rule_rank,
       |  ($Micro * top.co) // n.n AS support_micro,
       |  ($Micro * top.co) // sa.sup AS conf_ab_micro,
       |  ($Micro * top.co) // sb.sup AS conf_ba_micro,
       |  ($Micro * top.co * n.n) // (sa.sup * sb.sup) AS lift_micro
       |FROM top
       |JOIN sup sa ON sa.p = top.pa
       |JOIN sup sb ON sb.p = top.pb
       |CROSS JOIN n""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("rel_assoc_rules", assocRules, assocRulesSql))
}
