package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Graph centrality — PageRank (Page, Brin, Motwani & Winograd 1999)
  * with a FIXED, unrolled iteration count, the rank-propagation
  * complement to [[LlmDedup]]'s pointer-doubling connected components.
  * Crawl pipelines rank the host graph exactly this way before quality
  * filtering (OPIC/harmonic/PageRank centrality over CommonCrawl's link
  * graph); the reference's corpus carries no hyperlinks, so the graph
  * here is the supplier CO-SUPPLY graph — suppliers are adjacent when
  * they serve the same order — which has real cycles and hubs, unlike a
  * bipartite projection.
  *
  * Determinism: the whole computation is BIGINT micro-units — initial
  * mass `1e12 div N`, per-edge share `rank div outdeg` (integer
  * division), damped update `(15·base) div 100 + (85·Σshares) div 100`
  * — zero floats anywhere, so the 5-round fixpoint is bit-identical
  * cross-engine with no fence needed. Integer division leaks remainder
  * mass identically in both engines (documented, not hidden: PageRank
  * here is a RANKING signal, not a probability measure).
  *
  * Scale shape (100 TB answer): the edge list comes from a per-order
  * pairwise expansion — order width is bounded (≤7 lines in TPC-H, and
  * bounded in any real order system), so the expansion is O(k²·orders)
  * with small k, never all-pairs — and collapses through DISTINCT
  * map-side. Edges + out-degrees persist ONCE (MEMORY_AND_DISK, the
  * hashedShingles lesson: 5 unrolled rounds would otherwise re-pay the
  * self-join 5×); each round then shuffles only the NARROW |nodes|-row
  * rank table to the edge partitioning and folds incoming shares — the
  * standard Pregel round, O(iterations) node-sized exchanges after a
  * one-time edge shuffle. The final ordering window runs on |nodes|
  * rows.
  */
object Graph {

  private val Scale = 1000000000000L
  private val Iters = 5

  /** Node-count ceiling for the broadcast-rank round route (overridable
    * via [[BcastNodesConf]] — the [[BcastEdgesConf]] convention). Below
    * it, each unrolled round is MAP-ONLY over the dst-partitioned
    * persisted edge table: the |nodes|-row rank table broadcasts
    * (hinted — a checkpoint leaf carries no stats the static planner
    * could size it by), the share fold groups by dst and rides the
    * cached dst-partitioning (zero shuffle per round), and the damped
    * update is a broadcast left join onto the cached node table. 8M
    * nodes is ~128 MB of (long, long) rank rows per broadcast — the
    * triangle-adjacency budget. Above the ceiling the keyed round
    * shape runs unchanged (src-partitioned edges, two narrow
    * |nodes|-row exchanges per round) — the 100 TB path never assumes
    * the rank table fits in executor memory. r19 measurement
    * (min-of-3, local[32], sf0.1): keyed rounds on the r18 AQE-off
    * clone 5.8-7.0 s end-to-end, broadcast rounds 5.1-5.3 s same-box
    * shell (the per-round SMJ/exchange chains become one broadcast
    * build + one map-side fold each). */
  private[graft] val BcastNodesConf = "spark.graft.pagerank.broadcastNodes"
  private[graft] val BcastNodesDefault = 8000000L

  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val sl = StorageLevel.MEMORY_AND_DISK
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    // Edge build = groupBy(order).collect_set + INLINE pair expansion,
    // not a self-join. The self-join form (distinct (ok,s), a⋈b on ok)
    // sort-merge-joins two 480M-row sides at the 1000× decade and its
    // per-thread sort/read-ahead buffers exhausted the 8 GiB
    // single-JVM harness (found twice: first un-collapsed — 2.4B pair
    // rows — then again even WITH the distinct collapse). This shape
    // pays ONE exchange of the raw (ok,s) pairs with map-side partial
    // collect_set (the hub supplier's repeats per order collapse
    // before the wire), builds each order's ≤width² pairs from a
    // bounded in-memory array (order width is schema-bounded: ≤7 in
    // TPC-H, 16 in the adversarial corpus), and streams them straight
    // into the distinct's partial aggregate — no 480M-row sorts, no
    // join buffers, same 1.76B logical pair stream, same edge set.
    val pairs = expr(
      "flatten(transform(ss, x -> transform(filter(ss, y -> y != x), " +
        "y -> struct(x AS src, y AS dst))))")
    val edgeSet = li.groupBy(col("ok")).agg(collect_set(col("s")).as("ss"))
      .select(explode(pairs).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    val nodes = li.select(col("s").as("v")).distinct()
      .repartition(col("v")).persist(sl)
    // |nodes| as an eager driver scalar (the triangle wedge-guard
    // convention — one model-sized agg off the persisted node table):
    // it routes the round shape AND replaces the per-round
    // crossJoin(nn) broadcast with plain literals. Identical integer
    // math: `Scale div nn` and the damped base are evaluated once here
    // with the same Long division the expression form used.
    val nNodes = nodes.agg(count(lit(1))).head.getLong(0)
    if (nNodes == 0) {
      // Empty corpus: no nodes, no rows — short-circuit before the
      // rank literals would divide by zero.
      return nodes.select(col("v").as("suppkey"),
        lit(0L).as("pr_micro"), lit(0L).as("rank"))
    }
    val r0 = lit(Scale / nNodes)
    val base = lit((15L * (Scale / nNodes)) / 100L)
    val bcastRoute = nNodes <= spark.conf.getOption(BcastNodesConf)
      .map(_.toLong).getOrElse(BcastNodesDefault)
    // Persist the static sides ALREADY HASH-PARTITIONED on the key the
    // rounds consume them by — dst for the broadcast route (the share
    // fold groups by dst and rides the cached partitioning), src for
    // the keyed route (the rank join keys on src; the cached
    // InMemoryTableScan keeps its child partitioning, so the only
    // per-round shuffles are the two narrow |nodes|-row moves). The
    // first cut skipped the repartition and paid 27 shuffles — each
    // round re-exchanged the SAME cached edge list.
    val edges = edgeSet
      .repartition(if (bcastRoute) col("dst") else col("src")).persist(sl)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // Out-degree folded INTO the persisted edge table (r18): the degree
    // is loop-invariant, so joining it per round rebuilt the same
    // broadcast 5×. The broadcast back onto edges happens once, and
    // each round is left with exactly ONE small side (the rank table).
    val edgesDeg = edges.join(broadcast(outdeg), "src")
      .select(col("src"), col("dst"), col("deg")).persist(sl)

    // The unrolled rounds run on the CALLER's session. The r18 AQE-off
    // clone is gone: with the rank side explicitly broadcast and the
    // fold riding the cached dst-partitioning, a round plans ZERO
    // shuffle stages, so AQE has nothing to barrier on — measured
    // equal with AQE on vs off (min-of-3 5.11 vs 5.21 s), and the
    // clone-construction-inside-the-timed-region suspect from the r18
    // driver-bench regression disappears with the clone itself.
    //
    // Lazy localCheckpoint at each round boundary (the dedup_clusters
    // pattern): the next round plans against a materialized leaf, so
    // the executed plan stays constant-size whatever the iteration
    // count instead of nesting all prior rounds' subtrees (the
    // un-truncated form planned 27 exchange nodes at 5 rounds, and a
    // no-checkpoint broadcast variant re-ran the optimizer over the
    // whole nested tree at every broadcast stage — measured 12 s vs
    // 5.2 s end-to-end).
    var ranks = nodes.select(col("v"), r0.as("r"))
    (1 to Iters).foreach { _ =>
      val rankSrc = ranks.withColumnRenamed("v", "src")
      val inc = edgesDeg
        .join(if (bcastRoute) broadcast(rankSrc) else rankSrc, "src")
        .select(col("dst").as("v"), expr("r div deg").as("share"))
        .groupBy(col("v")).agg(sum(col("share")).as("inc"))
      ranks = nodes
        .join(if (bcastRoute) broadcast(inc) else inc, Seq("v"), "left")
        .select(col("v"),
          (base + expr("(85 * coalesce(inc, 0L)) div 100")).as("r"))
        .localCheckpoint(false)
    }
    val w = Window.orderBy(col("pr_micro").desc, col("suppkey").asc)
    ranks.select(col("v").as("suppkey"), col("r").as("pr_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  val pagerankSql: String = {
    val base = s"(15 * ($Scale // nn)) // 100"
    def round(k: Int): String =
      s"""r$k AS (
         |  SELECT nd.v, $base + (85 * COALESCE(inc.s, 0)) // 100 AS r
         |  FROM nodes nd CROSS JOIN n
         |  LEFT JOIN (
         |    SELECT e.dst AS v, CAST(SUM(rp.r // od.deg) AS BIGINT) AS s
         |    FROM e0 e JOIN r${k - 1} rp ON e.src = rp.v
         |    JOIN od ON od.src = e.src
         |    GROUP BY 1) inc ON inc.v = nd.v)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey),
       |nodes AS (SELECT DISTINCT l_suppkey AS v FROM lineitem),
       |od AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY 1),
       |n AS (SELECT COUNT(*) AS nn FROM nodes),
       |r0 AS (SELECT v, $Scale // nn AS r FROM nodes CROSS JOIN n),
       |${(1 to Iters).map(round).mkString(",\n")}
       |SELECT v AS suppkey, r AS pr_micro,
       |  CAST(row_number() OVER (ORDER BY r DESC, v ASC) AS BIGINT) AS rank
       |FROM r$Iters""".stripMargin
  }

  /** Triangle counting + local clustering coefficient over the same
    * co-supply graph — the third graph-family member (components:
    * [[LlmDedup]] pointer-doubling CC; rank propagation: [[pagerank]];
    * cohesion: this). The crawl-pipeline use is spam/link-farm
    * detection: farms show near-zero triangle closure at high degree,
    * organic neighborhoods close.
    *
    * Algorithm: DEGREE-ORIENTED node-iterator (Cohen 2009 / GraphX's
    * TriangleCount shape — the MapReduce-era standard). Undirected
    * edges (u < v, one row each) orient along the total order
    * (deg, id): a → b iff (deg a, a) < (deg b, b). Every triangle then
    * appears EXACTLY once as a < b < c in that order (edges a→b, b→c,
    * a→c), so counting = one wedge self-join on the middle vertex plus
    * one closure join. The orientation is why this survives 100 TB:
    * out-degree under (deg, id) order is O(√m) for ANY graph — the hub
    * supplier's thousands of edges all point INTO it, its out-list
    * stays tiny, and the wedge volume Σ outdeg² is bounded — the
    * unoriented form would put deg² hub wedges under one key.
    *
    * Determinism: pure set computation + BIGINT counts; the clustering
    * coefficient 2T/(deg·(deg−1)) divides two BIGINT-exact operands and
    * goes through the floor(x·1e6+0.5)/1e6 fence (the evt_ewma rule),
    * null for deg 1 (ANSI-safe, mirrored by the oracle). */
  /** Wedge-volume guard for the exact enumerator. Exact triangle
    * counting is Θ(#triangles) for ANY algorithm — an output-size
    * fact, not a plan defect — so on a dense co-supply graph (the
    * decade harness's ~905-regular pool closes ~5·10⁹ triangles at
    * 100×) the exact form must not be invokable BLIND at 100 TB.
    * Σ outdeg² over the ORIENTED graph is the exact wedge count the
    * closure join probes (the true work/output upper bound, one
    * model-sized agg off the already-persisted orientation); past
    * [[WedgeGuardDefault]] (overridable via [[WedgeGuardConf]]) the
    * query raises with the routing instruction instead of launching
    * an enumeration that cannot finish. rel_triangle_sample (DOULION,
    * wedge volume ×p²) is the documented scale path. */
  private[graft] val WedgeGuardConf = "spark.graft.triangle.maxWedges"
  private[graft] val WedgeGuardDefault = 1000000000L // 1e9 wedges

  /** Edge-count ceiling for the broadcast-adjacency enumeration route
    * (overridable via [[BcastEdgesConf]]). Below it, the oriented
    * adjacency (|E| longs grouped into per-node arrays — 64 MB at the
    * default 8M edges) broadcasts and triangle enumeration is MAP-ONLY
    * over the edge list: per edge (a,b), the common out-neighbors
    * N⁺(a) ∩ N⁺(b) are exactly the c's closing a triangle with that
    * edge, and each triangle is found exactly once (at its (deg,id)-min
    * edge). That replaces the wedge self-join + closure join — which
    * materialize Σ outdeg² joined ROWS — with Σ outdeg² primitive long
    * hash ops inside one codegen'd `array_intersect`, and cuts the
    * per-node explode from 3·#triangles rows to #triangles (+2|E|)
    * rows, since the a/b endpoints' credits ride as a size() weight
    * instead of exploded rows (optimization guide §2.3/§3: shuffle —
    * and here even materialize — keys and counts, not per-wedge rows).
    * Past the ceiling the keyed wedge-join shape below runs unchanged —
    * the 100 TB path never assumes the adjacency fits anywhere. */
  private[graft] val BcastEdgesConf = "spark.graft.triangle.broadcastEdges"
  private[graft] val BcastEdgesDefault = 8000000L // 8M edges ≈ 64 MB of longs

  /** Per-node triangle counts over an ORIENTED (a → b along the
    * (deg, id) total order), distinct, persisted edge list partitioned
    * by `a`. Output: (n, triangles) with one row per node that appears
    * on any oriented edge; nodes absent entirely (deg 0 — impossible
    * here) or with zero triangles resolve through the caller's left
    * join + coalesce(0), identical in both routes. */
  private def perNodeTriangles(
      spark: SparkSession, oriented: DataFrame, edgeCount: Long): DataFrame = {
    val bcastMax = spark.conf.getOption(BcastEdgesConf)
      .map(_.toLong).getOrElse(BcastEdgesDefault)
    if (edgeCount <= bcastMax) {
      // groupBy(a) reuses the persisted repartition(a) — no exchange.
      // sort_array once over the model-sized adjacency buys the
      // allocation-free two-pointer [[graft.functions.SortedIntersect]]
      // below (vs array_intersect's per-row hash set over ~|adj| longs).
      val adj = oriented.groupBy(col("a"))
        .agg(sort_array(collect_list(col("b"))).as("nb"))
      // Inner joins: `a` always has an out-edge so adj(a) exists; a `b`
      // with no out-edges has an empty intersection (zero contribution),
      // so dropping its row is exact.
      oriented
        .join(broadcast(adj.select(col("a"), col("nb").as("nba"))), Seq("a"))
        .join(broadcast(adj.select(col("a").as("b"), col("nb").as("nbb"))), Seq("b"))
        .select(col("a"), col("b"),
          org.apache.spark.sql.graft.PlanShim.column(
            graft.functions.SortedIntersect(
              org.apache.spark.sql.graft.PlanShim.expression(col("nba")),
              org.apache.spark.sql.graft.PlanShim.expression(col("nbb")))).as("ic"))
        // One Generate pass credits all three corners, exploding PURE
        // LONGS (a struct-per-element first cut measured ~2× slower —
        // per-row transform/named_struct allocation): the c's ride as
        // the first size(ic) positions with weight 1, a and b as the
        // two trailing positions with weight size(ic) (their triangle
        // count through this edge). Codegen explode, long-keyed fold.
        .select(size(col("ic")).cast("long").as("sz"),
          posexplode(concat(col("ic"), array(col("a"), col("b")))).as(Seq("p", "n")))
        .select(col("n"),
          when(col("p") < col("sz"), lit(1L)).otherwise(col("sz")).as("w"))
        .groupBy(col("n")).agg(sum(col("w")).as("triangles"))
    } else {
      // Keyed wedge enumeration — both joins shuffle on model-sized
      // keys, never on the adjacency; the guard above already bounded
      // Σ outdeg², the wedge row volume this route materializes.
      val tri = oriented.as("x")
        .join(oriented.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
        .join(oriented.select(col("a"), col("b").as("c")), Seq("a", "c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    }
  }

  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val sl = StorageLevel.MEMORY_AND_DISK
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    // The pagerank edge-build shape (collect_set + inline expansion, no
    // self-join) emitting each undirected edge ONCE via y > x.
    val pairs = expr(
      "flatten(transform(ss, x -> transform(filter(ss, y -> y > x), " +
        "y -> struct(x AS u, y AS v))))")
    val edges = li.groupBy(col("ok")).agg(collect_set(col("s")).as("ss"))
      .select(explode(pairs).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().persist(sl)
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg")).persist(sl)
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"))
      .repartition(col("a")).persist(sl)
    // The scale guard: one |nodes|-row agg over the persisted
    // orientation (work the enumeration below would redo anyway),
    // collapsed to a single driver scalar — the bloom_join head()
    // convention. Fails fast BEFORE the wedge join can launch. The
    // same pass also yields |E|, which routes the enumeration.
    val st = oriented.groupBy(col("a")).agg(count(lit(1)).as("od"))
      .agg(coalesce(sum(col("od") * col("od")), lit(0L)),
        coalesce(sum(col("od")), lit(0L))).head
    val wedges = st.getLong(0)
    val maxWedges = spark.conf.getOption(WedgeGuardConf)
      .map(_.toLong).getOrElse(WedgeGuardDefault)
    if (wedges > maxWedges)
      throw new IllegalStateException(
        s"rel_triangle_count: wedge volume $wedges exceeds $maxWedges " +
          s"($WedgeGuardConf) — exact triangle enumeration is " +
          "Theta(#triangles) and cannot finish blind at this density; " +
          "use rel_triangle_sample (DOULION) or raise the bound explicitly")
    val perNode = perNodeTriangles(spark, oriented, st.getLong(1))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("suppkey"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("deg") > 1,
          floor((lit(2.0) * col("triangles").cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double")) * 1e6 + 0.5) / 1e6))
  }

  val trianglesSql: String =
    """WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
      |e AS (SELECT DISTINCT a.s AS u, b.s AS v
      |      FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s),
      |d AS (SELECT n, COUNT(*) AS deg
      |      FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |o AS (SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |               THEN e.u ELSE e.v END AS a,
      |             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |               THEN e.v ELSE e.u END AS b
      |      FROM e JOIN d du ON du.n = e.u JOIN d dv ON dv.n = e.v),
      |t AS (SELECT x.a, x.b, y.b AS c
      |      FROM o x JOIN o y ON x.b = y.a
      |      JOIN o z ON z.a = x.a AND z.b = y.b),
      |pn AS (SELECT n, COUNT(*) AS tri FROM (
      |         SELECT a AS n FROM t UNION ALL SELECT b FROM t
      |         UNION ALL SELECT c FROM t) GROUP BY 1)
      |SELECT d.n AS suppkey, d.deg,
      |  COALESCE(pn.tri, 0) AS triangles,
      |  CASE WHEN d.deg > 1 THEN
      |    floor((2.0 * COALESCE(pn.tri, 0) / (d.deg * (d.deg - 1))) * 1e6 + 0.5) / 1e6
      |  END AS clustering
      |FROM d LEFT JOIN pn ON pn.n = d.n""".stripMargin

  /** DOULION sampling rate: keep an edge iff its 60-bit md5 hash ≡ 0
    * (mod 16) — p = 1/16, estimator scale 1/p³ = 4096. md5, not
    * xxhash64: the sample membership must replay bit-identically in
    * the DuckDB oracle (the KMV convention). */
  private val SampleMod = 16L
  private val SampleScale = SampleMod * SampleMod * SampleMod

  /** DOULION-sampled triangle estimation (Tsourakakis et al., KDD 2009)
    * — the scale path [[triangles]] needs on DENSE graphs. The decade
    * harness showed why: the adversarial corpus's co-supply graph is
    * ~905-regular at EVERY scale (pool structure), so at 100× it closes
    * ~5·10⁹ triangles and exact enumeration is Θ(#triangles) for any
    * algorithm — not a plan defect, an output-size fact. DOULION keeps
    * each edge independently with probability p via a DETERMINISTIC
    * hash coin, runs the identical degree-oriented count on the
    * sparsified graph (wedge volume drops by p², ~7·10⁹ → ~3·10⁷ at
    * 100×), and scales observed counts by 1/p³ — an unbiased estimator
    * whose concentration Tsourakakis proves for exactly this regime.
    * Per-node output: FULL-graph degree (context), sampled triangle
    * count, and the 1/p³ estimate — all BIGINT, no float anywhere, and
    * the md5 coin replays in SQL so the oracle hash-checks the ENTIRE
    * estimator, not a band. */
  def trianglesSampled(spark: SparkSession, dir: String): DataFrame = {
    val sl = StorageLevel.MEMORY_AND_DISK
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
    val pairs = expr(
      "flatten(transform(ss, x -> transform(filter(ss, y -> y > x), " +
        "y -> struct(x AS u, y AS v))))")
    val edges = li.groupBy(col("ok")).agg(collect_set(col("s")).as("ss"))
      .select(explode(pairs).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().persist(sl)
    // Full-graph degree rides along as output context (and is the gate
    // anchor: it hash-checks the sampled entry sees the same graph the
    // exact entry does).
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg")).persist(sl)
    val coin = expr(
      "cast(conv(substring(md5(concat(cast(u as string), '_', " +
        "cast(v as string))), 1, 15), 16, 10) as bigint)")
    val sampled = edges.filter(pmod(coin, lit(SampleMod)) === 0L)
    val sdeg = sampled.select(col("u").as("n"))
      .unionAll(sampled.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("sdeg"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = sampled
      .join(sdeg.select(col("n").as("u"), col("sdeg").as("du")), "u")
      .join(sdeg.select(col("n").as("v"), col("sdeg").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"))
      .repartition(col("a")).persist(sl)
    // |E_sampled| for the enumeration route — one model-sized agg over
    // the persisted sampled orientation (the exact-path convention).
    val m = oriented.agg(count(lit(1))).head.getLong(0)
    val perNode = perNodeTriangles(spark, oriented, m)
      .withColumnRenamed("triangles", "tri_sampled")
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("suppkey"), col("deg"),
        coalesce(col("tri_sampled"), lit(0L)).as("tri_sampled"))
      .withColumn("est_triangles", col("tri_sampled") * SampleScale)
  }

  val trianglesSampledSql: String =
    s"""WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
       |e AS (SELECT DISTINCT a.s AS u, b.s AS v
       |      FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s),
       |d AS (SELECT n, COUNT(*) AS deg
       |      FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
       |se AS (SELECT u, v FROM e WHERE
       |        ('0x' || substr(md5(u::VARCHAR || '_' || v::VARCHAR), 1, 15))::BIGINT
       |          % $SampleMod = 0),
       |sd AS (SELECT n, COUNT(*) AS sdeg
       |      FROM (SELECT u AS n FROM se UNION ALL SELECT v FROM se) GROUP BY 1),
       |o AS (SELECT CASE WHEN du.sdeg < dv.sdeg OR (du.sdeg = dv.sdeg AND se.u < se.v)
       |               THEN se.u ELSE se.v END AS a,
       |             CASE WHEN du.sdeg < dv.sdeg OR (du.sdeg = dv.sdeg AND se.u < se.v)
       |               THEN se.v ELSE se.u END AS b
       |      FROM se JOIN sd du ON du.n = se.u JOIN sd dv ON dv.n = se.v),
       |t AS (SELECT x.a, x.b, y.b AS c
       |      FROM o x JOIN o y ON x.b = y.a
       |      JOIN o z ON z.a = x.a AND z.b = y.b),
       |pn AS (SELECT n, COUNT(*) AS tri FROM (
       |         SELECT a AS n FROM t UNION ALL SELECT b FROM t
       |         UNION ALL SELECT c FROM t) GROUP BY 1)
       |SELECT d.n AS suppkey, d.deg,
       |  COALESCE(pn.tri, 0) AS tri_sampled,
       |  COALESCE(pn.tri, 0) * $SampleScale AS est_triangles
       |FROM d LEFT JOIN pn ON pn.n = d.n""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("rel_pagerank", pagerank, pagerankSql),
    Entry("rel_triangle_count", triangles, trianglesSql),
    Entry("rel_triangle_sample", trianglesSampled, trianglesSampledSql))
}
