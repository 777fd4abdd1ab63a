package graft

import org.apache.spark.sql.functions._
import graft.queries.LlmDedup

/** Dedup operator laws: idempotence, duplicate detection, LSH recall vs
  * the exact join (SURVEY §5.2 item 4). */
class DedupSpec extends SparkSpec {

  test("exact dedup groups identical normalized texts") {
    import spark.implicits._
    val df = Seq(
      (1L, "The  Quick brown fox"),
      (2L, "the quick BROWN fox "),   // same after normalize
      (3L, "a different document")).toDF("doc_id", "text")
    df.createOrReplaceTempView("documents_tmp")
    val hash = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    val out = df.select(hash.as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("survivor"), count(lit(1)).as("n"))
      .collect()
    assert(out.length === 2)
    val dupGroup = out.find(_.getAs[Long]("n") == 2L).get
    assert(dupGroup.getAs[Long]("survivor") === 1L)
  }

  test("exact dedup is idempotent on the documents table") {
    val once = LlmDedup.exactDedup(spark, sf0001)
    // Re-deduping the survivors changes nothing: every group has size 1.
    val survivors = once.select(col("text_hash"))
    assert(survivors.distinct().count() === survivors.count())
  }

  test("minhash LSH finds every exact-jaccard pair at j>=0.5 (sf0.001)") {
    val lsh = LlmDedup.minhashNearDup(spark, sf0001)
      .select("x_id", "y_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = LlmDedup.shingleJaccard(spark, sf0001)
      .filter(col("jaccard") >= 0.5)
      .select("x_id", "y_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"LSH missed: ${exact.diff(lsh)}")
    assert(lsh.subsetOf(exact), s"LSH false positives: ${lsh.diff(exact)}")
  }

  test("connected components: chain, clique, and pair cluster to the min id") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3: needs several propagation rounds),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("x_id", "y_id")
    val got = LlmDedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (10L, 10L, true), (11L, 10L, false), (12L, 10L, false),
      (20L, 20L, true), (21L, 20L, false)))
  }

  test("connected components leaves the caller's session conf untouched") {
    import spark.implicits._
    // The AQE-off window runs on a conf-isolated clone; the caller's
    // session must keep AQE enabled throughout and after (two concurrent
    // callers on a shared Serve session must not race a set/restore).
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    val got = LlmDedup.connectedComponents(Seq((2L, 1L)).toDF("x_id", "y_id"))
    assert(got.collect().length === 2)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === before)
    // and the returned frame is bound to the caller's session, so
    // downstream execution uses the caller's conf (AQE back on)
    assert(got.sparkSession eq spark)
  }

  test("a 60-vertex chain converges via pointer doubling") {
    import spark.implicits._
    // Diameter 59: plain 1-hop propagation needs 59 rounds — far past
    // the MaxIters=20 cap — so this converges (in ~log2(59) + constant
    // rounds) only because every round follows a label indirection
    // (pointer doubling, on from round 1 since r13).
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("x_id", "y_id")
    val got = LlmDedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === (1L to 60L).map(i => (i, 1L, i == 1L)).toSet)
  }

  test("driver union-find and distributed loop routes agree on seeded random graphs") {
    import spark.implicits._
    // r19 optimization: below spark.graft.cc.localEdges the fixpoint is
    // a driver union-find over the collected (model-sized) pair list;
    // above it, the pointer-doubling loop. Forcing the ceiling to 0
    // pins the distributed route against the default local route on
    // the same seeded graphs (chains, cliques, forests), so the
    // at-scale fallback keeps coverage now that small graphs take the
    // local route.
    val rnd = new scala.util.Random(7)
    val trials = Seq(
      (1L until 40L).map(i => (i, i + 1)),               // one long chain
      for { a <- 1L to 8L; b <- 1L to 8L if a < b } yield (a, b)) ++ // clique
      (1 to 3).map { _ =>
        val nv = 5 + rnd.nextInt(40)
        Seq.fill(nv + rnd.nextInt(2 * nv))(
          (rnd.nextInt(nv).toLong, rnd.nextInt(nv).toLong))
          .filter { case (a, b) => a != b }.distinct
      }
    trials.zipWithIndex.foreach { case (edges, i) =>
      val df = edges.toDF("x_id", "y_id")
      val local = LlmDedup.connectedComponents(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      spark.conf.set(LlmDedup.CcLocalEdgesConf, "0")
      try {
        val dist = LlmDedup.connectedComponents(df).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
        assert(local === dist, s"trial $i (${edges.size} edges)")
      } finally spark.conf.unset(LlmDedup.CcLocalEdgesConf)
    }
  }

  test("connected components equals union-find on seeded random graphs") {
    import spark.implicits._
    // Property-style cross-check against an independent union-find
    // (always attach the larger root under the smaller, so a tree's
    // root IS its component minimum). Seeded — deterministic, no flake.
    // Sparse trials (ne < nv) are mostly forests with long chains, so
    // the doubling path gets exercised alongside dense cases.
    val rnd = new scala.util.Random(42)
    (1 to 4).foreach { trial =>
      val nv = 5 + rnd.nextInt(40)
      val edges = Seq.fill(nv + rnd.nextInt(2 * nv))(
        (rnd.nextInt(nv).toLong, rnd.nextInt(nv).toLong))
        .filter { case (a, b) => a != b }.distinct
      val got = LlmDedup.connectedComponents(edges.toDF("x_id", "y_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = Array.tabulate(nv)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = verts.map(v => v -> find(v.toInt).toLong).toMap
      assert(got === expect, s"trial $trial (nv=$nv, ${edges.size} edges)")
    }
  }

  test("incremental dedup resolves exact hits by hash and near hits by best jaccard") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = docsDir(Seq(
      // corpus (ids not divisible by 7): an exact clique {1,2} and a bystander
      (1L, base), (2L, base),
      (3L, "unrelated totally different words here now indeed"),
      // NULL text on BOTH sides: a NULL-th corpus rep must not pair with
      // anything, and a NULL-th batch doc must come out clean — this is
      // the divergence class the oracle's former `th NOT IN (SELECT th
      // FROM cr)` collapsed on (NULL in the set -> zero rows)
      (5L, null),
      // batch (ids divisible by 7)
      (7L, base), // exact copy -> hash join, dup_of = clique rep 1
      (14L, base.replace("theta", "iota")), // 5 of 7 shingles shared -> near
      (21L, "completely novel content nothing shared at all"), // clean
      (28L, null)))
    spark.catalog.clearCache()
    val got = queries.LlmDedup.incrementalDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(got === Set(
      (7L, 1L, "exact", 1.0),
      (14L, 1L, "near", 5.0 / 7)))
    // lifecycle: every frame the operator persisted was released (a
    // long-lived Serve session must not accumulate caches per dir)
    assert(org.apache.spark.sql.graft.PlanShim.cacheIsEmpty(spark),
      "incrementalDedup left persisted frames behind")
  }

  /** Write a synthetic documents table (Tables.load layout) to a temp
    * dir; returns the dir. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("substring-dup coverage: overlapping shared 5-gram spans union per doc") {
    val dir = docsDir(Seq(
      1L -> "a b c d e f g h", // shares "a b c d e" (p1) and "b c d e f" (p2)
      2L -> "x y a b c d e z", // shares "a b c d e" at p3
      3L -> "q w e r t", //        its only 5-gram is unique -> no coverage
      4L -> "a b c d e", //        exactly the shared gram -> fully covered
      5L -> "a b c d e f", //      identical pair: both grams dup, spans
      6L -> "a b c d e f")) //     1-5 and 2-6 union to 1-6 -> fully covered
    val rows = graft.queries.LlmDedup.substrDupCoverage(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("n_dup_pos"),
          r.getAs[Double]("dup_frac")))).toMap
    assert(rows(1L) === ((8L, 6L, 6.0 / 8))) // union of 1-5 and 2-6
    assert(rows(2L) === ((8L, 5L, 5.0 / 8)))
    assert(rows(3L) === ((5L, 0L, 0.0)))
    assert(rows(4L) === ((5L, 5L, 1.0)))
    assert(rows(5L) === ((6L, 6L, 1.0)))
    assert(rows(6L) === ((6L, 6L, 1.0)))
  }

  test("a 1k-copy duplicate clique collapses before the band join") {
    // The scale regression guarded here: a same-text clique of size k
    // used to reach the LSH band join as O(k²) candidate pairs (and the
    // verification join forced a broadcast of them). With the
    // representative collapse, the clique contributes ONE vertex to the
    // pairwise ops and k-1 star edges to the clusters.
    val clique = (1L to 1000L).map(i => i -> "the quick brown fox jumps over the lazy dog again and again")
    val near = Seq(
      2001L -> "alpha beta gamma delta epsilon zeta eta theta",
      2002L -> "alpha beta gamma delta epsilon zeta eta iota") // j = 5/7
    val lone = Seq(3001L -> "completely different content about catalyst execution engines")
    val dir = docsDir(clique ++ near ++ lone)

    val pairs = queries.LlmDedup.minhashNearDup(spark, dir)
      .select("x_id", "y_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((2001L, 2002L)), "only the cross-text near-dup pair; no intra-clique pairs")

    val clusters = queries.LlmDedup.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters.size === 1002) // 1000 clique members + the near-dup pair
    (1L to 1000L).foreach(i => assert(clusters(i) === ((1L, i == 1L))))
    assert(clusters(2001L) === ((2001L, true)) && clusters(2002L) === ((2001L, false)))
    assert(!clusters.contains(3001L)) // no duplicate of any kind
  }

  test("document-frequency cap drops boilerplate shingles from the index") {
    // 300 distinct docs whose ONLY shared shingle is common boilerplate
    // (df=300 > cap=256): without the cap this is 300²/2 join rows under
    // one key; with it, no pair survives. A 20-doc control (df=20, under
    // the cap) proves the same shape still pairs.
    def corpus(n: Int) = (1 to n).map(i => i.toLong -> s"common shared phrase u$i")
    val capped = queries.LlmDedup.shingleJaccard(spark, docsDir(corpus(300)))
    assert(capped.count() === 0L)
    val control = queries.LlmDedup.shingleJaccard(spark, docsDir(corpus(20)))
    assert(control.count() === 20L * 19L / 2L) // j = 1/3 >= 0.05 for every pair
  }

  test("simhash: identical docs get identical fingerprints") {
    val fp = LlmDedup.simhash(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fingerprint is a pure function of text: deterministic across runs
    val fp2 = LlmDedup.simhash(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp === fp2)
    assert(fp.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("BloomBits: no false negatives, OR-merge, idempotent insert") {
    import graft.functions.BloomBits
    def halves(s: String): (Long, Long) = {
      // any 64-bit spread works for the law tests; the production path
      // derives (a, b) from xxhash64 — here a simple string hash pair
      val h = s.hashCode.toLong & 0xFFFFFFFFL
      val g = s.reverse.hashCode.toLong & 0xFFFFFFFFL
      (h, g)
    }
    def probe(buf: Array[Long], key: (Long, Long)): Boolean =
      (0 until BloomBits.K).forall { i =>
        val idx = ((key._1 + i.toLong * key._2) % BloomBits.Bits).toInt
        (buf(idx >>> 6) & (1L << (idx & 63))) != 0L
      }
    val keys = (1 to 5000).map(i => halves(s"key-number-$i"))
    val filt = keys.foldLeft(BloomBits.zero)(BloomBits.reduce)
    // law 1: every inserted key probes positive (the direction a dedup
    // prefilter must never get wrong)
    assert(keys.forall(probe(filt, _)))
    // law 2: fp rate on disjoint keys is tiny at this load factor
    val absent = (1 to 5000).map(i => halves(s"other-thing-$i")).filterNot(keys.toSet)
    val fp = absent.count(probe(filt, _))
    assert(fp < 50, s"false-positive count $fp out of ${absent.size}")
    // law 3: merge = elementwise OR; re-inserting is a no-op
    val (l, r) = keys.splitAt(2500)
    val merged = BloomBits.merge(
      l.foldLeft(BloomBits.zero)(BloomBits.reduce),
      r.foldLeft(BloomBits.zero)(BloomBits.reduce))
    assert(merged.toSeq === filt.toSeq)
    val again = keys.foldLeft(merged.clone())(BloomBits.reduce)
    assert(again.toSeq === merged.toSeq)
  }

  test("bloom dedup: exact batch-vs-corpus span membership per batch doc") {
    // batch = doc_id % 7 == 0; corpus = the rest
    val dir = docsDir(Seq(
      1L -> "a b c d e f g h", //  corpus grams incl "a b c d e", "b c d e f"
      2L -> "m n o p q r", //       corpus-only spans
      7L -> "z z a b c d e f q", // batch: 5 grams, 2 seen -> 0.4
      14L -> "totally unique words here now", // batch: 1 gram, unseen
      21L -> "too short", //        batch: <5 tokens -> 0 grams
      28L -> "a b c d e a b c d e")) // batch: dup grams count once
    val rows = SparkEntry.queries("llm_bloom_dedup")(spark, dir).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_seen"),
          r.getAs[Double]("seen_frac")))).toMap
    assert(rows.keySet === Set(7L, 14L, 21L, 28L))
    assert(rows(7L) === ((5L, 2L, 0.4)))
    assert(rows(14L) === ((1L, 0L, 0.0)))
    assert(rows(21L) === ((0L, 0L, 0.0)))
    // "a b c d e a b c d e": 6 positions but 5 DISTINCT grams; only
    // "a b c d e" (position 1 and 6) is in the corpus
    assert(rows(28L) === ((5L, 1L, 0.2)))
  }
}
