package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: synthesize the adversarial 10× measurement corpus from an
  * sf dir (PLANS.md r13/r14 methodology, now IN-REPO so every round's
  * scaling rows use the identical construction):
  *
  *  - `documents`: every doc cloned 10× with distinct doc_ids; clones
  *    carry a 2-token suffix, so the 10 copies are NEAR-dups (no
  *    exact-dup collapse before pairwise work — each original becomes a
  *    clique of 10, ~45 verified pairs per doc, a ~1000× edge blowup
  *    vs the 10× row growth). Skew twist (r14): copies 0-4 of every
  *    doc land in ONE mega-domain, so a single `source` holds half the
  *    corpus.
  *  - `embeddings`: every vector cloned 10× with distinct vec_ids and
  *    the ORIGINAL ids preserved (codebook ids < 64 and query ids
  *    200..204 must exist); clones are exact vector copies, which is
  *    the adversarial case for cell-bucketed ANN — every Voronoi cell
  *    and PQ code bucket gets 10× density, and ADC distance ties are
  *    maximized (tie-break determinism under stress).
  *
  * Measurement artifact ONLY — never a correctness input.
  *
  * Usage: runMain graft.tools.ScaleSynth <srcSfDir> <outDir>
  */
object ScaleSynth {
  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val spark = graft.Tables.session("graft-scalesynth", cpus = 8)
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    docs
      .select(col("*"), explode(expr("sequence(0, 9)")).as("copy"))
      .select(
        (col("doc_id") + col("copy") * nDocs).as("doc_id"),
        // copy 0 keeps the original text; 1..9 append a 2-token suffix
        when(col("copy") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" clonemark "),
            col("copy").cast("string"))).as("text"),
        col("lang"),
        when(col("copy") < 5, lit("megadomain.example"))
          .otherwise(col("source")).as("source"),
        (length(col("text")) + when(col("copy") === 0, 0).otherwise(12))
          .cast("long").as("n_chars"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = emb.count()
    emb
      .select(col("*"), explode(expr("sequence(0, 9)")).as("copy"))
      .select(
        (col("vec_id") + col("copy") * nVec).as("vec_id"),
        col("embedding"), col("label"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events: 10 copies per event with distinct event_ids (r17 — before
    // this the events table passed through unscaled, so the evt_* family
    // had no measured decades). Adversarial twists, mirroring the
    // documents mega-domain: copies 0-4 collapse into a HOT POOL of 997
    // users (half the corpus concentrated at ~1000x the per-user average
    // — the worst realistic case for user-partitioned windows:
    // sessionize, transitions, funnel, retention), copies 5-9 land in
    // fresh per-copy user-id space (the user dimension grows with the
    // corpus, as it would in production). Timestamps shift by copy*13 s
    // — preserves the daily/session structure while manufacturing
    // near-tie orderings inside the hot pool.
    val ev = spark.read.parquet(s"$src/events.parquet")
    val nEv = ev.count()
    val maxUser = ev.agg(max(col("user_id"))).head.getLong(0)
    ev
      .select(col("*"), explode(expr("sequence(0, 9)")).as("copy"))
      .select(
        (col("event_id") + col("copy") * nEv).as("event_id"),
        expr("timestampadd(SECOND, copy * 13, ts)").as("ts"),
        when(col("copy") < 5, lit(1L) + pmod(col("event_id"), lit(997L)))
          .otherwise(col("user_id") + col("copy") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // lineitem + orders: 10 copies with a consistent orderkey stride so
    // the fact-fact join key survives scaling (r17 — before this the
    // relational facts passed through unscaled, so the rel_* family and
    // the co-supply graph had no measured decades). Adversarial twists,
    // mirroring the documents/events treatments: in copies 0-4 every
    // 4th order's lines redirect to HUB supplier 1 — a mega-degree node
    // in the co-supply graph and a skewed fact join key (the
    // rel_skew_profile / salted-join input); copies 5-9 shift suppliers
    // and customers into fresh key space, so both dimensions grow with
    // the corpus. Dimension tables stay unscaled: copies 5-9's keys
    // deliberately dangle on dim joins — this is a measurement corpus,
    // never a correctness input.
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val maxOrder = ord.agg(max(col("o_orderkey"))).head.getLong(0)
    val maxCust = ord.agg(max(col("o_custkey"))).head.getLong(0)
    ord
      .select(col("*"), explode(expr("sequence(0, 9)")).as("copy"))
      .withColumn("o_orderkey", col("o_orderkey") + col("copy") * maxOrder)
      .withColumn("o_custkey",
        when(col("copy") < 5, lit(1L) + pmod(col("o_orderkey"), lit(997L)))
          .otherwise(col("o_custkey") + col("copy") * maxCust))
      .drop("copy")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val maxSupp = li.agg(max(col("l_suppkey"))).head.getLong(0)
    li
      .select(col("*"), explode(expr("sequence(0, 9)")).as("copy"))
      .withColumn("l_orderkey", col("l_orderkey") + col("copy") * maxOrder)
      .withColumn("l_suppkey",
        when(col("copy") < 5,
          when(pmod(col("l_orderkey"), lit(4)) === 0, lit(1L))
            .otherwise(col("l_suppkey")))
          .otherwise(col("l_suppkey") + col("copy") * maxSupp))
      .drop("copy")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // the remaining tables pass through unchanged so any catalog query
    // resolves against the synth dir
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val p = new java.io.File(s"$src/$t.parquet")
      if (p.exists)
        spark.read.parquet(p.toString)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"[scalesynth] wrote 10x corpus to $out (docs ${nDocs}x10, vecs ${nVec}x10, events ${nEv}x10, facts x10)")
    spark.stop()
  }
}
