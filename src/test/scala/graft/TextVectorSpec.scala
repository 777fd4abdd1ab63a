package graft

import org.apache.spark.sql.functions._
import graft.queries.{TextAnalysis, VectorSearch}

/** Semantic checks for the text and vector operators that the
  * engine-agreement oracle can't see (an identical bug in both engines
  * would still hash-match). */
class TextVectorSpec extends SparkSpec {

  test("search scores are bounded by query token count and ranks are dense") {
    val rows = TextAnalysis.searchTopk(spark, sf0001).collect()
    assert(rows.forall(r => r.getAs[Long]("score") >= 1 && r.getAs[Long]("score") <= 3))
    val ranks = rows.map(_.getAs[Long]("rank")).sorted
    assert(ranks.toSeq === (9L to (8L + rows.length)).toSeq)
  }

  test("best-fields BM25: ranks dense, scores descend, dominates single-field") {
    val ff = TextAnalysis.searchBm25Fields(spark, sf0001).collect()
    assert(ff.nonEmpty)
    val ranks = ff.map(_.getAs[Long]("rank")).sorted
    assert(ranks.toSeq === (1L to ff.length).toSeq)
    val byRank = ff.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("score"))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    // One of the fields IS the full text with identical corpus stats, so
    // the max-over-fields score can never fall below the single-field
    // score for the same document (round-6 on both sides → 1e-6 slack).
    // The two TOP-10s can be disjoint (title hits legitimately displace
    // body-ranked docs), so compare against the full fields ranking.
    val single = TextAnalysis.searchBm25(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val fieldsAll = TextAnalysis
      .bm25Search(spark, sf0001, Seq("spark", "join", "src3"), page = 1, pageSize = 100000)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(single.nonEmpty)
    single.foreach { case (id, s) =>
      assert(fieldsAll.contains(id), s"doc $id lost by best-fields scoring")
      assert(fieldsAll(id) >= s - 1e-6,
        s"doc $id: best-fields ${fieldsAll(id)} < single-field $s")
    }
  }

  test("all-field lenient match: a source-only hit ranks without any text match") {
    // The field-less multi_match contract: a term that IS a source key
    // must rank that source's docs even when their text never mentions
    // it (and the lenient n_chars field must at minimum never error).
    val hits = TextAnalysis
      .bm25Search(spark, sf0001, Seq("src3"), page = 1, pageSize = 100000)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits.nonEmpty)
    val docs = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"),
        array_contains(split(lower(col("text")), "\\s+"), "src3").as("in_text"))
      .collect()
    val sourceOnly = docs.filter(r =>
      r.getAs[String]("source") == "src3" && !r.getAs[Boolean]("in_text"))
    assert(sourceOnly.nonEmpty, "fixture has no source-only src3 docs — invariant vacuous")
    sourceOnly.foreach(r => assert(hits.contains(r.getAs[Long]("doc_id")),
      s"doc ${r.getAs[Long]("doc_id")} (source=src3, no text match) missing from all-field ranking"))
  }

  test("quality buckets partition all documents") {
    val n = TextAnalysis.quality(spark, sf0001)
      .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    val total = Tables.load(spark, sf0001, "documents").count()
    assert(n === total)
  }

  test("lang-id confusion matrix covers every document") {
    val n = TextAnalysis.langId(spark, sf0001)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(n === Tables.load(spark, sf0001, "documents").count())
  }

  test("perplexity filter: eval split only, bigram counts exact, scores finite, gate non-vacuous") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.perplexityFilter(spark, sf0001).collect()
    val docs = Tables.load(spark, sf0001, "documents")
    // scores exactly the held-out split (docs with >= 1 bigram)
    val evalIds = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(rows.nonEmpty && rows.map(_.getAs[Long]("doc_id")).toSet.subsetOf(evalIds))
    // n_bigrams = token count - 1 for these fixtures (all multi-token)
    val expected = docs.select(col("doc_id"),
      (size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")) - 1)
        .cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") === expected(r.getAs[Long]("doc_id")))
      // -ln of a probability in (0,1]: positive and finite (the add-one
      // unigram back-off guarantees p > 0 even for unseen tokens)
      val nll = r.getAs[Double]("avg_nll")
      assert(nll > 0.0 && !nll.isInfinite && !nll.isNaN)
      assert(r.getAs[Boolean]("flagged") === (nll > 3.42))
    }
    // the gate must split the fixture — a one-sided gate verifies nothing
    assert(rows.exists(_.getAs[Boolean]("flagged")))
    assert(rows.exists(!_.getAs[Boolean]("flagged")))
  }

  test("unigram-LM scores: every doc covered, token totals exact, hand-check") {
    val rows = TextAnalysis.unigramLm(spark, sf0001).collect()
    val docs = Tables.load(spark, sf0001, "documents")
    assert(rows.length === docs.count())
    // n_toks per doc must equal the whitespace token count exactly.
    import org.apache.spark.sql.functions._
    val expected = docs.select(col("doc_id"),
      size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
        .cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_toks") === expected(r.getAs[Long]("doc_id")))
      // avg log-prob under the corpus's own unigram LM is strictly
      // negative (no word is the whole corpus) and ≥ ln(1/T).
      val lp = r.getAs[Double]("avg_lp")
      assert(lp < 0.0)
    }
    // Hand-check one doc end-to-end against a driver-side recompute.
    val toks = docs.select(col("doc_id"),
      split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val counts = toks.flatMap(_._2).groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val total = counts.values.sum.toDouble
    val (docId, t) = toks.head
    val exp = t.map(w => math.log(counts(w) / total)).sum / t.length
    val got = rows.find(_.getAs[Long]("doc_id") == docId).get.getAs[Double]("avg_lp")
    assert(math.abs(got - BigDecimal(exp).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6)
  }

  test("brute-force top-k: scores descend, no self-match, k respected") {
    val rows = VectorSearch.bruteTopk(spark, sf0001).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      assert(rs.length === 10)
      assert(rs.forall(_.getAs[Long]("neighbor_id") != q))
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("score"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"scores not descending for q=$q: ${byRank.mkString(",")}")
      assert(rs.forall(r => math.abs(r.getAs[Double]("score")) <= 1.0 + 1e-9))
    }
  }

  test("the documents corpus dictionary's text slice is the vocabOf fold") {
    // /suggest and /search?fuzzy=1 read this slice, held on the driver,
    // as their (w, df) vocabulary: with doc_id unique, counting each
    // document's distinct tokens per term is vocabOf's grouped
    // (doc_id, w) distinct.
    val docs = Tables.load(spark, sf0001, "documents")
    assert(docs.select("doc_id").distinct().count() === docs.count())
    val fold = graft.queries.TextIndex.vocabOf(docs, "text", "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.collect().map(r => r.getAs[String]("w") -> r.getAs[Long]("df")).toSet
    def columns(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val cached = TextAnalysis.documentsCorpus(spark, sf0001, cache = true)
    try {
      val slice = cached.vocabulary("text").toDF(spark)
      assert(rows(fold).nonEmpty && rows(slice) === rows(fold))
      assert(columns(slice) === columns(fold))
    } finally cached.rows.unpersist()
  }

  test("bm25Search pagination: two size-5 pages equal one size-10 page") {
    val terms = Seq("spark", "join", "src3")
    def page(p: Int, n: Int): Seq[(Long, Long)] =
      TextAnalysis.bm25Search(spark, sf0001, terms, p, n).collect()
        .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("doc_id"))
        .sortBy(_._1).toSeq
    val paged = page(1, 5) ++ page(2, 5)
    assert(paged === page(1, 10) && paged.size === 10)
  }

  test("keyword extraction: dense ranks, descending scores, terms from the doc itself") {
    val rows = TextAnalysis.keywordTopk(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rs) =>
      val ranked = rs.sortBy(_.getAs[Long]("rank"))
      assert(ranked.map(_.getAs[Long]("rank")).toSeq === (1L to rs.length),
        s"doc $id ranks not dense")
      val scores = ranked.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $id scores not descending")
    }
    // every keyword is a token of its own document (TF > 0 by construction)
    val docToks = Tables.load(spark, sf0001, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.trim.split("\\s+").toSet).toMap
    rows.foreach(r => assert(
      docToks(r.getAs[Long]("doc_id")).contains(r.getAs[String]("term")),
      s"doc ${r.getAs[Long]("doc_id")} keyword '${r.getAs[String]("term")}' not in doc"))
  }

  test("CMS heavy hitters: estimates are never below exact counts (overcount-only)") {
    // The sketch's one-sided error guarantee: collisions can only ADD,
    // so est(term) >= true count for every reported term. The oracle
    // proves cross-engine equality of the estimates; this pins the
    // sketch's semantic contract against ground truth.
    import org.apache.spark.sql.functions._
    val est = TextAnalysis.heavyHitters(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est")).toMap
    assert(est.nonEmpty)
    val exact = Tables.load(spark, sf0001, "documents")
      .select(explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
        .as("term"))
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    est.foreach { case (t, e) =>
      assert(e >= exact(t), s"term '$t': sketch $e < exact ${exact(t)}")
    }
    // and at least one true heavy hitter is genuinely present
    val total = exact.values.sum
    assert(exact.filter(_._2 >= total / 100).keySet.subsetOf(est.keySet),
      "a true >=1% term is missing from the sketch-reported superset")
  }

  test("semDedup covers every vector and never drops a cell's minimum id") {
    val rows = VectorSearch.semDedup(spark, sf0001).collect()
    assert(rows.length === Tables.load(spark, sf0001, "embeddings").count())
    // The drop rule is dominated-by-LOWER-id: a cell's minimum id has no
    // lower-id member to dominate it, so it must always survive — the
    // canonical-representative guarantee SemDeDup's greedy rule provides.
    rows.groupBy(_.getAs[Long]("cid")).foreach { case (cid, rs) =>
      val minId = rs.map(_.getAs[Long]("vec_id")).min
      val minRow = rs.find(_.getAs[Long]("vec_id") == minId).get
      assert(!minRow.getAs[Boolean]("dropped"),
        s"cell $cid dropped its canonical (min-id) member $minId")
    }
  }

  test("semDedupKmeans: zero Lloyd iterations at k=16 equals the oracle-checked semDedup") {
    // lloydIters=0 freezes the seeds (the 16 lowest ids) — exactly the
    // fixed-centroid model llm_semdedup pins against DuckDB, so the two
    // must agree row-for-row; any divergence is a bug in the shared
    // assign/drop plumbing, not a modeling difference.
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"), r.getAs[Boolean]("dropped"))
    val fixed = VectorSearch.semDedup(spark, sf0001).collect().map(key).sorted
    val kmeans0 = VectorSearch.semDedupKmeans(spark, sf0001, k = 16, lloydIters = 0)
      .collect().map(key).sorted
    assert(kmeans0 === fixed && fixed.nonEmpty)
  }

  test("semDedupKmeans: learned centroids keep full coverage, canonical survival, determinism") {
    val n = Tables.load(spark, sf0001, "embeddings").count()
    def run() = VectorSearch.semDedupKmeans(spark, sf0001, lloydIters = 2).collect()
    val rows = run()
    // every vector assigned exactly once, whatever the learned cells are
    assert(rows.length === n)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length === n)
    // k defaulted to ⌈√N⌉: cells can only shrink from there
    assert(rows.map(_.getAs[Long]("cid")).distinct.length
      <= math.ceil(math.sqrt(n.toDouble)).toInt)
    // the keep-rule invariant holds per learned cell
    rows.groupBy(_.getAs[Long]("cid")).foreach { case (cid, rs) =>
      val minId = rs.map(_.getAs[Long]("vec_id")).min
      assert(!rs.find(_.getAs[Long]("vec_id") == minId).get.getAs[Boolean]("dropped"),
        s"cell $cid dropped its canonical (min-id) member")
    }
    // DECIMAL-folded means + deterministic seeds/tiebreaks ⇒ two runs
    // give bit-identical clusters (the reproducibility contract)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"), r.getAs[Boolean]("dropped"))
    assert(run().map(key).sorted === rows.map(key).sorted)
  }

  test("LSH ANN results are a subset of brute-force candidates (same bucket)") {
    val ann = VectorSearch.lshBucketTopk(spark, sf0001).collect()
    // every ANN neighbor's cosine score must equal the brute-force cosine
    // for the same pair — the bucketing restricts candidates, never
    // changes the metric.
    assert(ann.forall(r => math.abs(r.getAs[Double]("score")) <= 1.0 + 1e-9))
    val ranks = ann.groupBy(_.getAs[Long]("q_id")).values
    assert(ranks.forall(rs => rs.map(_.getAs[Long]("rank")).sorted.toSeq ==
      (1L to rs.length).toSeq))
  }

  test("newsSearchHits ranks the crawled-news schema with payload pass-through") {
    import spark.implicits._
    def src(crawler: String) = struct(
      lit(crawler).as("crawler"), lit("news.example").as("website"),
      lit("a").as("author"), lit("https://news.example").as("url"),
      struct(lit(null).cast("string").as("id")).as("tweet"))
    val news = Seq(
      ("Corona surge in city", "daily report", "https://n/1"),
      ("daily report", "corona numbers drop again", "https://n/2"),
      ("sports roundup", "football results", "https://n/3"))
      .toDF("title", "desc", "link")
      .withColumn("lang", lit("en"))
      .withColumn("img", lit(""))
      .withColumn("date", lit("2021-03-01 10:00:00").cast("timestamp"))
      .withColumn("source", src("googlenews"))
    val hits = TextAnalysis.newsSearchHits(news, Seq("corona"), 1, 10).collect()
    // both corona docs rank (title match via the lowercasing tokenizer,
    // desc match via the desc field); sports doc absent
    assert(hits.map(_.getAs[String]("link")).toSet ===
      Set("https://n/1", "https://n/2"))
    assert(hits.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L))
    assert(hits.forall(_.getAs[Double]("score") > 0))
    // payload the reference UI renders: snippet, date, provenance
    val top = hits.head
    assert(top.getAs[String]("date") === "2021-03-01")
    assert(top.getAs[String]("crawler") === "googlenews")
    assert(top.getAs[String]("snippet").nonEmpty)
    // single-field query hits exactly its doc
    val fb = TextAnalysis.newsSearchHits(news, Seq("football"), 1, 10).collect()
    assert(fb.map(_.getAs[String]("link")).toSeq === Seq("https://n/3"))
    // a link with two crawl snapshots (distinct dates survive the
    // (link,date) store dedup) yields ONE hit, newest snapshot's payload
    val resnap = news.unionByName(news
      .where($"link" === "https://n/1")
      .withColumn("date", lit("2021-03-05 09:00:00").cast("timestamp"))
      .withColumn("desc", lit("updated corona coverage")))
    val re = TextAnalysis.newsSearchHits(resnap, Seq("corona"), 1, 10).collect()
    assert(re.count(_.getAs[String]("link") == "https://n/1") === 1)
    val hit1 = re.find(_.getAs[String]("link") == "https://n/1").get
    assert(hit1.getAs[String]("date") === "2021-03-05")
    assert(re.map(_.getAs[Long]("rank")).toSeq.sorted ===
      (1L to re.length.toLong).toSeq)
  }

  test("int8 quantize: error bounded by scale/2, cosine preserved, full coverage") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val n = emb.count()
    val rows = VectorSearch.embedQuantize(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === n)
    assert(rows.map(_.getAs[Long]("label")).distinct.length === rows.length)
    // Mathematical bound, not a fixture constant: per construction
    // |v_i - q_i*scale| <= scale/2 with scale = max|v|/127, so every
    // per-vector max_err (and hence every per-label average of them) is
    // bounded by the corpus-worst scale/2 = worstAbs/254.
    val worstAbs = emb
      .select(max(expr("array_max(transform(embedding, x -> abs(cast(x as double))))")))
      .head.getDouble(0)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_cos") >= 0.999,
        s"label ${r.getAs[Long]("label")}: int8 broke cosine ${r.getAs[Double]("avg_cos")}")
      assert(r.getAs[Double]("avg_max_err") <= worstAbs / 254.0 + 1e-6,
        s"label ${r.getAs[Long]("label")}: max_err above the scale/2 bound")
      assert(r.getAs[Double]("avg_mse") >= 0.0)
    }
  }

  test("gopher rules: each planted defect trips exactly its own rule") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val stops = "the a of to and" // 5 stop words, 11 chars
    def w4(n: Int, p: String) = (1 to n).map(i => f"$p$i%03d").mkString(" ")
    val docs = Seq(
      // passes every rule: wc=35, mean len 131/35≈3.74, 5 stops, ttr=1
      ("clean", s"$stops ${w4(30, "c")}"),
      // wc=15 < 25 — all other rules still pass
      ("wc", s"$stops ${w4(10, "w")}"),
      // 30 distinct 2-char words: mean (60+11)/35≈2.03 < 3
      ("ml", s"$stops ${(1 to 30).map(i => ('a' + i / 26).toChar.toString + ('a' + i % 26).toChar).mkString(" ")}"),
      // 35 4-char words, zero stop words
      ("st", w4(35, "s")),
      // 30 copies of one word: ttr 6/35≈0.17 < 0.5
      ("tt", s"$stops ${Seq.fill(30)("word").mkString(" ")}"),
      // 5 of 35 words carry '#': symbol ratio 0.14 > 0.1
      ("sy", s"$stops ${w4(25, "p")} ${(1 to 5).map(i => s"x#$i").mkString(" ")}"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.zipWithIndex.map { case ((_, t), i) =>
        Row(i.toLong, t, "en", "plant", t.length.toLong)
      }, 1), schema)
    val dir = Fixtures.scratchDir("gopher")
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.gopherRules(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("source") === "plant")
    assert(r.getAs[Long]("n_docs") === 6L)
    Seq("fail_wordcount", "fail_meanlen", "fail_stopwords", "fail_ttr",
      "fail_symbols").foreach { c =>
      assert(r.getAs[Long](c) === 1L, s"$c: expected exactly the planted doc")
    }
    assert(r.getAs[Long]("pass_all") === 1L)
  }
}
