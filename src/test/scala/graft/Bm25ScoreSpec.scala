package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Bm25Score
import graft.plans.PlanWalk
import graft.queries.TextAnalysis

/** Laws for the native bm25_score expression: it equals the composed
  * higher-order-function BM25 it replaced, row for row and rank for
  * rank, on both the codegen and the interpreted path. The composed
  * form lives only here, as the independent reference: its own
  * tokenizer, its own flat statistics row, and the old ranking order
  * (`score > 0` first, then the rank) done in plain Scala. */
class Bm25ScoreSpec extends SparkSpec {

  // ------------------------------------------------ the reference form

  /** One field's BM25 exactly as the pre-kernel ranker composed it: a
    * `size(filter(…))` tf per term, summed left to right. */
  private def composed(tc: Column, n: Column, avgdl: Column,
      dfs: Seq[Column], terms: Seq[String]): Column = {
    val dlD = size(tc).cast("double")
    terms.zip(dfs).map { case (term, df) =>
      val tf = size(filter(tc, w => w === term)).cast("double")
      val idf = log(lit(1.0) + (n - df + 0.5) / (df + 0.5))
      val tfc = (tf * 2.2) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dlD / avgdl))
      idf * tfc
    }.reduce(_ + _)
  }

  /** One document's reference values: each field's composed score over
    * independently folded flat stats, each field's kernel score over
    * the production stats (a corpus's literal stats), and the
    * composed document score rounded as the ranker rounds it. */
  private case class Ref[K](key: K, composed: Seq[Option[Double]],
      kernel: Seq[Option[Double]], score: Option[Double])

  /** [[Ref]] for every row of `prepared`, in ONE pass: the flat stats
    * (the pre-kernel layout) fold into a broadcast row, and `stats` are
    * the production per-field stats, in `fields` order. */
  private def refRows[K](prepared: DataFrame, fields: Seq[(String, Column)],
      key: String, terms: Seq[String], stats: Seq[Column]): Seq[Ref[K]] = {
    val flat = count(lit(1)).cast("double").as("n") +: fields.flatMap { case (f, tc) =>
      (sum(size(tc).cast("long")).cast("double") / count(lit(1))).as(s"avgdl_$f") +:
        terms.indices.map(i =>
          sum(array_contains(tc, terms(i)).cast("long")).cast("double").as(s"df_${f}_$i"))
    }
    def st(name: String) = col("st").getField(name)
    val comp = fields.map { case (f, tc) =>
      composed(tc, st("n"), st(s"avgdl_$f"), terms.indices.map(i => st(s"df_${f}_$i")), terms)
    }
    val kern = fields.zip(stats).map { case ((_, tc), s) => Bm25Score.score(tc, s, terms) }
    val best = if (comp.size == 1) comp.head else greatest(comp: _*)
    val nf = fields.size
    prepared.join(broadcast(prepared.select(struct(flat: _*).as("st"))))
      .select(col(key) +: round(best, 6) +: (comp ++ kern): _*)
      .collect().toSeq.map { r =>
        def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
        Ref(r.getAs[K](0), (0 until nf).map(i => d(2 + i)),
          (0 until nf).map(i => d(2 + nf + i)), d(1))
      }
  }

  /** The pre-kernel ranking: `score > 0` first, then rank by (score
    * desc, key asc), then the page. */
  private def refPage[K: Ordering](rows: Seq[Ref[K]], page: Int,
      pageSize: Int): Set[(K, Double, Long)] =
    rows.collect { case Ref(k, _, _, Some(s)) if s > 0 => (k, s) }
      .sortBy { case (k, s) => (-s, k) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, implicitly[Ordering[K]]))
      .zipWithIndex.map { case ((k, s), i) => (k, s, i + 1L) }
      .slice((page - 1) * pageSize, page * pageSize).toSet

  private def toks(c: Column): Column = split(regexp_replace(lower(trim(c)), "\\s+", " "), " ")

  // -------------------------------------------------------- the corpora

  /** sf0.001 `documents` plus one null-text row, written where
    * [[TextAnalysis.bm25Search]] loads it. */
  private lazy val docsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("bm25_docs").toString
    val docs = Tables.load(spark, sf0001, "documents")
    docs.unionByName(spark.range(1).select(lit(999999L).as("doc_id"),
        lit(null).cast("string").as("text"), lit("en").as("lang"),
        lit("src3").as("source"), lit(0L).as("n_chars")))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** [[TextAnalysis.bm25Search]]'s five fields, spelled independently. */
  private def docFields: Seq[(String, Column)] = Seq(
    "text" -> col("t"), "title" -> col("ttl"), "lang" -> array(col("lang")),
    "source" -> col("src_t"), "n_chars" -> array(col("n_chars").cast("string")))

  private def docsPrepared: DataFrame = Tables.load(spark, docsDir, "documents")
    .withColumn("t", toks(col("text")))
    .withColumn("ttl", slice(col("t"), 1, 8))
    .withColumn("src_t", toks(col("source")))

  /** The `TextVectorSpec` news frame, plus a null-title row and a
    * second snapshot of one link. */
  private lazy val news: DataFrame = {
    import spark.implicits._
    val src = struct(lit("googlenews").as("crawler"), lit("news.example").as("website"),
      lit("a").as("author"), lit("https://news.example").as("url"),
      struct(lit(null).cast("string").as("id")).as("tweet"))
    Seq(
      (Option("Corona surge in city"), "daily report", "https://n/1", "2021-03-01 10:00:00"),
      (Option("daily report"), "corona numbers drop again", "https://n/2", "2021-03-01 10:00:00"),
      (Option("sports roundup"), "football results", "https://n/3", "2021-03-01 10:00:00"),
      (Option.empty[String], "corona city report", "https://n/4", "2021-03-01 10:00:00"),
      (Option("daily report"), "updated corona coverage", "https://n/1", "2021-03-05 09:00:00"))
      .toDF("title", "desc", "link", "date")
      .withColumn("lang", lit("en"))
      .withColumn("img", lit(""))
      .withColumn("date", col("date").cast("timestamp"))
      .withColumn("source", src)
  }

  /** [[TextAnalysis.newsSearchHits]]'s four fields over the newest
    * snapshot per link, spelled independently. */
  private def newsFields: Seq[(String, Column)] = Seq(
    "title" -> col("ttl_t"), "desc" -> col("desc_t"),
    "lang" -> array(col("lang")), "site" -> col("site_t"))

  private def newsPrepared: DataFrame = news
    .withColumn("_rn", row_number().over(
      Window.partitionBy(col("link")).orderBy(col("date").desc_nulls_last)))
    .filter(col("_rn") === 1).drop("_rn")
    .withColumn("ttl_t", toks(col("title")))
    .withColumn("desc_t", toks(coalesce(col("desc"), lit(""))))
    .withColumn("site_t", toks(coalesce(col("source.website"), lit(""))))

  // ---------------------------------------------------------- the draws

  private val Absent = "zzabsent"

  /** Seeded (terms, page, size) draws: 1–4 terms from the corpus
    * vocabulary, its field values and an absent token, with a repeated
    * term one time in four. */
  private def draws(seed: Long, n: Int, vocab: IndexedSeq[String],
      specials: IndexedSeq[String]): Seq[(Seq[String], Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val base = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(10) match {
        case 0 | 1 | 2 => specials(rnd.nextInt(specials.size))
        case 3 => Absent
        case _ => vocab(rnd.nextInt(vocab.size))
      })
      val terms = if (rnd.nextInt(4) == 0) base :+ base(rnd.nextInt(base.size)) else base
      (terms, 1 + rnd.nextInt(3), 1 + rnd.nextInt(10))
    }
  }

  private lazy val docVocab: IndexedSeq[String] = docsPrepared
    .select(explode(col("t"))).distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
  private lazy val langs = docsPrepared.select("lang").distinct().collect()
    .map(_.getString(0)).sorted.toIndexedSeq
  private lazy val sources = docsPrepared.select("source").distinct().collect()
    .map(_.getString(0)).sorted.toIndexedSeq
  private lazy val nChars = docsPrepared.select(col("n_chars").cast("string")).distinct()
    .collect().map(_.getString(0)).sorted.take(20).toIndexedSeq

  private lazy val docDraws = draws(7L, 75, docVocab, langs ++ sources ++ nChars)
  private lazy val newsDraws = draws(11L, 25,
    IndexedSeq("corona", "surge", "in", "city", "daily", "report", "numbers", "drop",
      "again", "sports", "roundup", "football", "results", "updated", "coverage"),
    IndexedSeq("en", "news.example"))

  private def onPath(interpreted: Boolean)(body: => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    if (!interpreted) body
    else {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  /** Per draw: every production page in `got` equals the reference
    * page, and every (row, field) kernel score over `corpus`'s stats
    * equals the composed one (null matching null). Returns the kernel's
    * non-null and null counts and, per page, whether it ran whole-stage
    * codegen. */
  private def checkDraw[K: Ordering](label: String, got: Seq[DataFrame],
      corpus: TextAnalysis.SearchCorpus, prepared: DataFrame, fields: Seq[(String, Column)],
      key: String, terms: Seq[String], page: Int, pageSize: Int): (Int, Int, Seq[Boolean]) = {
    val ref = refRows[K](prepared, fields, key, terms, corpus.stats(terms))
    val codegen = got.map { g =>
      val ranked = g.select(key, "score", "rank")
      val rows = ranked.collect()
        .map(r => (r.getAs[K](0), r.getDouble(1), r.getLong(2))).toSet
      assert(rows === refPage(ref, page, pageSize), s"$label $terms page $page size $pageSize")
      PlanWalk.nodes(ranked.queryExecution.executedPlan)
        .exists(_.isInstanceOf[WholeStageCodegenExec])
    }
    val bad = ref.filter(r => r.kernel != r.composed)
    assert(bad.isEmpty, s"$label $terms: ${bad.size} rows differ, e.g. ${bad.headOption}")
    val kernel = ref.flatMap(_.kernel)
    (kernel.count(_.isDefined), kernel.count(_.isEmpty), codegen)
  }

  private def checkDraws(interpreted: Boolean): Unit = onPath(interpreted) {
    // the per-call corpus (read from parquet) and the cached one Serve
    // builds once must both rank as the reference does
    val cached = TextAnalysis.documentsCorpus(spark, docsDir, cache = true)
    val counts = try docDraws.map { case (terms, page, size) =>
      checkDraw[Long]("documents", Seq(
          TextAnalysis.bm25Search(spark, docsDir, terms, page, size),
          TextAnalysis.bm25Search(cached, terms, page, size)),
        cached, docsPrepared, docFields, "doc_id", terms, page, size)
    } finally cached.rows.unpersist()
    // the null-text row scores null on text and title in every draw
    assert(counts.map(_._1).sum > 0 && counts.forall(_._2 >= 2))
    val newsCodegen = newsDraws.flatMap { case (terms, page, size) =>
      checkDraw[String]("news", Seq(TextAnalysis.newsSearchHits(news, terms, page, size)),
        TextAnalysis.newsCorpus(news), newsPrepared, newsFields, "link", terms, page, size)._3
    }
    // the conf really selects the path (an empty news page may plan to
    // a bare LocalTableScan, which has no codegen either way)
    if (interpreted) assert(!(counts.flatMap(_._3) ++ newsCodegen).exists(identity))
    else assert(counts.forall(_._3.forall(identity)) && newsCodegen.exists(identity))
  }

  test("draws cover duplicate, absent and field-value terms and the null-text row") {
    val all = docDraws.map(_._1)
    assert(all.exists(t => t.distinct.size < t.size), "no duplicate-term draw")
    assert(all.exists(_.contains(Absent)), "no absent-term draw")
    assert(all.exists(_.exists(langs.contains)), "no lang-token draw")
    assert(all.exists(_.exists(sources.contains)), "no source-token draw")
    assert(all.exists(_.exists(nChars.contains)), "no n_chars-token draw")
    assert(newsDraws.map(_._1).exists(t => t.distinct.size < t.size))
    assert(Tables.load(spark, docsDir, "documents").filter(col("text").isNull).count() === 1L)
    assert(docDraws.size + newsDraws.size >= 100)
  }

  test("ranked rows and raw field scores equal the composed form (codegen path)") {
    checkDraws(interpreted = false)
  }

  test("ranked rows and raw field scores equal the composed form (interpreted path)") {
    checkDraws(interpreted = true)
  }

  test("pinned values: hand-computed score, duplicate terms, nulls, zero avgdl") {
    import spark.implicits._
    def stat(n: Option[Double], avgdl: Option[Double], df: Option[Seq[Option[Double]]]) =
      Seq((n, avgdl, df)).toDF("n", "avgdl", "df")
        .select(struct(col("n"), col("avgdl"), col("df")).as("s"))
    val frame = Seq(Some(Seq("a", "b", "a")), None).toDF("t")
    def kernel(s: DataFrame, terms: Seq[String]): Seq[Option[Double]] =
      frame.crossJoin(s).select(Bm25Score.score(col("t"), col("s"), terms))
        .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Double])).toSeq
    def reference(s: DataFrame, terms: Seq[String]): Seq[Option[Double]] =
      frame.crossJoin(s).select(composed(col("t"), col("s.n"), col("s.avgdl"),
          terms.indices.map(i => col("s.df").getItem(i)), terms))
        .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Double])).toSeq
    Seq(false, true).foreach { interpreted => onPath(interpreted) {
      val one = stat(Some(2.0), Some(2.0), Some(Seq(Some(1.0))))
      // tf 2, dl 3: ln(2) · 4.4 / (2 + 1.2 · (0.25 + 0.75 · 3 / 2)); null tokens → null
      val want = StrictMath.log(1.0 + 1.5 / 1.5) * (2.0 * 2.2 / (2.0 + 1.2 * (0.25 + 0.75 * 3.0 / 2.0)))
      assert(kernel(one, Seq("a")) === Seq(Some(want), None))
      assert(reference(one, Seq("a")) === Seq(Some(want), None))
      // a repeated term counts once per repeat
      val two = stat(Some(2.0), Some(2.0), Some(Seq(Some(1.0), Some(1.0))))
      assert(kernel(two, Seq("a", "a")) === Seq(Some(want + want), None))
      // a null stat (an all-null field's avgdl and df) → null, as composed
      val nullStats = stat(Some(2.0), None, Some(Seq(None)))
      assert(kernel(nullStats, Seq("a")) === Seq(None, None))
      assert(reference(nullStats, Seq("a")) === Seq(None, None))
      // zero avgdl: DIVIDE_BY_ZERO on a non-null token array, as the
      // composed form's ANSI divide
      val zero = stat(Some(2.0), Some(0.0), Some(Seq(Some(1.0))))
      Seq(kernel _, reference _).foreach { f =>
        val e = intercept[Exception](f(zero, Seq("a")))
        val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case a: SparkThrowable => a.getCondition }
        assert(cause.contains("DIVIDE_BY_ZERO"), e.toString)
      }
      // ... and null on a null token array
      assert(frame.filter(col("t").isNull).crossJoin(zero)
        .select(Bm25Score.score(col("t"), col("s"), Seq("a"))).head().isNullAt(0))
    } }
  }
}
