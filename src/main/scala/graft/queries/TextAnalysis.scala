package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.{Bm25Score, Bpe}
import graft.functions.Bm25Score.{B => Bm25B, K1 => Bm25K1}

/** Text-analysis operators over `documents`: full-text search, language
  * ID, quality scoring, token counting, fingerprinting — the text side of
  * a training-data pipeline, plus the reference's search surface.
  *
  * All per-doc work here is narrow (no join, no shuffle until the final
  * small aggregation), so every operator is a single distributed pass at
  * 100 TB; doubles that get re-aggregated go through DECIMAL so group
  * sums are order-independent and hash-reproducible.
  *
  * Reference tie-ins:
  *  - [[searchTopk]] = the news app's `multi_match best_fields` query +
  *    top-8 pagination (news_app/app/app/src/SearchUI.js:15-33,51): per
  *    field a token-overlap score, document score = max over fields,
  *    deterministic tiebreak, page-2 slice.
  *  - language/quality/token/fingerprint are the capability extension the
  *    brief mandates (no equivalent in the reference).
  */
object TextAnalysis {

  // --------------------------------------------------------------- search

  /** Best-fields full-text search with pagination: query tokens scored
    * per field (text via the native codegen
    * [[graft.functions.TokenOverlap]] expression, source as a key match),
    * document score = max over fields (ES `best_fields`), page 2 of size
    * 8 (ranks 9..16). The unchanged DuckDB oracle (list-filter form)
    * independently proves the expression equivalent to the composed
    * higher-order-function version it replaced. */
  def searchTopk(spark: SparkSession, dir: String): DataFrame =
    search(spark, dir, Seq("spark", "join", "src3"), page = 2, pageSize = 8)

  /** The parameterized form behind [[searchTopk]] (and the `/search`
    * endpoint of [[graft.Serve]]): arbitrary query terms, 1-based page. */
  def search(spark: SparkSession, dir: String, terms: Seq[String],
      page: Int, pageSize: Int): DataFrame =
    overlapRank(Tables.load(spark, dir, "documents"), terms, page, pageSize, Nil)

  /** [[search]]'s ranking over any frame with `doc_id`, `text` and
    * `source`, carrying the `carry` columns through the top-k. */
  private def overlapRank(docs: DataFrame, terms: Seq[String],
      page: Int, pageSize: Int, carry: Seq[String]): DataFrame = {
    require(terms.nonEmpty && page >= 1 && pageSize >= 1,
      s"search needs >=1 term, page>=1, pageSize>=1 (got $terms, $page, $pageSize)")
    val qtoks = array(terms.map(lit): _*)
    val sText = call_function("token_overlap", col("text"), lit(terms.mkString(" ")))
    val sSource = size(filter(qtoks, q => q === col("source"))).cast("long")
    // overlap scores are integers ≥ 0, so zero scores rank after every
    // positive one and positive ranks do not move (see [[pageOf]])
    pageOf(docs.select(
      col("doc_id") +: greatest(sText, sSource).as("score") +: carry.map(col): _*),
      "doc_id", page, pageSize, col("score") >= 1)
  }

  /** Ranks `scored` by (score desc, `key` asc) and keeps page `page` of
    * the rows that pass `hit`. The global ranking window is bounded at
    * any scale: Spark 4.x rewrites `rank <= hi` into a pre-limit
    * (WindowGroupLimit, or TakeOrderedAndProject) — per-partition top-hi
    * then ONE hi-row merge — so the single-partition window sees at most
    * hi rows, never the corpus (PlanInvariantSpec asserts the pre-limit
    * node stays in the plan). `hit` is tested after the rank, not before
    * it: below the window a filter is pushed under the scoring
    * projection, which scores every document twice; every ranker here
    * scores ≥ 0 and its `hit` keeps only positive scores, which rank
    * ahead of every zero, so the kept ranks are the same either way. */
  private def pageOf(scored: DataFrame, key: String, page: Int, pageSize: Int,
      hit: Column): DataFrame = {
    val w = Window.orderBy(col("score").desc, col(key).asc)
    val (lo, hi) = ((page - 1) * pageSize + 1, page * pageSize)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") >= lo && col("rank") <= hi && hit)
  }

  val searchTopkSql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    greatest(
       |      len(list_filter(['spark','join','src3'], q -> list_contains(${Text.tokensSql()}, q))),
       |      len(list_filter(['spark','join','src3'], q -> q = source))) AS score
       |  FROM documents),
       |r AS (SELECT doc_id, score,
       |        row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM s WHERE score >= 1)
       |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank BETWEEN 9 AND 16""".stripMargin

  // ----------------------------------------------------------- bm25 search

  /** The fixed demo query shared by [[searchBm25]] and its oracle. */
  private val Bm25Terms = Seq("spark", "join", "src3")

  /** IDF-weighted full-text ranking — the BM25-lite upgrade of
    * [[search]]'s unweighted token-overlap score, closing the semantic
    * gap with the ES `best_fields` relevance the reference serves
    * (news_app/app/app/src/SearchUI.js:15-33): a term appearing in few
    * documents now outranks a corpus-wide one, and long documents stop
    * winning on raw hit count.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) — BM25 with the standard
    * k1=1.2, b=0.75.
    *
    * Scale shape: [[bm25Rank]] over a one-field uncached
    * [[SearchCorpus]] — building the entry folds n, Σdl and the terms'
    * df in one job, then one native [[graft.functions.Bm25Score]] call
    * per document over literal statistics, and the WindowGroupLimit
    * top-k.
    * Cross-engine determinism: every input to
    * the float math is exact (counts, lengths, shared literals) and the
    * expression order is mirrored in the oracle, with the one
    * transcendental (`ln`) fenced by round(…, 6) on both sides. */
  def searchBm25(spark: SparkSession, dir: String): DataFrame =
    bm25Search(corpusOf(Tables.load(spark, dir, "documents"), "doc_id",
      Seq("text" -> Text.tokens(col("text"))), Nil, cache = false),
      Bm25Terms, page = 1, pageSize = 10)

  val searchBm25Sql: String = {
    val statCols = Bm25Terms.zipWithIndex.map { case (term, i) =>
      s"CAST(CAST(SUM(CASE WHEN list_contains(t, '$term') THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS df$i"
    }.mkString(",\n    ")
    val scoreTerms = Bm25Terms.zipWithIndex.map { case (term, i) =>
      s"""ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) *
         |      ((len(list_filter(t, w -> w = '$term')) * ${Bm25K1 + 1.0}) /
         |       (len(list_filter(t, w -> w = '$term')) + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * len(t) / avgdl)))""".stripMargin
    }.mkString(" +\n      ")
    s"""WITH d AS (SELECT doc_id, ${Text.tokensSql()} AS t FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(CAST(SUM(len(t)) AS BIGINT) AS DOUBLE) / COUNT(*) AS avgdl,
       |    $statCols
       |  FROM d),
       |s AS (SELECT doc_id, round($scoreTerms, 6) AS score FROM d, st),
       |r AS (SELECT doc_id, score,
       |        row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM s WHERE score > 0)
       |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM r
       |WHERE rank <= 10""".stripMargin
  }

  // ------------------------------------------------ bm25 best_fields

  /** The two scored fields: full text, and a synthesized title (the
    * leading 8 tokens — the corpus has no separate title column; the
    * POINT is the per-field statistics machinery, which is identical
    * whatever column the tokens come from). */
  private val Bm25TitleLen = 8

  /** Multi-field BM25 with `best_fields` semantics over EVERY document
    * field — the full shape of the reference's ES `multi_match` query,
    * which names NO fields and so matches across the whole mapping
    * lenient-ly (news_app/app/app/src/SearchUI.js:21-27, `lenient: true`):
    * each field is scored as its own BM25 corpus (own df, own avgdl, own
    * dl) and the document's score is the MAX over fields, so a doc whose
    * TITLE matches all terms outranks one whose body mentions them in
    * passing, and a term that IS a source key or a language code still
    * ranks its documents. Scored fields: text, the synthesized title,
    * lang, source, and — the `lenient` part — numeric n_chars coerced to
    * its string form (a term matches it only when it equals the number's
    * text, the analog of ES silently tolerating type-mismatched fields
    * instead of erroring). [[searchBm25]] scores the single `text` field;
    * this closes the field-less multi_match gap on top of it
    * (VERDICT r12 item 3 — r12's form scored 2 fields).
    *
    * Scale shape: [[bm25Rank]] over the five fields of an uncached
    * [[documentsCorpus]] — building the entry folds n, each field's Σdl
    * and the terms' df in one job (constant size at any corpus), then five
    * native [[graft.functions.Bm25Score]] calls per
    * document (one per field, whatever T) over literal statistics and
    * `greatest`, and the top-k is the WindowGroupLimit pre-limit rank
    * (per-partition top-k, one k-row merge). Cross-engine
    * determinism: same contract as [[searchBm25]] — exact inputs,
    * mirrored expression order, one round(…,6) fence at the end. */
  def searchBm25Fields(spark: SparkSession, dir: String): DataFrame =
    bm25Search(spark, dir, Bm25Terms, page = 1, pageSize = 10)

  /** The parameterized form behind [[searchBm25Fields]]: arbitrary query
    * terms, 1-based page — the relevance-ranked replacement for the
    * unweighted [[search]], and the ranking of [[graft.Serve]]'s
    * `/search` ([[searchHits]]). */
  def bm25Search(spark: SparkSession, dir: String, terms: Seq[String],
      page: Int, pageSize: Int): DataFrame =
    bm25Search(documentsCorpus(spark, dir, cache = false), terms, page, pageSize)

  /** [[bm25Search]] over a built corpus: (key, score, rank). */
  def bm25Search(corpus: SearchCorpus, terms: Seq[String],
      page: Int, pageSize: Int): DataFrame =
    bm25Rank(corpus, terms, page, pageSize, Nil).select(corpus.key, "score", "rank")

  // ------------------------------------------------------- search corpus

  /** What BM25 ranks, tokenized once ([[corpusOf]] builds it): `rows`
    * holds the key `key`, each field's token array (column `tok_<field>`)
    * and the payload columns, and the `(field, w, df)` term dictionary
    * counts, per field, the documents whose field holds `w`.
    *
    * A cached corpus persists `rows` (spread over the default
    * parallelism) MEMORY_AND_DISK and, as it is built, folds n and each
    * field's Σdl (total tokens) and collects the dictionary to the
    * driver: one [[TextIndex.Vocabulary]] per field, one entry per
    * (field, distinct term) — 609 entries over the sf0.1 `documents`
    * table, 523 of them `n_chars` values; the dictionary an ES node
    * keeps in memory beside its postings. A query's statistics are then a driver lookup
    * with no Spark job, and [[vocabulary]] completes a prefix without
    * one either. An uncached corpus (the catalog's per-call form, which
    * memoizes nothing across runs) folds n, Σdl and the query's df in
    * ONE job instead: on an uncached corpus a dictionary lookup would
    * explode and shuffle every token of every document per query. */
  final class SearchCorpus private[TextAnalysis] (projected: DataFrame, val key: String,
      val fields: Seq[String], cache: Boolean) {

    val rows: DataFrame =
      if (!cache) projected
      else projected.repartition(projected.sparkSession.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_AND_DISK)

    /** Field `f`'s token-array column in `rows`. */
    def tokens(f: String): Column = col(s"tok_$f")

    private def dict: DataFrame = rows
      // one (field, distinct token) row per document and field
      .select(explode(array(fields.map(f =>
        struct(lit(f).as("field"), array_distinct(tokens(f)).as("ws"))): _*)).as("fw"))
      .select(col("fw.field").as("field"), explode(col("fw.ws")).as("w"))
      .groupBy(col("field"), col("w")).agg(count(lit(1)).as("df"))

    /** ONE job over `rows`: n, each field's Σdl (None when no document
      * has the field), and the number of documents whose field holds
      * each of `terms`. */
    private def fold(terms: Seq[String]): (Long, Seq[Option[Long]], Map[(String, String), Long]) = {
      val keys = for (f <- fields; t <- terms) yield (f, t)
      val r = rows.agg(count(lit(1)), fields.map(f => sum(size(tokens(f)).cast("long"))) ++
        keys.map { case (f, t) => count(when(array_contains(tokens(f), t), true)) }: _*).head()
      val k = fields.size
      (r.getLong(0), (1 to k).map(i => Option.when(!r.isNullAt(i))(r.getLong(i))),
        keys.zipWithIndex.map { case (ft, i) => ft -> r.getLong(1 + k + i) }.toMap)
    }

    /** A cached corpus's n, Σdl and per-field dictionary, built with it:
      * the fold materializes `rows`, then the dictionary is collected
      * from the cached rows. */
    private val local: Option[(Long, Seq[Option[Long]], Map[String, TextIndex.Vocabulary])] =
      Option.when(cache) {
        val (n, sumDl, _) = fold(Nil)
        val byField = dict.collect().toSeq.groupMap(_.getString(0))(r => r.getString(1) -> r.getLong(2))
        (n, sumDl, fields.map(f => f -> new TextIndex.Vocabulary(byField.getOrElse(f, Nil))).toMap)
      }

    /** Each field's BM25 statistics for `terms`, in [[fields]] order, as
      * the literal `struct(n, avgdl, df[])` [[graft.functions.Bm25Score]]
      * takes: one df per term, repeats included. A term no document
      * holds has df 0, not null: a null df nulls the field's score for
      * every document. avgdl is Σdl / n, the division the folded form in
      * the plan made (null when no document has the field). */
    def stats(terms: Seq[String]): Seq[Column] = {
      val (n, sumDl, df) = local match {
        case Some((n, sumDl, vocab)) => (n, sumDl,
          (for (f <- fields; t <- terms.distinct; d <- vocab(f).df(t)) yield (f, t) -> d).toMap)
        case None => fold(terms.distinct)
      }
      fields.zip(sumDl).map { case (f, dl) =>
        struct(lit(n.toDouble).as("n"),
          dl.fold(lit(null).cast("double"))(s => lit(s.toDouble / n.toDouble)).as("avgdl"),
          array(terms.map(t => lit(df.getOrElse((f, t), 0L).toDouble)): _*).as("df"))
      }
    }

    /** Field `f`'s driver vocabulary; a cached corpus only. */
    def vocabulary(f: String): TextIndex.Vocabulary = local match {
      case Some((_, _, vocab)) => vocab(f)
      case None => throw new IllegalStateException("an uncached corpus keeps no driver vocabulary")
    }

    /** True while a cached corpus's `rows` sit in the cache: one that a
      * `clearCache` dropped must be built again. */
    def cached: Boolean = rows.storageLevel != StorageLevel.NONE
  }

  /** A [[SearchCorpus]] over `docs`: `fields` are (name, token-array
    * column) pairs and `payload` the columns carried beside them. */
  private def corpusOf(docs: DataFrame, key: String, fields: Seq[(String, Column)],
      payload: Seq[Column], cache: Boolean): SearchCorpus =
    new SearchCorpus(docs.select(
      (col(key) +: fields.map { case (f, c) => c.as(s"tok_$f") }) ++ payload: _*),
      key, fields.map(_._1), cache)

  /** The `documents` corpus: [[searchBm25Fields]]'s five fields and
    * the payload [[searchHits]] renders (text, lang, source, n_chars).
    * [[graft.Serve]] builds one cached corpus per server; the catalog
    * builds an uncached one per call. */
  def documentsCorpus(spark: SparkSession, dir: String, cache: Boolean): SearchCorpus = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text"))) // materialize once (see LlmDedup)
    corpusOf(docs, "doc_id", Seq(
      "text" -> col("t"),
      "title" -> slice(col("t"), 1, Bm25TitleLen),
      "lang" -> array(col("lang")),
      "source" -> Text.tokens(col("source")),
      "n_chars" -> array(col("n_chars").cast("string"))),
      Seq(col("text"), col("lang"), col("source"), col("n_chars")), cache)
  }

  /** The best_fields BM25 core behind [[bm25Search]], [[searchBm25]],
    * [[searchHits]] and — over a different field set — the crawled-news
    * search ([[newsSearchHits]]): ranks `corpus.rows` by the max over
    * fields, with the `carry` columns riding along (key, score, carry,
    * rank). `corpus.key` is the unique ascending tiebreaker.
    *
    * Pass structure: [[SearchCorpus.stats]] gets the terms' statistics
    * (a driver dictionary lookup on a cached corpus, one small fold job
    * on an uncached one) and hands every field's statistics to the
    * plan as literals, so the plan has no statistics fold and no join.
    * The ranking is then ONE narrow pass: one native
    * [[graft.functions.Bm25Score]] call per (document, field) — O(fields)
    * expression nodes whatever the term count — then `greatest` across
    * fields, so each document is scored exactly once, and the payload
    * rides through the bounded top-k ([[pageOf]]: per-partition top-k,
    * one k-row merge) instead of being joined back. */
  private[queries] def bm25Rank(corpus: SearchCorpus, terms: Seq[String],
      page: Int, pageSize: Int, carry: Seq[String]): DataFrame = {
    require(terms.nonEmpty && page >= 1 && pageSize >= 1,
      s"bm25 rank needs >=1 term, page>=1, pageSize>=1 (got $terms, $page, $pageSize)")
    val fieldScores = corpus.fields.zip(corpus.stats(terms)).map { case (f, st) =>
      Bm25Score.score(corpus.tokens(f), st, terms) }
    val best = if (fieldScores.size == 1) fieldScores.head else greatest(fieldScores: _*)
    pageOf(corpus.rows.select(
      col(corpus.key) +: round(best, 6).as("score") +: carry.map(col): _*),
      corpus.key, page, pageSize, col("score") > 0)
  }

  /** EP3 over the CRAWLED news store — the corpus the reference's
    * search UI actually queries (SearchUI.js:6 reads the `news_*`
    * index pattern; fields title/desc/lang/site). Ranked page + the
    * per-hit payload the UI renders (title, desc snippet, link, date,
    * crawler provenance) in one frame: the same [[bm25Rank]] core as
    * the analytics search over a per-call [[newsCorpus]], with the
    * payload carried through the rank — only the field set differs. */
  def newsSearchHits(news: DataFrame, terms: Seq[String],
      page: Int, pageSize: Int): DataFrame =
    bm25Rank(newsCorpus(news), terms, page, pageSize,
        Seq("title", "desc", "date", "lang", "crawler"))
      .select(col("rank"), col("score"), col("title"),
        substring(coalesce(col("desc"), lit("")), 1, SnippetChars).as("snippet"),
        col("link"), date_format(col("date"), "yyyy-MM-dd").as("date"),
        col("lang"), col("crawler"))
      .orderBy(col("rank").asc)

  /** The uncached news corpus: the newest snapshot of each link, its
    * title, desc, lang and site fields, and the [[newsSearchHits]]
    * payload. The store dedups on (link, date), so one link can carry
    * several crawl snapshots — a search hit is one LINK, newest snapshot
    * wins (otherwise the rank window ties on the key). */
  def newsCorpus(news: DataFrame): SearchCorpus = {
    val latestW = Window.partitionBy(col("link"))
      .orderBy(col("date").desc_nulls_last)
    val latest = news
      .withColumn("_rn", row_number().over(latestW))
      .filter(col("_rn") === 1).drop("_rn")
    corpusOf(latest, "link", Seq(
      "title" -> Text.tokens(col("title")),
      "desc" -> Text.tokens(coalesce(col("desc"), lit(""))),
      "lang" -> array(col("lang")),
      "site" -> Text.tokens(coalesce(col("source.website"), lit("")))),
      Seq(col("title"), col("desc"), col("date"), col("lang"),
        col("source.crawler").as("crawler")), cache = false)
  }

  /** Snippet length for [[searchHits]] — the bounded preview a results
    * page renders (the reference UI shows `desc`, SearchUI.js:88-92). */
  private val SnippetChars = 200

  /** Chars of left context before the first matched term in a
    * [[searchHits]] highlight window. */
  private val HighlightLead = 60

  /** Ranked hits with their source documents — the `_source`
    * payload half of the reference's search endpoint: ES returns the full
    * stored doc with every hit and the UI renders it directly (title,
    * desc, img, link, date — news_app/app/app/src/SearchUI.js:71-99).
    * [[bm25Search]]/[[search]] return only (doc_id, score, rank), which
    * would force a results page into one extra round-trip per hit; this
    * wrapper closes that gap over the `documents` table: a synthesized
    * title (the leading [[Bm25TitleLen]] tokens — the same field the
    * best_fields ranker scores), a bounded [[SnippetChars]]-char snippet,
    * and the doc metadata (lang, source, n_chars). This form builds a
    * [[documentsCorpus]] per call. */
  def searchHits(spark: SparkSession, dir: String, terms: Seq[String],
      page: Int, pageSize: Int, ranker: String = "bm25"): DataFrame =
    searchHits(documentsCorpus(spark, dir, cache = false), terms, page, pageSize, ranker)

  /** [[searchHits]] over a built [[documentsCorpus]].
    *
    * Pass structure: the `bm25` ranker gets its statistics in one small
    * job (none on the server's cached corpus: a driver lookup), then
    * ONE ranking pass over `corpus.rows` scores every document and
    * carries the payload — text, metadata and the text and title token
    * arrays — through the bounded top-k, so only the ≤ page·pageSize
    * kept rows compute their title, snippet and highlight, and no second
    * read of `documents` joins the payload back. The `overlap` ranker
    * scores the same rows, with no statistics job. */
  def searchHits(corpus: SearchCorpus, terms: Seq[String],
      page: Int, pageSize: Int, ranker: String): DataFrame = {
    val carry = Seq("tok_text", "tok_title", "text", "lang", "source", "n_chars")
    val ranked = ranker match {
      case "overlap" => overlapRank(corpus.rows, terms, page, pageSize, carry)
      case _ => bm25Rank(corpus, terms, page, pageSize, carry)
    }
    // Highlight metadata — the reference UI highlights the matched query
    // terms inside every hit (react-highlight-words over title/desc,
    // SearchUI.js:76-96), which needs to know WHAT matched and WHERE:
    //  - matched_terms: the query terms present in the doc's token set,
    //    in query order (comma-joined — stable, hash-comparable);
    //  - highlight: a [[SnippetChars]] window opened [[HighlightLead]]
    //    chars before the FIRST query-term occurrence in the lowered
    //    text (the ES plain-highlighter fragment analog), so unlike the
    //    prefix snippet it is guaranteed to contain a matched term
    //    whenever the text matched at all; docs ranked by a non-text
    //    field (all-field best_fields) fall back to the prefix window.
    // All of it is deterministic string arithmetic, so the whole payload
    // stays oracle-hash-checkable.
    // Per-term scalar columns, no lambdas: concat_ws and least skip the
    // nulls that stand for "absent".
    val matched = terms.map(tm =>
      when(array_contains(corpus.tokens("text"), tm), lit(tm)))
    val positions = terms.map { tm =>
      val p = instr(lower(col("text")), tm)
      when(p > 0, p)
    }
    val firstPos = if (positions.size == 1) positions.head else least(positions: _*)
    val hlStart = greatest(lit(1), coalesce(firstPos, lit(1)) - HighlightLead)
    ranked
      .select(col("doc_id"), col("score"), col("rank"),
        concat_ws(" ", corpus.tokens("title")).as("title"),
        substring(col("text"), 1, SnippetChars).as("snippet"),
        concat_ws(",", matched: _*).as("matched_terms"),
        col("text").substr(hlStart, lit(SnippetChars)).as("highlight"),
        col("lang"), col("source"), col("n_chars"))
      .orderBy(col("rank").asc)
  }

  /** The [[searchHits]] payload under the catalog's fixed demo query —
    * puts the full serving payload (title, snippet, highlight window,
    * matched terms, metadata) under the cross-engine hash gate. */
  def searchHitsTopk(spark: SparkSession, dir: String): DataFrame =
    searchHits(spark, dir, Bm25Terms, page = 1, pageSize = 10)

  // lazy: declared above searchBm25FieldsSql, which it interpolates — a
  // strict val would capture null at object init.
  lazy val searchHitsTopkSql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString("[", ",", "]")
    val posList = Bm25Terms
      .map(t => s"instr(lower(text), '$t')").mkString("[", ",", "]")
    s"""SELECT d.doc_id, r.score, r.rank,
       |  array_to_string((${Text.tokensSql()})[1:$Bm25TitleLen], ' ') AS title,
       |  substr(text, 1, $SnippetChars) AS snippet,
       |  coalesce(array_to_string(
       |    list_filter($termList, q -> list_contains(${Text.tokensSql()}, q)), ','), '')
       |    AS matched_terms,
       |  substr(text,
       |    greatest(1, coalesce(
       |      list_min(list_filter($posList, p -> p > 0)), 1) - $HighlightLead),
       |    $SnippetChars) AS highlight,
       |  lang, source, n_chars
       |FROM documents d
       |JOIN ($searchBm25FieldsSql) r ON d.doc_id = r.doc_id""".stripMargin
  }

  /** DuckDB mirror of [[bm25Fields]]: (field name, token-list SQL over
    * the `d` CTE's columns) — one definition feeding both the stats CTE
    * and the per-field score arms so they cannot diverge. */
  private val bm25FieldsSql: Seq[(String, String)] = Seq(
    "text" -> "t",
    "title" -> s"t[1:$Bm25TitleLen]",
    "lang" -> "[lang]",
    "source" -> "src_t",
    "n_chars" -> "[CAST(n_chars AS VARCHAR)]")

  val searchBm25FieldsSql: String = {
    val statCols = bm25FieldsSql.flatMap { case (f, tc) =>
      s"CAST(CAST(SUM(len($tc)) AS BIGINT) AS DOUBLE) / COUNT(*) AS avgdl_$f" +:
        Bm25Terms.zipWithIndex.map { case (term, i) =>
          s"CAST(CAST(SUM(CASE WHEN list_contains($tc, '$term') THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) AS df_${f}_$i"
        }
    }.mkString(",\n    ")
    def fieldScore(f: String, tc: String): String =
      Bm25Terms.zipWithIndex.map { case (term, i) =>
        s"""ln(1.0 + (n - df_${f}_$i + 0.5) / (df_${f}_$i + 0.5)) *
           |      ((len(list_filter($tc, w -> w = '$term')) * ${Bm25K1 + 1.0}) /
           |       (len(list_filter($tc, w -> w = '$term')) + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * len($tc) / avgdl_$f)))""".stripMargin
      }.mkString(" +\n      ")
    val best = bm25FieldsSql.map { case (f, tc) => fieldScore(f, tc) }
      .mkString("greatest(", ",\n      ", ")")
    s"""WITH d AS (SELECT doc_id, lang, n_chars, ${Text.tokensSql()} AS t,
       |    ${Text.tokensSql("source")} AS src_t FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    $statCols
       |  FROM d),
       |s AS (SELECT doc_id, round($best, 6) AS score FROM d, st),
       |r AS (SELECT doc_id, score,
       |        row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM s WHERE score > 0)
       |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM r
       |WHERE rank <= 10""".stripMargin
  }

  // --------------------------------------------------- keyword extraction

  /** Per-document keyword extraction: the top-3 TF-IDF terms of every
    * doc — the salient-term tagging step a curation pipeline runs for
    * topic routing, domain labeling, and search-facet generation
    * (complements [[unigramLm]], which scores WHOLE docs against the
    * corpus LM; this surfaces WHICH terms make a doc distinctive).
    * score(d, w) = tf(d, w) · ln(N / df(w)).
    *
    * Scale shape — the TF-IDF join family ([[unigramLm]]'s anatomy):
    * one exploded pass collapses map-side to per-(doc, term) counts;
    * the document-frequency table derives from THAT (term-keyed, Zipf-
    * bounded — far smaller than the token stream); tf ⋈ df is a keyed
    * equi-join AQE plans (broadcast here, co-partitioned at 100 TB);
    * the corpus size rides a one-row broadcast; the final top-3 is a
    * doc_id-PARTITIONED rank window (bounded per group — no global
    * window anywhere). Determinism: tf/df/N are integers, the one
    * transcendental (ln) is fenced by round(…,6) mirrored in the
    * oracle, ties break on the term string. */
  def keywordTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // explode the tokenization EXPRESSION directly — exploding an
    // aliased token column trips InferFiltersFromGenerate into inlining
    // the regex+split 2× more into a pre-Generate Filter (the r13
    // "explode-alias trap", PLANS.md)
    val tf = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).cast("double").as("n"))
    val wRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfx, "w").crossJoin(broadcast(n))
      .select(col("doc_id"), col("w").as("term"),
        round(col("tf").cast("double") * log(col("n") / col("df").cast("double")), 6)
          .as("score"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 3)
  }

  val keywordTopkSql: String =
    s"""WITH d AS (SELECT doc_id, ${Text.tokensSql()} AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS w FROM d),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dfx AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d),
       |s AS (SELECT doc_id, w AS term,
       |        round(CAST(tf AS DOUBLE) * ln(n / CAST(df AS DOUBLE)), 6) AS score
       |      FROM tf JOIN dfx USING (w), nn),
       |r AS (SELECT doc_id, term, score,
       |        row_number() OVER (PARTITION BY doc_id
       |          ORDER BY score DESC, term ASC) AS rank
       |      FROM s)
       |SELECT doc_id, term, score, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 3""".stripMargin

  // --------------------------------------------------- CMS heavy hitters

  /** Heavy-hitter vocabulary terms via a count-min sketch — the custom
    * typed-[[org.apache.spark.sql.expressions.Aggregator]] showcase
    * ([[graft.functions.CmsSketch]]): terms whose SKETCH-estimated
    * count reaches 1% of the token stream. Two bounded passes:
    * pass 1 folds the whole token stream into ONE 4×256-counter sketch
    * (+ the exact total) — constant state however large the corpus,
    * map-side partial merges, order-independent integer sums; pass 2
    * probes the distinct vocabulary (Zipf-bounded) against the
    * broadcast one-row sketch — `min` over the term's 4 row-salted
    * cells, the classic CMS point query, never rescanning the stream.
    *
    * CMS estimates only ever OVERCOUNT (collisions add), so this
    * reports a superset of the true ≥1% terms within the sketch's
    * εN ≈ (e/256)·N guarantee — the standard sketch trade: candidate
    * generation in one cheap pass, exact counting (if needed) only on
    * the few survivors. The DuckDB oracle rebuilds the IDENTICAL
    * sketch in SQL (same md5 bucket hash, same min-over-rows), so the
    * estimates — not just the selection — hash-match cross-engine. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsSketch
    val cms = udaf(CmsSketch, org.apache.spark.sql.Encoders.STRING)
    val stream = Tables.load(spark, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("term"))
    val sketch = stream.agg(cms(col("term")).as("sk"),
      count(lit(1)).cast("long").as("total"))
    def estRow(r: Int): Column = element_at(col("sk"),
      (lit(r * CmsSketch.Width) +
        pmod(conv(substring(md5(concat(lit(s"$r:"), col("term"))), 1, 8), 16, 10)
          .cast("long"), lit(CmsSketch.Width.toLong))).cast("int") + 1)
    stream.distinct()
      .crossJoin(broadcast(sketch))
      .select(col("term"),
        least((0 until CmsSketch.Depth).map(estRow): _*).as("est"),
        col("total"))
      .filter(col("est").cast("double") >= col("total").cast("double") * 0.01)
      .select(col("term"), col("est"))
  }

  val heavyHittersSql: String = {
    val w = graft.functions.CmsSketch.Width
    val d = graft.functions.CmsSketch.Depth
    s"""WITH dd AS (SELECT ${Text.tokensSql()} AS t FROM documents),
       |tok AS (SELECT unnest(t) AS term FROM dd),
       |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
       |cells AS (SELECT r,
       |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 8))::BIGINT % $w AS b,
       |    COUNT(*) AS c
       |  FROM tok CROSS JOIN range($d) s(r) GROUP BY 1, 2),
       |terms AS (SELECT DISTINCT term FROM tok),
       |probe AS (SELECT term, r,
       |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 8))::BIGINT % $w AS b
       |  FROM terms CROSS JOIN range($d) s(r)),
       |est AS (SELECT term, MIN(c) AS est
       |        FROM probe JOIN cells USING (r, b) GROUP BY 1)
       |SELECT term, CAST(est AS BIGINT) AS est
       |FROM est, tt WHERE CAST(est AS DOUBLE) >= CAST(total AS DOUBLE) * 0.01""".stripMargin
  }

  // ------------------------------------------------------- unigram LM

  /** Corpus-unigram language-model scoring — the exact-LM core of a
    * CCNet-style perplexity filter (Wenzek et al. 2020 filter on LM
    * score; here the LM is the corpus's own unigram distribution, so the
    * whole thing is closed-form and oracle-checkable): per doc, the mean
    * token log-probability `avg_lp = (1/n) Σ_w tf(w)·ln(c(w)/T)` under
    * corpus counts `c(w)`, total `T`. Low scores flag outlier/rare-token
    * docs; a pipeline thresholds on the band it wants to keep.
    *
    * Scale shape — the canonical TF-IDF join family, which nothing else
    * in the catalog exercises: one exploded pass map-side-collapses to
    * per-doc term frequencies (distinct (doc,w) pairs, far smaller than
    * the token stream), a second exploded pass folds the vocabulary
    * counts (Zipf-bounded — millions of rows at 100 TB, not
    * corpus-sized), `T` folds doc lengths in a narrow third scan (no
    * explode — Σ|t_d| = Σc(w)) to ONE broadcast row, and the tf⋈vocab
    * join on `w` is AQE's choice: broadcast while the vocab is small,
    * shuffle-join co-partitioned with the vocab agg once it isn't. The
    * final per-doc re-agg shuffles the already-collapsed tf rows only.
    * Cross-engine determinism: every input to the float math is exact
    * (counts), and the per-term contributions `tf·ln(c/T)` — doubles
    * that get RE-AGGREGATED across shuffle partitions — go through
    * DECIMAL(28,12) (the file-wide invariant, same as [[quality]]), so
    * the per-doc sum is order-independent whatever the partition count
    * or AQE's add order; the single round(…,6) happens at the very end
    * on both sides. */
  def unigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text")))
    // tokenization exploded as an EXPRESSION, not via the t alias — the
    // alias form pays the explode-alias trap (PLANS.md r13) in BOTH
    // consumers of tok
    val tok = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
    val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    // T = Σ_w c(w) = Σ_d |t_d|: fold doc lengths instead of re-aggregating
    // the vocabulary — Spark doesn't reuse the uni subtree across branches
    // (see PLANS.md), and this form replaces that third token-level
    // explode+shuffle pass with a narrow column-pruned scan.
    val tot = docs.agg(sum(size(col("t")).cast("long")).cast("double").as("tot"))
    tf.join(uni, "w").join(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("long").as("n_toks"),
        sum((col("tf").cast("double") *
          log(col("c").cast("double") / col("tot")))
          .cast("decimal(28,12)")).cast("double").as("slp"))
      .select(col("doc_id"), col("n_toks"),
        round(col("slp") / col("n_toks").cast("double"), 6).as("avg_lp"))
  }

  val unigramLmSql: String =
    s"""WITH d AS (SELECT doc_id, ${Text.tokensSql()} AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS w FROM d),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
       |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
       |tot AS (SELECT CAST(CAST(SUM(len(t)) AS BIGINT) AS DOUBLE) AS tot FROM d)
       |SELECT doc_id,
       |  CAST(SUM(tf) AS BIGINT) AS n_toks,
       |  round(CAST(SUM(CAST(CAST(tf AS DOUBLE) * ln(CAST(c AS DOUBLE) / tot)
       |                      AS DECIMAL(28,12))) AS DOUBLE)
       |        / CAST(SUM(tf) AS BIGINT), 6) AS avg_lp
       |FROM tf JOIN uni USING (w), tot
       |GROUP BY doc_id""".stripMargin

  /** Perplexity-based quality filter — the CCNet/KenLM gate every
    * production LLM pipeline runs (train a small LM on trusted text,
    * drop documents the model finds surprising), here as a pure Spark
    * job: an INTERPOLATED BIGRAM LM trained on the doc_id % 5 != 0
    * split (the [[graft.queries.VectorSearch]] train/eval convention)
    * scores the held-out docs; p(w2|w1) = 0.7·B(w1,w2)/U(w1) +
    * 0.3·(U(w2)+1)/(N+V) (add-one on the unigram back-off, so unseen
    * tokens stay finite), per-doc score = mean −ln p over bigram
    * positions, `flagged` = score above the gate.
    *
    * Scale shape: train-side U and B are two Zipf-bounded aggregations
    * (vocab / bigram-vocab sized, NOT corpus sized); N and V fold to a
    * one-row broadcast; the eval side collapses to per-doc DISTINCT
    * bigram counts before any join, so the three model joins move
    * (doc, bigram) rows, not token streams, co-partitioned on their
    * keys for AQE to pick broadcast vs shuffle. Per-doc re-agg runs the
    * file-wide DECIMAL(28,12) fence (the [[unigramLm]] convention:
    * exact counts into one ln each, fenced products, one round(…,6) at
    * the end), so the fold is order-independent and the DuckDB replay
    * hash-matches the model end-to-end — training included. */
  def perplexityFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val eval = docs.filter(col("doc_id") % 5 === 0)

    // tokenizer + bigram-pair builders stay EXPRESSIONS — exploding an
    // aliased array attribute trips the explode-alias trap
    // (InferFiltersFromGenerate, PLANS.md r13; PlanInvariantSpec caught
    // exactly this op's first draft); the [[TextIndex]] zip_with shape
    // yields (w1, w2) pairs from one generator, no positional probing.
    def tokExpr: Column = Text.tokens(col("text"))
    def bigramPairs: Column = zip_with(
      slice(tokExpr, lit(1), size(tokExpr) - 1),
      slice(tokExpr, lit(2), size(tokExpr) - 1),
      (x, y) => struct(x.as("w1"), y.as("w2")))

    val uni = train.select(explode(tokExpr).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("u"))
    val big = train.select(explode(bigramPairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b"))
    // N tokens and V distinct vocab in ONE pass over the unigram agg
    val scal = uni.agg(
      sum(col("u")).cast("double").as("nn"),
      count(lit(1)).cast("double").as("vv"))

    val evalBig = eval.select(col("doc_id"), explode(bigramPairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val u1 = uni.select(col("w").as("w1"), col("u").as("u1"))
    val u2 = uni.select(col("w").as("w2"), col("u").as("u2"))
    evalBig
      .join(big, Seq("w1", "w2"), "left")
      .join(u1, Seq("w1"), "left")
      .join(u2, Seq("w2"), "left")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"), col("cnt"),
        (-log(
          lit(0.7) * coalesce(col("b").cast("double") / col("u1").cast("double"),
            lit(0.0)) +
          lit(0.3) * (coalesce(col("u2"), lit(0L)).cast("double") + 1.0) /
            (col("nn") + col("vv"))) *
          col("cnt").cast("double")).cast("decimal(28,12)").as("nll"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_bigrams"),
        sum(col("nll")).as("snll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("snll").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("avg_nll"))
      .withColumn("flagged", col("avg_nll") > PerplexityGate)
  }

  /** The filter's gate, shared with the oracle: above = surprising =
    * dropped. Sits inside the observed eval band so BOTH verdicts occur
    * at every gate SF (TextVectorSpec pins non-vacuity). */
  private val PerplexityGate = 3.42

  val perplexityFilterSql: String =
    s"""WITH d AS (SELECT doc_id, ${Text.tokensSql()} AS t FROM documents),
       |tr AS (SELECT * FROM d WHERE doc_id % 5 != 0),
       |ev AS (SELECT * FROM d WHERE doc_id % 5 = 0),
       |uni AS (SELECT w, count(*) AS u
       |        FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
       |big AS (SELECT w1, w2, count(*) AS b FROM (
       |    SELECT t[i] AS w1, t[i+1] AS w2
       |    FROM tr, unnest(range(1, len(t))) r(i)) GROUP BY w1, w2),
       |scal AS (SELECT CAST(SUM(u) AS DOUBLE) AS nn,
       |    CAST(COUNT(*) AS DOUBLE) AS vv FROM uni),
       |eb AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM (
       |    SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |    FROM ev, unnest(range(1, len(t))) r(i)) GROUP BY doc_id, w1, w2),
       |sc AS (SELECT eb.doc_id, eb.cnt,
       |    CAST(-ln(0.7 * COALESCE(CAST(big.b AS DOUBLE) / CAST(u1.u AS DOUBLE), 0.0)
       |             + 0.3 * (CAST(COALESCE(u2.u, 0) AS DOUBLE) + 1.0) / (scal.nn + scal.vv))
       |         * CAST(eb.cnt AS DOUBLE) AS DECIMAL(28,12)) AS nll
       |  FROM eb
       |  LEFT JOIN big ON eb.w1 = big.w1 AND eb.w2 = big.w2
       |  LEFT JOIN uni u1 ON eb.w1 = u1.w
       |  LEFT JOIN uni u2 ON eb.w2 = u2.w
       |  CROSS JOIN scal)
       |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |  round(CAST(SUM(nll) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT), 6) AS avg_nll,
       |  round(CAST(SUM(nll) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT), 6) > 3.42 AS flagged
       |FROM sc GROUP BY doc_id""".stripMargin

  // -------------------------------------------------------------- lang id

  private val lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "to", "and"),
    "es" -> Seq("el", "los", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "un", "et"))

  /** Stopword-lexicon language ID (distinct-hit count per language,
    * argmax with deterministic alphabetical priority), reported as a
    * confusion matrix against the labeled `lang`. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // Per-lexicon hit count IS token_overlap(text, lexicon words): the
    // lexicon words are distinct, so "query tokens present in the text's
    // token set" equals the composed size(filter(array_contains)) form —
    // but as one codegen kernel instead of a higher-order lambda per
    // lexicon per row (the unchanged oracle proves the equivalence).
    val scores = lexicons.map { case (l, ws) =>
      // coalesce: NULL text must score 0 (-> 'unknown'), matching both
      // the composed filter form and the oracle's len(list_filter(...))
      l -> coalesce(
        call_function("token_overlap", col("text"), lit(ws.mkString(" "))).cast("int"),
        lit(0))
    }
    val m = greatest(scores.map(_._2): _*)
    val pred = when(m === 0, lit("unknown"))
      .otherwise(scores.foldRight(lit("zz"): Column) { case ((l, s), e) =>
        when(s === m, lit(l)).otherwise(e)
      })
    docs.select(col("lang"), pred.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  val langIdSql: String = {
    val scoreDefs = lexicons.map { case (l, ws) =>
      s"len(list_filter([${ws.map(w => s"'$w'").mkString(",")}], w -> list_contains(${Text.tokensSql()}, w))) AS s_$l"
    }.mkString(",\n    ")
    val m = s"greatest(${lexicons.map("s_" + _._1).mkString(", ")})"
    val pred = lexicons.foldRight("'zz'") { case ((l, _), e) =>
      s"CASE WHEN s_$l = m THEN '$l' ELSE $e END"
    }
    s"""WITH s AS (SELECT lang, $scoreDefs FROM documents),
       |p AS (SELECT lang, CASE WHEN m = 0 THEN 'unknown' ELSE $pred END AS pred_lang
       |      FROM (SELECT *, $m AS m FROM s))
       |SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY lang, pred_lang""".stripMargin
  }

  // -------------------------------------------------------------- quality

  /** Quality scoring: type-token ratio + stopword ratio per doc, bucketed;
    * per-bucket averages go through DECIMAL(18,9) so the re-aggregation is
    * order-independent. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text"))) // materialize once (see LlmDedup)
    val t = col("t")
    val en = array(lexicons.toMap.apply("en").map(lit): _*)
    val perDoc = docs.select(
      (size(array_distinct(t)).cast("double") / size(t)).as("ttr"),
      (size(filter(t, w => array_contains(en, w))).cast("double") / size(t)).as("stop_ratio"))
    val dec9 = "decimal(18,9)"
    perDoc
      .withColumn("bucket",
        when(col("ttr") >= 0.8, "high").when(col("ttr") >= 0.5, "mid").otherwise("low"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("ttr").cast(dec9)).cast("double") / count(lit(1))).as("avg_ttr"),
        (sum(col("stop_ratio").cast(dec9)).cast("double") / count(lit(1))).as("avg_stop_ratio"))
  }

  val qualitySql: String =
    s"""WITH d AS (SELECT
       |    CAST(len(list_distinct(${Text.tokensSql()})) AS DOUBLE) / len(${Text.tokensSql()}) AS ttr,
       |    CAST(len(list_filter(${Text.tokensSql()}, w -> list_contains(['the','a','of','to','and'], w))) AS DOUBLE)
       |      / len(${Text.tokensSql()}) AS stop_ratio
       |  FROM documents),
       |b AS (SELECT *, CASE WHEN ttr >= 0.8 THEN 'high'
       |                     WHEN ttr >= 0.5 THEN 'mid' ELSE 'low' END AS bucket
       |      FROM d)
       |SELECT bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(ttr AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS avg_ttr,
       |  CAST(SUM(CAST(stop_ratio AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS avg_stop_ratio
       |FROM b GROUP BY bucket""".stripMargin

  // --------------------------------------------------------- token stats

  /** Token counting per source: whitespace tokens + BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation marks). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val ws = size(Text.tokens(col("text"))).cast("long")
    val bpe = size(regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
    docs.select(col("source"), ws.as("ws_toks"), bpe.as("bpe_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_toks")).as("sum_ws_toks"),
        sum(col("bpe_toks")).as("sum_bpe_toks"),
        max(col("bpe_toks")).as("max_bpe_toks"))
  }

  val tokenStatsSql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(${Text.tokensSql()})) AS BIGINT) AS sum_ws_toks,
       |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS sum_bpe_toks,
       |  MAX(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS max_bpe_toks
       |FROM documents GROUP BY source""".stripMargin

  /** Token counting per source under the TRAINED tokenizer
    * ([[graft.functions.Bpe]], fixture-trained merges) — the number a
    * token-budget gate at training time actually spends, where
    * [[tokenStats]]' regex count is only the pre-token proxy. The rank
    * table rides the task closure (KBs) and each task memoizes
    * word→count, so the UDF cost is Zipf-amortized; the aggregation
    * shape is identical to [[tokenStats]] (map-side partial sums, one
    * exchange on `source`).
    *
    * The DuckDB oracle does not approximate: [[bpeStatsSql]] replays the
    * merge recursion symbolically per distinct word (recursive CTE in
    * [[graft.functions.Bpe.oracleCtes]]), so a drift in merge ORDER — not
    * just in final counts — breaks the hash. */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cnt = Bpe.tokenCountCol(Bpe.fixtureMerges)
    docs.select(col("source"), cnt(col("text")).as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_bpe_toks"),
        max(col("n_toks")).as("max_bpe_toks"))
  }

  val bpeStatsSql: String =
    s"""WITH RECURSIVE
       |${Bpe.oracleCtes()}
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS sum_bpe_toks,
       |  MAX(n_toks) AS max_bpe_toks
       |FROM bpe_doc_toks GROUP BY source""".stripMargin

  /** Tokenizer fertility by language — the standard tokenizer-evaluation
    * metric (trained-BPE tokens per whitespace word): a fertility that
    * drifts high for one language means the tokenizer under-serves it
    * and its token budget buys less text. Same per-row trained encoder
    * as [[bpeTokenStats]], one exchange on `lang`, fertility as a
    * pinned division over exact long sums; the oracle replays the merge
    * recursion symbolically and joins the per-doc counts back to lang. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cnt = Bpe.tokenCountCol(Bpe.fixtureMerges)
    docs.select(col("lang"),
        cnt(col("text")).as("n_toks"),
        size(Text.tokens(col("text"))).cast("long").as("n_words"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_toks"),
        sum(col("n_words")).as("sum_words"))
      .select(col("lang"), col("n_docs"), col("sum_toks"), col("sum_words"),
        (col("sum_toks").cast("double") / col("sum_words").cast("double"))
          .as("fertility"))
  }

  val bpeFertilitySql: String =
    s"""WITH RECURSIVE
       |${Bpe.oracleCtes()}
       |SELECT d.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(t.n_toks) AS BIGINT) AS sum_toks,
       |  CAST(SUM(len(${Text.tokensSql("d.text")})) AS BIGINT) AS sum_words,
       |  CAST(SUM(t.n_toks) AS DOUBLE) /
       |    CAST(SUM(len(${Text.tokensSql("d.text")})) AS DOUBLE) AS fertility
       |FROM bpe_doc_toks t JOIN documents d USING (doc_id)
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ vocabulary

  /** Corpus vocabulary, top-100 tokens by frequency — the count table a
    * tokenizer trainer (BPE/SentencePiece) consumes and the first
    * artifact any corpus audit asks for. One exploded pass with map-side
    * partial aggregation folds the token stream to vocabulary rows
    * (Zipf-bounded), and the global top-k rides the same
    * WindowGroupLimit/TakeOrderedAndProject pre-limit as the search
    * queries — per-partition top-100, one 100-row merge, never a
    * vocabulary-wide single-partition sort. Ties break on the token
    * itself, so the cut is deterministic. */
  def vocabTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val w = Window.orderBy(col("n_occ").desc, col("token").asc)
    // expression-explode: see the explode-alias trap (PLANS.md r13)
    docs.select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 100)
  }

  val vocabTopkSql: String =
    s"""WITH tok AS (SELECT unnest(${Text.tokensSql()}) AS token FROM documents),
       |v AS (SELECT token, COUNT(*) AS n_occ FROM tok GROUP BY token),
       |r AS (SELECT token, n_occ,
       |        row_number() OVER (ORDER BY n_occ DESC, token ASC) AS rank
       |      FROM v)
       |SELECT token, n_occ, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 100""".stripMargin

  // -------------------------------------------------------- fingerprint

  /** Rolling char-16-gram fingerprint (winnowing-lite): md5 each 16-char
    * window at stride 4 over normalized text, keep the minimum — a
    * locality-robust document signature computed in one narrow pass. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("doc_id"), Text.norm(col("text")).as("s"))
      .select(col("doc_id"),
        when(length(col("s")) >= 16,
          array_min(transform(sequence(lit(1), length(col("s")) - 15, lit(4)),
            i => md5(col("s").substr(i, lit(16))))))
          .otherwise(md5(col("s"))).as("fp"))
  }

  val fingerprintSql: String =
    s"""WITH n AS (SELECT doc_id, ${Text.normSql()} AS s
       |           FROM documents)
       |SELECT doc_id,
       |  CASE WHEN len(s) >= 16
       |       THEN list_aggregate(list_transform(range(1, len(s)-14, 4),
       |              i -> md5(substr(s, i, 16))), 'min')
       |       ELSE md5(s) END AS fp
       |FROM n""".stripMargin

  // ---------------------------------------------------------------- scrub

  private val newsLanding = graft.Fixtures.newsLanding
  private val UrlPat = "https?://\\S+"
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IdPat = "\\d{4,}"

  /** PII/URL scrubbing — the redaction pass every training-data pipeline
    * runs before tokenization. Over the news corpus (the one input here
    * with real URLs/ids): per document, count then redact URLs, email
    * addresses, and long digit runs, in that fixed order (id runs are
    * counted AFTER URL redaction so a tweet id inside a URL is not
    * double-counted). The md5 of the fully-scrubbed text makes the
    * oracle verify the entire rewritten payload, not just the counts.
    * Narrow per-row work — one distributed pass, no shuffle. */
  def scrub(spark: SparkSession, dir: String): DataFrame = {
    val news = spark.read
      .schema(graft.streaming.NewsStream.newsSchema).json(newsLanding)
    val doc = concat_ws(" ", col("title"), col("desc"), col("link"), col("source.url"))
    val noUrl = regexp_replace(doc, UrlPat, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailPat, "<EMAIL>")
    val clean = regexp_replace(noEmail, IdPat, "<ID>")
    news.select(
      col("link"), col("title"),
      regexp_count(doc, lit(UrlPat)).cast("long").as("n_urls"),
      regexp_count(noUrl, lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count(noEmail, lit(IdPat)).cast("long").as("n_ids"),
      md5(clean).as("scrub_hash"),
      length(clean).cast("long").as("n_chars"))
  }

  val scrubSql: String =
    s"""WITH d AS (SELECT link, title,
       |    concat_ws(' ', title, "desc", link, source.url) AS doc
       |  FROM read_json('$newsLanding/*.json')),
       |s AS (SELECT link, title, doc,
       |    regexp_replace(doc, '$UrlPat', '<URL>', 'g') AS no_url FROM d),
       |e AS (SELECT *, regexp_replace(no_url, '$EmailPat', '<EMAIL>', 'g') AS no_email FROM s)
       |SELECT link, title,
       |  CAST(len(regexp_extract_all(doc, '$UrlPat')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(no_url, '$EmailPat')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(no_email, '$IdPat')) AS BIGINT) AS n_ids,
       |  md5(regexp_replace(no_email, '$IdPat', '<ID>', 'g')) AS scrub_hash,
       |  CAST(length(regexp_replace(no_email, '$IdPat', '<ID>', 'g')) AS BIGINT) AS n_chars
       |FROM e""".stripMargin

  // ------------------------------------------------------- gopher rules

  /** Gopher-style rule-bundle quality filter (Rae et al. 2021,
    * arXiv:2112.11446 appendix A1.1 — the standard pre-training document
    * filter, also the C4 heuristic family): every document is tested
    * against a bundle of INDEPENDENT structural rules, and the output
    * reports per source how many documents fail EACH rule plus how many
    * pass all of them — the per-rule attribution an operator tuning
    * thresholds on a 100 TB crawl needs (a single pass/fail bit cannot
    * show which rule is eating the corpus). Complements [[quality]]
    * (continuous TTR/stop-ratio scores) with the paper's hard gates.
    *
    * Rules (thresholds fixture-scaled so each one discriminates on the
    * synthetic corpus; the paper's production values in parentheses):
    *  - word count within [25, 90]          (paper: [50, 100k])
    *  - mean word length within [3, 5]      (paper: [3, 10])
    *  - at least 2 stop words               (paper: >=2 of 8)
    *  - unique-word fraction (TTR) >= 0.5   (paper: duplicate-content caps)
    *  - symbol-to-word ratio <= 0.1 for #/… (paper: 0.1; trivially green
    *    on the all-alpha fixture — kept for rule-surface parity)
    *
    * 100 TB shape: every rule is a narrow per-row expression over the
    * token array (materialized once per doc), so the operator is ONE
    * map-only pass followed by a |sources|-key aggregate that collapses
    * map-side — the text column never shuffles. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text")))
    val t = col("t")
    val en = array(lexicons.toMap.apply("en").map(lit): _*)
    val wc = size(t)
    // sum of word lengths via aggregate (one HOF eval per row)
    val sumLen = aggregate(t, lit(0), (acc, w) => acc + length(w))
    val meanLen = sumLen.cast("double") / wc
    val stops = size(filter(t, w => array_contains(en, w)))
    val ttr = size(array_distinct(t)).cast("double") / wc
    val symbols = size(filter(t, w => w.contains("#") || w.contains("...")))
    val flagged = docs.select(
      col("source"),
      (!(wc >= 25 && wc <= 90)).as("f_wordcount"),
      (!(meanLen >= 3.0 && meanLen <= 5.0)).as("f_meanlen"),
      (stops < 2).as("f_stopwords"),
      (ttr < 0.5).as("f_ttr"),
      (symbols.cast("double") / wc > 0.1).as("f_symbols"))
    flagged.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("f_wordcount").cast("long")).as("fail_wordcount"),
      sum(col("f_meanlen").cast("long")).as("fail_meanlen"),
      sum(col("f_stopwords").cast("long")).as("fail_stopwords"),
      sum(col("f_ttr").cast("long")).as("fail_ttr"),
      sum(col("f_symbols").cast("long")).as("fail_symbols"),
      sum((!col("f_wordcount") && !col("f_meanlen") && !col("f_stopwords") &&
        !col("f_ttr") && !col("f_symbols")).cast("long")).as("pass_all"))
  }

  val gopherRulesSql: String =
    s"""WITH d AS (SELECT source, ${Text.tokensSql()} AS t FROM documents),
       |f AS (SELECT source,
       |    NOT (len(t) BETWEEN 25 AND 90) AS f_wordcount,
       |    NOT (CAST(list_sum(list_transform(t, w -> len(w))) AS DOUBLE) / len(t)
       |         BETWEEN 3.0 AND 5.0) AS f_meanlen,
       |    len(list_filter(t, w -> list_contains(['the','a','of','to','and'], w))) < 2
       |      AS f_stopwords,
       |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) < 0.5 AS f_ttr,
       |    CAST(len(list_filter(t, w -> contains(w, '#') OR contains(w, '...')))
       |         AS DOUBLE) / len(t) > 0.1 AS f_symbols
       |  FROM d)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(f_wordcount AS BIGINT)) AS BIGINT) AS fail_wordcount,
       |  CAST(SUM(CAST(f_meanlen AS BIGINT)) AS BIGINT) AS fail_meanlen,
       |  CAST(SUM(CAST(f_stopwords AS BIGINT)) AS BIGINT) AS fail_stopwords,
       |  CAST(SUM(CAST(f_ttr AS BIGINT)) AS BIGINT) AS fail_ttr,
       |  CAST(SUM(CAST(f_symbols AS BIGINT)) AS BIGINT) AS fail_symbols,
       |  CAST(SUM(CAST(NOT f_wordcount AND NOT f_meanlen AND NOT f_stopwords
       |       AND NOT f_ttr AND NOT f_symbols AS BIGINT)) AS BIGINT) AS pass_all
       |FROM f GROUP BY source""".stripMargin

  // -------------------------------------------------------- char entropy

  /** Character-entropy gibberish gate: Shannon entropy (bits/char) of the
    * normalized-text character distribution per document. Natural prose
    * sits near 4.0–4.5 bits/char; repeated-character junk ("aaaa…",
    * padding artifacts) falls far below, and random-byte soup (binary
    * mis-decodes, base64 blobs) climbs above — the cheap first-mile
    * encoding-junk detector a crawl pipeline runs before any tokenizer.
    *
    * Scale shape: ZERO shuffles — the per-char counts are computed inside
    * the row with array functions (`transform(array_distinct(cs), c ->
    * size(filter(cs, =c)))`, O(distinct×len) with distinct ≈ alphabet
    * size), and the entropy fold is a per-row `aggregate`. The text never
    * leaves its input partition; at 100 TB this is a pure map pass that
    * pipelines with the scan.
    *
    * Cross-engine determinism: counts are exact integers; each term
    * `cnt·log2(cnt)` goes through DECIMAL(28,12) before summation (the
    * file-wide invariant — DuckDB's group-sum order vs Spark's array
    * order cannot move the sum), one round(…,6) at the end, and the
    * gibberish flag thresholds on the ROUNDED value so both engines
    * compare the same 6-dp number. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Text.norm(col("text")).as("norm"))
      .withColumn("cs", split(col("norm"), ""))
    val n = length(col("norm"))
    // Per-char histogram as ONE sorted run-length fold (O(L log L) sort +
    // O(L) pass), not a filter scan per distinct character (O(d·L) — the
    // first cut; measured ~5x slower on the long-document adversarial
    // corpora, where d·L per-row work dominated the whole map pass). The
    // accumulator carries (prev char, current run, Σ run·log2(run) as
    // DECIMAL, distinct-so-far); the finish lambda folds in the last run.
    val fold = expr(
      s"""aggregate(
         |  array_sort(cs),
         |  named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT),
         |               's', CAST(0 AS DECIMAL(28,12)), 'd', CAST(0 AS BIGINT)),
         |  (acc, c) -> IF(acc.run > 0 AND c = acc.prev,
         |    named_struct('prev', c, 'run', acc.run + 1L, 's', acc.s, 'd', acc.d),
         |    named_struct('prev', c, 'run', 1L,
         |      's', CAST(acc.s + IF(acc.run > 0,
         |             CAST(CAST(acc.run AS DOUBLE) * log2(CAST(acc.run AS DOUBLE)) AS DECIMAL(28,12)),
         |             CAST(0 AS DECIMAL(28,12))) AS DECIMAL(28,12)),
         |      'd', acc.d + 1L)),
         |  acc -> named_struct(
         |    's', CAST(acc.s + IF(acc.run > 0,
         |           CAST(CAST(acc.run AS DOUBLE) * log2(CAST(acc.run AS DOUBLE)) AS DECIMAL(28,12)),
         |           CAST(0 AS DECIMAL(28,12))) AS DECIMAL(28,12)),
         |    'd', acc.d))""".stripMargin)
    val ent = round(
      log2(n.cast("double")) - col("f.s").cast("double") / n.cast("double"), 6)
    docs
      .withColumn("f", fold)
      .withColumn("n_chars_norm", n.cast("long"))
      .withColumn("n_distinct_chars",
        when(n > 0, col("f.d")).otherwise(lit(0L)))
      .withColumn("entropy", when(n > 0, ent))
      .withColumn("is_gibberish",
        when(n > 0, col("entropy") < 2.5 || col("entropy") > 5.3))
      .select("doc_id", "n_chars_norm", "n_distinct_chars", "entropy", "is_gibberish")
  }

  val charEntropySql: String =
    s"""WITH nm AS (SELECT doc_id, ${Text.normSql()} AS norm FROM documents),
       |ch AS (SELECT doc_id, substr(norm, CAST(i AS INT), 1) AS c
       |       FROM nm, unnest(range(1, len(norm) + 1)) AS r(i)),
       |cc AS (SELECT doc_id, c, COUNT(*) AS n_c FROM ch GROUP BY doc_id, c),
       |e AS (SELECT doc_id,
       |        CAST(SUM(n_c) AS BIGINT) AS n,
       |        COUNT(*) AS n_distinct,
       |        round(log2(CAST(CAST(SUM(n_c) AS BIGINT) AS DOUBLE))
       |              - CAST(SUM(CAST(CAST(n_c AS DOUBLE) * log2(CAST(n_c AS DOUBLE))
       |                              AS DECIMAL(28,12))) AS DOUBLE)
       |                / CAST(CAST(SUM(n_c) AS BIGINT) AS DOUBLE), 6) AS entropy
       |      FROM cc GROUP BY doc_id)
       |SELECT nm.doc_id,
       |  COALESCE(e.n, 0) AS n_chars_norm,
       |  COALESCE(e.n_distinct, 0) AS n_distinct_chars,
       |  e.entropy AS entropy,
       |  CASE WHEN e.entropy IS NULL THEN NULL
       |       ELSE e.entropy < 2.5 OR e.entropy > 5.3 END AS is_gibberish
       |FROM nm LEFT JOIN e ON nm.doc_id = e.doc_id""".stripMargin

  // ------------------------------------------------------- CCNet buckets

  /** CCNet-style perplexity-tercile bucketing (Wenzek et al. 2020 §4.3,
    * "CCNet: Extracting high quality monolingual datasets from web crawl
    * data"): score every document with the unigram-LM average token
    * log-probability ([[unigramLm]]'s signal — the catalog's analog of
    * CCNet's KenLM perplexity) and split EACH LANGUAGE into
    * head / middle / tail terciles — the dataset partition CCNet
    * releases, and the mixture knob ("train on head+middle") LLM data
    * recipes actually turn.
    *
    * Scale shape: the LM scoring is [[unigramLm]]'s TF-IDF-join family
    * (per-doc tf collapse, Zipf-bounded vocab agg, one broadcast scalar
    * row) with `lang` carried through the per-doc keys so no extra
    * corpus-sized join is needed. The tercile assignment is one ntile
    * window per language over the |docs|-row score frame — the CCNet
    * offline construction itself; at 100 TB this is a per-lang
    * range-partitioned sort of doc-level rows (NOT the token stream),
    * and a pipeline that only needs the head/tail CUT POINTS can swap
    * the window for an approx-quantile sketch without touching the
    * scoring half. Deterministic: the window orders by (avg_lp DESC,
    * doc_id) — unique tiebreak key, the catalog's window rule. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text")))
    val tok = docs.select(col("doc_id"), col("lang"), explode(Text.tokens(col("text"))).as("w"))
    val tf = tok.groupBy(col("doc_id"), col("lang"), col("w")).agg(count(lit(1)).as("tf"))
    val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = docs.agg(sum(size(col("t")).cast("long")).cast("double").as("tot"))
    val scored = tf.join(uni, "w").join(broadcast(tot))
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        sum((col("tf").cast("double") *
          log(col("c").cast("double") / col("tot")))
          .cast("decimal(28,12)")).cast("double").as("slp"),
        sum(col("tf")).cast("long").as("n_toks"))
      .select(col("doc_id"), col("lang"),
        round(col("slp") / col("n_toks").cast("double"), 6).as("avg_lp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("avg_lp").desc, col("doc_id"))
    scored
      .withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("avg_lp"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  val ccnetBucketsSql: String =
    s"""WITH d AS (SELECT doc_id, lang, ${Text.tokensSql()} AS t FROM documents),
       |tok AS (SELECT doc_id, lang, unnest(t) AS w FROM d),
       |tf AS (SELECT doc_id, lang, w, count(*) AS tf FROM tok GROUP BY doc_id, lang, w),
       |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
       |tot AS (SELECT CAST(CAST(SUM(len(t)) AS BIGINT) AS DOUBLE) AS tot FROM d),
       |sc AS (SELECT doc_id, lang,
       |    round(CAST(SUM(CAST(CAST(tf AS DOUBLE) * ln(CAST(c AS DOUBLE) / tot)
       |                        AS DECIMAL(28,12))) AS DOUBLE)
       |          / CAST(SUM(tf) AS BIGINT), 6) AS avg_lp
       |  FROM tf JOIN uni USING (w), tot
       |  GROUP BY doc_id, lang),
       |nt AS (SELECT doc_id, lang, avg_lp,
       |    ntile(3) OVER (PARTITION BY lang ORDER BY avg_lp DESC, doc_id) AS tercile
       |  FROM sc)
       |SELECT doc_id, lang, avg_lp,
       |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM nt""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("llm_ccnet_buckets", ccnetBuckets, ccnetBucketsSql),
    Entry("txt_char_entropy", charEntropy, charEntropySql),
    Entry("txt_search_topk", searchTopk, searchTopkSql),
    Entry("txt_search_bm25", searchBm25, searchBm25Sql),
    Entry("txt_search_bm25_fields", searchBm25Fields, searchBm25FieldsSql),
    Entry("txt_search_hits", searchHitsTopk, searchHitsTopkSql),
    Entry("txt_unigram_lm", unigramLm, unigramLmSql),
    Entry("llm_perplexity_filter", perplexityFilter, perplexityFilterSql),
    Entry("txt_keyword_topk", keywordTopk, keywordTopkSql),
    Entry("txt_heavy_hitters", heavyHitters, heavyHittersSql),
    Entry("txt_lang_id", langId, langIdSql),
    Entry("txt_quality", quality, qualitySql),
    Entry("txt_gopher_rules", gopherRules, gopherRulesSql),
    Entry("txt_token_stats", tokenStats, tokenStatsSql),
    Entry("txt_bpe_stats", bpeTokenStats, bpeStatsSql),
    Entry("txt_bpe_fertility", bpeFertility, bpeFertilitySql),
    Entry("txt_vocab_topk", vocabTopk, vocabTopkSql),
    Entry("txt_fingerprint", fingerprint, fingerprintSql),
    Entry("txt_scrub", scrub, scrubSql))
}
