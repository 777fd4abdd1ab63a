package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables

/** Positional-index text surface: the three Elasticsearch text shapes
  * beyond bag-of-words relevance (which the catalog already covers as
  * txt_search_bm25/_fields/_hits) —
  *
  *  - `match_phrase` (ES positional phrase query, the quoted-search box
  *    in the reference's news UI, SearchUI.js:6-33);
  *  - `significant_terms` (ES's foreground-vs-background term contrast
  *    agg — "what words characterize this slice");
  *  - collocation mining (PMI-style association scoring over adjacent
  *    token pairs — the classic corpus-analysis companion of the two).
  *
  * All three tokenize through [[Text.tokens]], so every text operator
  * in the catalog agrees on what a token is, and every score
  * is a pinned single-division over exact integer counts, so the DuckDB
  * hash can never drift on float fold order.
  */
object TextIndex {

  /** 1-based positional postings (doc_id, pos, w) — the inverted-index
    * shape. Built by scan + posexplode: no shuffle; the phrase join
    * below is the only exchange. */
  private def postings(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("pos0", "w")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("w"))
  }

  private val oraclePostings: String =
    s"""SELECT doc_id,
       |    unnest(${Text.tokensSql()}) AS w,
       |    CAST(generate_subscripts(${Text.tokensSql()}, 1) AS BIGINT) AS pos
       |  FROM documents""".stripMargin

  // ------------------------------------------------------ match_phrase

  /** The catalog's fixed demo phrase — chosen to occur at every test SF
    * (1 doc at sf0.001, 7 at sf0.01, 10 at sf0.1) so the query is
    * non-vacuous wherever the gate runs it. */
  val Phrase: Seq[String] = Seq("part", "filter", "scan")

  /** ES `match_phrase`: docs containing the exact consecutive token
    * sequence, with match count and first position. Plan: per-term
    * postings are FILTERED before any join (the selective-first rule of
    * positional indexes), each leg's position is shifted so a phrase
    * occurrence aligns on equal (doc_id, pos), and the k legs meet on a
    * keyed equi-join. At 100 TB all k legs hash-partition on the SAME
    * (doc_id, pos) key, so AQE plans one exchange per leg and the
    * intersections co-locate; nothing is ever pairwise across docs.
    * The DuckDB oracle replays the same algebra over
    * generate_subscripts postings. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val p = postings(Tables.load(spark, dir, "documents"))
    val legs = Phrase.zipWithIndex.map { case (term, k) =>
      p.filter(col("w") === term)
        .select(col("doc_id"), (col("pos") - k).as("pos"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "pos")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
  }

  val phraseSearchSql: String = {
    val legs = Phrase.zipWithIndex.map { case (term, k) =>
      s"l$k AS (SELECT doc_id, pos - $k AS pos FROM p WHERE w = '$term')"
    }.mkString(",\n")
    val joins = (1 until Phrase.size)
      .map(k => s"JOIN l$k USING (doc_id, pos)").mkString(" ")
    s"""WITH p AS ($oraclePostings),
       |$legs
       |SELECT doc_id, COUNT(*) AS n_matches, MIN(pos) AS first_pos
       |FROM l0 $joins
       |GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------ significant_terms

  /** ES `significant_terms`: terms over-represented in a foreground
    * slice (lang = 'de') vs the whole corpus, scored by document-
    * frequency lift. Counts are DISTINCT-doc frequencies (ES counts
    * docs, not occurrences); the two corpus totals ride along as one
    * broadcast row; lift = (fg_df * bg_total) / (bg_df * fg_total) as
    * exact long products into one pinned division. Top 15 with the
    * (lift, term) total order, so the limit is deterministic. */
  def significantTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val docTerms = docs
      .select(col("doc_id"), col("lang"), explode(Text.tokens(col("text"))).as("w"))
      .distinct()
    val perTerm = docTerms.groupBy(col("w")).agg(
      count(when(col("lang") === "de", 1)).as("fg_df"),
      count(lit(1)).as("bg_df"))
    val totals = docs.agg(
      count(when(col("lang") === "de", 1)).as("fg_n"),
      count(lit(1)).as("bg_n"))
    perTerm.crossJoin(broadcast(totals))
      .filter(col("fg_df") >= 3)
      .select(
        col("w"), col("fg_df"), col("bg_df"),
        ((col("fg_df") * col("bg_n")).cast("double") /
          (col("bg_df") * col("fg_n")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("w"))
      .limit(15)
  }

  val significantTermsSql: String =
    s"""WITH n AS (SELECT doc_id, lang,
       |    ${Text.tokensSql()} AS a
       |  FROM documents),
       |dt AS (SELECT DISTINCT doc_id, lang, unnest(a) AS w FROM n),
       |per AS (SELECT w, COUNT(*) FILTER (lang = 'de') AS fg_df, COUNT(*) AS bg_df
       |  FROM dt GROUP BY 1),
       |t AS (SELECT COUNT(*) FILTER (lang = 'de') AS fg_n, COUNT(*) AS bg_n
       |  FROM documents)
       |SELECT w, fg_df, bg_df,
       |  CAST(fg_df * bg_n AS DOUBLE) / CAST(bg_df * fg_n AS DOUBLE) AS lift
       |FROM per, t
       |WHERE fg_df >= 3
       |ORDER BY lift DESC, w
       |LIMIT 15""".stripMargin

  // -------------------------------------------------- collocations

  /** PMI-style collocation mining: adjacent token pairs scored by
    * association lift n(ab)*N / (n(a)*n(b)) — log-free so the score is
    * two exact-double products into one division (PMI = log(lift) is
    * monotone in it; dropping the log removes the only cross-engine
    * transcendental). The Spark side derives bigrams WITHOUT a self-join
    * — zip_with over two array slices inside the scan projection, so
    * the only exchanges are the two counting groupBys; the DuckDB
    * oracle instead self-joins positional postings on pos+1, making the
    * check a genuine two-implementation cross-validation, not a mirror.
    * Unigram joins key on the words themselves; at gate SF AQE
    * broadcasts the ~vocab-size sides, at 100 TB they degrade to keyed
    * joins that stay O(vocab), never O(corpus). */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    def toks = Text.tokens(col("text"))
    // Every consumer explodes/aggregates the tokenizer EXPRESSION
    // directly — never an aliased array column. Aliasing lets
    // InferFiltersFromGenerate + pushdown inline the split into a
    // non-codegen pre-Generate Filter (the explode-alias trap,
    // PLANS.md r13; PlanInvariantSpec guards the whole catalog).
    val pairs = docs
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val uni = docs.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val nTotal = docs
      .agg(sum(size(toks)).cast("long").as("n_tokens"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    bi.filter(col("n_ab") >= 5)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(nTotal))
      .select(
        col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("n_tokens").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val collocationsSql: String =
    s"""WITH p AS ($oraclePostings),
       |bi AS (SELECT x.w AS w1, y.w AS w2
       |  FROM p x JOIN p y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1),
       |bc AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bi GROUP BY 1, 2),
       |uni AS (SELECT w, COUNT(*) AS n_w FROM p GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n_tokens FROM p)
       |SELECT w1, w2, n_ab, a.n_w AS n_a, b.n_w AS n_b,
       |  (CAST(n_ab AS DOUBLE) * CAST(n_tokens AS DOUBLE)) /
       |  (CAST(a.n_w AS DOUBLE) * CAST(b.n_w AS DOUBLE)) AS lift
       |FROM bc
       |JOIN uni a ON bc.w1 = a.w
       |JOIN uni b ON bc.w2 = b.w
       |CROSS JOIN t
       |WHERE n_ab >= 5
       |ORDER BY lift DESC, w1, w2
       |LIMIT 20""".stripMargin

  // ------------------------------------------------------ fuzzy match

  /** The catalog's fixed fuzzy query — off-vocabulary, with two terms
    * at edit distance 1 ("slow", "row") at every SF. */
  val FuzzyQuery: String = "sow"

  /** ES `fuzziness: 1` term matching, resolved SymSpell-style: both the
    * query and every vocabulary term expand to {self} ∪ {1-deletions},
    * candidates are pairs with a SHARED key (complete for Levenshtein
    * ≤ 1: substitution → shared deletion, insert/delete → one side's
    * deletion equals the other), then a levenshtein(term, query) ≤ 1
    * confirm drops the false candidates the key overlap admits (e.g.
    * transpositions are distance 2). The point at 100 TB: the
    * vocabulary is scanned by a KEYED join against |query|·(len+1)
    * broadcast keys — never a levenshtein against every term — and the
    * exact filter runs only on the ~few candidates. The DuckDB oracle
    * is the naive full-vocabulary levenshtein scan: a genuinely
    * different algorithm, so the completeness claim is what the hash
    * checks. Output: matched term, its distance, document frequency. */
  /** Vocabulary (w, df) of any corpus: distinct (key, token) pairs
    * folded to per-term document frequency — the shared spine of the
    * suggest/fuzzy/significant-terms family, and what the
    * `vocab_index` flow materializes to the lake so serving doesn't
    * re-scan the corpus per request. */
  def vocabOf(corpus: DataFrame, textCol: String, keyCol: String): DataFrame = {
    corpus.select(col(keyCol).as("k"), explode(Text.tokens(col(textCol))).as("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
  }

  private def docsVocab(spark: SparkSession, dir: String): DataFrame =
    vocabOf(Tables.load(spark, dir, "documents"), "text", "doc_id")

  def fuzzySearch(spark: SparkSession, dir: String): DataFrame =
    fuzzyMatch(spark, dir, FuzzyQuery)

  /** The parameterized form behind [[fuzzySearch]] and Serve's
    * `/suggest?fuzzy=1` — the query string enters the plan only as a
    * literal column, never spliced into SQL text. */
  def fuzzyMatch(spark: SparkSession, dir: String, query: String): DataFrame =
    fuzzyFrom(docsVocab(spark, dir), query)

  /** Fuzzy resolution against an arbitrary (w, df) vocabulary — the
    * materialized-index serving path. */
  def fuzzyFrom(vocab: DataFrame, query: String): DataFrame =
    fuzzyFromAll(vocab, Seq(query)).drop("q")

  /** Multi-query form: ONE deletion-key join resolves every query at
    * once (output carries `q`), so a k-term search costs one pass over
    * the vocabulary index instead of k. */
  def fuzzyFromAll(vocab: DataFrame, queries: Seq[String]): DataFrame = {
    val spark = vocab.sparkSession
    // {term} ∪ 1-deletion neighborhood of column `w`, exploded as a
    // complex EXPRESSION (the explode-alias convention) so the build
    // stays codegen'd and never lands in an inferred Filter.
    val keysExpr =
      "array_union(array(w), transform(sequence(1, length(w)), " +
        "i -> concat(substring(w, 1, i - 1), substring(w, i + 1, length(w)))))"
    val index = vocab.select(col("w"), col("df"),
      explode(expr(keysExpr)).as("k"))
    import spark.implicits._
    val q = queries.distinct.toDF("q")
      .withColumn("w", col("q"))
      .select(col("q"), explode(expr(keysExpr)).as("k"))
      .select(col("q"), col("k")).distinct()
    index.join(broadcast(q), Seq("k"))
      .select(col("w"), col("df"), col("q")).distinct()
      .filter(levenshtein(col("w"), col("q")) <= 1)
      .select(col("q"), col("w").as("term"),
        levenshtein(col("w"), col("q")).cast("long").as("dist"), col("df"))
  }

  val fuzzySearchSql: String =
    s"""WITH n AS (SELECT doc_id,
       |    ${Text.tokensSql()} AS a
       |  FROM documents),
       |v AS (SELECT w, COUNT(*) AS df FROM
       |    (SELECT DISTINCT doc_id, unnest(a) AS w FROM n) GROUP BY 1)
       |SELECT w AS term,
       |  CAST(levenshtein(w, '$FuzzyQuery') AS BIGINT) AS dist, df
       |FROM v WHERE levenshtein(w, '$FuzzyQuery') <= 1""".stripMargin

  // --------------------------------------------------- more-like-this

  /** ES `more_like_this`: rank documents by rare-term overlap with a
    * source document (doc_id 42). Term weights are the integer
    * rational-idf `1e6 div df` — monotone in idf without the
    * cross-engine `ln`, and the per-doc score is an exact long sum, so
    * ranking ties are impossible to drift. Source terms ride as a
    * broadcast (distinct terms of ONE doc); scoring is one keyed join
    * from the doc-term index + one partial-aggregatable sum. Top 10,
    * (score, doc_id) total order. */
  def moreLikeThis(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val docTerms = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("w")).distinct()
    val df = docTerms.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val srcTerms = docTerms.filter(col("doc_id") === 42)
      .select(col("w")).join(df, "w")
      .select(col("w"), expr("1000000L div df").as("weight"))
    docTerms.filter(col("doc_id") =!= 42)
      .join(broadcast(srcTerms), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("weight")).as("score"), count(lit(1)).as("n_shared"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  val moreLikeThisSql: String =
    s"""WITH n AS (SELECT doc_id,
       |    ${Text.tokensSql()} AS a
       |  FROM documents),
       |dt AS (SELECT DISTINCT doc_id, unnest(a) AS w FROM n),
       |f AS (SELECT w, COUNT(*) AS df FROM dt GROUP BY 1),
       |src AS (SELECT dt.w, CAST(1000000 // f.df AS BIGINT) AS weight
       |  FROM dt JOIN f ON dt.w = f.w WHERE dt.doc_id = 42)
       |SELECT dt.doc_id, CAST(SUM(src.weight) AS BIGINT) AS score, COUNT(*) AS n_shared
       |FROM dt JOIN src ON dt.w = src.w
       |WHERE dt.doc_id != 42
       |GROUP BY 1 ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin

  // --------------------------------------------------- autocomplete

  /** ES completion suggester: popularity-ranked prefix completion over
    * the vocabulary ('s%', top 8 by document frequency). The vocab fold
    * is the only exchange; the candidate set is O(vocab), so the
    * suggester stays interactive at any corpus size. */
  def autocomplete(spark: SparkSession, dir: String): DataFrame =
    suggest(spark, dir, "s", 8)

  /** The parameterized form behind [[autocomplete]] and Serve's
    * `/suggest` — prefix matched via the startsWith COLUMN predicate
    * (no pattern splicing, so `%`/`_` in user input stay literal). */
  def suggest(spark: SparkSession, dir: String, prefix: String, limit: Int): DataFrame =
    suggestFrom(docsVocab(spark, dir), prefix, limit)

  /** Prefix completion against an arbitrary (w, df) vocabulary — the
    * materialized-index serving path. */
  def suggestFrom(vocab: DataFrame, prefix: String, limit: Int): DataFrame =
    vocab
      .filter(col("w").startsWith(prefix))
      .orderBy(col("df").desc, col("w").asc)
      .limit(limit)

  /** A `(w, df)` vocabulary held on the driver — one entry per distinct
    * term, the in-memory term dictionary an ES node keeps per index.
    * Terms are sorted in Spark's string order (UTF-8 bytes, as
    * [[UTF8String]] compares them; `String.compareTo` orders UTF-16 code
    * units, which puts a supplementary character below U+E000), so the
    * terms with a given prefix are one contiguous run. [[df]] and
    * [[suggest]] answer with no Spark job. */
  final class Vocabulary(entries: Seq[(String, Long)]) {
    private val sorted: Array[(UTF8String, Long)] = entries
      .map { case (w, df) => (UTF8String.fromString(w), df) }.toArray
      .sortWith((a, b) => a._1.compareTo(b._1) < 0)

    /** The index of the first term >= `u`. */
    private def lowerBound(u: UTF8String): Int = {
      var (lo, hi) = (0, sorted.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid)._1.compareTo(u) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** The number of documents holding `w`, if any does. */
    def df(w: String): Option[Long] = {
      val u = UTF8String.fromString(w)
      val i = lowerBound(u)
      Option.when(i < sorted.length && sorted(i)._1 == u)(sorted(i)._2)
    }

    def contains(w: String): Boolean = df(w).isDefined

    /** [[suggestFrom]]'s rows over this vocabulary, in its order: the
      * run of terms starting with `prefix`, stably sorted by df desc so
      * ties stay in `w` order. */
    def suggest(prefix: String, limit: Int): Seq[(String, Long)] = {
      val p = UTF8String.fromString(prefix)
      sorted.iterator.drop(lowerBound(p)).takeWhile(_._1.startsWith(p)).toSeq
        .sortBy(-_._2).take(limit).map { case (w, df) => (w.toString, df) }
    }

    /** This vocabulary as a `(w, df)` local relation. */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      sorted.toSeq.map { case (w, df) => (w.toString, df) }.toDF("w", "df")
    }
  }

  val autocompleteSql: String =
    s"""WITH n AS (SELECT doc_id,
       |    ${Text.tokensSql()} AS a
       |  FROM documents),
       |dt AS (SELECT DISTINCT doc_id, unnest(a) AS w FROM n)
       |SELECT w, COUNT(*) AS df FROM dt WHERE w LIKE 's%'
       |GROUP BY 1 ORDER BY df DESC, w ASC LIMIT 8""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("txt_phrase_search", phraseSearch, phraseSearchSql),
    Entry("txt_significant_terms", significantTerms, significantTermsSql),
    Entry("txt_collocations", collocations, collocationsSql),
    Entry("txt_fuzzy_search", fuzzySearch, fuzzySearchSql),
    Entry("txt_more_like_this", moreLikeThis, moreLikeThisSql),
    Entry("txt_autocomplete", autocomplete, autocompleteSql))
}
