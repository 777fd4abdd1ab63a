package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Markup stripping — the cleaning stage between "crawled HTML" and
  * "training text" (the trafilatura/justext role, reduced to its
  * deterministic core): drop script/style blocks WITH their contents,
  * strip remaining tags, decode the common entities, collapse the
  * whitespace the removals leave behind. Reference position: the news
  * crawler lands `desc` fields that upstream sources deliver as HTML
  * fragments (crawl_google_news.py stores them verbatim).
  *
  * Same execution shape as [[Pii]]: chained `regexp_replace` builtins,
  * one narrow map pass, zero shuffle before the audit aggregation —
  * pure scan work at 100 TB. Patterns are dialect-portable (non-greedy
  * `.*?` via `[^<]*` / explicit end-tag alternatives are avoided;
  * lazy quantifiers behave identically in Java regex and RE2 for these
  * shapes) and the DuckDB oracle replays the identical chain.
  *
  * The fixture is plain prose, so the correctness query WRAPS docs in
  * deterministic markup by doc_id class first (the [[Pii]] injection
  * move) — the strip provably undoes it back to the original text,
  * which is the strongest possible oracle: `sum_len_after` must equal
  * the clean corpus exactly.
  */
object TextClean {

  /** script/style elements, contents included ((?s) makes `.` span
    * newlines; `.*?` lazy so sibling blocks don't merge). */
  val BlockRe = "(?s)<(script|style)[^>]*>.*?</(script|style)>"

  /** Any remaining tag (open/close/self-closing/comment-free). */
  val TagRe = "<[^>]+>"

  /** Decode order matters: `&amp;` LAST, so `&amp;lt;` decodes to
    * `&lt;` (one level, the standard single-pass behavior). */
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Strip markup from `textCol`: blocks → tags → entities → whitespace
    * collapse + trim. Pure column transforms, reusable on any corpus. */
  def stripHtml(c: Column): Column = {
    val noBlocks = regexp_replace(c, BlockRe, " ")
    val noTags = regexp_replace(noBlocks, TagRe, " ")
    val decoded = Entities.foldLeft(noTags) { case (acc, (from, to)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(from), to)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** The deterministic markup wrapping both engines replay (class by
    * doc_id mod 3). Exposed for [[cleanPipeline]]. */
  private[queries] def wrapHtml(id: Column, text: Column): Column = {
    val cls = id % 3
    when(cls === 0, concat(
      lit("<html><body><p class=\"lead\">"), text,
      lit("</p><script type=\"text/javascript\">var x = 1 &amp;&amp; 2;</script></body></html>")))
      .when(cls === 1, concat(
        lit("<div>"), text,
        lit(" &lt;tagged&gt; &amp; entity-laden</div><style>p { color: red }</style>")))
      .otherwise(text)
  }

  /** DuckDB mirror of [[wrapHtml]]. */
  private[queries] def wrapHtmlSql(id: String, text: String): String =
    s"""CASE $id % 3
       |      WHEN 0 THEN '<html><body><p class="lead">' || $text ||
       |        '</p><script type="text/javascript">var x = 1 &amp;&amp; 2;</script></body></html>'
       |      WHEN 1 THEN '<div>' || $text ||
       |        ' &lt;tagged&gt; &amp; entity-laden</div><style>p { color: red }</style>'
       |      ELSE $text END""".stripMargin

  /** The strip chain as DuckDB SQL, column-parameterized. */
  private[queries] def stripHtmlSql(c: String): String = {
    val noBlocks = s"regexp_replace($c, '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g')"
    val noTags = s"regexp_replace($noBlocks, '<[^>]+>', ' ', 'g')"
    val decoded = Seq(
      ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
      ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&"))
      .foldLeft(noTags) { case (acc, (from, to)) =>
        s"replace($acc, '$from', '$to')"
      }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** llm_html_strip: wrap docs in markup by class, strip, audit. The
    * round-trip invariant IS the oracle: stripped text must equal the
    * original (normalized), so `len_after` matches the clean corpus
    * and `tags_removed` the injection arithmetic. */
  def htmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cls = col("doc_id") % 3
    val wrapped = wrapHtml(col("doc_id"), col("text"))
    docs
      .select(col("doc_id"), cls.cast("int").as("cls"),
        col("text"), wrapped.as("html"))
      .withColumn("stripped", stripHtml(col("html")))
      .groupBy(col("cls"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("html"))).as("sum_len_html"),
        sum(length(col("stripped"))).as("sum_len_after"),
        // the round-trip check: stripping class-0 markup must restore
        // the EXACT original text; class-1 keeps its decoded suffix
        sum(when(col("stripped") === trim(regexp_replace(col("text"), "\\s+", " ")),
          1L).otherwise(0L)).as("n_roundtrip"))
  }

  val htmlStripSql: String =
    s"""WITH w AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS cls, text,
       |    ${wrapHtmlSql("doc_id", "text")} AS html
       |  FROM documents),
       |s AS (SELECT cls, text, html, ${stripHtmlSql("html")} AS stripped FROM w)
       |SELECT cls, COUNT(*) AS n_docs,
       |  CAST(SUM(len(html)) AS BIGINT) AS sum_len_html,
       |  CAST(SUM(len(stripped)) AS BIGINT) AS sum_len_after,
       |  CAST(SUM(CASE WHEN stripped = trim(regexp_replace(text, '\\s+', ' ', 'g'))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip
       |FROM s GROUP BY cls""".stripMargin

  /** llm_clean_pipeline: the full cleaning chain in ONE dataflow —
    * crawled-shape corpus (PII injected into the text, then wrapped in
    * markup) → strip → scrub → paragraph dedup → per-lang audit. Like
    * [[Curation]]'s llm_curation_pipeline, the oracle recomputes the
    * WHOLE chain independently, so rule drift between stages
    * hash-fails even when every component query passes alone. No
    * shuffle beyond the paragraph election (the chain's only keyed
    * stage); everything upstream is the same narrow scan work as the
    * component queries. */
  def cleanPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val crawled = docs.select(
      col("doc_id"), col("lang"),
      wrapHtml(col("doc_id"),
        Pii.injectPii(col("doc_id"), col("text"))).as("html"))
    val cleaned = Pii.scrub(
      crawled.withColumn("text", stripHtml(col("html"))), "text")
    val audit = LlmDedup.paragraphAudit(
      cleaned.select(col("doc_id"), col("redacted").as("text")))
    cleaned.select(col("doc_id"), col("lang"),
        (col("n_email") + col("n_phone") + col("n_ip")).as("n_pii"))
      .join(audit, "doc_id")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_pii")).as("sum_pii"),
        sum(col("n_paras")).as("sum_paras"),
        sum(col("n_kept")).as("sum_kept"),
        sum(col("kept_chars")).as("sum_kept_chars"))
  }

  val cleanPipelineSql: String = {
    val P = LlmDedup.ParaTokens
    s"""WITH crawled AS (SELECT doc_id, lang,
       |    ${wrapHtmlSql("doc_id", s"(${Pii.injectPiiSql("doc_id", "text")})")} AS html
       |  FROM documents),
       |cleaned AS (SELECT doc_id, lang, ${stripHtmlSql("html")} AS text FROM crawled),
       |scrubbed AS (SELECT doc_id, lang,
       |    len(regexp_extract_all(text, '${Pii.EmailRe}'))
       |      + len(regexp_extract_all(text, '${Pii.PhoneRe}'))
       |      + len(regexp_extract_all(text, '${Pii.Ipv4Re}')) AS n_pii,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '${Pii.EmailRe}', '[EMAIL]', 'g'),
       |      '${Pii.PhoneRe}', '[PHONE]', 'g'),
       |      '${Pii.Ipv4Re}', '[IP]', 'g') AS redacted
       |  FROM cleaned),
       |toks AS (SELECT doc_id, ${Text.tokensSql("redacted")} AS t
       |         FROM scrubbed),
       |p AS (SELECT doc_id, CAST(i AS INT) AS idx,
       |        array_to_string(t[(CAST(i AS INT)*$P + 1):(CAST(i AS INT)*$P + $P)], ' ') AS para
       |      FROM toks, unnest(range(0, (len(t) + ${P - 1}) // $P)) AS r(i)),
       |h AS (SELECT doc_id, idx, para, md5(para) AS hh FROM p),
       |f AS (SELECT hh, MIN(doc_id * 1000000 + idx) AS first_key FROM h GROUP BY hh),
       |k AS (SELECT h.doc_id,
       |        COUNT(*) AS n_paras,
       |        SUM(CASE WHEN h.doc_id * 1000000 + h.idx = f.first_key THEN 1 ELSE 0 END) AS n_kept,
       |        SUM(CASE WHEN h.doc_id * 1000000 + h.idx = f.first_key THEN len(h.para) ELSE 0 END) AS kept_chars
       |      FROM h JOIN f ON h.hh = f.hh GROUP BY h.doc_id)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_pii) AS BIGINT) AS sum_pii,
       |  CAST(SUM(n_paras) AS BIGINT) AS sum_paras,
       |  CAST(SUM(n_kept) AS BIGINT) AS sum_kept,
       |  CAST(SUM(kept_chars) AS BIGINT) AS sum_kept_chars
       |FROM scrubbed JOIN k USING (doc_id) GROUP BY lang""".stripMargin
  }

  // --------------------------------------------- boilerplate line scrub

  /** A paragraph is boilerplate when it appears in at least this many
    * DISTINCT documents of the same source — the RefinedWeb/CCNet
    * "repeated across the domain" rule (nav bars, cookie banners,
    * footers). Fixture-validated non-vacuous at all three SFs. */
  val BoilerplateDocs = 2

  /** Boilerplate-line removal — the cleaning-family counterpart of
    * [[LlmDedup.paragraphDedup]]: where para-dedup ELECTS one survivor
    * per duplicate paragraph corpus-wide, line-scrub REWRITES every
    * document, deleting paragraphs repeated across ≥[[BoilerplateDocs]]
    * distinct docs of the same source while preserving the order of
    * what survives (checked through `cleaned_md5`, an order-sensitive
    * digest of the rebuilt text).
    *
    * Scale design: detection aggregates (source, para-hash, doc)
    * DISTINCT rows — paragraphs collapse map-side before the shuffle,
    * and the doc-count agg reuses the same partitioning. The rewrite is
    * MAP-ONLY: per-source boilerplate hash sets are broadcast and each
    * doc filters its own paragraph array in place — the corpus text
    * never shuffles. (If a corpus's boilerplate sets outgrow broadcast,
    * the fallback is the keyed-join shape the detection side already
    * uses: explode + left join on (source, hash) + rebuild.) */
  def lineScrub(spark: SparkSession, dir: String): DataFrame =
    lineScrubAudit(Tables.load(spark, dir, "documents"))

  def lineScrubAudit(docs: DataFrame): DataFrame = {
    val P = LlmDedup.ParaTokens
    val parasExpr = expr(
      s"transform(sequence(0, (size(t) + ${P - 1}) div $P - 1), " +
        s"i -> concat_ws(' ', slice(t, i*$P + 1, $P)))")
    val withParas = docs
      .select(col("doc_id"), col("source"),
        Text.tokens(col("text")).as("t"))
      .withColumn("paras", parasExpr)
    val boilerSets = withParas
      // explode the EXPRESSION, not the aliased column:
      // InferFiltersFromGenerate skips complex generator children but
      // fires on attributes, and pushdown would inline the whole
      // paragraph build into a non-codegen pre-Generate Filter (the
      // r13 explode-alias trap — PlanInvariantSpec caught this query's
      // first cut doing exactly that)
      .select(col("source"), col("doc_id"), explode(parasExpr).as("para"))
      .select(col("source"), md5(col("para")).as("h"), col("doc_id"))
      .distinct()
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= BoilerplateDocs)
      .groupBy(col("source"))
      .agg(collect_set(col("h")).as("bad"))
    withParas.join(broadcast(boilerSets), Seq("source"), "left")
      .withColumn("bad", coalesce(col("bad"), typedLit(Seq.empty[String])))
      .withColumn("kept",
        filter(col("paras"), p => !array_contains(col("bad"), md5(p))))
      .withColumn("cleaned", concat_ws(" ", col("kept")))
      .select(
        col("doc_id"),
        size(col("paras")).cast("long").as("n_paras"),
        (size(col("paras")) - size(col("kept"))).cast("long").as("n_removed"),
        length(col("cleaned")).cast("long").as("cleaned_chars"),
        md5(col("cleaned")).as("cleaned_md5"))
  }

  val lineScrubSql: String = {
    val P = LlmDedup.ParaTokens
    s"""WITH toks AS (SELECT doc_id, source,
       |    ${Text.tokensSql()} AS t FROM documents),
       |p AS (SELECT doc_id, source, CAST(i AS INT) AS idx,
       |        array_to_string(t[(CAST(i AS INT)*$P + 1):(CAST(i AS INT)*$P + $P)], ' ') AS para
       |      FROM toks, unnest(range(0, (len(t) + ${P - 1}) // $P)) AS r(i)),
       |c AS (SELECT source, md5(para) AS hh FROM p
       |      GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) >= $BoilerplateDocs),
       |k AS (SELECT p.doc_id, p.idx, p.para, (c.hh IS NOT NULL) AS bp
       |      FROM p LEFT JOIN c ON p.source = c.source AND md5(p.para) = c.hh)
       |SELECT doc_id, COUNT(*) AS n_paras,
       |  CAST(SUM(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(len(coalesce(array_to_string(list(para ORDER BY idx) FILTER (WHERE NOT bp), ' '), '')) AS BIGINT) AS cleaned_chars,
       |  md5(coalesce(array_to_string(list(para ORDER BY idx) FILTER (WHERE NOT bp), ' '), '')) AS cleaned_md5
       |FROM k GROUP BY doc_id""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("llm_html_strip", htmlStrip, htmlStripSql),
    Entry("llm_clean_pipeline", cleanPipeline, cleanPipelineSql),
    Entry("llm_line_scrub", lineScrub, lineScrubSql))
}
