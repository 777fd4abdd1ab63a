package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PII detection + redaction — the curation stage every public
  * LLM-pipeline runs before training (emails, phone numbers, IP
  * addresses → typed placeholder markers) and the one the curation
  * family lacked. Reference position: the crawled news/tweet text the
  * reference indexes verbatim (crawl_tweets.py:71-84 stores raw tweet
  * content) is exactly the surface such a scrub would run on.
  *
  * All codegen builtins — `regexp_count` to detect, chained
  * `regexp_replace` to redact — one narrow map pass over the corpus, no
  * shuffle until the final small per-class aggregation. At 100 TB this
  * is embarrassingly parallel scan work; the regex set is a constant.
  *
  * The patterns are deliberately DIALECT-PORTABLE (same leftmost-greedy
  * match under Java regex and DuckDB's RE2: character classes, bounded
  * quantifiers, `\b`, no ambiguous alternation), so the DuckDB oracle
  * replays the identical scrub and the redacted corpus is hash-checked,
  * not just the counts.
  *
  * The synthetic fixture contains no natural PII, so the correctness
  * query INJECTS deterministic PII derived from doc_id (the r12
  * de-vacuation rule: a scrub that provably matched nothing would
  * "pass" broken) — identically on both engines; the scrub itself never
  * sees the class label.
  */
object Pii {

  /** Email: local@domain.tld (2+ letter TLD). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone: international-prefix digit runs with -/space/dot separators,
    * 7-14 digits total after the lead — anchored on word boundaries so
    * bare long numbers (ids, years) don't trip it. */
  val PhoneRe = "\\+\\d{1,3}[- .]\\d{3}[- .]\\d{3,4}(?:[- .]\\d{1,4})?\\b"

  /** IPv4 dotted quad on word boundaries. */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Detect + redact `textCol`: appends match counts per class and the
    * redacted text (email → phone → ip replacement order, fixed
    * markers). Pure column transforms — reusable on any corpus
    * DataFrame. */
  def scrub(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df
      .withColumn("n_email", regexp_count(t, lit(EmailRe)))
      .withColumn("n_phone", regexp_count(t, lit(PhoneRe)))
      .withColumn("n_ip", regexp_count(t, lit(Ipv4Re)))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]"),
          Ipv4Re, "[IP]"))
  }

  /** The deterministic PII injection both engines replay: class by
    * doc_id mod 4, payload digits from the id. Exposed for the
    * composite clean pipeline ([[TextClean.cleanPipeline]]). */
  private[queries] def injectPii(id: Column, text: Column): Column = {
    val cls: Column = id % 4
    when(cls === 0, concat(text, lit(" contact user"),
        id, lit("@example.com now")))
      .when(cls === 1, concat(text, lit(" call +1-555-"),
        lpad((id % 10000).cast("string"), 4, "0"), lit(" now")))
      .when(cls === 2, concat(text, lit(" from 10."),
        (id % 256).cast("string"), lit("."),
        (id % 100).cast("string"), lit(".7 now")))
      .otherwise(text)
  }

  /** DuckDB mirror of [[injectPii]]. */
  private[queries] def injectPiiSql(id: String, text: String): String =
    s"""CASE $id % 4
       |      WHEN 0 THEN $text || ' contact user' || $id || '@example.com now'
       |      WHEN 1 THEN $text || ' call +1-555-' || lpad(CAST($id % 10000 AS VARCHAR), 4, '0') || ' now'
       |      WHEN 2 THEN $text || ' from 10.' || ($id % 256) || '.' || ($id % 100) || '.7 now'
       |      ELSE $text END""".stripMargin

  private def augmented(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cls: Column = col("doc_id") % 4
    docs.select(
      col("doc_id"),
      when(cls === 0, lit("email")).when(cls === 1, lit("phone"))
        .when(cls === 2, lit("ip")).otherwise(lit("clean")).as("pii_class"),
      injectPii(col("doc_id"), col("text")).as("text"))
  }

  /** llm_pii_scrub: inject → scrub → per-class audit. Redaction is
    * length-checked (markers are fixed-width, matches variable-width, so
    * a wrong-span redaction moves the length sum) on top of the exact
    * per-class match counts. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    scrub(augmented(spark, dir), "text")
      .groupBy(col("pii_class"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_email")).as("sum_email"),
        sum(col("n_phone")).as("sum_phone"),
        sum(col("n_ip")).as("sum_ip"),
        sum(length(col("text"))).as("sum_len_before"),
        sum(length(col("redacted"))).as("sum_len_after"))

  val piiScrubSql: String =
    """WITH aug AS (SELECT doc_id,
      |    CASE doc_id % 4 WHEN 0 THEN 'email' WHEN 1 THEN 'phone'
      |      WHEN 2 THEN 'ip' ELSE 'clean' END AS pii_class,
      |    CASE doc_id % 4
      |      WHEN 0 THEN text || ' contact user' || doc_id || '@example.com now'
      |      WHEN 1 THEN text || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
      |      WHEN 2 THEN text || ' from 10.' || (doc_id % 256) || '.' || (doc_id % 100) || '.7 now'
      |      ELSE text END AS text
      |  FROM documents),
      |s AS (SELECT pii_class, text,
      |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |    len(regexp_extract_all(text, '\+\d{1,3}[- .]\d{3}[- .]\d{3,4}(?:[- .]\d{1,4})?\b')) AS n_phone,
      |    len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |      '\+\d{1,3}[- .]\d{3}[- .]\d{3,4}(?:[- .]\d{1,4})?\b', '[PHONE]', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
      |  FROM aug)
      |SELECT pii_class, COUNT(*) AS n_docs,
      |  CAST(SUM(n_email) AS BIGINT) AS sum_email,
      |  CAST(SUM(n_phone) AS BIGINT) AS sum_phone,
      |  CAST(SUM(n_ip) AS BIGINT) AS sum_ip,
      |  CAST(SUM(len(text)) AS BIGINT) AS sum_len_before,
      |  CAST(SUM(len(redacted)) AS BIGINT) AS sum_len_after
      |FROM s GROUP BY pii_class""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("llm_pii_scrub", piiScrub, piiScrubSql))
}
