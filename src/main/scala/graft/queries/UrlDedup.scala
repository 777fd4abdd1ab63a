package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** URL canonicalization dedup — the crawl first mile every web-scale
  * corpus runs BEFORE any content-based dedup (Dolma's URL dedup pass;
  * CCNet dedups per-URL before per-paragraph): the same page arrives
  * under scheme/case/port/`www.`/tracking-param/fragment/trailing-slash
  * variants, and collapsing those is pure string canonicalization — no
  * content comparison at all, which is what makes it ~free at 100 TB
  * relative to MinHash.
  *
  * Canonical form (the standard normalization set):
  *   - scheme dropped (http ≡ https), fragment dropped
  *   - host lowercased, leading `www.` stripped, default ports
  *     (`:80`/`:443`) stripped — PATH CASE IS PRESERVED (paths are
  *     case-sensitive; only the authority is case-folded)
  *   - tracking params removed (`utm_*`, `ref`, `fbclid`, `gclid`),
  *     surviving params SORTED and rejoined — so param order never
  *     splits a group, but a real param (`?a=1`) still separates pages
  *   - trailing slashes stripped from the path
  *
  * The corpus has no URL column (TESTDATA.md), so each doc's URL is
  * SYNTHESIZED deterministically from doc_id — 5 variant classes per
  * family of 5 consecutive ids: clean, SHOUTING-host + trailing slash,
  * bare-host + `:443` + utm noise, `http` + fragment, and a mixed query
  * whose real params must survive (that variant must NOT collapse with
  * its siblings). The same synthesis runs in the DuckDB oracle (the
  * mm_phash convention: synthesized input, REAL operator logic), so the
  * whole canonicalizer — regex splits, case fold, param filter/sort —
  * is hash-verified cross-engine, and the expected group structure
  * (4-member families + 1-member param-surviving singletons) is pinned
  * by UrlDedupSpec.
  *
  * Scale shape: synthesis + canonicalization are map-only builtin string
  * expressions (codegen, no UDF); the only shuffle is the group
  * collapse, keyed on xxhash64(canon) — the dedup family's
  * strings-never-shuffle rule — with the canonical string carried
  * through `min` (all group members share it by construction; 64-bit
  * collision odds ~n²/2⁶⁵, the hashedShingles convention). Map-side
  * partial aggregation collapses variants before the exchange.
  */
object UrlDedup {

  /** Synthesized raw URL (Spark SQL expression over doc_id). */
  private val urlSql: String = {
    val base = "CAST(doc_id div 5 AS STRING)"
    val h = "CAST(pmod(doc_id div 5, 40) AS STRING)"
    s"""CASE CAST(pmod(doc_id, 5) AS INT)
       |  WHEN 0 THEN concat('https://www.host', $h, '.example/articles/item-', $base)
       |  WHEN 1 THEN concat('HTTPS://WWW.HOST', $h, '.EXAMPLE/articles/item-', $base, '/')
       |  WHEN 2 THEN concat('https://host', $h, '.example:443/articles/item-', $base,
       |                     '?utm_source=feed&utm_campaign=clone')
       |  WHEN 3 THEN concat('http://www.host', $h, '.example/articles/item-', $base, '#section-2')
       |  ELSE concat('https://www.host', $h, '.example/articles/item-', $base,
       |              '?ref=social&z=9&a=1&utm_medium=x')
       |END""".stripMargin
  }

  /** Canonicalizer (Spark SQL expression over a column named `url`).
    * Pure builtin string/array functions — codegen end to end. */
  private val canonSql: String =
    """concat(
      |  regexp_replace(regexp_replace(
      |    lower(regexp_extract(regexp_replace(regexp_replace(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', ''), '^([^/?]*)', 1)),
      |    '^www\\.', ''), ':(443|80)$', ''),
      |  regexp_replace(
      |    regexp_extract(regexp_replace(regexp_replace(regexp_replace(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', ''), '^[^/?]*', ''),
      |    '^([^?]*)', 1), '/+$', ''),
      |  CASE WHEN size(filter(split(
      |      regexp_extract(regexp_replace(regexp_replace(url,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', ''), '\\?(.*)$', 1),
      |      '&'), p -> p != '' AND NOT p rlike '^(utm_[^=]*|ref|fbclid|gclid)=')) > 0
      |    THEN concat('?', array_join(array_sort(filter(split(
      |      regexp_extract(regexp_replace(regexp_replace(url,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', ''), '\\?(.*)$', 1),
      |      '&'), p -> p != '' AND NOT p rlike '^(utm_[^=]*|ref|fbclid|gclid)=')), '&'))
      |    ELSE '' END)""".stripMargin

  /** Public canonicalizer surface: adds `canon` to a frame with a `url`
    * column (the parameterized form behind [[urlDedup]]; also what
    * UrlDedupSpec drives its planted-URL matrix through). */
  def canonicalize(urls: DataFrame): DataFrame =
    urls.withColumn("canon", expr(canonSql))

  def urlDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), expr(urlSql).as("url"))
      .select(col("doc_id"), col("url"), expr(canonSql).as("canon"))
      .groupBy(xxhash64(col("canon")).as("ck"))
      .agg(
        min(col("canon")).as("canon_url"),
        count(lit(1)).as("n_dups"),
        count_distinct(col("url")).as("n_raw"),
        min(col("doc_id")).as("keep_doc"))
      .select(col("canon_url"), col("n_dups"), col("n_raw"), col("keep_doc"))

  /** DuckDB mirror: same synthesis, same canonicalization, grouped on
    * the canonical string itself (the shuffle-key hash is a Spark plan
    * detail; the result set is identical). */
  val urlDedupSql: String = {
    val base = "CAST(doc_id // 5 AS VARCHAR)"
    val h = "CAST((doc_id // 5) % 40 AS VARCHAR)"
    val noScheme = "regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '')"
    val host = s"regexp_replace(regexp_replace(lower(regexp_extract($noScheme, '^([^/?]*)', 1)), '^www\\.', ''), ':(443|80)$$', '')"
    val path = s"regexp_replace(regexp_extract(regexp_replace($noScheme, '^[^/?]*', ''), '^([^?]*)', 1), '/+$$', '')"
    val params = s"list_filter(string_split(regexp_extract($noScheme, '\\?(.*)$$', 1), '&'), p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)='))"
    s"""WITH u AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 5 AS INT)
       |      WHEN 0 THEN concat('https://www.host', $h, '.example/articles/item-', $base)
       |      WHEN 1 THEN concat('HTTPS://WWW.HOST', $h, '.EXAMPLE/articles/item-', $base, '/')
       |      WHEN 2 THEN concat('https://host', $h, '.example:443/articles/item-', $base,
       |                         '?utm_source=feed&utm_campaign=clone')
       |      WHEN 3 THEN concat('http://www.host', $h, '.example/articles/item-', $base, '#section-2')
       |      ELSE concat('https://www.host', $h, '.example/articles/item-', $base,
       |                  '?ref=social&z=9&a=1&utm_medium=x')
       |    END AS url
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, url,
       |    concat($host, $path,
       |      CASE WHEN len($params) > 0
       |        THEN concat('?', array_to_string(list_sort($params), '&'))
       |        ELSE '' END) AS canon
       |  FROM u)
       |SELECT canon AS canon_url, COUNT(*) AS n_dups,
       |  COUNT(DISTINCT url) AS n_raw, MIN(doc_id) AS keep_doc
       |FROM c GROUP BY 1""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("llm_url_dedup", urlDedup, urlDedupSql))
}
