package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lower, regexp_replace, split, trim}

/** What a token is, defined once for the engine and its DuckDB oracle.
  * The normalised text is lower-cased and trimmed, with every run of
  * whitespace collapsed to one space; its tokens are that text split on
  * the space. `md5(norm)` is the dedup identity and the token is the
  * set-similarity join key, so each `Column` sits beside its SQL twin
  * here and nowhere else.
  *
  * Each `Column` is built inline per call, never an aliased array column
  * (the explode-alias trap, see [[TextIndex.collocations]]). Case- and
  * punctuation-preserving cleanup is a different function
  * ([[TextClean]]). */
private[queries] object Text {
  def norm(text: Column): Column = regexp_replace(lower(trim(text)), "\\s+", " ")

  def normSql(text: String = "text"): String =
    s"regexp_replace(lower(trim($text)), '\\s+', ' ', 'g')"

  def tokens(text: Column): Column = split(norm(text), " ")

  def tokensSql(text: String = "text"): String = s"string_split(${normSql(text)}, ' ')"
}
