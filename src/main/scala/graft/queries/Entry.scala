package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry, named once: its builder over a scale-factor dir,
  * the DuckDB SQL `tools/check.py` hash-compares its rows against, and, for an
  * entry with a time column, its form over a server-side `[from, to]`
  * day slice (Serve's `/query/<name>?from=&to=`). Each catalog module
  * lists its rows in `entries`; [[graft.SparkEntry]] joins them. */
final case class Entry(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    sliced: Option[Entry.Sliced] = None)

object Entry {

  /** A builder taking an inclusive `[from, to]` day slice, either bound
    * open. The slice filters the raw time column below the aggregate
    * (scan pushdown), so a dashboard range never pays a full-extent scan. */
  type Sliced = (SparkSession, String, Option[LocalDate], Option[LocalDate]) => DataFrame

  /** A time-sliceable entry: its plain builder is `f` with both bounds open. */
  def sliced(name: String, f: Sliced, oracle: String): Entry =
    Entry(name, f(_, _, None, None), oracle, Some(f))

  /** The catalog by name. Throws when two rows share a name, where a
    * map union would let the later row silently shadow the earlier. */
  def catalog(rows: Seq[Entry]): Map[String, Entry] = {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate catalog entry names: ${dups.toSeq.sorted.mkString(", ")}")
    rows.map(e => e.name -> e).toMap
  }
}
