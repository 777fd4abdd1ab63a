package graft.ingest

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The EP1 ingestion slice (SURVEY.md §3, §7.2 step 2): multi-dialect CSV →
  * synonym coalesce → multi-format + ISO-week date parse → broadcast geo
  * dim join (alias rewrite, World poisoning) → validity filter → canonical
  * cases schema (§1.3) → partitioned Parquet lake.
  *
  * This is the Spark-first re-expression of the reference's flow scripts:
  *  - S4 dialect sniff  = insert_owid.py:162-178 / parse_insert.py:155-190
  *  - P2 synonym lists  = insert_owid.py:35-44 / parse_insert.py:29-34
  *  - P4 date parse     = parse_insert.py:54-75 (ISO week end = start+6d)
  *  - P5/J1/J3 geo join = insert_owid.py:72-101,255-277 (EL alias at :46,
  *                        World poisoned at :48); dim melt of the 3 name
  *                        key columns with first-wins dedup
  *  - P7 cast default   = insert_owid.py:137-141
  *  - P8 ratio guard    = parse_insert.py:121-123 (null, not 0, on pop=0)
  *  - P9 conditional    = parse_insert.py:135 (value lands in `vaccinated`
  *                        for vaccination sources, else `confirmed`)
  *  - P13 provenance    = insert_owid.py:142 (input_file_name)
  *  - F1 validity       = insert_owid.py:131 (drop missing date/location)
  *  - K2 sink           = insert_owid.py:231-252 delete+recreate, made
  *                        atomic here via partitioned overwrite
  *
  * Scale: the whole pipeline is scan → narrow projections → ONE broadcast
  * hash join (the dim is ~4k rows in the reference) → partitioned write.
  * No shuffle except the write's partitioning; at 100 TB the CSV scan
  * parallelizes per-file/per-split and the dim stays broadcast.
  */
object CasesIngest {

  val FixtureDir: String = graft.Fixtures.dir
  val CasesPaths: Seq[String] =
    Seq(s"$FixtureDir/contamination_a.csv", s"$FixtureDir/vaccination_b.csv")
  val LookupPath = s"$FixtureDir/geo_lookup.csv"

  /** The longest header line [[headerLine]] reads before it gives up. */
  val MaxHeaderBytes: Int = 1 << 20

  /** The header line of `path`: its first non-blank line (the line
    * Spark's CSV reader takes the header from), without a trailing `\r`;
    * "" for a file with no such line. Read through the Hadoop FileSystem
    * API, so any FS URI Spark itself can scan (bare local path, file://,
    * hdfs://, s3a:// …) works here too (S1); a glob pattern reads its
    * first match — the reference sniffs one object per bucket listing
    * the same way (insert_owid.py:203-214). Bounded: reads up to the
    * header's line break and never loads the file; a file whose header
    * is not complete within [[MaxHeaderBytes]] fails, naming the path,
    * rather than yielding a truncated header. */
  private def headerLine(path: String): String = {
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val target = Option(fs.globStatus(p)).filter(_.nonEmpty)
      .map(_.head.getPath).getOrElse(p)
    val in = new java.io.BufferedInputStream(fs.open(target))
    try {
      val line = new java.io.ByteArrayOutputStream
      var read = 0
      var b = in.read()
      while (b >= 0 && (b != '\n' || line.toString("UTF-8").trim.isEmpty)) {
        if (b == '\n') line.reset() else line.write(b)
        read += 1
        if (read > MaxHeaderBytes) throw new java.io.IOException(
          s"$target: no header line within the first $MaxHeaderBytes bytes")
        b = in.read()
      }
      val header = line.toString("UTF-8").stripSuffix("\r")
      if (header.trim.isEmpty) "" else header
    } finally in.close()
  }

  /** S4: sniff the delimiter from the header line (in-process, like the
    * reference's clevercsv sniff) — Spark's CSV reader then gets an
    * explicit dialect. */
  def sniffDelimiter(path: String): String = delimiterOf(headerLine(path))

  /** The candidate delimiter occurring most often in a header line. */
  private def delimiterOf(header: String): String =
    Seq(",", ";", "\t", "|").maxBy(d => header.count(_ == d.head))

  /** The reader options and the all-string schema a header `line` gives:
    * the sniffed delimiter, and the column names as Spark's own header
    * inference makes them (univocity with Spark's parser settings, then
    * `makeSafeHeader` for empty and duplicate names); an empty schema
    * for an empty file, as inference gives. */
  private def dialect(spark: SparkSession, line: String): (Map[String, String], StructType) = {
    val options = Map("header" -> "true", "sep" -> delimiterOf(line))
    val conf = spark.sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val row = if (line.isEmpty) null else new CsvParser(parsed.asParserSettings).parseLine(line)
    val names =
      if (row == null) Array.empty[String]
      else CSVUtils.makeSafeHeader(row, conf.caseSensitiveAnalysis, parsed)
    (options, StructType(names.map(StructField(_, StringType))))
  }

  /** Every CSV source read in graft: `path` (a file, URI or glob) with
    * its header's delimiter and column names, all columns strings. The
    * header comes from one in-process read of its first line
    * ([[headerLine]]), so the read submits no job; the schema equals the
    * one Spark's header inference gives (`IngestSchemaSpec` pins it). */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val (options, schema) = dialect(spark, headerLine(path))
    spark.read.options(options).schema(schema).csv(path)
  }

  private[ingest] def nullifEmpty(c: Column): Column =
    when(trim(c) === "", lit(null)).otherwise(trim(c))

  /** S6: lookup CSV → melt the 3 alternative name-key columns → keep rows
    * with resolvable geo → first-wins (min UID) per name → broadcastable
    * dim (name, uid, iso2, lat, lon). */
  def geoDim(spark: SparkSession, lookupPath: String = LookupPath): DataFrame = {
    val lk = readCsv(spark, lookupPath)
    val arms = Seq("Province_State", "Country_Region", "Combined_Key").map { k =>
      lk.select(
        nullifEmpty(col(k)).as("name"),
        expr("try_cast(UID AS BIGINT)").as("uid"),
        col("iso2"),
        expr("try_cast(Lat AS DOUBLE)").as("lat"),
        expr("try_cast(Long_ AS DOUBLE)").as("lon"))
    }
    val melted = arms.reduce(_.unionByName(_))
      .filter(col("name").isNotNull && col("lat").isNotNull && col("lon").isNotNull)
    val w = Window.partitionBy(col("name")).orderBy(col("uid").asc)
    melted.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  private val dateSyn = Seq("YearWeekISO", "dateRep", "date")
  private val locSyn = Seq("ReportingCountry", "countriesAndTerritories", "location", "country")
  private val valSyn = Seq("NumberDosesReceived", "cases", "new_cases")
  private val popSyn = Seq("population", "popData2020")

  /** F3: malformed-header rejection (parse_insert.py:168-185 — if any
    * required logical column resolves to NO header synonym, the whole
    * file is rejected before Spark ever scans it). Driver-side: reads
    * only the header line, named as [[readCsv]] names its columns.
    * Returns the rejected files. */
  def rejectMalformed(spark: SparkSession, paths: Seq[String]): (Seq[String], Seq[String]) = {
    val required = Seq(dateSyn, locSyn, valSyn)
    paths.partition { p =>
      val cols = dialect(spark, headerLine(p))._2.fieldNames.map(_.trim).toSet
      required.forall(_.exists(cols.contains))
    }
  }

  /** The fixture sources as [[SourceSpec]]s — the reference's per-bucket
    * scripts collapsed into config (SURVEY §7.2 step 3). */
  val specs: Seq[SourceSpec] = Seq(
    SourceSpec("contamination", Seq(s"$FixtureDir/contamination_a.csv"),
      dateSyn, locSyn, valSyn, popSyn, valueTarget = "confirmed"),
    SourceSpec("vaccination", Seq(s"$FixtureDir/vaccination_b.csv"),
      dateSyn, locSyn, valSyn, popSyn, valueTarget = "vaccinated"))

  /** Fixture source with deliberately-unresolvable locations (Atlantis /
    * Narnia / Mu), exercised by the [[GeoExtend]] job. Not part of
    * [[specs]]: [[canonicalCases]] stays the strict pipeline. */
  val extendSpec: SourceSpec =
    SourceSpec("contamination_x", Seq(s"$FixtureDir/contamination_x.csv"),
      dateSyn, locSyn, valSyn, popSyn, valueTarget = "confirmed")

  /** The full normalize+enrich pipeline producing the canonical cases
    * schema of SURVEY.md §1.3: every configured source through
    * [[SourceSpec.ingest]], unioned by the shared schema. */
  def canonicalCases(spark: SparkSession): DataFrame = {
    val dim = geoDim(spark)
    specs.map(SourceSpec.ingest(spark, _, dim)).reduce(_.unionByName(_))
  }

  /** K2: full-refresh via the versioned partitioned commit
    * ([[graft.LakeCommit]] — the refresh semantics the reference lacks,
    * README.md:225-227). A plain `mode("overwrite")` would delete the
    * live lake for the whole rewrite duration, which the
    * serve-while-refreshing mode cannot tolerate; the versioned commit
    * gives concurrent readers snapshot isolation with no rename
    * anywhere (object-store safe). */
  def writeLake(df: DataFrame, path: String): Unit =
    graft.LakeCommit.commit(df, path, Seq("source_index")): Unit
}
