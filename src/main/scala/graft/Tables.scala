package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Test-table access for the TPC-H-ish star schema + `events`/`documents`/
  * `embeddings` at `/root/testdata/sf*` (see TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives the scale-factor dir and
  * loads through here, so the scan path is uniform: columnar Parquet with
  * Catalyst predicate pushdown and column pruning — the Spark-native
  * replacement for the reference's per-index Elasticsearch scans
  * (reference: flow/scripts/insert_owid.py:28-30 writes one ES index per
  * source; we read one Parquet table per name).
  *
  * Schemas are declared here, the way a metastore would hold them, not
  * inferred: a load submits no Spark job. A declared schema reads a
  * renamed or missing column as null, so `TablesSchemaSpec` pins each
  * declaration against the inferred schema of the test tables.
  */
object Tables {
  /** Session conf that reads parquet TIMESTAMP(NANOS) as raw INT64 nanos;
    * without it Spark rejects that type outright (PARQUET_TYPE_ILLEGAL).
    * [[session]] sets it once; `load` only checks it. */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Each table's declared schema as DDL, in [[names]] order. */
  private val declared: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    // `ts` is the normalised type; the stored vintage is `eventsTsType`.
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  val names: Seq[String] = declared.map(_._1)

  /** The declared schema of `name` as stored at `sfDir`; only `events`
    * looks at disk (one footer, no Spark job) to pick its `ts` vintage. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val ddl = declared.collectFirst { case (`name`, d) => d }.getOrElse(
      throw new IllegalArgumentException(
        s"unknown table '$name'; declared tables: ${names.mkString(", ")}"))
    val s = StructType.fromDDL(ddl)
    if (name != "events") s
    else {
      val stored = eventsTsType(spark, path(sfDir, name))
      StructType(s.map(f => if (f.name == "ts") f.copy(dataType = stored) else f))
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.schema(schema(spark, sfDir, name)).parquet(path(sfDir, name))
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      df.schema("ts").dataType match {
        // Nanos-as-long vintage: rebuild micros with exact integer division
        // (`div`, not double `/`): epoch-nanos (~1.7e18) exceed double's
        // 2^53 precision, so `/ 1000` loses 1µs on ~12% of rows.
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // timestamp[us] vintage: identity-instant cast under the UTC
        // session TZ, giving the TimestampType the event ops expect.
        case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  private def path(sfDir: String, name: String) = s"$sfDir/$name.parquet"

  /** `events.parquet` has shipped in two vintages: TIMESTAMP(NANOS), read
    * as raw INT64 nanos under [[NanosAsLong]], and plain timestamp[us]
    * (isAdjustedToUTC=false), read as TIMESTAMP_NTZ. Tables written by
    * Spark itself carry an instant timestamp (INT96 or UTC-adjusted),
    * read as TIMESTAMP. The pick reads one file's footer in-process;
    * any other `ts` type throws rather than guess. */
  private def eventsTsType(spark: SparkSession, table: String): DataType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(root).isFile) root
      else fs.listStatus(root).iterator
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath).minByOption(_.getName)
        .getOrElse(throw new IllegalStateException(s"$table holds no data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val ts = try {
      val s = reader.getFooter.getFileMetaData.getSchema
      if (!s.containsField("ts")) throw new IllegalStateException(s"$file has no ts column")
      s.getType(s.getFieldIndex("ts"))
    } finally reader.close()
    def unsupported = new IllegalStateException(
      s"$file: unsupported events.ts type $ts; expected a parquet timestamp " +
        "or INT64 epoch-nanos")
    if (!ts.isPrimitive) throw unsupported
    (ts.asPrimitiveType.getPrimitiveTypeName, ts.getLogicalTypeAnnotation) match {
      case (PrimitiveTypeName.INT96, null) => TimestampType
      case (PrimitiveTypeName.INT64, null) => LongType
      case (PrimitiveTypeName.INT64, t: TimestampLogicalTypeAnnotation) =>
        if (t.getUnit == TimeUnit.NANOS) {
          if (!spark.conf.get(NanosAsLong, "false").toBoolean)
            throw new IllegalStateException(
              s"$file stores ts as TIMESTAMP(NANOS); the session must set $NanosAsLong=true")
          LongType
        } else if (t.isAdjustedToUTC) TimestampType
        else TimestampNTZType
      case _ => throw unsupported
    }
  }

  /** The one SparkSession builder, for every main, tool and test: local
    * mode over `cpus` threads and shuffle partitions, UTC, AQE on, UI
    * off, [[NanosAsLong]], and graft's native functions and plan layer
    * injected through [[graft.functions.GraftExtensions]] (so every
    * session, and every `newSession()` clone of it, resolves them).
    *
    * Master resolution order: `SPARK_GRAFT_MASTER`, then whatever
    * spark-submit injected (`spark.master`), then `local[cpus]`. The
    * first two let the oracle gate re-run under `local-cluster[...]` —
    * separate executor PROCESSES — to prove no query depends on
    * shared-JVM state (driver-side locks, object vals) that local[N]
    * would mask. */
  def session(appName: String,
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val master = sys.env.get("SPARK_GRAFT_MASTER")
      .orElse(sys.props.get("spark.master"))
      .getOrElse(s"local[$cpus]")
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Default generated-class cache holds 100 entries; 50+ queries x
      // several codegen units evict each other, so without this a
      // measured pass re-COMPILES code the warmup already compiled
      // (measured ~2s inflation on the widest aggregate).
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config(NanosAsLong, "true")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
  }
}
