package graft

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.KeyStore

import scala.jdk.CollectionConverters._

import javax.net.ssl.{KeyManagerFactory, SSLContext}

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{CallMethodViaReflection, PlanExpression, TryReflect}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, InsertIntoStatement, LogicalPlan, ScriptTransformation, UnresolvedWith}
import org.apache.spark.sql.graft.PlanShim

import graft.queries.TextIndex.Vocabulary

/** Thin interactive serving layer — the Spark-side stand-in for the
  * reference's Kibana dashboards + React search app (news_app/app/app/
  * src/SearchUI.js:6-33 issues ES best-fields queries with pagination;
  * README.md:22-28 describes the dashboard panels). The reference serves
  * from Elasticsearch; here the SAME lake parquet answers directly from a
  * long-lived SparkSession, so there is no second copy of the data to
  * keep in sync.
  *
  * Endpoints (JSON over HTTP, JDK HttpServer — no extra dependencies):
  *   - `GET /tables`                       registered table names
  *   - `GET /sql?q=<sql>&limit=N`          ad-hoc Spark SQL over the lake
  *   - `GET /search?q=<terms>&page=P&size=N` best-fields doc search
  *     (the F6 EP3 shape): multi-field BM25 relevance ranking
  *     ([[graft.queries.TextAnalysis.bm25Search]]) — IDF-weighted,
  *     length-normalized, max-over-fields, the same scoring family the
  *     reference's ES `multi_match best_fields` serves; `rank=overlap`
  *     selects the unweighted token-overlap ranker
  *     ([[graft.queries.TextAnalysis.search]]) for comparison. Hits
  *     carry their document payload (title/snippet/lang/source/
  *     n_chars — [[graft.queries.TextAnalysis.searchHits]]), the
  *     `_source` doc the reference's UI renders per hit
  *     (SearchUI.js:71-99), so a results page is ONE request. At most
  *     32 terms: a longer `q` is a shaped 400, as a `/suggest` prefix
  *     over 64 chars is. The documents corpus (token arrays and term
  *     dictionary, [[graft.queries.TextAnalysis.SearchCorpus]]) is built
  *     once per server: the rows are cached and the term dictionary is
  *     held on the driver, so a request looks its statistics up with no
  *     Spark job and runs one ranking pass over cached rows; a stray
  *     `clearCache` only makes the next request rebuild it
  *   - `GET /suggest?q=<prefix>` completes from a term dictionary held
  *     on the driver, with no Spark job: the documents `text` vocabulary,
  *     or for `index=news` the lake's `vocab` view, collected per version
  *   - `GET /ann?id=<vec_id>&k=N`          exact cosine top-k neighbors
  *     of an embedding ([[graft.queries.VectorSearch.annSearch]]) — the
  *     interactive face of the similarity-search family
  *   - `GET /query/<name>`                 any catalog query by name
  *
  * Every JSON body is built by [[Json]] (result rows embed Spark's own
  * `toJSON` text; a failure is `{"error":<message>}`), so text echoed
  * from a request is escaped and decimals ignore the default locale.
  *
  * With `--lake=<dir>`, a [[Schedule]] lake's flow outputs (cases,
  * france_cases, virtests, news_crawl, news_tweets, and the unioned
  * `news` index-pattern view) register as queryable views next to the
  * analytics tables; `--refresh-hours=<h>` additionally runs the
  * cadence loop on a daemon thread, re-firing the flows and
  * re-registering the views per tick — the reference's full system
  * shape (scheduled flows + store + serving, concurrently) in one JVM.
  *
  * Serving, not analytics: every response is `limit`-bounded before
  * `collect()` (default 100, cap 10k), so a fat-fingered `SELECT *` over
  * 100 TB returns a page, not the lake. The SparkSession itself is
  * thread-safe; queries from concurrent requests just become concurrent
  * Spark jobs (FIFO-scheduled) — and catalog operators that need a
  * temporary conf run on conf-isolated session clones
  * ([[Sessions.confIsolated]]), so concurrent requests cannot race each
  * other's configuration.
  *
  * One request lifecycle (the reference's per-search ES `timeout` and
  * cancellable task): every authenticated request runs its Spark jobs
  * under its own job group, with a deadline from the `timeout`
  * parameter (seconds; default 60, clamped to 1..600, the same for every
  * endpoint). Past the deadline a watchdog cancels the group's running
  * and future jobs, and the request answers a shaped 408 — the handler
  * pool is bounded (8 threads), so eight unbounded slow requests would
  * block every endpoint. Two waits are not jobs of the request's group
  * and are not cut short; the 408 lands when they end:
  *   - a wait on a [[Fixtures.withRunRoot]] prefix lock;
  *   - a `stream_*` entry's micro-batches, which run on the stream's own
  *     thread under the stream's own job group.
  * `/dashboard` and `/ui` are static pages with no data and no lifecycle.
  *
  * Exposure: Spark SQL is NOT a sandbox — an unrestricted statement can
  * read any host file (``SELECT * FROM parquet.`/any/path` ``), write
  * directories (`INSERT OVERWRITE DIRECTORY`), and mutate session state
  * (`SET`). Four layers close that: the server binds the loopback
  * interface unless `--bind-all` is passed explicitly; `--bind-all`
  * refuses to start without a shared secret, which every request must
  * then present as `Authorization: Bearer <token>` (401 otherwise);
  * `--bind-all` ALSO refuses to serve plaintext — it requires TLS
  * (`--tls-keystore=<p12>`, the parity move to the reference fronting ES
  * with HTTPS, create-certs.yml / SearchUI.js:7 — without it the bearer
  * token would cross the network in the clear) unless the operator
  * explicitly accepts `--insecure-http` (a TLS-terminating reverse proxy
  * on the same host being the one legitimate reason); and `/sql` accepts
  * only pure queries over the registered views — the parsed plan is
  * rejected if it contains any command/write node or any multipart
  * (catalog- or path-qualified) relation ([[guardSql]]).
  */
object Serve {

  private val MaxLimit = 10000

  /** Most `/search` query terms: every term adds one dictionary lookup
    * and one df literal per field, and is counted in every document's
    * tokens, so an unbounded term list would hold a handler thread for
    * as long as the client likes. */
  private val MaxSearchTerms = 32

  /** Numbers the request job groups of every server in this JVM: the
    * scheduler remembers a group cancelled with its future jobs, so a
    * group id reused by a later request (or a second server) would have
    * that request's jobs cancelled on submission. */
  private val requestSeq = new java.util.concurrent.atomic.AtomicLong()

  private def clamp(v: Int, hi: Int): Int = math.min(math.max(v, 1), hi)

  /** Parse an integer query parameter, or throw the shaped message the
    * generic handler turns into a clean 400 — every numeric param takes
    * this path so none can leak a raw NumberFormatException string
    * (the /ann `k` lesson, applied uniformly). */
  private def intParam(p: Map[String, String], name: String, default: Int): Int =
    p.get(name) match {
      case None => default
      case Some(v) => v.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"non-numeric $name parameter"))
    }

  /** One DataFrame → one JSON payload: `{"columns":[...],"n":K,
    * "rows":[{...}]}`. Rows render via Spark's own `toJSON` (schema-aware,
    * handles nested structs/arrays/timestamps), so this stays a dumb
    * bounded collect. */
  def render(df: DataFrame, limit: Int): String =
    renderRows(df.columns, collectRows(df, limit))

  /** The bounded collect half of [[render]], exposed so a handler can
    * inspect the rows (e.g. /ann's emptiness check) without paying a
    * second Spark job to re-collect them. */
  private def collectRows(df: DataFrame, limit: Int): Array[String] =
    df.limit(math.min(math.max(limit, 1), MaxLimit)).toJSON.collect()

  private def renderRows(columns: Seq[String], rows: Array[String]): String =
    Json.write(Json.obj("columns" -> columns, "n" -> rows.length,
      "rows" -> rows.map(Json.Raw)))

  /** The `/suggest` completions of `prefix` from a driver vocabulary, no
    * Spark job: byte for byte [[render]] of the catalog's completion. */
  def renderSuggest(v: Vocabulary, prefix: String, limit: Int): String =
    renderRows(Seq("w", "df"), v.suggest(prefix, math.min(limit, MaxLimit))
      .map { case (w, df) => Json.write(Json.obj("w" -> w, "df" -> df)) }.toArray)

  /** True when `t` is how a cancelled Spark job surfaces. The shape is
    * version-dependent: a SparkException mentioning "cancelled", or
    * (with `interruptOnCancel`) an InterruptedException anywhere in the
    * cause chain. Matched structurally, not on the message alone, so
    * every shape maps to the shaped 408. */
  private def isCancellation(t: Throwable): Boolean = {
    def causedByInterrupt: Boolean =
      Iterator.iterate(t)(_.getCause).take(16).takeWhile(_ != null)
        .exists(_.isInstanceOf[InterruptedException])
    t match {
      case e: org.apache.spark.SparkException =>
        (e.getMessage != null && e.getMessage.toLowerCase.contains("cancel")) ||
          causedByInterrupt
      case _ => causedByInterrupt
    }
  }

  /** Function names rejected at parse time: every registered door into
    * `CallMethodViaReflection` (arbitrary static-method invocation — env
    * exfiltration or `System.exit`). `try_reflect` is the same capability
    * behind a TRY wrapper. The name list is a fast, well-messaged first
    * gate; the rot-proof backstop is [[guardAnalyzed]], which rejects the
    * resolved expression CLASS, so a new alias Spark registers tomorrow
    * cannot slip through on its name. */
  private val BlockedFunctions = Set("reflect", "java_method", "try_reflect")

  /** Allowlist guard for `/sql`: only a pure query over the registered
    * views (plus its own CTE aliases) may run. The parsed (unexecuted)
    * plan — including subqueries and CTE definitions — must contain:
    * no command node (`SET`, DDL, `CACHE`, ...); no insert; no
    * EXECUTE IMMEDIATE and no IDENTIFIER() clause (both defer name/SQL
    * resolution past this static check — an inner string can smuggle
    * anything); no multipart relation (catalog table or datasource path,
    * the ``parquet.`/any/path` `` host-file-read door); no single-part
    * relation outside the registered views (single-part names otherwise
    * fall through to default-database catalog tables); and no
    * [[BlockedFunctions]] call. Throws `IllegalArgumentException` (→ 400)
    * with the offending node kind.
    *
    * CTE aliases are vetted SCOPE-AWARE: an alias whitelists a relation
    * name only where SQL makes it visible — its `WITH` body, and
    * later definitions of the same `WITH` clause (plus its own definition
    * under `WITH RECURSIVE`). A decoy CTE in one union branch must not
    * whitelist that name in a sibling branch, where the analyzer would
    * resolve it to a default-database catalog table instead (e.g. the
    * `graft_bkt_*` staging tables [[graft.queries.Bucketed]] creates). */
  private[graft] def guardSql(spark: SparkSession, sql: String,
      allowed: Set[String]): Unit = {
    def deferred(name: String): Boolean =
      name.contains("ExecuteImmediate") || name.contains("UnresolvedIdentifier")
    // Explicit recursion (not collectWithSubqueries): CTE definitions in
    // UnresolvedWith live in a field, not in `children`, so a generic
    // tree walk would skip exactly the place an attacker would hide a
    // path relation (`WITH x AS (SELECT * FROM csv.`/etc/...`) ...`) —
    // and `scope` must grow per-subtree, not globally.
    def offenses(p: LogicalPlan, scope: Set[String]): Seq[String] = {
      val here = p match {
        case c: Command => Seq(s"command ${c.getClass.getSimpleName}")
        case _: InsertIntoStatement => Seq("INSERT")
        case _: InsertIntoDir => Seq("INSERT OVERWRITE DIRECTORY")
        // SELECT TRANSFORM ... USING '<cmd>' spawns a host process (works
        // without Hive in no-serde mode) — the single worst thing a
        // "query" can smuggle.
        case _: ScriptTransformation => Seq("TRANSFORM ... USING (script execution)")
        // FROM range(…)/any table-valued function is a non-view source:
        // unbounded generators are a compute-DoS on the shared session.
        case f: UnresolvedTableValuedFunction =>
          Seq(s"table-valued function ${f.name.mkString(".")}")
        case r: UnresolvedRelation if r.multipartIdentifier.length > 1 =>
          Seq(s"non-view relation ${r.multipartIdentifier.mkString(".")}")
        case r: UnresolvedRelation if !scope(r.multipartIdentifier.head.toLowerCase) =>
          Seq(s"unregistered relation ${r.multipartIdentifier.head}")
        case p if deferred(p.getClass.getSimpleName) =>
          Seq(s"deferred resolution ${p.getClass.getSimpleName}")
        case _ => Nil
      }
      val inExprs = p.expressions.flatMap(_.collect {
        case f: UnresolvedFunction
            if BlockedFunctions(f.nameParts.last.toLowerCase) =>
          Seq(s"function ${f.nameParts.mkString(".")}")
        case e if deferred(e.getClass.getSimpleName) =>
          Seq(s"deferred resolution ${e.getClass.getSimpleName}")
        // subquery expressions see the enclosing scope's aliases
        case pe: PlanExpression[_] => pe.plan match {
          case lp: LogicalPlan => offenses(lp, scope)
          case _ => Nil
        }
      }).flatten
      val inChildren = p match {
        case w: UnresolvedWith =>
          // Each definition sees the aliases defined BEFORE it (and
          // itself only under WITH RECURSIVE — without the keyword,
          // Spark resolves a self-reference against the catalog, which
          // is exactly the fall-through this guard exists to stop).
          var seen = scope
          val defOff = w.cteRelations.flatMap { case (name, rel, _) =>
            val defScope = if (w.allowRecursion) seen + name.toLowerCase else seen
            val o = offenses(rel, defScope)
            seen = seen + name.toLowerCase
            o
          }
          defOff ++ offenses(w.child, seen)
        case _ => p.children.flatMap(offenses(_, scope))
      }
      here ++ inExprs ++ inChildren
    }
    val offending =
      offenses(PlanShim.parsePlan(spark, sql), allowed.map(_.toLowerCase))
    require(offending.isEmpty,
      s"rejected: /sql accepts read-only queries over registered views; found ${offending.head}")
  }

  /** Post-analysis backstop for [[guardSql]]'s function denylist: reject
    * any resolved plan containing the reflection expression CLASSES
    * themselves ([[CallMethodViaReflection]] = `reflect`/`java_method`,
    * [[TryReflect]] = `try_reflect`), whatever surface name reached them.
    * Name denylists rot — `try_reflect` shipped after the original two —
    * but every alias Spark registers must resolve to one of these
    * expressions, so this check does not. Analysis executes nothing, so
    * running it on a guard-passed statement is side-effect-free. */
  private[graft] def guardAnalyzed(plan: LogicalPlan): Unit = {
    val bad = plan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect {
        case e: CallMethodViaReflection => e.prettyName
        case e: TryReflect => e.prettyName
      })
    }.flatten
    require(bad.isEmpty,
      s"rejected: /sql accepts read-only queries over registered views; found reflection function ${bad.head}")
  }

  /** Register the lake tables of `dir` as temp views so `/sql` sees them
    * by name. Views are lazy — nothing is scanned until a query runs. */
  def registerTables(spark: SparkSession, dir: String): Seq[String] =
    Tables.names.map { t => Tables.load(spark, dir, t).createOrReplaceTempView(t); t }

  /** Register every flow output of a [[Schedule]] lake root as a temp
    * view (cases, france_cases, virtests, news_crawl, news_tweets —
    * whichever exist), plus a unioned `news` view over both news feeds
    * (the reference's `news_*` index-pattern read, SearchUI.js:6).
    * Idempotent and cheap (views are lazy), so the serving loop re-runs
    * it after every refresh tick to pick up newly-created flows.
    *
    * Consistency: each view binds the flow's CURRENT committed version
    * directory ([[LakeCommit.current]] — immutable once written), so a
    * query planned before a refresh tick keeps reading its pinned
    * snapshot to completion while the re-registration swings new
    * queries to the new version; the previous version survives one
    * refresh cycle as the grace window. Streaming-sink flows (flat
    * layout) resolve to their own directory, whose `_spark_metadata`
    * log provides the same committed-files-only read. Returns the
    * registered names. */
  def registerLake(spark: SparkSession, lakeDir: String): Seq[String] = {
    // Per-view try: a brand-new lake with nothing committed yet, or a
    // flat directory mid-first-write, fails schema inference — skip it
    // (saying why) and let the next tick's re-registration pick it up,
    // never fail the whole registration (or the server boot) over one flow.
    def load(name: String): Option[DataFrame] = {
      val path = s"$lakeDir/$name"
      try LakeCommit.current(spark, path)
      catch {
        case e @ (_: org.apache.spark.sql.AnalysisException | _: java.io.IOException) =>
          println(s"registerLake skipped view $name at $path: " +
            s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
    }
    val loaded = (Schedule.IngestOutputs :+ Schedule.VocabOutput)
      .flatMap(n => load(n).map(n -> _))
    loaded.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val flows = loaded.map(_._1)
    val newsFeeds = loaded.collect { case (n, df) if Schedule.NewsFeeds.contains(n) => df }
    if (newsFeeds.nonEmpty) {
      // union the ALREADY-validated snapshots — a re-read here would
      // reopen the mid-refresh window the per-view try just closed —
      // and treat cross-feed schema drift the same way: skip the union
      // view this tick instead of failing the registration
      try {
        newsFeeds.reduce(_.unionByName(_)).createOrReplaceTempView("news")
        flows :+ "news"
      } catch { case _: org.apache.spark.sql.AnalysisException => flows }
    } else flows
  }

  /** The candidate [[registerLake]] view names, allowlisted up front
    * when a lake is configured: a flow that has not landed yet merely
    * resolves to "table not found" (clean 400), while a name NOT
    * allowlisted at startup could never become queryable after its
    * first refresh tick. */
  private[graft] val LakeViewNames =
    Schedule.IngestOutputs :+ "news" :+ Schedule.VocabOutput

  /** The `/ui` static page: a dependency-free search client over
    * /search and /suggest (the SearchUI.js parity surface — search box,
    * paged hits, title/date/desc/img cards, highlighted matches,
    * link-on-click). Everything indexed is UNTRUSTED text: rendering
    * goes through textContent/createElement only (no innerHTML of
    * payload), and highlighting wraps escaped text nodes in <mark>. */
  private[graft] val UiHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"/>
      |<title>graft search</title>
      |<style>
      |body{font-family:system-ui,sans-serif;max-width:760px;margin:2rem auto;padding:0 1rem;color:#222}
      |input,select,button{font-size:1rem;padding:.45rem .6rem;border:1px solid #bbb;border-radius:6px}
      |#q{flex:1}
      |.bar{display:flex;gap:.5rem;margin-bottom:1rem}
      |.hit{border:1px solid #ddd;border-radius:8px;padding:.8rem 1rem;margin:.6rem 0;cursor:pointer;display:flex;gap:1rem}
      |.hit:hover{background:#f6f6f6}
      |.hit img{width:90px;height:64px;object-fit:cover;border-radius:4px}
      |.hit h3{margin:0 0 .25rem;font-size:1.05rem}
      |.hit small{color:#666}
      |mark{background:#fcf403}
      |#sug{color:#666;font-size:.9rem;min-height:1.2em}
      |#meta{color:#999;font-size:.85rem}
      |</style></head><body>
      |<h1>graft search</h1>
      |<div style="color:#666;font-size:.85rem;margin-bottom:.8rem"><a href="/dashboard">dashboard</a></div>
      |<div class="bar">
      |  <input id="q" placeholder="Search COVID-related news" autofocus/>
      |  <select id="index"><option value="">documents</option><option value="news">news</option></select>
      |  <label><input type="checkbox" id="fuzzy"/> fuzzy</label>
      |  <input id="token" placeholder="token (if required)" size="12"/>
      |</div>
      |<div id="sug"></div><div id="meta"></div><div id="hits"></div>
      |<script>
      |"use strict";
      |const $ = id => document.getElementById(id);
      |let timer = null, seq = 0;
      |function headers() {
      |  const t = $("token").value.trim();
      |  return t ? {"Authorization": "Bearer " + t} : {};
      |}
      |function hl(text, terms, into) { // safe highlight: text nodes + <mark>
      |  const words = terms.filter(w => w.length > 0);
      |  let rest = String(text == null ? "" : text);
      |  while (rest.length) {
      |    let best = -1, bw = "";
      |    for (const w of words) {
      |      const i = rest.toLowerCase().indexOf(w.toLowerCase());
      |      if (i >= 0 && (best < 0 || i < best)) { best = i; bw = w; }
      |    }
      |    if (best < 0) { into.appendChild(document.createTextNode(rest)); break; }
      |    into.appendChild(document.createTextNode(rest.slice(0, best)));
      |    const m = document.createElement("mark");
      |    m.textContent = rest.slice(best, best + bw.length);
      |    into.appendChild(m);
      |    rest = rest.slice(best + bw.length);
      |  }
      |}
      |function card(row, terms) {
      |  const div = document.createElement("div");
      |  div.className = "hit";
      |  // crawled URLs are untrusted: only http(s) may become a src or
      |  // an open target — a javascript: link in a feed item must stay inert
      |  const safeUrl = u => /^https?:\/\//i.test(String(u || "")) ? String(u) : null;
      |  if (safeUrl(row.img)) {
      |    const img = document.createElement("img");
      |    img.src = safeUrl(row.img); img.alt = "";
      |    div.appendChild(img);
      |  }
      |  const body = document.createElement("div");
      |  const h = document.createElement("h3");
      |  hl(row.title || row.doc_id || "(untitled)", terms, h);
      |  body.appendChild(h);
      |  if (row.date) {
      |    const d = document.createElement("small");
      |    d.textContent = new Date(row.date).toLocaleDateString("fr-FR");
      |    body.appendChild(d);
      |  }
      |  const p = document.createElement("p");
      |  hl(row.desc || row.snippet || row.text || "", terms, p);
      |  body.appendChild(p);
      |  if (safeUrl(row.link)) {
      |    div.title = row.link;
      |    div.addEventListener("click", () => window.open(safeUrl(row.link), "_blank", "noopener"));
      |  }
      |  div.appendChild(body);
      |  return div;
      |}
      |async function run() {
      |  const q = $("q").value.trim();
      |  const mine = ++seq;
      |  $("hits").replaceChildren(); $("meta").textContent = ""; $("sug").textContent = "";
      |  if (!q) return;
      |  const terms = q.split(/\s+/);
      |  const ps = new URLSearchParams({q: q, size: "8"});
      |  if ($("index").value) ps.set("index", $("index").value);
      |  if ($("fuzzy").checked) ps.set("fuzzy", "1");
      |  try {
      |    const r = await fetch("/search?" + ps, {headers: headers()});
      |    const j = await r.json();
      |    if (mine !== seq) return; // a newer keystroke superseded us
      |    if (!r.ok) { $("meta").textContent = j.error || ("HTTP " + r.status); return; }
      |    $("meta").textContent = j.n + " hit(s)";
      |    for (const row of j.rows) $("hits").appendChild(card(row, terms));
      |    const sp = new URLSearchParams({q: terms[terms.length-1]});
      |    if ($("index").value) sp.set("index", $("index").value);
      |    const sr = await fetch("/suggest?" + sp, {headers: headers()});
      |    if (sr.ok && mine === seq) {
      |      const sj = await sr.json();
      |      const opts = ((sj.completions || {}).rows || []).map(x => x.w).filter(Boolean).slice(0, 5);
      |      if (opts.length) $("sug").textContent = "suggestions: " + opts.join(", ");
      |    }
      |  } catch (e) { if (mine === seq) $("meta").textContent = String(e); }
      |}
      |for (const id of ["q", "index", "fuzzy"])
      |  $(id).addEventListener("input", () => { clearTimeout(timer); timer = setTimeout(run, 250); });
      |</script></body></html>""".stripMargin

  /** TLS material: a PKCS12 keystore holding the server key + cert.
    * The password array is cleared after the context is built. */
  final case class Tls(keystorePath: String, password: Array[Char])

  /** Keystore → SSLContext (server side). Standard JSSE, no extra
    * dependencies: PKCS12 load → KeyManagerFactory → TLS context. */
  private[graft] def sslContext(tls: Tls): SSLContext = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = java.nio.file.Files.newInputStream(
      java.nio.file.Paths.get(tls.keystorePath))
    try ks.load(in, tls.password) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, tls.password)
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    java.util.Arrays.fill(tls.password, '\u0000')
    ctx
  }

  /** Start the server (port 0 = ephemeral; read the bound port off the
    * return). Binds loopback only unless `bindAll` — exposing a SQL
    * endpoint beyond localhost is an explicit operator decision, and one
    * that REQUIRES a shared secret (`token`): every request must then
    * carry `Authorization: Bearer <token>` or get a 401 (the parity nod
    * to the reference fronting ES with basic auth, SearchUI.js:7 /
    * create-certs.yml — loopback-only instances stay credential-free
    * like a local dev ES). Split from [[main]] so tests can drive a
    * live instance. */
  def start(spark: SparkSession, dir: String, port: Int,
      bindAll: Boolean = false, token: Option[String] = None,
      lakeDir: Option[String] = None, tls: Option[Tls] = None,
      insecureHttp: Boolean = false,
      flowHistory: Option[Schedule.FlowHistory] = None): HttpServer = {
    require(!bindAll || token.exists(_.nonEmpty),
      "--bind-all exposes the SQL endpoint beyond localhost and requires --token=<secret>")
    require(!bindAll || tls.isDefined || insecureHttp,
      "--bind-all serves the bearer token over the network and requires TLS " +
        "(--tls-keystore=<p12>, password in GRAFT_TLS_PASSWORD); pass " +
        "--insecure-http only behind a TLS-terminating reverse proxy")
    val tables = registerTables(spark, dir) ++
      (if (lakeDir.isDefined) LakeViewNames else Nil)
    lakeDir.foreach(registerLake(spark, _))
    val addr =
      if (bindAll) new InetSocketAddress(port)
      else new InetSocketAddress(InetAddress.getLoopbackAddress, port)
    // Nagle's algorithm holds each body `reply` writes after the flushed
    // headers for the client's delayed ACK (~40 ms); the JDK reads this
    // once, in ServerConfig's static initializer, before the first server.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = tls match {
      case Some(t) =>
        val s = HttpsServer.create(addr, 0)
        s.setHttpsConfigurator(new HttpsConfigurator(sslContext(t)))
        s
      case None => HttpServer.create(addr, 0)
    }

    def params(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
        .filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, UTF_8)
        }.toMap

    def reply(ex: HttpExchange, code: Int, body: String,
        contentType: String = "application/json"): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    // Constant-time token check (MessageDigest.isEqual), so the compare
    // itself cannot leak prefix length over the wire. Two accepted
    // header shapes for the SAME shared secret: `Bearer <token>`, and
    // `Basic base64(<user>:<token>)` with any user — the compat mode
    // for clients hardwired to basic auth the way the reference's UI
    // fronts ES (SearchUI.js:7 sends `Basic ` + btoa(user:pwd)). The
    // secret is still the bearer token; Basic here changes the
    // envelope, not the trust model (TLS remains required off-loopback).
    def authorized(ex: HttpExchange): Boolean = token match {
      case None => true
      case Some(t) =>
        val presented: Option[String] =
          Option(ex.getRequestHeaders.getFirst("Authorization")).flatMap {
            case h if h.startsWith("Bearer ") => Some(h.stripPrefix("Bearer "))
            case h if h.startsWith("Basic ") =>
              scala.util.Try {
                val decoded = new String(java.util.Base64.getDecoder
                  .decode(h.stripPrefix("Basic ").trim), UTF_8)
                // RFC 7617: credentials are user-id ":" password; the
                // password field carries the token
                decoded.split(":", 2) match {
                  case Array(_, pwd) => pwd
                  case _ => ""
                }
              }.toOption
            case _ => None
          }
        presented.exists(got => java.security.MessageDigest.isEqual(
          got.getBytes(UTF_8), t.getBytes(UTF_8)))
    }

    // Per-SERVER metrics (an instance, not a global — concurrent test
    // instances must not pollute each other): request/error counters
    // and a fixed 512-sample latency ring per endpoint, all lock-free
    // atomics, so the serving hot path pays two increments and a slot
    // write. The reference gets its serving observability from Kibana
    // monitoring; here it's a JSON endpoint on the server itself. Each
    // request counts, under its code, before its reply is written: the
    // body write is outside its latency, and a failed write still counts.
    val startedAtNanos = System.nanoTime()
    final class EpStats {
      val n = new java.util.concurrent.atomic.AtomicLong
      val errors = new java.util.concurrent.atomic.AtomicLong
      val ring = new java.util.concurrent.atomic.AtomicLongArray(512)
      val idx = new java.util.concurrent.atomic.AtomicLong
      def record(code: Int, ms: Long): Unit = {
        n.incrementAndGet(): Unit
        if (code >= 400) errors.incrementAndGet(): Unit
        ring.set((idx.getAndIncrement() % 512).toInt, ms)
      }
      def json: collection.Map[String, Any] = {
        val filled = math.min(idx.get, 512L).toInt
        val lat = (0 until filled).map(ring.get).sorted
        def pct(p: Int): Long =
          if (lat.isEmpty) 0L else lat(math.min(lat.size - 1, (lat.size * p) / 100))
        Json.obj("n" -> n.get, "errors" -> errors.get, "p50_ms" -> pct(50),
          "p95_ms" -> pct(95), "max_ms" -> (if (lat.isEmpty) 0L else lat.last))
      }
    }
    val epStats = new java.util.concurrent.ConcurrentHashMap[String, EpStats]()
    def statsFor(path: String): EpStats = {
      // first path segment: /query/<name> folds to /query
      val ep = "/" + path.stripPrefix("/").takeWhile(_ != '/')
      epStats.computeIfAbsent(ep, _ => new EpStats)
    }

    /** `{"error":message}`, the body of every failed request. */
    def fail(code: Int, message: String): (Int, String) =
      (code, Json.write(Json.obj("error" -> message)))

    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, "serve-watchdog"); t.setDaemon(true); t })

    /** The one request lifecycle (see the [[Serve]] Scaladoc): auth, the
      * request's own job group, the deadline watchdog, the shaped 408,
      * and the per-endpoint stats. `f` gets the decoded parameters. */
    def handle(ex: HttpExchange)(f: Map[String, String] => (Int, String)): Unit = {
      val t0 = System.nanoTime()
      val path = ex.getRequestURI.getPath
      def deadlined(p: Map[String, String]): (Int, String) = {
        val timeoutSec = clamp(intParam(p, "timeout", 60), 600)
        val sc = spark.sparkContext
        val group = s"serve-${requestSeq.incrementAndGet()}"
        // thread-local: concurrent requests cancel only their own jobs
        sc.setJobGroup(group, s"$path $group", interruptOnCancel = true)
        // the 408 below is claimed ONLY when this flag proves the
        // watchdog actually fired — a cancellation-shaped failure from
        // any other source must surface as the error it is
        val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        val watch = watchdog.schedule(new Runnable {
          def run(): Unit = {
            fired.set(true)
            // "and future jobs": a job the request starts after the
            // deadline (its next step, or after a lock wait) fails at once
            sc.cancelJobGroupAndFutureJobs(group, s"$path exceeded ${timeoutSec}s")
          }
        }, timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
        try f(p)
        catch { case e: Exception if fired.get() && isCancellation(e) =>
          fail(408, s"query exceeded ${timeoutSec}s and was cancelled")
        } finally {
          watch.cancel(false)
          sc.clearJobGroup()
        }
      }
      val (code, body) =
        try if (authorized(ex)) deadlined(params(ex)) else fail(401, "missing or invalid bearer token")
        catch { case e: Exception => fail(400, e.toString.take(500)) }
      statsFor(path).record(code, (System.nanoTime() - t0) / 1000000L)
      reply(ex, code, body)
    }

    server.createContext("/metrics", (ex: HttpExchange) => handle(ex) { _ =>
      val ups = (System.nanoTime() - startedAtNanos) / 1e9
      val eps = epStats.entrySet().asScala.toSeq.map(e => e.getKey -> e.getValue.json)
      (200, Json.write(Json.obj("uptime_sec" -> Json.fixed(ups, 1),
        "endpoints" -> Json.obj(eps: _*))))
    })

    // Flow-run history — the reference's Prefect-server-UI listing
    // (per-flow run states/durations, README.md:121-127) as a bounded
    // JSON surface: last `keep` firings per flow with start, duration,
    // ok/error, and rows landed. 404 (not an empty 200) without a
    // cadence daemon, so "no daemon" and "daemon hasn't ticked yet"
    // are distinguishable to an operator.
    server.createContext("/flows", (ex: HttpExchange) => handle(ex) { _ =>
      flowHistory match {
        case None => fail(404,
          "no cadence daemon on this server (start with --lake=<dir> --refresh-hours=<h>)")
        case Some(h) =>
          val flows = h.snapshot.map { case (name, rs) =>
            val runs = rs.map(r => Json.obj("tick" -> r.tick,
              "start_epoch_ms" -> r.startEpochMs, "duration_ms" -> r.durationMs,
              "ok" -> r.error.isEmpty, "error" -> r.error, "rows" -> r.rows))
            Json.obj("flow" -> name, "runs" -> runs,
              "last_error" -> rs.reverseIterator.flatMap(_.error).nextOption())
          }
          (200, Json.write(Json.obj("keep" -> h.keep, "flows" -> flows)))
      }
    })

    server.createContext("/tables", (ex: HttpExchange) => handle(ex) { _ =>
      // allowlisted lake views that have not landed yet are queryable
      // only in principle — report what a query can actually hit now
      val live = tables.filter(spark.catalog.tableExists)
      (200, Json.write(Json.obj("tables" -> live)))
    })

    /** `/sql` and `/explain`'s one guarded parse: [[guardSql]], then
      * [[guardAnalyzed]] (analysis executes nothing). */
    val allowed = tables.toSet
    def guardedQuery(sql: String): DataFrame = {
      guardSql(spark, sql, allowed)
      val df = spark.sql(sql)
      guardAnalyzed(PlanShim.analyzed(df))
      df
    }

    server.createContext("/sql", (ex: HttpExchange) => handle(ex) { p =>
      p.get("q") match {
        case Some(sql) => (200, render(guardedQuery(sql), intParam(p, "limit", 100)))
        case None => fail(400, "missing q parameter")
      }
    })

    // the dashboard half of the rendering layer (see [[ServeDash]]) —
    // same no-auth static-asset stance as /ui: the page carries no
    // data; its /query fetches pass through the normal handler
    server.createContext("/dashboard", (ex: HttpExchange) =>
      reply(ex, 200, ServeDash.Html, "text/html; charset=utf-8"))

    // The rendering layer (reference: the React results UI,
    // news_app/app/app/src/SearchUI.js:35-106 — search-on-change box,
    // 8 hits/page, title+date+desc+img cards, query highlighting,
    // link-on-click). Served as ONE dependency-free static page that
    // drives the same /search and /suggest endpoints every other client
    // uses. The asset itself carries zero data, so it is served without
    // auth; a token-protected instance takes the secret in the page's
    // token field, which rides as the Bearer header on every API fetch.
    server.createContext("/ui", (ex: HttpExchange) =>
      reply(ex, 200, UiHtml, "text/html; charset=utf-8"))

    server.createContext("/health", (ex: HttpExchange) => handle(ex) { _ =>
      // Liveness + readiness in one: the session answers a trivial
      // catalog call and the registered view count rides along, so a
      // load balancer can distinguish "process up" from "lake views
      // actually registered".
      val live = tables.count(spark.catalog.tableExists)
      val ups = (System.nanoTime() - startedAtNanos) / 1e9
      // Cadence alerting (the Prefect "late run" signal an operator
      // watches for, README.md:121-127): consecutive-failure and
      // stale-tick verdicts ride the liveness answer so ONE probe
      // covers process, views, and schedule health. status degrades to
      // "alerting" — not an error code; the server itself is fine and
      // a load balancer must not evict it for a flow-level problem.
      val flowAlerts = flowHistory.map(_.alerts(System.currentTimeMillis()))
      val status = if (flowAlerts.exists(_.nonEmpty)) "alerting" else "ok"
      val health = Json.obj("status" -> status, "uptime_sec" -> Json.fixed(ups, 1),
        "tables_live" -> live, "spark" -> spark.version)
      (200, Json.write(flowAlerts.fold(health)(as => health + ("flow_alerts" ->
        as.map(a => Json.obj("flow" -> a.flow, "kind" -> a.kind, "detail" -> a.detail))))))
    })

    // The documents search corpus, built once per server and persisted
    // (the table under `dir` is immutable for the server's lifetime). A
    // corpus a stray clearCache dropped, or whose build a request's
    // deadline cut short, is built by the next request. The one place
    // this file loads `documents` (SourceRulesSpec).
    val corpusLock = new Object
    var corpusMemo: Option[graft.queries.TextAnalysis.SearchCorpus] = None
    def docsCorpus: graft.queries.TextAnalysis.SearchCorpus = corpusLock.synchronized {
      corpusMemo.filter(_.cached).getOrElse {
        val built = graft.queries.TextAnalysis.documentsCorpus(spark, dir, cache = true)
        corpusMemo = Some(built)
        built
      }
    }

    // The news index's vocabulary, collected once per version of the
    // `vocab` view, keyed on the files it reads (a listing, no Spark
    // job). It grows with the crawl's distinct title terms (29 on the
    // benchmark's lake). Measured at 29 and at 200,000 terms: a warm news
    // /suggest takes 5-12 ms, where a Spark job per request took 57-162;
    // at 200,000 the collect costs ~2 s once and the server ~180 MB RSS.
    val newsVocabLock = new Object
    var newsVocabMemo: Option[(Seq[String], Vocabulary)] = None
    def newsVocabulary(view: DataFrame): Vocabulary = newsVocabLock.synchronized {
      val files = view.inputFiles.toSeq.sorted
      if (!newsVocabMemo.exists(_._1 == files)) newsVocabMemo = Some(files -> new Vocabulary(
        view.collect().toSeq.map(r => r.getAs[String]("w") -> r.getAs[Long]("df"))))
      newsVocabMemo.get._2
    }

    /** One resolved `index=` value, for /search and /suggest alike:
      * `hits` ranks the corpus (terms, page, size, ranker), and
      * `vocabulary` is the driver-held dictionary of the terms that
      * index actually tokenizes — correcting a news query against the
      * documents vocabulary would "fix" typos toward the wrong corpus.
      * Each is the shaped 400 while its lake view has not landed, and
      * each is resolved only when read; `corrections` runs the catalog's
      * SymSpell join over a `(w, df)` frame of the same terms. */
    final class SearchIndex(
        hitsOf: => Either[(Int, String), (Seq[String], Int, Int, String) => DataFrame],
        vocabularyOf: => Either[(Int, String), Vocabulary],
        wordsOf: => DataFrame) {
      lazy val hits = hitsOf
      lazy val vocabulary = vocabularyOf
      def corrections(queries: Seq[String]): DataFrame =
        graft.queries.TextIndex.fuzzyFromAll(wordsOf, queries)
    }
    def lakeView(name: String, missing: String): Either[(Int, String), DataFrame] =
      if (spark.catalog.tableExists(name)) Right(spark.table(name))
      else Left(fail(400, missing))
    def searchIndex(p: Map[String, String]): Either[(Int, String), SearchIndex] =
      p.get("index") match {
        case None => Right(new SearchIndex(
          Right(graft.queries.TextAnalysis.searchHits(docsCorpus, _, _, _, _)),
          Right(docsCorpus.vocabulary("text")), docsCorpus.vocabulary("text").toDF(spark)))
        // the reference UI's actual target: the crawled news store
        // (SearchUI.js:6 queries the news_* index pattern), served from
        // the lake's deduped `news` view. Its vocabulary is ONLY the
        // materialized vocab view (the vocab_index flow's (w, df) fold
        // over news titles): the previous on-the-fly fold was an
        // O(corpus)-per-request latency trap on a large lake (VERDICT r16)
        case Some("news") => Right(new SearchIndex(
          lakeView("news", "no news lake registered (start with --lake)").map(news =>
            (terms, page, size, _) =>
              graft.queries.TextAnalysis.newsSearchHits(news, terms, page, size)),
          lakeView("vocab", "no vocab index registered (run the vocab_index flow with --lake)")
            .map(newsVocabulary),
          // the view, not a local relation of the collected terms: one
          // of 200,000 rebuilt per request doubled the server's RSS
          spark.table("vocab")))
        case Some(other) =>
          Left(fail(400, s"unknown index ${other.take(40)} (use news, or omit for documents)"))
      }

    // ES match-query `fuzziness` parity for the documents search:
    // terms ABSENT from the corpus vocabulary are replaced by their
    // best distance-1 correction (max df, then lexicographic — a
    // deterministic pick), so a typo still ranks the documents the
    // user meant. On-vocabulary terms are never rewritten (exact
    // matches must win), and an uncorrectable term passes through to
    // rank as itself (zero hits, same as unexpanded).
    def fuzzyExpand(terms: Seq[String], index: SearchIndex, vocabulary: Vocabulary): Seq[String] = {
      // Membership is a driver lookup; the off-vocabulary remainder is
      // ONE multi-query deletion join, whatever the term count.
      val present = terms.filter(vocabulary.contains).toSet
      val missing = terms.distinct.filterNot(present)
      if (missing.isEmpty) terms
      else {
        val best = index.corrections(missing).collect()
          .groupBy(_.getAs[String]("q"))
          .map { case (q, rows) =>
            q -> rows.minBy(r => (r.getAs[Long]("dist"),
              -r.getAs[Long]("df"), r.getAs[String]("term"))).getAs[String]("term")
          }
        terms.map(t => if (present(t)) t else best.getOrElse(t, t))
      }
    }

    server.createContext("/search", (ex: HttpExchange) => handle(ex) { p =>
      val rawTerms = p.getOrElse("q", "").trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val index = searchIndex(p)
      // expansion is skipped (not failed) when the index's vocabulary
      // is missing — the dispatch below answers its own shaped 400 for
      // a missing corpus, and an unexpanded search is the graceful
      // degradation for a missing vocab view
      val terms =
        if (p.get("fuzzy").contains("1") && rawTerms.nonEmpty && rawTerms.size <= 8)
          index.toOption.flatMap(ix => ix.vocabulary.toOption.map(fuzzyExpand(rawTerms, ix, _)))
            .getOrElse(rawTerms)
        else rawTerms
      if (terms.isEmpty) fail(400, "missing q parameter")
      else if (terms.size > MaxSearchTerms)
        fail(400, s"q must have <= $MaxSearchTerms terms (got ${terms.size})")
      else {
        // Clamp BEFORE the query: render() caps the collect, but the
        // rank pre-limit is page*size — an absurd page/size would turn
        // the bounded top-k into a corpus-wide single-partition window.
        // The PRODUCT is the bound that matters (each factor ≤ MaxLimit
        // still allows a 10^8-row pre-limit), so page*size > MaxLimit is
        // rejected outright rather than silently serving a different
        // page than the one asked for.
        val page = clamp(intParam(p, "page", 1), MaxLimit)
        val size = clamp(intParam(p, "size", 10), MaxLimit)
        if (page.toLong * size > MaxLimit)
          fail(400, s"page*size must be <= $MaxLimit (got ${page.toLong * size})")
        else index.flatMap(_.hits) match {
          case Left(err) => err
          case Right(hits) =>
            val ranker = if (p.get("rank").contains("overlap")) "overlap" else "bm25"
            (200, render(hits(terms, page, size, ranker), size))
        }
      }
    })

    server.createContext("/ann", (ex: HttpExchange) => handle(ex) { p =>
      // id parses with toLongOption and k through intParam, so a
      // malformed value gets a shaped 400, never a raw
      // NumberFormatException string; a well-formed id that is absent
      // from the table gets an explicit 404 (otherwise "no such vector"
      // and "vector with zero neighbors" would both serve an
      // indistinguishable empty 200). The existence probe runs ONLY when
      // the neighbor set comes back empty — a non-empty result proves
      // the id exists, so the hot path is exactly one Spark job (the
      // previous unconditional probe doubled per-request table loads).
      // mode selects the search path: exact brute force (default), or
      // one of the four index shapes — LSH sign buckets, IVF probed
      // cells, PQ ADC + exact rerank, IVF-PQ residual-coded ADC over
      // probed cells only. Same parameterized operators the
      // catalog oracle-checks; at 100 TB the approximate modes are the
      // ones a latency budget can afford, and serving them from the
      // same endpoint lets a client trade recall for cost per request.
      p.get("id").flatMap(_.toLongOption) match {
        case Some(id) =>
          val k = clamp(intParam(p, "k", 10), MaxLimit)
          val vs = graft.queries.VectorSearch
          val nbrs = p.getOrElse("mode", "exact") match {
            case "exact" => vs.annSearch(spark, dir, Seq(id), k)
            case "lsh" => vs.lshBucketTopk(spark, dir, Seq(id), k)
            case "ivf" => vs.ivfTopk(spark, dir, Seq(id), k)
            case "pq" => vs.pqTopk(spark, dir, Seq(id), k)
            case "ivfpq" => vs.ivfPqTopk(spark, dir, Seq(id), k)
            case other => throw new IllegalArgumentException(
              s"unknown mode ${other.take(20)} (use exact, lsh, ivf, pq, ivfpq)")
          }
          val rows = collectRows(nbrs, k)
          if (rows.nonEmpty) (200, renderRows(nbrs.columns, rows))
          else if (Tables.load(spark, dir, "embeddings")
            .filter(col("vec_id") === id).isEmpty)
            fail(404, s"no embedding with vec_id $id")
          else (200, renderRows(nbrs.columns, rows))
        case None => fail(400, "missing or non-numeric id parameter")
      }
    })

    server.createContext("/explain", (ex: HttpExchange) => handle(ex) { p =>
      // Plan introspection for the /sql surface (the ES `_explain` /
      // `_validate` analog): the SAME parse-time and post-analysis
      // guards as /sql run first, so this cannot become a side door
      // that analyzes what /sql would refuse — then the optimized plan
      // ships back as text WITHOUT executing anything. Operators use
      // it to see pushed filters, join strategies, and exchanges
      // before paying for a query.
      p.get("q") match {
        case Some(sql) =>
          val plan = guardedQuery(sql).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString(
              if (p.get("mode").contains("formatted")) "formatted" else "simple"))
          (200, Json.write(Json.obj("plan" -> plan.take(20000))))
        case None => fail(400, "missing q parameter")
      }
    })

    server.createContext("/suggest", (ex: HttpExchange) => handle(ex) { p =>
      // The search box's two assistive shapes (the reference UI's
      // Searchkit input, SearchUI.js:6-33): prefix completion, a lookup
      // in the index's driver vocabulary, plus optional fuzziness for
      // off-vocabulary input. Both take user text only as literal
      // values — nothing is spliced into SQL or LIKE patterns.
      p.get("q").map(_.trim.toLowerCase).filter(_.nonEmpty) match {
        case None => fail(400, "missing q parameter")
        case Some(q) if q.length > 64 => fail(400, "q must be <= 64 chars")
        case Some(q) =>
          val limit = clamp(intParam(p, "limit", 8), 100)
          searchIndex(p).flatMap(ix => ix.vocabulary.map { v =>
            val body = Json.obj("completions" -> Json.Raw(renderSuggest(v, q, limit)))
            (200, Json.write(if (!p.get("fuzzy").contains("1")) body
              else body + ("corrections" -> Json.Raw(render(ix.corrections(Seq(q)).drop("q"), limit)))))
          }).merge
      }
    })

    server.createContext("/query/", (ex: HttpExchange) => handle(ex) { p =>
      val name = ex.getRequestURI.getPath.stripPrefix("/query/")
      // ?from=yyyy-MM-dd&to=yyyy-MM-dd — the Kibana time-range slice,
      // applied ENGINE-side for the entries that declare a time column:
      // the bounds hit the raw scan column below the aggregate (pushed
      // parquet filters / partition pruning), not the rendered rows.
      // A malformed date surfaces as the shaped 400 via handle()'s catch.
      val from = p.get("from").map(java.time.LocalDate.parse)
      val to = p.get("to").map(java.time.LocalDate.parse)
      val limit = intParam(p, "limit", 100)
      SparkEntry.catalog.get(name) match {
        case None => fail(404, s"unknown query ${name.take(100)}")
        case Some(e) if from.isEmpty && to.isEmpty =>
          (200, render(e.build(spark, dir), limit))
        case Some(e) => e.sliced match {
          case Some(fn) => (200, render(fn(spark, dir, from, to), limit))
          // silently ignoring the range would hand the dashboard an
          // UNSLICED panel labeled as sliced — refuse loudly
          case None => fail(400, s"query ${name.take(100)} is not time-sliceable; supported: ${sliceable.mkString(", ")}")
        }
      }
    })

    // A bounded handler pool: with the default (null) executor every
    // handler runs on the single dispatcher thread, so one multi-second
    // /sql would serialize ALL endpoints behind it — even /tables and
    // auth rejections. Spark's scheduler is thread-safe (concurrent
    // actions just become concurrent jobs), so 8 daemon workers serve
    // requests concurrently; bounded so a request flood queues instead
    // of spawning unbounded driver threads.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-serve-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      }))
    server.start()
    server
  }

  /** Names of the catalog entries accepting a server-side `[from, to]`
    * day slice, sorted. */
  private lazy val sliceable: Seq[String] =
    SparkEntry.catalog.values.filter(_.sliced.isDefined).map(_.name).toSeq.sorted

  def main(args: Array[String]): Unit = {
    /** The value of `--name=<value>`, if given and non-empty. */
    def flag(name: String): Option[String] = args.collectFirst {
      case a if a.startsWith(s"--$name=") => a.stripPrefix(s"--$name=")
    }.filter(_.nonEmpty)
    val bindAll = args.contains("--bind-all")
    // --token=<secret> beats GRAFT_SERVE_TOKEN; either satisfies the
    // --bind-all requirement (and a loopback instance MAY set one too).
    val token = flag("token").orElse(sys.env.get("GRAFT_SERVE_TOKEN")).filter(_.nonEmpty)
    // --lake=<dir> registers a Schedule lake's flow outputs as views;
    // --refresh-hours=<h> additionally runs the cadence loop in-process
    // (a daemon thread), re-firing the five flows and re-registering the
    // views after every tick — the full reference system shape (flows +
    // store + UI serving concurrently) in one JVM.
    val lake = flag("lake")
    val refreshHours = flag("refresh-hours").map(h => h.toDoubleOption.getOrElse(
      throw new IllegalArgumentException(s"--refresh-hours must be a number (got $h)")))
    require(refreshHours.isEmpty || lake.isDefined,
      "--refresh-hours needs --lake=<dir> to refresh into")
    // validate HERE, not inside the daemon thread where Schedule.loop's
    // own require would kill the refresh silently while the server
    // keeps serving a permanently stale lake
    require(refreshHours.forall(_ > 0),
      s"--refresh-hours must be positive (got ${refreshHours.get})")
    // --tls-keystore=<p12> upgrades the listener to HTTPS; the keystore
    // password rides in GRAFT_TLS_PASSWORD (env, not argv — argv is
    // world-readable in /proc). --insecure-http is the explicit
    // reverse-proxy-only override for a plaintext --bind-all.
    val tls = flag("tls-keystore").map { path =>
      Tls(path, sys.env.getOrElse("GRAFT_TLS_PASSWORD",
        throw new IllegalArgumentException(
          "--tls-keystore needs GRAFT_TLS_PASSWORD in the environment")).toCharArray)
    }
    val insecureHttp = args.contains("--insecure-http")
    val pos = args.filterNot(_.startsWith("--"))
    val dir = pos.headOption.getOrElse("/root/testdata/sf0.001")
    val port = pos.lift(1).map(_.toInt).getOrElse(8080)
    val spark = Tables.session("graft-serve")
    spark.sparkContext.setLogLevel("WARN")
    // Bind the server BEFORE the refresh daemon starts: the daemon's
    // tick-0 writes would otherwise race start()'s initial registerLake
    // against half-written directories during boot.
    val flowHistory = refreshHours.map(h => new Schedule.FlowHistory(
      expectedIntervalMs = Some((h * 3600 * 1000).toLong)))
    val server = start(spark, dir, port, bindAll, token, lake, tls,
      insecureHttp, flowHistory)
    // --news-endpoint / --tweets-endpoint add the reference's crawl
    // fan-out (GoogleNews lang×tag grid / synthesized tweet query) to
    // the refresh cadence, landing through the shaped fan-out stream
    // into the lake's news_fanout view
    val newsEndpoint = flag("news-endpoint")
    val tweetsEndpoint = flag("tweets-endpoint")
    // endpoints without the refresh daemon would register flows that
    // never fire — refuse loudly rather than silently never polling
    require((newsEndpoint.isEmpty && tweetsEndpoint.isEmpty) ||
        (lake.isDefined && refreshHours.isDefined),
      "--news-endpoint/--tweets-endpoint need --lake=<dir> AND --refresh-hours=<h> to poll into")
    for (lakeDir <- lake; hours <- refreshHours) {
      val t = new Thread(() =>
        Schedule.loop(Schedule.defaultFlows(spark, lakeDir) ++
            Schedule.fanoutFlows(spark, lakeDir, newsEndpoint, tweetsEndpoint,
              s"$lakeDir/_crawl_landing") :+
            Schedule.vocabIndexFlow(spark, lakeDir) :+
            Schedule.compactionFlow(spark, lakeDir),
          (hours * 3600 * 1000).toLong,
          onTick = { r =>
            println(Schedule.summary(r))
            // A registerLake failure must not escape onTick: it would
            // kill the daemon thread and the server would silently
            // serve a stale lake forever. The views keep their previous
            // (still-readable) snapshots; next tick re-registers.
            try registerLake(spark, lakeDir): Unit
            catch { case e: Exception =>
              println(s"registerLake failed, views stale until next tick: $e")
            }
          },
          history = flowHistory), "graft-schedule")
      t.setDaemon(true)
      t.start()
    }
    println(s"graft.Serve listening on ${server.getAddress} over $dir" +
      lake.fold("")(l => s" + lake $l"))
    Thread.currentThread.join() // serve until killed
  }
}
