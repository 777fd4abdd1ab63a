package graft

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Live-instance test of the [[Serve]] HTTP layer (EP3 equivalent): an
  * ephemeral-port server over sf0.001, driven with real HTTP requests.
  */
class ServeSpec extends SparkSpec {

  private lazy val server = Serve.start(spark, sf0001, port = 0)
  private def getFrom(srv: com.sun.net.httpserver.HttpServer, path: String,
      headers: Map[String, String] = Map.empty): (Int, String) = {
    val url = new URI(s"http://127.0.0.1:${srv.getAddress.getPort}$path").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    (code, body)
  }
  private def get(path: String): (Int, String) = getFrom(server, path)

  test("/flows without a cadence daemon is a 404, not an empty listing") {
    val (code, body) = get("/flows")
    assert(code === 404)
    assert(body.contains("no cadence daemon"))
  }

  test("/flows serves the bounded per-flow run history, auth-gated") {
    val hist = new Schedule.FlowHistory(keep = 3)
    // two recorded ticks: one landing flow (rows via commit footers),
    // one flow that fails on tick 0 and recovers on tick 1
    import spark.implicits._
    val lake = Fixtures.scratchDir("serve_flows") + "/lake"
    val flows = Seq(
      Schedule.Flow("lander", _ =>
        LakeCommit.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), lake): Unit),
      Schedule.Flow("flaky", t =>
        if (t == 0L) throw new IllegalStateException("boot hiccup") else ()))
    (0L to 1L).foreach(t => Schedule.runTick(flows, t, Some(hist)))

    val srv = Serve.start(spark, sf0001, port = 0, token = Some("flowsecret"),
      flowHistory = Some(hist))
    try {
      // the history is operational surface — same bearer gate as the rest
      assert(getFrom(srv, "/flows")._1 === 401)
      val (code, body) = getFrom(srv, "/flows",
        Map("Authorization" -> "Bearer flowsecret"))
      assert(code === 200)
      assert(body.contains("\"keep\":3"))
      assert(body.contains("\"flow\":\"lander\"") && body.contains("\"flow\":\"flaky\""))
      // the lander's records carry rows landed and ok=true
      assert(body.contains("\"rows\":2"))
      // flaky: tick-0 error string retained, surfaced as last_error too
      assert(body.contains("IllegalStateException"))
      assert(body.contains("\"last_error\":\"IllegalStateException"))
      // both ticks visible for both flows
      assert(body.contains("\"tick\":0") && body.contains("\"tick\":1"))
      assert(body.contains("\"ok\":false") && body.contains("\"ok\":true"))
    } finally srv.stop(0)
  }

  test("/health surfaces cadence alerts: status degrades to alerting, stays 200") {
    val hist = new Schedule.FlowHistory(keep = 5)
    (0 to 2).foreach(t => hist.record(Schedule.RunRecord(
      "broken", t.toLong, 1000L + t, 5L, Some(s"tick-$t boom"), None)))
    val srv = Serve.start(spark, sf0001, port = 0, flowHistory = Some(hist))
    try {
      val (code, body) = getFrom(srv, "/health")
      // 200, not 5xx: the server itself is healthy — a load balancer
      // must not evict it for a flow-level problem
      assert(code === 200)
      assert(body.contains("\"status\":\"alerting\""), body)
      assert(body.contains("\"kind\":\"consecutive_failures\""), body)
      assert(body.contains("\"flow\":\"broken\""), body)
      assert(body.contains("tick-2 boom"), "detail must carry the newest error")
      // recovery clears the alert and restores ok (same running server)
      hist.record(Schedule.RunRecord("broken", 3L, 2000L, 5L, None, None))
      val (c2, b2) = getFrom(srv, "/health")
      assert(c2 === 200 && b2.contains("\"status\":\"ok\""), b2)
      assert(b2.contains("\"flow_alerts\":[]"), b2)
    } finally srv.stop(0)
  }

  test("/query time slice: ?from=&to= serves the ranged form; non-sliceable 400s") {
    val (code, body) =
      get("/query/rel_histogram_dense?from=1995-01-01&to=1996-12-31&limit=600")
    assert(code === 200)
    // every month in the payload sits inside the requested window
    val months = "\"mon\":\"(\\d{4}-\\d{2})\"".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    assert(months.nonEmpty)
    assert(months.forall(m => m >= "1995-01" && m <= "1996-12"), s"out-of-range month in $months")
    // a range on a query with no declared time column must refuse, not
    // silently serve the unsliced result labeled as sliced
    val (badCode, badBody) = get("/query/rel_topk_orders?from=1995-01-01")
    assert(badCode === 400)
    assert(badBody.contains("not time-sliceable"))
    // malformed dates surface as the shaped 400
    assert(get("/query/rel_histogram_dense?from=not-a-date")._1 === 400)
    // unknown names stay 404 even with a range
    assert(get("/query/nope?from=1995-01-01")._1 === 404)
  }

  test("/tables lists the registered lake tables") {
    val (code, body) = get("/tables")
    assert(code === 200)
    Tables.names.foreach(t => assert(body.contains("\"" + t + "\"")))
  }

  test("/sql answers ad-hoc SQL over the registered views") {
    val (code, body) = get("/sql?q=" + java.net.URLEncoder.encode(
      "SELECT n_name FROM nation WHERE n_nationkey = 0", "UTF-8"))
    assert(code === 200)
    assert(body.contains("\"NATION_0\""))
    assert(body.contains("\"n\":1"))
  }

  test("/sql bounds the response: limit caps rows before collect") {
    val (code, body) = get("/sql?q=" + java.net.URLEncoder.encode(
      "SELECT l_orderkey FROM lineitem", "UTF-8") + "&limit=3")
    assert(code === 200)
    assert(body.contains("\"n\":3"))
  }

  test("/search runs the paginated best-fields query") {
    val (code, body) = get("/search?q=spark+join&page=1&size=5")
    assert(code === 200)
    assert(body.contains("\"doc_id\"") && body.contains("\"score\""))
    // page 1 holds ranks 1..5
    assert(body.contains("\"rank\":1"))
  }

  test("/search hits carry the document payload (the reference's _source)") {
    val (code, body) = get("/search?q=spark+join&page=1&size=3")
    assert(code === 200)
    // the payload columns a results page renders without a second trip
    Seq("title", "snippet", "lang", "source", "n_chars").foreach(f =>
      assert(body.contains("\"" + f + "\""), s"missing hit field $f: ${body.take(300)}"))
    // payload content is the ranked document's, not a cross-wired row
    val hit = """"doc_id":(\d+),"score":[^,]+,"rank":1,"title":"([^"]*)"""".r
      .findFirstMatchIn(body).getOrElse(fail(s"no rank-1 hit in ${body.take(300)}"))
    val docText = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") === hit.group(1).toLong)
      .collect().head.getAs[String]("text")
    assert(docText.toLowerCase.startsWith(hit.group(2).take(20)))
  }

  test("/search hits carry highlight metadata (matched terms + windowed fragment)") {
    val (code, body) = get("/search?q=spark+join&page=1&size=3")
    assert(code === 200)
    Seq("matched_terms", "highlight").foreach(f =>
      assert(body.contains("\"" + f + "\""), s"missing hit field $f: ${body.take(300)}"))
    // the rank-1 hit matched in text, so its highlight window must
    // actually contain a matched term — the guarantee the prefix
    // snippet could not make
    val hit = """"matched_terms":"([^"]*)","highlight":"([^"]*)"""".r
      .findFirstMatchIn(body).getOrElse(fail(s"no hit fields in ${body.take(400)}"))
    val matched = hit.group(1).split(",").filter(_.nonEmpty)
    assert(matched.nonEmpty, s"rank-1 hit matched no terms: ${body.take(400)}")
    assert(matched.exists(t => hit.group(2).toLowerCase.contains(t)),
      s"highlight '${hit.group(2)}' contains none of ${matched.mkString(",")}")
  }

  test("/search?fuzzy=1 corrects an off-vocabulary term to its best neighbor") {
    // 'tabl' is off-vocabulary; distance-1 correction is 'table'. The
    // fuzzy search must return the same page the corrected query does.
    val (c1, fuzzy) = get("/search?q=tabl&fuzzy=1")
    val (c2, exact) = get("/search?q=table")
    assert(c1 === 200 && c2 === 200)
    assert(fuzzy === exact, s"fuzzy page diverged:\n$fuzzy\nvs\n$exact")
    // Without fuzzy, the typo matches nothing.
    val (c3, none) = get("/search?q=tabl")
    assert(c3 === 200 && none.contains("\"n\":0"), none.take(200))
    // An on-vocabulary term is never rewritten: fuzzy is a no-op.
    assert(get("/search?q=table&fuzzy=1")._2 === exact)
  }

  test("/health reports liveness with registered-view readiness") {
    val (code, body) = get("/health")
    assert(code === 200)
    assert(body.contains("\"status\":\"ok\""))
    assert(body.contains("\"tables_live\":"))
    assert(body.contains("\"spark\":"))
  }

  test("keep-alive responses are not held back for the client's delayed ACK") {
    // build.sbt passes the property to this JVM as well, so this case
    // checks the socket behaviour only; SourceRulesSpec pins the line
    // in Serve.start that sets it for a plain `java` launch.
    val port = server.getAddress.getPort
    assert(System.getProperty("sun.net.httpserver.nodelay") === "true")
    // one raw keep-alive connection, so every request reuses its socket
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      def line(): String =
        Iterator.continually(in.read()).takeWhile(_ != '\n').map(_.toChar).mkString.stripSuffix("\r")
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        out.write("GET /health HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes("UTF-8"))
        out.flush()
        val status = line()
        val length = Iterator.continually(line()).takeWhile(_.nonEmpty)
          .collect { case h if h.toLowerCase.startsWith("content-length:") => h.drop(15).trim.toInt }
          .toSeq.head
        val body = new String(in.readNBytes(length), "UTF-8")
        assert(status.contains(" 200 ") && body.contains("\"status\""), s"$status $body")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      // with Nagle's algorithm on, each body waits ~40 ms for the ACK
      assert(ms(ms.size / 2) < 20.0, s"per-request ms: ${ms.map(m => f"$m%.1f").mkString(" ")}")
    } finally sock.close()
  }

  test("/sql watchdog cancels a runaway query as a shaped 408; the session survives") {
    // A 3-way cross join (~3.4e9 combinations at sf0.001) cannot finish
    // inside the 1 s budget; the watchdog must cancel THIS request's
    // job group and leave the shared session serving.
    val q = java.net.URLEncoder.encode(
      "SELECT COUNT(*) AS n FROM orders a, orders b, orders c", "UTF-8")
    val t0 = System.nanoTime()
    val (code, body) = get(s"/sql?q=$q&timeout=1")
    val sec = (System.nanoTime() - t0) / 1e9
    assert(code === 408, s"expected 408, got $code: ${body.take(300)}")
    assert(body.contains("cancelled"), body.take(200))
    assert(sec < 30, f"cancellation took $sec%.1f s — watchdog not effective")
    // The session is not poisoned: a normal query still answers.
    val ok = get("/sql?q=" + java.net.URLEncoder.encode(
      "SELECT COUNT(*) AS n FROM region", "UTF-8"))
    assert(ok._1 === 200 && ok._2.contains("\"n\":"), ok._2.take(200))
  }

  /** Requests `path` from `srv` while a blocking job holds every core, so
    * the request's jobs queue behind it. Returns the response, the status of
    * a /tables request sent while the request waited, and the result
    * (None: no end seen) of each job a listener saw start under a
    * per-request job group. */
  private def underBlocker(path: String, srv: com.sun.net.httpserver.HttpServer = server)
      : ((Int, String), Int, Seq[Option[JobResult]]) = {
    val sc = spark.sparkContext
    val groupJobs = new ConcurrentHashMap[Int, String]()
    val ends = new ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("serve-")).foreach(groupJobs.put(e.jobId, _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.jobResult)
    }
    val cores = sc.defaultParallelism
    val blocker = new Thread(() => {
      sc.setJobGroup("spec-blocker", "sleeping tasks on every core", interruptOnCancel = true)
      try sc.parallelize(1 to cores, cores).foreach(_ => Thread.sleep(30000))
      catch { case _: Exception => () } // cancelled below
    })
    sc.addSparkListener(listener)
    blocker.start()
    try {
      def running: Int = sc.statusTracker.getActiveStageIds
        .flatMap(sc.statusTracker.getStageInfo(_)).map(_.numActiveTasks).sum
      val until = System.nanoTime() + 30000000000L
      while (running < cores && System.nanoTime() < until) Thread.sleep(20)
      assert(running === cores, "the blocker never held every core")
      val request = Future(getFrom(srv, path))(ExecutionContext.global)
      Thread.sleep(200)
      val tables = getFrom(srv, "/tables")._1
      assert(!request.isCompleted, "the request did not wait behind the blocker")
      val response = Await.result(request, 90.seconds)
      val settle = System.nanoTime() + 10000000000L
      while (groupJobs.keySet.asScala.exists(!ends.containsKey(_)) &&
          System.nanoTime() < settle) Thread.sleep(20)
      (response, tables, groupJobs.keySet.asScala.toSeq.map(j => Option(ends.get(j))))
    } finally {
      sc.cancelJobGroup("spec-blocker")
      blocker.join(30000)
      sc.removeSparkListener(listener)
    }
  }

  for ((endpoint, path) <- Seq(
      "/query" -> "/query/rel_pricing_summary",
      "/search" -> "/search?q=spark+join&size=5")) {
    test(s"$endpoint past its timeout answers 408, cancels its jobs, and leaves the server serving") {
      assert(get(path)._1 === 200) // warm: planning and codegen stay under the deadline
      val sep = if (path.contains("?")) "&" else "?"
      val ((code, body), tables, results) = underBlocker(s"$path${sep}timeout=1")
      assert(code === 408, s"expected 408, got $code: ${body.take(300)}")
      assert(body.contains("exceeded 1s and was cancelled"), body.take(200))
      assert(tables === 200, "/tables did not answer while the request waited")
      assert(results.nonEmpty, "no job of the request's group was seen")
      assert(results.forall(r => r.isDefined && !r.contains(JobSucceeded)), results.toString)
    }
  }

  test("two servers never share a request job group") {
    // a group cancelled with its future jobs stays cancelled, so a
    // reused group id would fail the reusing request's jobs on submission
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val servers = Seq.fill(2)(Serve.start(spark, sf0001, port = 0))
    try {
      val q = java.net.URLEncoder.encode("SELECT COUNT(*) AS n FROM region", "UTF-8")
      servers.foreach(srv => assert(getFrom(srv, s"/sql?q=$q")._1 === 200))
      val until = System.nanoTime() + 10000000000L
      while (groups.asScala.toSet.size < 2 && System.nanoTime() < until) Thread.sleep(20)
      val seen = groups.asScala.toSeq.distinct
      assert(seen.size === 2 && seen.forall(_.startsWith("serve-")), seen)
    } finally {
      servers.foreach(_.stop(0))
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("/explain returns the plan without executing, behind the /sql guards") {
    val q = java.net.URLEncoder.encode(
      "SELECT o_orderstatus, COUNT(*) FROM orders WHERE o_orderkey > 100 GROUP BY 1", "UTF-8")
    val (code, body) = get(s"/explain?q=$q")
    assert(code === 200)
    assert(body.contains("\"plan\""))
    assert(body.contains("Physical Plan"), body.take(200))
    assert(body.contains("HashAggregate") || body.contains("Aggregate"))
    // The guard runs first: a write statement is refused exactly like /sql.
    val bad = java.net.URLEncoder.encode("DROP TABLE orders", "UTF-8")
    assert(get(s"/explain?q=$bad")._1 === 400)
    // formatted mode carries the per-node detail (pushed filters etc).
    val (c2, b2) = get(s"/explain?q=$q&mode=formatted")
    assert(c2 === 200 && b2.contains("PushedFilters"), b2.take(300))
  }

  test("/suggest completes prefixes and corrects typos under fuzzy=1") {
    val (code, body) = get("/suggest?q=s&limit=5")
    assert(code === 200)
    assert(body.contains("\"completions\""))
    assert(body.contains("\"w\"") && body.contains("\"df\""))
    assert(!body.contains("\"corrections\""))
    // Off-vocabulary input with fuzzy: no completions, but corrections
    // carry the distance-1 vocabulary terms.
    val (c2, b2) = get("/suggest?q=sow&fuzzy=1")
    assert(c2 === 200)
    assert(b2.contains("\"corrections\""))
    assert(b2.contains("\"slow\"") || b2.contains("\"row\""))
    // Missing q is a shaped 400.
    assert(get("/suggest")._1 === 400)
  }

  test("/metrics reports per-endpoint counts, errors, and latency percentiles") {
    // a dedicated instance so other tests' requests can't skew counts
    val srv = Serve.start(spark, sf0001, port = 0)
    try {
      getFrom(srv, "/tables"): Unit
      getFrom(srv, "/tables"): Unit
      getFrom(srv, "/sql?q=bogus("): Unit // parse error -> 400 -> counted
      val (code, body) = getFrom(srv, "/metrics")
      assert(code === 200)
      assert(body.contains("\"uptime_sec\""), body.take(200))
      assert(body.contains("\"/tables\":{\"n\":2,\"errors\":0"), body)
      assert(body.contains("\"/sql\":{\"n\":1,\"errors\":1"), body)
      assert(body.contains("\"p95_ms\""))
      // /query/<name> folds to its first segment
      getFrom(srv, "/query/nope"): Unit
      val (_, b2) = getFrom(srv, "/metrics")
      assert(b2.contains("\"/query\":{\"n\":1,\"errors\":1"), b2)
    } finally srv.stop(0)
  }

  test("/ui serves the static search page wired to /search and /suggest") {
    val (code, body) = get("/ui")
    assert(code === 200)
    // the page is the renderer over the serving API, not its own data
    // path: it must fetch /search and /suggest and carry the parity
    // affordances (search box, cards, highlight, token field)
    assert(body.contains("<!doctype html>"))
    assert(body.contains("/search?") && body.contains("/suggest?"))
    assert(body.contains("id=\"q\"") && body.contains("id=\"token\""))
    assert(body.contains("<mark>") || body.contains("createElement(\"mark\")"))
    // untrusted indexed text must never hit innerHTML
    assert(!body.contains("innerHTML"))
    // the suggestion keys the page reads are keys a live /suggest body
    // carries: completions, then its rows, then each row's term
    val reads = """\(\(sj\.(\w+) \|\| \{\}\)\.(\w+) \|\| \[\]\)\.map\(x => x\.(\w+)\)""".r
    val keys = reads.findFirstMatchIn(body).map(_.subgroups)
    assert(keys.isDefined, "the page reads /suggest in no recognized shape")
    val Seq(completions, rows, term) = keys.get
    val (sc, sb) = get("/suggest?q=s&limit=5")
    val row = Json.read(sb).path(completions).path(rows).path(0)
    assert(sc === 200 && row.path(term).isTextual, s"$completions.$rows[0].$term not in $sb")
    // the asset itself is served even on a token-protected instance
    // (it carries no data; the API calls it makes still need the token)
    val tok = Serve.start(spark, sf0001, port = 0, token = Some("uisecret"))
    try {
      val (c2, b2) = getFrom(tok, "/ui")
      assert(c2 === 200 && b2.contains("<!doctype html>"))
      val (c3, _) = getFrom(tok, "/search?q=x")
      assert(c3 === 401)
    } finally tok.stop(0)
  }

  test("/dashboard serves the chart page wired to the catalog endpoints") {
    val (code, body) = get("/dashboard")
    assert(code === 200)
    assert(body.contains("<!doctype html>") && body.contains("graft overview"))
    // the page draws from the serving API, not its own data path
    for (q <- Seq("rel_histogram_dense", "evt_active_users",
        "rel_dim_join_agg", "evt_growth_accounting"))
      assert(body.contains(q), s"dashboard lost its $q source")
    // untrusted values never ride innerHTML; identity text wears text
    // tokens, marks carry the series color
    assert(!body.contains("innerHTML"))
    assert(body.contains("--series-1") && body.contains("prefers-color-scheme"))
    // table view ships (the relief obligation for the light aqua slot)
    assert(body.contains("Data table"))
  }

  test("--bind-all refuses to start without a shared secret") {
    val e = intercept[IllegalArgumentException] {
      Serve.start(spark, sf0001, port = 0, bindAll = true)
    }
    assert(e.getMessage.contains("--token"))
  }

  test("a token-protected instance 401s without the bearer token, serves with it") {
    val srv = Serve.start(spark, sf0001, port = 0, token = Some("s3cret"))
    try {
      val (noTok, body) = getFrom(srv, "/tables")
      assert(noTok === 401 && body.contains("bearer token"), body.take(200))
      val (wrong, _) = getFrom(srv, "/tables",
        Map("Authorization" -> "Bearer wrong"))
      assert(wrong === 401)
      // malformed Basic (not base64 user:pass) is rejected, not compared
      val (basicRaw, _) = getFrom(srv, "/tables",
        Map("Authorization" -> "Basic s3cret"))
      assert(basicRaw === 401)
      val (ok, tbl) = getFrom(srv, "/tables",
        Map("Authorization" -> "Bearer s3cret"))
      assert(ok === 200 && tbl.contains("\"nation\""))
      // Basic compat (SearchUI.js:7 parity): base64(user:token) with
      // any user name carries the same shared secret
      def b64(s0: String) = java.util.Base64.getEncoder
        .encodeToString(s0.getBytes("UTF-8"))
      val (basicOk, tbl2) = getFrom(srv, "/tables",
        Map("Authorization" -> s"Basic ${b64("elastic:s3cret")}"))
      assert(basicOk === 200 && tbl2.contains("\"nation\""))
      val (basicWrong, _) = getFrom(srv, "/tables",
        Map("Authorization" -> s"Basic ${b64("elastic:wrong")}"))
      assert(basicWrong === 401)
      // colon-less credentials never match (no user/pass split exists)
      val (basicNoColon, _) = getFrom(srv, "/tables",
        Map("Authorization" -> s"Basic ${b64("s3cret")}"))
      assert(basicNoColon === 401)
    } finally srv.stop(0)
  }

  test("TLS: an HTTPS instance completes the handshake and serves /tables") {
    val dir = Fixtures.scratchDir("serve_tls")
    val ks = s"$dir/ks.p12"
    // keytool (JDK-shipped) generates the self-signed PKCS12 keystore;
    // SAN ip:127.0.0.1 so the DEFAULT hostname verifier passes — the
    // client side stays strict, no verifier override.
    val rc = new ProcessBuilder("keytool", "-genkeypair", "-alias", "serve",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ks, "-storepass", "changeit", "-dname", "CN=localhost",
      "-ext", "SAN=ip:127.0.0.1", "-validity", "1")
      .inheritIO().start().waitFor()
    assert(rc === 0, "keytool failed")
    val srv = Serve.start(spark, sf0001, port = 0,
      tls = Some(Serve.Tls(ks, "changeit".toCharArray)))
    try {
      // client trusts exactly the generated cert (same p12 as truststore)
      val tks = java.security.KeyStore.getInstance("PKCS12")
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(ks))
      try tks.load(in, "changeit".toCharArray) finally in.close()
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(tks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, null)
      val url = new URI(
        s"https://127.0.0.1:${srv.getAddress.getPort}/tables").toURL
      val conn = url.openConnection()
        .asInstanceOf[javax.net.ssl.HttpsURLConnection]
      conn.setSSLSocketFactory(ctx.getSocketFactory)
      assert(conn.getResponseCode === 200)
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      conn.getInputStream.close()
      assert(body.contains("\"nation\""))
      // and the same socket refuses plaintext: an http:// GET cannot
      // parse a TLS handshake response
      intercept[Exception] {
        getFrom(srv, "/tables")
      }
    } finally srv.stop(0)
  }

  test("--bind-all refuses plaintext unless --insecure-http is explicit") {
    val e = intercept[IllegalArgumentException] {
      Serve.start(spark, sf0001, port = 0, bindAll = true, token = Some("t"))
    }
    assert(e.getMessage.contains("TLS"))
    // the documented reverse-proxy override starts (and still enforces
    // the bearer token)
    val srv = Serve.start(spark, sf0001, port = 0, bindAll = true,
      token = Some("t"), insecureHttp = true)
    try {
      val (noTok, _) = getFrom(srv, "/tables")
      assert(noTok === 401)
    } finally srv.stop(0)
  }

  test("Serve.main rejects a non-numeric --refresh-hours with a shaped message") {
    // the flags are checked before main builds a session or binds a port
    val e = intercept[IllegalArgumentException] {
      Serve.main(Array("--lake=/nonexistent", "--refresh-hours=daily"))
    }
    assert(e.getMessage.contains("--refresh-hours must be a number (got daily)"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Serve.main(Array("--lake=/nonexistent", "--refresh-hours=-1"))
    }
    assert(e2.getMessage.contains("--refresh-hours must be positive"), e2.getMessage)
  }

  test("a lake-backed instance serves flow outputs and picks up refresh ticks") {
    val lakeDir = Fixtures.scratchDir("serve_lake")
    val flows = Schedule.defaultFlows(spark, lakeDir)
    // tick 0 lands the flows BEFORE the server starts
    Schedule.runTick(flows, 0).outcomes.foreach { case (n, err) =>
      assert(err.isEmpty, s"flow $n failed: $err") }
    val srv = Serve.start(spark, sf0001, port = 0, lakeDir = Some(lakeDir))
    try {
      // lake views answer /sql next to the analytics tables, including
      // the unioned news_* index-pattern view
      val (c1, b1) = getFrom(srv, "/sql?q=" + java.net.URLEncoder.encode(
        "SELECT COUNT(*) AS n FROM news", "UTF-8"))
      // 6 = the deduped landing-fixture doc count (StreamingSpec pins it)
      assert(c1 === 200 && b1.contains("{\"n\":6}"), b1.take(200))
      val (c2, b2) = getFrom(srv, "/sql?q=" + java.net.URLEncoder.encode(
        "SELECT source_index, COUNT(*) AS n FROM cases GROUP BY 1 ORDER BY 1", "UTF-8"))
      assert(c2 === 200 && b2.contains("contamination"), b2.take(300))
      // /tables reports only views that have actually landed (news_tweets
      // has no landing dir in the default flow set)
      val (c3, b3) = getFrom(srv, "/tables")
      assert(c3 === 200 && b3.contains("\"news_crawl\"") && !b3.contains("news_tweets"), b3)
      // a refresh tick while serving: the swap lands and queries still
      // answer consistently (the reference's read-during-reinsert shape)
      val before = getFrom(srv, "/sql?q=" + java.net.URLEncoder.encode(
        "SELECT COUNT(*) AS n FROM cases", "UTF-8"))._2
      Schedule.runTick(flows, 1).outcomes.foreach { case (n, err) =>
        assert(err.isEmpty, s"tick-1 flow $n failed: $err") }
      Serve.registerLake(spark, lakeDir)
      val after = getFrom(srv, "/sql?q=" + java.net.URLEncoder.encode(
        "SELECT COUNT(*) AS n FROM cases", "UTF-8"))._2
      assert(after === before, s"refresh changed the full-refresh view: $before -> $after")
      // /search?index=news queries the crawled store (the reference
      // UI's actual target), not the analytics documents table
      val (c5, b5) = getFrom(srv, "/search?index=news&q=vaccine+rollout")
      assert(c5 === 200, b5.take(300))
      assert(b5.contains("news.example/a1"), b5.take(400)) // the vaccine headline
      assert(b5.contains("\"crawler\""))
      val (c6, b6) = getFrom(srv, "/search?index=bogus&q=x")
      assert(c6 === 400 && b6.contains("unknown index"), b6.take(200))
      // /suggest?index=news needs the MATERIALIZED vocab view: before
      // the vocab_index flow runs it 400s with a pointer at the flow...
      val (c7, b7) = getFrom(srv, "/suggest?index=news&q=va")
      assert(c7 === 400 && b7.contains("vocab_index"), b7.take(200))
      // ...and after the flow + re-registration it serves news-title
      // completions from the vocab table, not the documents corpus.
      Schedule.runTick(Seq(Schedule.vocabIndexFlow(spark, lakeDir)), 2)
        .outcomes.foreach { case (n, err) => assert(err.isEmpty, s"$n: $err") }
      Serve.registerLake(spark, lakeDir)
      val (c8, b8) = getFrom(srv, "/suggest?index=news&q=va")
      assert(c8 === 200, b8.take(300))
      assert(b8.contains("\"vaccine\""), b8.take(400)) // news-title vocab term
      // fuzzy /search on the news index corrects against the NEWS
      // vocabulary ('vacine' -> 'vaccine'), not the documents one.
      val (c9, b9) = getFrom(srv, "/search?index=news&q=vacine&fuzzy=1")
      val (c10, b10) = getFrom(srv, "/search?index=news&q=vaccine")
      assert(c9 === 200 && c10 === 200)
      assert(b9 === b10, s"news fuzzy diverged:\n$b9\nvs\n$b10")
      assert(b9.contains("news.example/a1"), b9.take(300))
    } finally srv.stop(0)
  }

  test("/search rejects an unbounded page*size product") {
    // each factor alone is within MaxLimit — only the product is not
    val (code, body) = get("/search?q=spark&page=10000&size=10000")
    assert(code === 400 && body.contains("page*size"), body.take(200))
    // the boundary itself still serves
    val (ok, _) = get("/search?q=spark&page=2000&size=5")
    assert(ok === 200)
  }

  test("/search caps the query at 32 terms with a shaped 400") {
    def q(n: Int) = (1 to n).map(i => s"t$i").mkString("+")
    val (code, body) = get(s"/search?q=${q(33)}")
    assert(code === 400 && body.contains("<= 32 terms (got 33)"), body.take(200))
    val (ok, okBody) = get(s"/search?q=${q(32)}&size=3")
    assert(ok === 200 && okBody.contains("\"rows\""), okBody.take(200))
  }

  test("every numeric parameter rejects non-numeric input with a shaped 400") {
    Seq(
      "/search?q=spark&page=two" -> "page",
      "/search?q=spark&size=ten" -> "size",
      "/sql?q=SELECT%201%20AS%20one&limit=all" -> "limit",
      "/query/rel_pricing_summary?limit=all" -> "limit").foreach {
      case (path, param) =>
        val (code, body) = get(path)
        assert(code === 400 && body.contains(s"non-numeric $param"),
          s"$path -> $code $body")
    }
  }

  test("/search ranking equals bm25Search; rank=overlap selects the old ranker") {
    // Rank→doc_id extracted from the response rows, order-insensitively.
    def ranking(body: String): Map[Long, Long] =
      """\{"doc_id":(\d+),"score":[^,]+,"rank":(\d+),""".r
        .findAllMatchIn(body).map(m => m.group(2).toLong -> m.group(1).toLong).toMap
    def expected(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getAs[Long]("rank") -> r.getAs[Long]("doc_id")).toMap

    val (code, body) = get("/search?q=spark+join&page=1&size=5")
    assert(code === 200)
    val bm25 = expected(graft.queries.TextAnalysis
      .bm25Search(spark, sf0001, Seq("spark", "join"), page = 1, pageSize = 5))
    assert(ranking(body) === bm25 && bm25.nonEmpty)

    val (code2, body2) = get("/search?q=spark+join&page=1&size=5&rank=overlap")
    assert(code2 === 200)
    val overlap = expected(graft.queries.TextAnalysis
      .search(spark, sf0001, Seq("spark", "join"), page = 1, pageSize = 5))
    assert(ranking(body2) === overlap && overlap.nonEmpty)
  }

  test("corpus-backed /search bodies equal a per-call searchHits, byte for byte") {
    // the server ranks its cached corpus; searchHits(spark, dir, …)
    // builds an uncached one from the parquet table per call
    val doc = Tables.load(spark, sf0001, "documents").orderBy("doc_id").head()
    val cap = (1 to 31).map(i => s"t$i") :+ "spark"
    val shapes: Seq[(Seq[String], Int, Int)] =
      // the search page's keystrokes: a word, then a prefix of another
      Seq("spark wi", "merge tab", "column vec", "stream val", "small jo", "filter gro")
        .map(q => (q.split(" ").toSeq, 1, 8)) ++ Seq(
      (Seq("spark", "join"), 2, 5),
      (Seq("join", "join"), 1, 10),
      // a term that only the lang, the source or the n_chars field holds
      (Seq(doc.getAs[String]("lang")), 1, 10),
      (Seq(doc.getAs[String]("source")), 1, 10),
      (Seq(doc.getAs[Long]("n_chars").toString), 1, 10),
      (Seq("zzabsent"), 1, 10),
      (Seq("spark", "zzabsent"), 1, 10),
      (cap, 1, 10))
    shapes.foreach { case (terms, page, size) =>
      val (code, body) = get(s"/search?q=${terms.mkString("+")}&page=$page&size=$size")
      assert(code === 200, body.take(300))
      val want = Serve.render(
        graft.queries.TextAnalysis.searchHits(spark, sf0001, terms, page, size), size)
      assert(body === want, s"$terms page $page size $size")
    }
    // every term matches somewhere except the absent one, which matches
    // nothing — and, with df 0 rather than a null stat, leaves the
    // present term's ranking intact
    assert(get("/search?q=zzabsent")._2.contains("\"n\":0"))
    assert(get("/search?q=spark+zzabsent&size=3")._2.contains("\"n\":3"))
    Seq(doc.getAs[String]("lang"), doc.getAs[String]("source"),
        doc.getAs[Long]("n_chars").toString).foreach { t =>
      assert(!get(s"/search?q=$t&size=3")._2.contains("\"n\":0"), t)
    }
  }

  /** Runs one warm request for `path` and returns the number of Spark
    * jobs it ran and the executed plans of its queries. */
  private def warm(path: String, srv: com.sun.net.httpserver.HttpServer = server)
      : (Int, Seq[SparkPlan]) = {
    assert(getFrom(srv, path)._1 === 200) // warm: the corpus is built and cached
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobs.add)
    }
    val queries = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    try {
      assert(getFrom(srv, path)._1 === 200)
      // listener events arrive in order: once this marker job is seen,
      // every job and query of the request has been too
      sc.setJobGroup("spec-marker", "listener barrier")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      val until = System.nanoTime() + 10000000000L
      while (!jobs.contains("spec-marker") && System.nanoTime() < until) Thread.sleep(20)
      assert(jobs.contains("spec-marker"), "the listener never saw the marker job")
      (jobs.asScala.count(_.startsWith("serve-")), plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queries)
    }
  }

  test("a warm documents /search runs exactly 1 Spark job") {
    // the ranking pass over the cached corpus; the statistics are a
    // driver dictionary lookup
    val (jobs, _) = warm("/search?q=spark+jo&size=8")
    assert(jobs === 1, s"a warm /search ran $jobs jobs")
  }

  test("a warm documents /suggest runs 0 Spark jobs") {
    // completion is a prefix lookup in the driver dictionary
    val (jobs, _) = warm("/suggest?q=s&limit=8")
    assert(jobs === 0, s"a warm /suggest ran $jobs jobs")
  }

  test("registerLake says why it skips a view, and registers it once data lands") {
    val lake = Fixtures.scratchDir("serve_lake_no_news")
    // an empty landing: the crawl's sink holds only its _spark_metadata log
    val landing = Fixtures.scratchDir("serve_lake_no_news_landing")
    val flows = Schedule.defaultFlows(spark, lake, newsLanding = landing)
    def tick(t: Long): Unit = Schedule.runTick(flows, t).outcomes.foreach { case (n, err) =>
      assert(err.isEmpty, s"tick $t flow $n failed: $err") }
    try {
      tick(0)
      assert(new java.io.File(s"$lake/news_crawl").list().toSet === Set("_spark_metadata"))
      val out = new java.io.ByteArrayOutputStream
      val views = Console.withOut(out)(Serve.registerLake(spark, lake))
      assert(views === Seq("cases", "france_cases", "virtests"))
      val said = out.toString("UTF-8")
      assert(said.contains(s"registerLake skipped view news_crawl at $lake/news_crawl: " +
        "org.apache.spark.sql.AnalysisException: "), said)
      ServeSpec.copyLanding(landing)
      tick(1)
      assert(Serve.registerLake(spark, lake) ===
        Seq("cases", "france_cases", "virtests", "news_crawl", "news"))
      assert(spark.table("news").count() === 6L)
    } finally Serve.LakeViewNames.foreach(spark.catalog.dropTempView)
  }

  test("a warm news /suggest runs 0 Spark jobs") {
    // the vocab view is collected once per version it reads
    ServeSpec.withNewsServer(spark, sf0001, "serve_news_warm") { (srv, _, _) =>
      val (jobs, _) = warm("/suggest?index=news&q=va&limit=8", srv)
      assert(jobs === 0, s"a warm news /suggest ran $jobs jobs")
    }
  }

  test("after a new news term lands, another vocab_index tick and registerLake, " +
      "the next news /suggest completes that term") {
    ServeSpec.withNewsServer(spark, sf0001, "serve_news_term") { (srv, lake, landing) =>
      val (c1, b1) = getFrom(srv, "/suggest?index=news&q=zym")
      assert(c1 === 200 && b1.contains("\"n\":0"), b1) // collected, no match yet
      java.nio.file.Files.writeString(java.nio.file.Paths.get(landing, "news_c.json"),
        """{"title":"Zymurgy fair reopens","desc":"","date":"2021-03-04T10:00:00",""" +
          """"link":"https://news.example/c1","img":"","lang":"en","source":{"crawler":"googlenews",""" +
          """"website":"news.example","author":"dan","url":"https://news.example","tweet":null}}""" + "\n")
      ServeSpec.indexNews(spark, lake, landing, 1)
      Serve.registerLake(spark, lake)
      val (c2, b2) = getFrom(srv, "/suggest?index=news&q=zym")
      assert(c2 === 200 && b2.contains("\"w\":\"zymurgy\""), b2)
      assert(getFrom(srv, "/search?index=news&q=zymurgy")._2.contains("news.example/c1"))
    }
  }

  test("a warm documents /search plan ranks the cached corpus, not parquet") {
    val (_, plans) = warm("/search?q=merge+tab&size=8")
    val ranked = plans.map(graft.plans.PlanWalk.nodes(_)).filter(_.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[graft.functions.Bm25Score]))))
    assert(ranked.size === 1, s"${ranked.size} ranking plans in one request")
    val nodes = ranked.head
    val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), nodes.head.toString)
    assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
      s"a warm /search reads parquet:\n${nodes.head}")
    assert(!exprs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace]),
      s"a warm /search tokenizes again:\n${nodes.head}")
    assert(exprs.count(_.isInstanceOf[graft.functions.Bm25Score]) === 5, nodes.head.toString)
  }

  test("a /search cut off during the first corpus build leaves the next one correct") {
    val srv = Serve.start(spark, sf0001, port = 0)
    try {
      // drop every cached corpus, so this server's first request builds
      // from parquet (a warm one would find its rows already cached)
      spark.catalog.clearCache()
      val path = "/search?q=spark+join&size=5"
      val ((code, body), _, results) = underBlocker(s"$path&timeout=1", srv)
      assert(code === 408, s"expected 408, got $code: ${body.take(300)}")
      assert(results.nonEmpty && results.forall(r => r.isDefined && !r.contains(JobSucceeded)),
        results.toString)
      val (ok, hits) = getFrom(srv, path)
      assert(ok === 200)
      assert(hits === Serve.render(graft.queries.TextAnalysis.searchHits(
        spark, sf0001, Seq("spark", "join"), 1, 5), 5))
      assert(getFrom(srv, "/suggest?q=s&limit=5") === get("/suggest?q=s&limit=5"))
    } finally srv.stop(0)
  }

  test("/ann serves exact top-k neighbors matching annSearch; bad id 400s") {
    val (code, body) = get("/ann?id=3&k=5")
    assert(code === 200)
    assert(body.contains("\"n\":5"))
    val got = """\{"q_id":3,"neighbor_id":(\d+),[^}]*"rank":(\d+)\}""".r
      .findAllMatchIn(body).map(m => m.group(2).toLong -> m.group(1).toLong).toMap
    val expect = graft.queries.VectorSearch.annSearch(spark, sf0001, Seq(3L), 5)
      .collect().map(r => r.getAs[Long]("rank") -> r.getAs[Long]("neighbor_id")).toMap
    assert(got === expect && expect.size === 5)
    val (bad, err) = get("/ann?id=notanumber")
    assert(bad === 400 && err.contains("error"))
    // non-numeric k gets a shaped 400, not a raw NumberFormatException
    val (badK, errK) = get("/ann?id=3&k=ten")
    assert(badK === 400 && errK.contains("non-numeric k"), errK.take(200))
    // a well-formed id absent from the table is a 404, distinguishable
    // from a present vector that merely has no neighbors
    val (missing, errM) = get("/ann?id=999999999")
    assert(missing === 404 && errM.contains("no embedding"), errM.take(200))
  }

  test("/ann mode= serves the four index paths; unknown mode 400s") {
    // each mode matches its parameterized operator for the same (id, k)
    for ((mode, fn) <- Seq[(String, (Long, Int) => org.apache.spark.sql.DataFrame)](
        "lsh" -> ((id, k) => graft.queries.VectorSearch.lshBucketTopk(spark, sf0001, Seq(id), k)),
        "ivf" -> ((id, k) => graft.queries.VectorSearch.ivfTopk(spark, sf0001, Seq(id), k)),
        "pq" -> ((id, k) => graft.queries.VectorSearch.pqTopk(spark, sf0001, Seq(id), k)),
        "ivfpq" -> ((id, k) => graft.queries.VectorSearch.ivfPqTopk(spark, sf0001, Seq(id), k)))) {
      val (code, body) = get(s"/ann?id=7&k=3&mode=$mode")
      assert(code === 200, s"$mode: ${body.take(200)}")
      val got = """"neighbor_id":(\d+)""".r
        .findAllMatchIn(body).map(_.group(1).toLong).toSeq
      val expect = fn(7L, 3).collect()
        .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      assert(got === expect, s"$mode: got $got expected $expect")
      assert(expect.nonEmpty, s"$mode returned no neighbors for id 7")
    }
    val (bad, err) = get("/ann?id=7&mode=hnsw")
    assert(bad === 400 && err.contains("unknown mode"), err.take(200))
  }

  test("/query/<name> serves any catalog entry; unknown names 404") {
    val (code, body) = get("/query/rel_pricing_summary")
    assert(code === 200 && body.contains("\"l_returnflag\""))
    val (missing, err) = get("/query/does_not_exist")
    assert(missing === 404 && err.contains("unknown query"))
  }

  test("/query error bodies stay valid JSON when the name needs escaping") {
    // the path is URL-decoded, so the name arrives with a raw quote and
    // backslash; both the plain and the time-sliced 404 must escape it
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("/query/a%22b%5Cc" -> "a\"b\\c", "/query/a%22b?from=2020-01-01" -> "a\"b")
      .foreach { case (path, name) =>
        val (code, body) = get(path)
        assert(code === 404, body)
        assert(mapper.readTree(body).get("error").asText === s"unknown query $name", body)
      }
  }

  test("/metrics and /health stay valid JSON under a comma-decimal default locale") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try Seq("/metrics", "/health").foreach { path =>
      val (code, body) = get(path)
      assert(code === 200, body)
      assert(mapper.readTree(body).get("uptime_sec").isNumber, body)
    } finally java.util.Locale.setDefault(saved)
  }

  test("malformed SQL returns a JSON error, not a hung connection") {
    val (code, body) = get("/sql?q=" + java.net.URLEncoder.encode(
      "SELECT FROM WHERE", "UTF-8"))
    assert(code === 400 && body.contains("\"error\""))
    // an error echoing a quote, a backslash and a control character
    // still parses as JSON, with the text intact
    val hostile = "a\"b\\c\u0001d"
    val (c2, b2) = get("/search?q=x&index=" + java.net.URLEncoder.encode(hostile, "UTF-8"))
    assert(c2 === 400, b2)
    val error = new com.fasterxml.jackson.databind.ObjectMapper().readTree(b2).get("error")
    assert(error.asText === s"unknown index $hostile (use news, or omit for documents)", b2)
  }

  test("/sql rejects commands, writes, and path relations (read-only allowlist)") {
    val attacks = Seq(
      "SET spark.sql.adaptive.enabled=false",
      "DROP TABLE nation",
      "CACHE TABLE nation",
      "INSERT OVERWRITE DIRECTORY '/tmp/x' USING parquet SELECT 1",
      "SELECT * FROM parquet.`/etc/passwd`",
      "SELECT * FROM json.`/etc`",
      // the guard must walk subqueries, not just the top level
      "SELECT 1 WHERE EXISTS (SELECT * FROM parquet.`/etc/passwd`)",
      "WITH x AS (SELECT * FROM csv.`/etc/hostname`) SELECT * FROM x",
      // deferred resolution defeats static vetting — both forms rejected
      "EXECUTE IMMEDIATE 'SELECT * FROM text.`/etc/hostname`'",
      "SELECT * FROM IDENTIFIER('text.`/etc/hostname`')",
      // arbitrary static-method invocation (env exfiltration, System.exit)
      "SELECT java_method('java.lang.System', 'getenv', 'HOME')",
      "SELECT reflect('java.lang.System', 'getenv', 'HOME')",
      // try_reflect wraps the same CallMethodViaReflection capability —
      // the round-5 denylist missed it (any case, qualified or not)
      "SELECT try_reflect('java.lang.System', 'getenv', 'HOME')",
      "SELECT TRY_REFLECT('java.lang.System', 'getenv', 'HOME')",
      "SELECT builtin.try_reflect('java.lang.System', 'getenv', 'HOME')",
      // single-part names must not fall through to catalog tables
      "SELECT * FROM graft_bkt_orders_00000000",
      "SELECT * FROM some_unregistered_table",
      // script transform spawns a host process (no-serde mode needs no Hive)
      "SELECT TRANSFORM(n_name) USING 'cat /etc/passwd' AS (out STRING) FROM nation",
      // table-valued functions are non-view sources (unbounded generators)
      "SELECT count(*) FROM range(9223372036854775807)")
    attacks.foreach { sql =>
      val (code, body) = get("/sql?q=" + java.net.URLEncoder.encode(sql, "UTF-8"))
      assert(code === 400 && body.contains("rejected"), s"not rejected: $sql -> $body")
    }
    // still serves plain queries, including CTEs over registered views
    val (ok, body) = get("/sql?q=" + java.net.URLEncoder.encode(
      "WITH x AS (SELECT n_name FROM nation) SELECT count(*) AS n FROM x", "UTF-8"))
    assert(ok === 200 && body.contains("\"n\":1"))
  }

  test("CTE aliases whitelist a name only where SQL makes it visible") {
    def rejected(sql: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Serve.guardSql(spark, sql, Tables.names.toSet)
      }
      assert(e.getMessage.contains("rejected"), s"not rejected: $sql")
    }
    // self-reference without RECURSIVE resolves against the CATALOG, not
    // the CTE — the name must not whitelist its own definition's body
    rejected("WITH graft_bkt_x AS (SELECT * FROM graft_bkt_x) " +
      "SELECT * FROM graft_bkt_x")
    // a definition must not see aliases defined AFTER it
    rejected("WITH b AS (SELECT * FROM a), " +
      "a AS (SELECT n_name FROM nation) SELECT * FROM b")
    // a decoy CTE inside one branch's subquery must not whitelist the
    // name in a sibling branch (where it falls through to the catalog —
    // e.g. a graft_bkt_* staging table)
    rejected("SELECT n_name FROM nation " +
      "WHERE EXISTS (WITH sneak AS (SELECT 1 AS x) SELECT x FROM sneak) " +
      "UNION ALL SELECT * FROM sneak")
    // in-scope uses stay legal: later definitions see earlier ones
    Serve.guardSql(spark,
      "WITH a AS (SELECT n_name FROM nation), b AS (SELECT * FROM a) " +
        "SELECT count(*) AS n FROM b", Tables.names.toSet)
    // ... and RECURSIVE makes the self-reference a real CTE reference
    Serve.guardSql(spark,
      "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL " +
        "SELECT n + 1 FROM r WHERE n < 3) SELECT * FROM r", Tables.names.toSet)
  }

  test("guardAnalyzed rejects reflection by expression class, not name") {
    // The backstop that keeps the denylist from rotting: whatever surface
    // name resolves to CallMethodViaReflection/TryReflect is rejected at
    // the analyzed plan, even if the parse-time name check were bypassed.
    Seq(
      "SELECT try_reflect('java.lang.System', 'getenv', 'HOME')",
      "SELECT reflect('java.lang.System', 'getenv', 'HOME')",
      "SELECT 1 WHERE java_method('java.lang.System', 'getenv', 'HOME') IS NOT NULL"
    ).foreach { sql =>
      val e = intercept[IllegalArgumentException] {
        Serve.guardAnalyzed(
          org.apache.spark.sql.graft.PlanShim.analyzed(spark.sql(sql)))
      }
      assert(e.getMessage.contains("reflection"), s"not rejected: $sql")
    }
    // a plain query passes the backstop untouched
    Serve.guardAnalyzed(org.apache.spark.sql.graft.PlanShim.analyzed(
      spark.sql("SELECT 1 AS one")))
  }

  test("a rejected /sql request leaves no catalog residue behind") {
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val (code, _) = get("/sql?q=" + java.net.URLEncoder.encode(
      "WITH decoy AS (SELECT 1) SELECT * FROM parquet.`/etc/passwd`", "UTF-8"))
    assert(code === 400)
    val after = spark.catalog.listTables().collect().map(_.name).toSet
    assert(after === before)
  }

  test("conf-isolated clones carry custom runtime keys (not just registered confs)") {
    spark.conf.set("graft.stream.statePartitions", "4")
    try Sessions.confIsolated(spark) { s =>
      assert(s.conf.getOption("graft.stream.statePartitions") === Some("4"))
    } finally spark.conf.unset("graft.stream.statePartitions")
  }

  test("concurrent conf-mutating queries can't race the shared session's conf") {
    // Two overlapping /query hits on the AQE-toggling clustering
    // operator: both must succeed, and the shared serving session's AQE
    // conf must be untouched afterward (the set/restore race this
    // design replaced would leave a stale 'false' behind).
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence(Seq.fill(2)(Future(get("/query/llm_dedup_clusters?limit=5")))),
      5.minutes)
    results.foreach { case (code, body) =>
      assert(code === 200 && body.contains("cluster_id"), body.take(200))
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") === before)
  }

  test("server binds loopback only by default") {
    assert(server.getAddress.getAddress.isLoopbackAddress)
  }

  test("handlers run on the bounded pool: a slow request can't freeze the server") {
    // With the default (null) HttpServer executor every handler shares
    // ONE dispatcher thread, so a single multi-second /sql would
    // serialize all endpoints behind it. Prove concurrent service: while
    // a slow /query (seconds of Spark work) is in flight, a /tables
    // round-trip must complete well before the slow request does.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val slow = Future(get("/query/llm_dedup_clusters?limit=5"))
    Thread.sleep(200) // let the slow request occupy its handler thread
    val t0 = System.nanoTime()
    val (code, _) = get("/tables")
    val fastMs = (System.nanoTime() - t0) / 1000000L
    assert(code === 200)
    val (slowCode, _) = Await.result(slow, 5.minutes)
    assert(slowCode === 200)
    assert(fastMs < 2000,
      s"/tables took ${fastMs}ms while a slow request was in flight - handlers serialized")
  }

  test("render json-escapes hostile column names") {
    import spark.implicits._
    val df = Seq(1).toDF("a\\b\"c\nd")
    val out = Serve.render(df, 10)
    assert(out.contains("\"a\\\\b\\\"c\\nd\""))
  }
}

object ServeSpec {

  /** Runs `f` on a server over a scratch lake whose news crawl reads a
    * scratch copy of the landing fixture, after one [[indexNews]] tick
    * (server, lake root, landing dir); then stops the server and drops
    * the lake views it registered on the shared session, which another
    * spec's lake test reads. */
  def withNewsServer[T](spark: SparkSession, dir: String, prefix: String)(
      f: (com.sun.net.httpserver.HttpServer, String, String) => T): T = {
    val lake = Fixtures.scratchDir(prefix)
    val landing = Fixtures.scratchDir(s"${prefix}_landing")
    copyLanding(landing)
    indexNews(spark, lake, landing, 0)
    val srv = Serve.start(spark, dir, port = 0, lakeDir = Some(lake))
    try f(srv, lake, landing)
    finally {
      srv.stop(0)
      Serve.LakeViewNames.foreach(spark.catalog.dropTempView)
    }
  }

  /** Copies the news landing fixture's files into `dir`. */
  def copyLanding(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val files = Files.list(Paths.get(Fixtures.newsLanding))
    try files.forEach(f => Files.copy(f, Paths.get(dir, f.getFileName.toString)))
    finally files.close()
  }

  /** One tick of the news crawl over `landing`, then of vocab_index. */
  def indexNews(spark: SparkSession, lake: String, landing: String, tick: Long): Unit =
    Schedule.runTick(
      Schedule.defaultFlows(spark, lake, newsLanding = landing).filter(_.name == "news_crawl") :+
        Schedule.vocabIndexFlow(spark, lake), tick)
      .outcomes.foreach { case (n, err) => require(err.isEmpty, s"flow $n failed: $err") }
}
