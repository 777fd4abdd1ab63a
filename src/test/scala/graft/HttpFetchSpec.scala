package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.ingest.{CasesIngest, HttpFetch}

/** S3 HTTP fetch: retry-until-success against a local server that fails
  * the first two attempts, then end-to-end into the Spark CSV reader. */
class HttpFetchSpec extends SparkSpec {

  private def withServer(failures: Int)(body: String => Unit): Unit = {
    val payload = Files.readAllBytes(
      Paths.get(s"${CasesIngest.FixtureDir}/contamination_a.csv"))
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val count = new AtomicInteger(0)
    server.createContext("/data.csv", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (count.getAndIncrement() < failures) {
          ex.sendResponseHeaders(503, -1); ex.close()
        } else {
          ex.sendResponseHeaders(200, payload.length)
          ex.getResponseBody.write(payload); ex.close()
        }
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/data.csv")
    finally server.stop(0)
  }

  test("retries through transient 503s and stages the file") {
    withServer(failures = 2) { url =>
      val staging = Files.createTempDirectory("graft_http").toString
      val path = HttpFetch.fetchConditional(url, staging, "owid.csv",
        retries = 3, backoffMs = 10).get._1
      assert(Files.size(path) > 0)
      // distributed part: Spark reads the staged file like any CSV source
      val df = spark.read.option("header", "true").csv(path.toString)
      assert(df.count() === 10)
      assert(df.columns.contains("countriesAndTerritories"))
    }
  }

  test("gives up after max retries with the cause attached") {
    withServer(failures = 99) { url =>
      val staging = Files.createTempDirectory("graft_http").toString
      val e = intercept[RuntimeException] {
        HttpFetch.fetchConditional(url, staging, "owid.csv", retries = 2, backoffMs = 1)
      }
      assert(e.getMessage.contains("after 2 attempts"))
    }
  }
}
