package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules over `src/main/scala`: each concern below has one owner,
  * and a pattern that belongs to it must not appear anywhere else. A
  * second copy is how each of these once drifted from the first. */
class SourceRulesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path under `src/main/scala`, 1-based line number, line) for every
    * line of every Scala source. */
  private lazy val lines: Seq[(String, Int, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { f =>
        val rel = root.relativize(f).toString
        Files.readAllLines(f).asScala.toSeq.zipWithIndex.map { case (l, i) => (rel, i + 1, l) }
      }
    finally walk.close()
  }

  /** The lines under `under` matching `pattern` that `allowed` does not
    * excuse, as `path:line: text`. */
  private def offending(pattern: String, under: String = "")(
      allowed: (String, Int) => Boolean = (_, _) => false): Seq[String] = {
    val re = pattern.r
    lines.collect {
      case (f, n, l) if f.startsWith(under) && re.findFirstIn(l).isDefined && !allowed(f, n) =>
        s"src/main/scala/$f:$n: ${l.trim}"
    }
  }

  /** The line numbers of the block opened by the first line of `file`
    * containing `opening`, through the closing brace at that line's
    * indent. */
  private def block(file: String, opening: String): Option[Range] = {
    val src = lines.filter(_._1 == file)
    src.find(_._3.contains(opening)).map { case (_, start, text) =>
      val close = text.takeWhile(_ == ' ') + "}"
      start to src.find { case (_, n, l) => n > start && l == close }.fold(start)(_._2)
    }
  }

  private def rule(name: String, fix: String)(hits: => Seq[String]): Unit =
    test(name) {
      assert(lines.nonEmpty, s"no Scala sources under $root")
      if (hits.nonEmpty) fail(s"$fix:\n${hits.mkString("\n")}")
    }

  // An interpolated template or a string escaper is how unescaped text
  // and locale-formatted decimals got into response bodies before.
  rule("one JSON writer: no hand-built JSON", "build JSON with graft.Json") {
    offending("\"\"\"\\{\"|jstr\\(")()
  }

  // A change to how a lifecycle runs (trigger, await, rows landed) is
  // made in one place.
  rule("one streaming lifecycle: AvailableNow runs only in StateStores",
      "run streams through StateStores.run / runToParquet") {
    offending("AvailableNow\\(\\)|awaitTermination")((f, _) =>
      f == "graft/streaming/StateStores.scala")
  }

  // Parallel per-module name maps are how an entry got named twice and
  // a later module could shadow an earlier.
  rule("one catalog registry: no per-module name maps",
      "list catalog entries as Entry rows in `entries`") {
    offending("val (queries|oracles): Map", "graft/queries")()
  }

  // A fixed tmpdir path is shared by every JVM on the box.
  rule("one owner of catalog scratch space: no tmpdir under queries",
      "take catalog scratch space from Fixtures.withRunRoot / stagedInput") {
    offending("java\\.io\\.tmpdir", "graft/queries")()
  }

  // A private lock-stripe array is a second copy of PathLocks.
  rule("one lock stripe array: PathLocks", "lock paths through PathLocks (graft/LakeCommit.scala)") {
    offending("Array\\.fill\\(.*\\)\\(new Object\\)")((f, _) => f == "graft/LakeCommit.scala")
  }

  // A job group set anywhere else is a second request lifecycle, with
  // its own deadline rules, that Serve's watchdog does not know about.
  rule("one request lifecycle: job groups only in Serve.handle",
      "run request work inside Serve.handle, which owns the job group and its cancellation") {
    val handle = block("graft/Serve.scala", "def handle(")
    assert(handle.isDefined, "no `def handle(` in graft/Serve.scala")
    offending("(set|clear|cancel)JobGroup")((f, n) =>
      f == "graft/Serve.scala" && handle.exists(_.contains(n)))
  }

  // A second documents load in Serve is a handler re-reading and
  // re-tokenizing the whole corpus on every request.
  rule("one documents corpus: Serve loads documents only in its corpus memo",
      "read documents through Serve's docsCorpus, which builds the corpus once per server") {
    val loads = "\"documents\"|documents\\.parquet|documentsCorpus\\(|" +
      "(TextAnalysis|TextIndex)\\.\\w+\\(spark, dir"
    val memo = block("graft/Serve.scala", "def docsCorpus")
    assert(memo.isDefined, "no `def docsCorpus` in graft/Serve.scala")
    val inMemo = lines.filter { case (f, n, _) =>
      f == "graft/Serve.scala" && memo.exists(_.contains(n)) }
    assert(inMemo.count(l => loads.r.findFirstIn(l._3).isDefined) === 1,
      "docsCorpus must load documents exactly once")
    offending(loads, "graft/Serve.scala")((_, n) => memo.exists(_.contains(n)))
  }

  // A Spark-frame vocabulary beside the driver one is a second
  // completion and membership path, whose order and escaping can drift.
  rule("one search vocabulary: Serve reads terms only from the driver dictionary",
      "read an index's terms through SearchIndex.vocabulary, a TextIndex.Vocabulary") {
    offending("suggestFrom\\(|\\.vocab\\(", "graft/Serve.scala")()
  }

  // A CSV read of its own infers its header with a Spark job, and may
  // name the columns differently from every other source.
  rule("one CSV header read: ingest reads CSV only through CasesIngest.readCsv",
      "read CSV sources with CasesIngest.readCsv, which reads the header without a Spark job") {
    val helper = block("graft/ingest/CasesIngest.scala", "def readCsv(")
    assert(helper.isDefined, "no `def readCsv(` in graft/ingest/CasesIngest.scala")
    offending("option\\(\"header\"|\\.csv\\(", "graft/ingest")((f, n) =>
      f == "graft/ingest/CasesIngest.scala" && helper.exists(_.contains(n)))
  }

  // A bare parquet read of a lake infers its schema with a Spark job on
  // every call, where the pinned read takes it from one footer.
  rule("one lake read: the cadence and Serve read lakes only through LakeCommit.pinnedRead",
      "read lakes through LakeCommit.current / readVersion / pinnedRead") {
    val lakeCode = Set("graft/LakeCommit.scala", "graft/operators/Compaction.scala",
      "graft/Schedule.scala", "graft/Serve.scala")
    offending("read\\.parquet\\(")((f, _) =>
      !(lakeCode(f) || f.startsWith("graft/streaming/")))
  }

  // A checkout's absolute path baked into a default sends a run from
  // any other checkout (a scratch copy, a benchmark checkout) to that
  // one's files. Caught as a quoted path that starts with this
  // checkout's root or runs into a name at a checkout's top level; a
  // path in a comment is not quoted and stays allowed.
  rule("no checkout paths: no literal absolute path into a checkout",
      "resolve checkout files against System.getProperty(\"user.dir\"), " +
        "or take them from the environment") {
    val checkout = Paths.get("").toAbsolutePath.normalize
    val topLevel = {
      val ls = Files.list(checkout)
      try ls.iterator.asScala.map(p => Pattern.quote(p.getFileName.toString)).toSeq
      finally ls.close()
    }
    offending("\"" + Pattern.quote(checkout.toString) + "|" +
      "\"(/[^/\"\\s]+)+/(" + topLevel.mkString("|") + ")[/\"]")()
  }

  // The benchmark and a deployment launch Serve with a plain `java`, so
  // the JDK's nodelay property must come from Serve.start itself, ahead
  // of the server it configures (the JDK reads it once); without it
  // every keep-alive body waits for the client's delayed ACK.
  rule("keep-alive replies unbuffered: Serve.start sets nodelay before creating its server",
      "call System.setProperty(\"sun.net.httpserver.nodelay\", \"true\") in Serve.start " +
        "before HttpServer.create / HttpsServer.create") {
    val start = block("graft/Serve.scala", "def start(")
    assert(start.isDefined, "no `def start(` in graft/Serve.scala")
    val set = lines.collectFirst { case ("graft/Serve.scala", n, l) if start.exists(_.contains(n)) &&
        l.contains("System.setProperty(\"sun.net.httpserver.nodelay\", \"true\")") => n }
    assert(set.isDefined, "Serve.start does not set sun.net.httpserver.nodelay")
    offending("Https?Server\\.create\\(")((f, n) =>
      f == "graft/Serve.scala" && start.exists(_.contains(n)) && set.exists(_ < n))
  }
}
