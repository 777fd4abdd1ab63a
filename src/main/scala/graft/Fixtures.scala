package graft

import java.nio.file.Files

/** Locations of the repo's test fixtures and per-invocation scratch
  * space for queries that stage streaming runs on local disk.
  */
object Fixtures {

  /** Fixture root, overridable via `GRAFT_FIXTURES_DIR` so the repo (or
    * the fixtures) can relocate without code edits; every fixture path —
    * ingestion CSVs and the news landing dir — resolves through here. */
  val dir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", "/root/repo/fixtures")

  /** Crawler landing directory (EP2 input contract). */
  val newsLanding: String = s"$dir/news_landing"

  /** A fresh scratch directory unique to this invocation, removed
    * recursively on JVM exit. Streaming queries must never share a
    * checkpoint/sink across concurrent runs (two sessions on one box —
    * e.g. Bench and Verify — would corrupt each other's state through a
    * fixed path), so uniqueness is the contract here. */
  def scratchDir(prefix: String): String = {
    val p = Files.createTempDirectory(s"graft_${prefix}_")
    sys.addShutdownHook(rm(p.toFile))
    p.toString
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  private val reused = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** A scratch root memoized per prefix for the JVM's lifetime (ONE
    * directory, ONE shutdown hook), so a long-lived Serve process does
    * not grow disk and the shutdown-hook list with request count.
    * Callers that clean-then-reuse it go through [[withRunRoot]]. */
  def reusedScratchDir(prefix: String): String =
    reused.computeIfAbsent(prefix, _ => scratchDir(prefix))

  private val runLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** The lock [[withRunRoot]] holds for `prefix`. */
  private[graft] def runLock(prefix: String): Object =
    runLocks.computeIfAbsent(prefix, _ => new Object)

  /** Run `body` on the [[reusedScratchDir]] of `prefix`, emptied first,
    * holding that prefix's lock throughout: the run directory of a
    * streaming lifecycle (sink, checkpoint, lake), fresh on every call.
    * Same-prefix runs serialize; different prefixes run concurrently.
    * A result that reads the root lazily is valid until the next run on
    * the same prefix empties it. */
  def withRunRoot[T](prefix: String)(body: String => T): T =
    runLock(prefix).synchronized {
      val root = reusedScratchDir(prefix)
      Option(new java.io.File(root).listFiles).foreach(_.foreach(rm))
      body(root)
    }

  private final class Staged(kind: String, stage: String => Unit) {
    lazy val dir: String = { val d = scratchDir(kind); stage(d); d }
  }
  private val staged = new java.util.concurrent.ConcurrentHashMap[(String, String), Staged]

  /** The staged-input directory of `kind` for source `key`, made by
    * `stage` (which writes into the fresh directory it gets) on first use
    * and reused for the JVM's lifetime.
    *
    * For streaming inputs that are a DETERMINISTIC function of source
    * tables assumed IMMUTABLE for the JVM's lifetime: keyed by the
    * source path, so a fixture regenerated in place mid-JVM would
    * silently serve the stale copy — regenerating test data requires a
    * fresh JVM, which is how every harness (Bench, Verify, tests) runs.
    * Repeat invocations (Bench's warmup + measured passes, Serve
    * requests) then time the streaming operator, not a parquet write.
    * A stage that throws records nothing, and the next call stages
    * again; different kinds stage concurrently. */
  def stagedInput(kind: String, key: String)(stage: String => Unit): String =
    staged.computeIfAbsent((kind, key), _ => new Staged(kind, stage)).dir

  /** The directory [[stagedInput]] made for (`kind`, `key`), if any. */
  private[graft] def stagedInputIfPresent(kind: String, key: String): Option[String] =
    Option(staged.get((kind, key))).map(_.dir)
}
