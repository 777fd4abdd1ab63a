package graft

import java.io.File
import java.nio.file.Files

/** Locations of the repo's test fixtures, and the one owner of the
  * scratch space catalog entries write on local disk: staged inputs
  * ([[stagedInput]], written once per JVM) and run directories
  * ([[withRunRoot]], one fresh generation per run, valid through the
  * next run on the same prefix). No entry picks a path of its own.
  */
object Fixtures {

  /** Fixture root: `GRAFT_FIXTURES_DIR`, else `fixtures/` under the
    * working directory (the checkout root for sbt runs and tests), so
    * every checkout reads its own fixtures; every fixture path —
    * ingestion CSVs and the news landing dir — resolves through here. */
  val dir: String =
    sys.env.getOrElse("GRAFT_FIXTURES_DIR", s"${System.getProperty("user.dir")}/fixtures")

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

  private def rm(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** The run root of each [[withRunRoot]] prefix, memoized for the
    * JVM's lifetime (ONE directory, ONE shutdown hook), so a long-lived
    * Serve process does not grow disk and the shutdown-hook list with
    * request count. */
  private val runRoots = new java.util.concurrent.ConcurrentHashMap[String, String]

  private val runLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** The lock [[withRunRoot]] holds for `prefix`. */
  private[graft] def runLock(prefix: String): Object =
    runLocks.computeIfAbsent(prefix, _ => new Object)

  /** The run generations under `root`, oldest first. */
  private def generations(root: File): Seq[Long] =
    Option(root.listFiles).toSeq.flatten.map(_.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted

  /** Run `body` on a fresh generation directory under the run root of
    * `prefix`, holding that prefix's lock throughout: the run directory
    * of a catalog entry that writes scratch data (a streaming
    * lifecycle's sink and checkpoint, a scratch lake, an export).
    * Same-prefix runs serialize; different prefixes run concurrently.
    *
    * Generations are numbered 1, 2, … per prefix, and a run deletes
    * only those older than the previous run's: the same one-version
    * grace window [[LakeCommit]] keeps for readers across a refresh. A
    * result that reads its run directory lazily therefore stays valid
    * through the NEXT run on the same prefix; the run after that
    * deletes it. */
  def withRunRoot[T](prefix: String)(body: String => T): T =
    runLock(prefix).synchronized {
      val root = new File(runRoots.computeIfAbsent(prefix, _ => scratchDir(prefix)))
      val gens = generations(root)
      gens.dropRight(1).foreach(g => rm(new File(root, g.toString)))
      val run = new File(root, (gens.lastOption.getOrElse(0L) + 1L).toString)
      run.mkdir(): Unit
      body(run.getPath)
    }

  /** The directory of the latest [[withRunRoot]] run on `prefix`. */
  private[graft] def latestRun(prefix: String): String =
    runLock(prefix).synchronized {
      val root = Option(runRoots.get(prefix)).map(new File(_))
      root.flatMap(r => generations(r).lastOption.map(g => new File(r, g.toString).getPath))
        .getOrElse(throw new IllegalStateException(s"no $prefix run in this JVM"))
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
