package graft

import java.io.{File, IOException}

import org.apache.spark.sql.DataFrame

/** [[LakeCommit]] — the versioned marker-file commit. The load-bearing
  * claims: the commit point is a single empty-file create (NO rename
  * anywhere on the visibility path, so object stores are safe), readers
  * pin one immutable version for their whole query, GC honors the grace
  * window, and crashes at any step leave a resolvable lake.
  */
class LakeCommitSpec extends SparkSpec {

  import spark.implicits._

  private def dataset(k: Int): DataFrame =
    (1 to 50).map(i => (k, i)).toDF("k", "i")

  private def ks(df: DataFrame): Set[Int] =
    df.collect().map(_.getInt(0)).toSet

  test("commit/resolve/read roundtrip; a flat legacy dir resolves to itself") {
    val root = Fixtures.scratchDir("lc_rt")
    val lake = s"$root/lake"
    val dir = LakeCommit.commit(dataset(1), lake)
    assert(dir.endsWith("v000000001"))
    assert(LakeCommit.resolve(spark, lake) === Some(dir))
    assert(ks(LakeCommit.read(spark, lake)) === Set(1))
    // flat legacy layout (or a streaming sink): no _commits -> the
    // path itself
    val flat = s"$root/flat"
    dataset(7).write.parquet(flat)
    assert(LakeCommit.resolve(spark, flat) === Some(flat))
    assert(ks(LakeCommit.read(spark, flat)) === Set(7))
    // absent lake: nothing to resolve, read throws the shaped error
    assert(LakeCommit.resolve(spark, s"$root/nope") === None)
    intercept[java.io.FileNotFoundException](LakeCommit.read(spark, s"$root/nope"))
  }

  test("snapshot isolation: a reader pinned before a refresh reads its version to completion") {
    val lake = s"${Fixtures.scratchDir("lc_snap")}/lake"
    LakeCommit.commit(dataset(1), lake)
    val pinned = LakeCommit.read(spark, lake) // plans against v1's dir
    LakeCommit.commit(dataset(2), lake) // refresh lands v2, GC keeps v1 (grace)
    assert(ks(pinned) === Set(1), "pinned reader saw the refresh")
    assert(ks(LakeCommit.read(spark, lake)) === Set(2), "new reader not on v2")
  }

  test("GC: versions below the grace window go, markers first, dirs in lockstep") {
    val lake = s"${Fixtures.scratchDir("lc_gc")}/lake"
    (1 to 4).foreach(k => LakeCommit.commit(dataset(k), lake))
    val names = new File(lake).listFiles().map(_.getName).toSet
    assert(names === Set("_commits", "v000000003", "v000000004"), s"got $names")
    val marks = new File(s"$lake/_commits").listFiles().map(_.getName)
      .filter(_.matches("v\\d{9}")).sorted.toSeq // local-fs .crc sidecars aside
    assert(marks === Seq("v000000003", "v000000004"))
    assert(ks(LakeCommit.read(spark, lake)) === Set(4))
  }

  test("crash windows: an unmarked orphan dir is invisible, its number never reused; a marker whose dir died mid-GC is skipped") {
    val lake = s"${Fixtures.scratchDir("lc_crash")}/lake"
    LakeCommit.commit(dataset(1), lake, keepVersions = 10)
    LakeCommit.commit(dataset(2), lake, keepVersions = 10)
    // crash between data-write and marker: orphan v3, no commit record
    dataset(99).write.parquet(s"$lake/v000000003")
    assert(ks(LakeCommit.read(spark, lake)) === Set(2), "orphan became visible")
    // recovery commit must skip the orphan's number (never blend files)
    val dir = LakeCommit.commit(dataset(4), lake, keepVersions = 10)
    assert(dir.endsWith("v000000004"))
    assert(ks(LakeCommit.read(spark, lake)) === Set(4))
    // crash mid-GC: marker present, data dir gone -> resolve falls back
    // to the next lower committed version instead of failing
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit }
    rm(new File(s"$lake/v000000004"))
    assert(ks(LakeCommit.read(spark, lake)) === Set(2), "dangling marker not skipped")
  }

  test("old orphans and expired versions GC together once the floor passes them") {
    val lake = s"${Fixtures.scratchDir("lc_orph")}/lake"
    LakeCommit.commit(dataset(1), lake)
    dataset(99).write.parquet(s"$lake/v000000002") // crashed write
    LakeCommit.commit(dataset(3), lake) // max(marker 1, orphan dir 2)+1 = v3
    LakeCommit.commit(dataset(4), lake) // v4; floor=3 GCs v1 and the v2 orphan
    val names = new File(lake).listFiles().map(_.getName).toSet
    assert(names === Set("_commits", "v000000003", "v000000004"), s"got $names")
  }

  test("time travel: any retained version reads back; expired and never-committed fail loudly") {
    val lake = s"${Fixtures.scratchDir("lc_tt")}/lake"
    LakeCommit.commit(dataset(1), lake, keepVersions = 2)
    LakeCommit.commit(dataset(2), lake, keepVersions = 2)
    // Both inside the retention window: history lists them, each pins
    // its own immutable content, current == highest.
    assert(LakeCommit.committedVersions(spark, lake) === Seq(1L, 2L))
    assert(ks(LakeCommit.readVersion(spark, lake, 1L)) === Set(1))
    assert(ks(LakeCommit.readVersion(spark, lake, 2L)) === Set(2))
    assert(ks(LakeCommit.read(spark, lake)) === Set(2))
    // Third commit GCs v1 (keep=2): time travel to it must fail with
    // the retention error, not silently read v2's data.
    LakeCommit.commit(dataset(3), lake, keepVersions = 2)
    assert(LakeCommit.committedVersions(spark, lake) === Seq(2L, 3L))
    intercept[java.io.FileNotFoundException](LakeCommit.readVersion(spark, lake, 1L))
    // A version number never committed is a distinct loud failure.
    intercept[java.io.FileNotFoundException](LakeCommit.readVersion(spark, lake, 99L))
    assert(ks(LakeCommit.readVersion(spark, lake, 2L)) === Set(2))
  }

  test("crash INJECTION matrix: real failures at the real call sites, readers never see partial state") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.faultfs.impl", classOf[FaultFs].getName)
    val localRoot = Fixtures.scratchDir("lc_fault")
    val lake = s"faultfs://$localRoot/lake"

    // baseline committed version through the fault FS (disarmed)
    FaultFs.disarm()
    LakeCommit.commit(dataset(1), lake, keepVersions = 1)
    assert(ks(LakeCommit.read(spark, lake)) === Set(1))

    // -- crash 1: between staged data write and marker publish --------
    // poison exactly the v2 marker create; the parquet write (which
    // also calls create, on data files) must pass through untouched
    FaultFs.poison = (op, path) =>
      op == "create" && path.endsWith("_commits/v000000002")
    intercept[IOException] {
      LakeCommit.commit(dataset(2), lake, keepVersions = 1)
    }
    FaultFs.disarm()
    // partial state: data dir v2 exists (fully written), marker absent
    assert(new File(s"$localRoot/lake/v000000002").exists())
    assert(!new File(s"$localRoot/lake/_commits/v000000002").exists())
    // readers are entirely unaffected: still v1, history still [1]
    assert(ks(LakeCommit.read(spark, lake)) === Set(1))
    assert(LakeCommit.committedVersions(spark, lake) === Seq(1L))
    // the next tick recovers: orphan number is skipped, commit lands v3
    val rec = LakeCommit.commit(dataset(3), lake, keepVersions = 1)
    assert(rec.endsWith("v000000003"))
    assert(ks(LakeCommit.read(spark, lake)) === Set(3))
    // keep=1 floor passed the orphan: v2's half-commit is gone for good
    assert(!new File(s"$localRoot/lake/v000000002").exists())

    // -- crash 2: after the commit point, mid-GC (between supersede ---
    // -- and data-dir delete) -----------------------------------------
    // v4 commits (marker lands), then GC's delete of v3's DATA dir
    // dies after v3's MARKER was already deleted — the marker-first
    // ordering under test
    FaultFs.poison = (op, path) =>
      op == "delete" && path.endsWith("/v000000003") && !path.contains("_commits")
    intercept[IOException] {
      LakeCommit.commit(dataset(4), lake, keepVersions = 1)
    }
    FaultFs.disarm()
    // the COMMIT survived the GC crash: v4 is current for new readers
    assert(ks(LakeCommit.read(spark, lake)) === Set(4))
    assert(LakeCommit.committedVersions(spark, lake) === Seq(4L))
    // partial state: v3's marker went first, its data dir lingers —
    // invisible to resolve (no marker), so no reader can pin it
    assert(new File(s"$localRoot/lake/v000000003").exists())
    assert(!new File(s"$localRoot/lake/_commits/v000000003").exists())
    // next tick's GC retries and clears the lingering dir
    LakeCommit.commit(dataset(5), lake, keepVersions = 1)
    assert(!new File(s"$localRoot/lake/v000000003").exists())
    assert(ks(LakeCommit.read(spark, lake)) === Set(5))

    // -- crash 3: marker create dies AND the writer never returns -----
    // (double fault: orphan from crash 1's shape followed immediately
    // by another writer crashing the same way; numbers stay unique)
    FaultFs.poison = (op, path) =>
      op == "create" && path.contains("_commits/v0000000") &&
        !path.endsWith("v000000005") // only future markers fail
    intercept[IOException] {
      LakeCommit.commit(dataset(6), lake, keepVersions = 1)
    }
    intercept[IOException] {
      LakeCommit.commit(dataset(7), lake, keepVersions = 1)
    }
    FaultFs.disarm()
    // two distinct orphans, neither visible, current still v5
    assert(new File(s"$localRoot/lake/v000000006").exists())
    assert(new File(s"$localRoot/lake/v000000007").exists())
    assert(ks(LakeCommit.read(spark, lake)) === Set(5))
    // recovery skips both
    assert(LakeCommit.commit(dataset(8), lake, keepVersions = 1)
      .endsWith("v000000008"))
    assert(ks(LakeCommit.read(spark, lake)) === Set(8))
  }

  test("retention purge: counts partition the source and the purged version is destroyed") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.Ingestion.retentionPurge(spark, sf0001).collect()
    assert(out.nonEmpty)
    val totals = Tables.load(spark, sf0001, "events")
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_purged_age") +
        r.getAs[Long]("n_purged_user") == totals(t), s"partition law broke for $t")
    }
    assert(out.map(_.getAs[Long]("n_purged_user")).sum > 0, "banned cohort vacuous")
    assert(out.map(_.getAs[Long]("n_purged_age")).sum > 0, "age purge vacuous")
    // keepVersions=1: exactly one retained version — purged data has no
    // readable prior snapshot left behind.
    val lake = Fixtures.latestRun("lake_purge")
    assert(LakeCommit.committedVersions(spark, lake).size == 1)
    // And the retained version truly contains no banned/expired rows.
    val back = LakeCommit.read(spark, lake)
    assert(back.filter(col("user_id") % 100 === 13).count() == 0)
  }

  test("rename atomicity is NOT load-bearing: concurrent readers stay consistent on a copy+delete-rename fs") {
    // The old staged-swap design moved the live directory through two
    // renames; on an object store (rename = slow copy+delete) a reader
    // could list a half-copied lake. The marker-file commit's
    // visibility path has NO rename: writers may rename all they want
    // inside the invisible version dir (Spark's task committer does),
    // but readers only ever see marker names + immutable committed
    // dirs. Prove it on a filesystem whose rename is deliberately torn.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nonatomic.impl", classOf[NonAtomicFs].getName)
    val lake = "nonatomic://" + Fixtures.scratchDir("lc_s3") + "/lake"
    val renamesBefore = NonAtomicFs.renames.get()
    LakeCommit.commit(dataset(1), lake, keepVersions = 10)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var writing = true
    val writer = Future {
      try (2 to 5).foreach(k => LakeCommit.commit(dataset(k), lake, keepVersions = 10))
      finally writing = false
    }
    var reads = 0
    while (writing || reads == 0) {
      val rows = LakeCommit.read(spark, lake).collect().map(r => (r.getInt(0), r.getInt(1)))
      val kset = rows.map(_._1).toSet
      assert(rows.length === 50, s"read ${rows.length} rows - torn snapshot")
      assert(kset.size === 1, s"read mixed versions: $kset")
      assert(rows.map(_._2).sorted.toSeq === (1 to 50), "partial dataset")
      reads += 1
    }
    Await.result(writer, 300.seconds)
    assert(ks(LakeCommit.read(spark, lake)) === Set(5))
    // the writer's internal task-commit renames DID run through the
    // torn implementation — the protocol was exercised, not bypassed
    assert(NonAtomicFs.renames.get() > renamesBefore,
      "no rename ever hit the non-atomic fs; the simulation proved nothing")
    assert(reads > 0)
  }
}
