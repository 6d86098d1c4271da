package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The commit layer itself: manifest visibility/atomicity laws, op-id
  * preservation, orphan vacuum, snapshot isolation for a reader racing
  * a compact, and the single-writer maintenance lease. */
class IndexManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import operators.{IndexManifest, MaintenanceLock}

  private def tmp(name: String): String = {
    val dir = Files.createTempDirectory(name).toFile
    dir.deleteOnExit()
    dir.getAbsolutePath
  }

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.toDF("id")
  }

  test("staged segments are invisible until commit; commit publishes atomically") {
    val dir = tmp("manifest-vis")
    val s1 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L).write.parquet(p))
    // staged only: no manifest yet -> the table does not exist
    assert(IndexManifest.load(spark, dir).isEmpty)
    assert(IndexManifest.readOpt(spark, dir, "t").isEmpty)
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s1)))
    assert(IndexManifest.read(spark, dir, "t").count() == 2L)
    // a second staged segment stays invisible, then appends atomically
    val s2 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(3L).write.parquet(p))
    assert(IndexManifest.read(spark, dir, "t").count() == 2L,
      "uncommitted segment leaked into the read")
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s1, s2)))
    assert(IndexManifest.read(spark, dir, "t").count() == 3L)
  }

  test("op id rides the manifest and survives opId-less commits; stampOp bumps it alone") {
    val dir = tmp("manifest-op")
    val s1 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s1)), Some(7L))
    assert(IndexManifest.appliedOp(spark, dir).contains(7L))
    // an opId-less maintenance commit must preserve the high-water mark
    val s2 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(2L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s1, s2)))
    assert(IndexManifest.appliedOp(spark, dir).contains(7L),
      "opId-less commit erased the marker")
    // stampOp records a new op without touching any table
    IndexManifest.stampOp(spark, dir, 9L)
    assert(IndexManifest.appliedOp(spark, dir).contains(9L))
    assert(IndexManifest.read(spark, dir, "t").count() == 2L)
  }

  test("vacuum removes exactly the unreferenced segments and superseded manifest versions") {
    val dir = tmp("manifest-vac")
    val live = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L).write.parquet(p))
    val orphan = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(99L).write.parquet(p)) // staged by a "crashed" writer
    IndexManifest.commit(spark, dir, Map("t" -> Seq(live)))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(live))) // version bump
    assert(IndexManifest.vacuum(spark, dir) >= 2,
      "expected the orphan segment AND the superseded version cleaned")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/segs/$orphan")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/segs/$live")))
    assert(IndexManifest.read(spark, dir, "t").count() == 1L)
    assert(IndexManifest.vacuum(spark, dir) == 0, "vacuum must be idempotent")
  }

  test("snapshot isolation: a reader plan resolved pre-compact keeps serving until vacuum") {
    val dir = tmp("manifest-iso")
    val s1 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L, 3L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s1)))
    // the racing reader: resolves the CURRENT manifest, then the
    // compact replaces the table under it
    val reader = IndexManifest.read(spark, dir, "t")
    val compacted = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L, 3L).repartition(1).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(compacted)))
    // pre-vacuum: the old segment still exists -> the old plan serves
    assert(reader.count() == 3L,
      "reader holding the old snapshot failed mid-compact")
    assert(IndexManifest.read(spark, dir, "t").count() == 3L,
      "new readers resolve the compacted segment")
    IndexManifest.vacuum(spark, dir)
    assert(IndexManifest.read(spark, dir, "t").count() == 3L)
  }

  test("time travel: the retained previous generation is readable BY VERSION until the next mutation") {
    val dir = tmp("manifest-travel")
    val s1 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L).write.parquet(p))
    val v1 = IndexManifest.commit(spark, dir, Map("t" -> Seq(s1)),
      Some(5L)).version
    val s2 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L, 3L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s2)))
    IndexManifest.vacuum(spark, dir, retainGenerations = 1)
    // the previous generation is pinnable: same rows, same op marker
    val old = IndexManifest.loadAt(spark, dir, v1)
      .getOrElse(fail("retained version not loadable"))
    assert(old.opId.contains(5L), "historical snapshot lost its op id")
    assert(IndexManifest.readSnapshot(spark, dir, old, "t")
      .get.count() == 2L, "historical read diverged")
    assert(IndexManifest.read(spark, dir, "t").count() == 3L)
    // a version past the retention horizon is gone, loudly None
    val s3 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(4L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s3)))
    IndexManifest.vacuum(spark, dir, retainGenerations = 1)
    assert(IndexManifest.loadAt(spark, dir, v1).isEmpty,
      "a vacuumed version must not resolve")
  }

  test("one-generation retention: a reader resolved pre-mutation survives a retaining vacuum; a full vacuum reclaims everything") {
    val dir = tmp("manifest-retain")
    val s1 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s1)))
    // the racing reader resolves the CURRENT (v1) manifest...
    val reader = IndexManifest.read(spark, dir, "t")
    // ...then a routine mutation replaces the table AND vacuums with
    // the append paths' one-generation grace
    val s2 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L, 3L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s2)))
    IndexManifest.vacuum(spark, dir, retainGenerations = 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/segs/$s1")),
      "retaining vacuum must keep the previous generation's segment")
    assert(reader.count() == 2L,
      "pre-mutation reader broke during a retained vacuum")
    assert(IndexManifest.read(spark, dir, "t").count() == 3L)
    // retention is ONE generation: the next retaining vacuum (after a
    // further commit) reclaims s1
    val s3 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(4L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s3)))
    IndexManifest.vacuum(spark, dir, retainGenerations = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/segs/$s1")),
      "a segment two generations back must be reclaimed")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/segs/$s2")))
    // the destructive form (compact / right-to-be-forgotten) reclaims
    // everything but the live set at once
    assert(IndexManifest.vacuum(spark, dir) > 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/segs/$s2")),
      "full vacuum must reclaim the previous generation")
    assert(IndexManifest.read(spark, dir, "t").count() == 1L)
  }

  test("configurable retention depth: a reader two generations back survives depth 2 and fails loudly under depth 1") {
    val dir = tmp("manifest-depth")
    val s1 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L).write.parquet(p))
    val v1 = IndexManifest.commit(spark, dir, Map("t" -> Seq(s1))).version
    // the long-running reader pins v1, then TWO mutations land
    val pinned = IndexManifest.loadAt(spark, dir, v1)
      .getOrElse(fail("fresh version not loadable"))
    val s2 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(1L, 2L, 3L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s2)))
    val s3 = IndexManifest.newSegment(spark, dir, "t")(p =>
      df(4L).write.parquet(p))
    IndexManifest.commit(spark, dir, Map("t" -> Seq(s3)))
    // depth 2 sizes the grace window to cover the two-back reader
    IndexManifest.vacuum(spark, dir, retainGenerations = 2)
    assert(IndexManifest.loadAt(spark, dir, v1).isDefined,
      "depth 2 must retain the version two generations back")
    assert(IndexManifest.readSnapshot(spark, dir, pinned, "t")
      .get.count() == 2L,
      "a reader two generations back must survive under depth 2")
    // depth 1 reclaims v1 — and the lagging reader fails LOUDLY, never
    // serves a partial file set
    IndexManifest.vacuum(spark, dir, retainGenerations = 1)
    assert(IndexManifest.loadAt(spark, dir, v1).isEmpty,
      "depth 1 must reclaim the two-back version")
    intercept[Exception] {
      IndexManifest.readSnapshot(spark, dir, pinned, "t").get.count()
    }
    assert(IndexManifest.read(spark, dir, "t").count() == 1L)
  }

  test("migrate commits a pre-manifest legacy layout as initial segments and carries the legacy op marker") {
    val dir = tmp("manifest-migrate")
    // a legacy (pre-commit-layer) index: plain table dirs + the old
    // `_applied_op` marker file
    df(1L, 2L).write.parquet(s"$dir/postings")
    df(10L).write.parquet(s"$dir/stats")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val opP = new org.apache.hadoop.fs.Path(s"$dir/_applied_op")
    val out = fs.create(opP, true)
    out.write("41".getBytes("UTF-8")); out.close()
    // load() sees nothing — exactly the silent-rebuild trap migrate closes
    assert(IndexManifest.load(spark, dir).isEmpty)
    val snap = IndexManifest.migrate(spark, dir,
      Seq("postings", "stats", "tombstones"))
    assert(snap.isDefined, "migrate found nothing to commit")
    assert(IndexManifest.read(spark, dir, "postings").count() == 2L)
    assert(IndexManifest.read(spark, dir, "stats").count() == 1L)
    assert(IndexManifest.readOpt(spark, dir, "tombstones").isEmpty,
      "a table with no legacy dir must not appear")
    assert(IndexManifest.appliedOp(spark, dir).contains(41L),
      "the legacy exactly-once marker must ride into the initial commit")
    assert(!fs.exists(opP), "the legacy marker file must be retired")
    // re-running is a no-op: migrate never overwrites a live manifest
    assert(IndexManifest.migrate(spark, dir, Seq("postings")).isEmpty)
    assert(IndexManifest.read(spark, dir, "postings").count() == 2L)
    // the moved segments are live — vacuum has nothing to reclaim
    assert(IndexManifest.vacuum(spark, dir) == 0)
  }

  test("a migrate crashed mid-move replays without stranding the moved table") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = tmp("manifest-migrate-crash")
    df(1L, 2L).write.parquet(s"$dir/postings")
    df(10L).write.parquet(s"$dir/stats")
    val opP = new org.apache.hadoop.fs.Path(s"$dir/_applied_op")
    val out = fs.create(opP, true)
    out.write("41".getBytes("UTF-8")); out.close()
    // crash AFTER postings was renamed into segs/ but BEFORE the
    // commit: the torn state has postings only in the segment store
    intercept[RuntimeException] {
      IndexManifest.migrateImpl(spark, dir, Seq("postings", "stats"),
        p => if (p == "moved:postings") throw new RuntimeException(p))
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings")))
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/segs/postings-legacy")))
    assert(IndexManifest.load(spark, dir).isEmpty,
      "nothing may be committed at the crash state")
    // the replay must ADOPT the moved segment — a top-level-only scan
    // would commit stats alone and the vacuum below would then delete
    // postings-legacy as an orphan (data loss)
    val snap = IndexManifest.migrate(spark, dir, Seq("postings", "stats"))
    assert(snap.isDefined)
    assert(IndexManifest.read(spark, dir, "postings").count() == 2L,
      "replayed migrate stranded the already-moved table")
    assert(IndexManifest.read(spark, dir, "stats").count() == 1L)
    assert(IndexManifest.appliedOp(spark, dir).contains(41L))
    assert(IndexManifest.vacuum(spark, dir) == 0,
      "every migrated segment must be live, not orphaned")
    assert(IndexManifest.read(spark, dir, "postings").count() == 2L)
  }

  test("a migrate crashed between commit and marker retirement finishes it on replay") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = tmp("manifest-migrate-crash2")
    df(1L).write.parquet(s"$dir/postings")
    val opP = new org.apache.hadoop.fs.Path(s"$dir/_applied_op")
    val out = fs.create(opP, true)
    out.write("7".getBytes("UTF-8")); out.close()
    intercept[RuntimeException] {
      IndexManifest.migrateImpl(spark, dir, Seq("postings"),
        p => if (p == "committed") throw new RuntimeException(p))
    }
    // committed but the dead legacy file survived the crash
    assert(IndexManifest.appliedOp(spark, dir).contains(7L))
    assert(fs.exists(opP))
    // replay: no second commit (never overwrites), but the retirement
    // completes — the stale marker cannot shadow the manifest forever
    assert(IndexManifest.migrate(spark, dir, Seq("postings")).isEmpty)
    assert(!fs.exists(opP), "replay must retire the legacy marker")
    assert(IndexManifest.appliedOp(spark, dir).contains(7L))
    assert(IndexManifest.read(spark, dir, "postings").count() == 1L)
  }

  test("freshness audit: version/op/segment counts, retention depth, and a pinned reader's lag, exactly") {
    val dirA = tmp("manifest-fresh-a")
    val dirB = tmp("manifest-fresh-b")
    // index A: 3 committed versions (depth-1 vacuum), op marker 7,
    // two tables with 2+1 live segments
    val a1 = IndexManifest.newSegment(spark, dirA, "t")(p =>
      df(1L).write.parquet(p))
    val v1 = IndexManifest.commit(spark, dirA, Map("t" -> Seq(a1)),
      Some(5L)).version
    val pinnedA = IndexManifest.loadAt(spark, dirA, v1)
      .getOrElse(fail("v1 not loadable"))
    val a2 = IndexManifest.newSegment(spark, dirA, "t")(p =>
      df(2L).write.parquet(p))
    IndexManifest.commit(spark, dirA, Map("t" -> Seq(a1, a2)), Some(7L))
    val a3 = IndexManifest.newSegment(spark, dirA, "u")(p =>
      df(3L).write.parquet(p))
    IndexManifest.commit(spark, dirA,
      Map("t" -> Seq(a1, a2), "u" -> Seq(a3)))
    IndexManifest.vacuum(spark, dirA, retainGenerations = 1)
    // index B: a bare dir — no manifest (legacy/fresh), must read null
    new java.io.File(dirB).mkdirs()
    val rows = IndexManifest.freshness(spark,
        Seq("a" -> dirA, "b" -> dirB), Map("a" -> pinnedA))
      .collect().map(r => r.getString(0) -> r).toMap
    val ra = rows("a")
    assert(ra.getLong(1) == v1 + 2, "head version")
    assert(ra.getLong(2) == 7L, "op high-water mark (preserved by the opId-less commit)")
    assert(ra.getLong(3) == 2L, "n_tables")
    assert(ra.getLong(4) == 3L, "n_segments (2 t + 1 u)")
    assert(ra.getLong(5) == 2L, "retained_versions after a depth-1 vacuum")
    assert(ra.getLong(6) == v1 + 1, "oldest_retained")
    assert(ra.getLong(7) == v1, "pinned_version")
    assert(ra.getLong(8) == 2L, "pinned_lag = head - pinned")
    // the lag ≥ retained_versions read: THIS reader is past the horizon
    assert(ra.getLong(8) >= ra.getLong(5),
      "fixture must exercise the about-to-fall-off-horizon signal")
    val rb = rows("b")
    assert(rb.isNullAt(1) && rb.isNullAt(2) && rb.isNullAt(3),
      "an un-migrated/fresh dir must surface as null head — the loud signal")
    assert(rb.getLong(5) == 0L, "no retained versions on a bare dir")
    assert(rb.isNullAt(7) && rb.isNullAt(8))
  }

  test("maintenance lease: a second process fails fast, a stale lease is taken over, re-entry passes through") {
    val dir = tmp("manifest-lock")
    // contention: while held by THIS process, another holder fails
    MaintenanceLock.withLockAs(spark, dir, "proc-A") {
      val ex = intercept[MaintenanceLock.LockHeldException] {
        MaintenanceLock.withLockAs(spark, dir, "proc-B") { fail("ran") }
      }
      assert(ex.getMessage.contains("proc-A"))
      // re-entry by the SAME holder is a no-op passthrough...
      val nested = MaintenanceLock.withLockAs(spark, dir, "proc-A") { 42 }
      assert(nested == 42)
      // ...and must NOT release the outer lease on exit
      intercept[MaintenanceLock.LockHeldException] {
        MaintenanceLock.withLockAs(spark, dir, "proc-B") { fail("ran") }
      }
      ()
    }
    // released: another holder acquires freely now
    assert(MaintenanceLock.withLockAs(spark, dir, "proc-B") { 1 } == 1)
    // stale takeover: a lease from a dead process (old mtime) is stolen
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    val out = fs.create(lock, true)
    out.write("dead-proc".getBytes("UTF-8")); out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 3600L * 1000L, -1)
    assert(MaintenanceLock.withLockAs(spark, dir, "proc-C") { 2 } == 2,
      "stale lease must be taken over")
    // the atomic-rename takeover leaves no tombstone behind
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_lock.stale-"))
    assert(leftovers.isEmpty, s"takeover tombstones left behind: ${leftovers.mkString(",")}")
  }

  test("thread granularity: a second THREAD of the same process fails fast; same-thread nesting still re-enters") {
    val dir = tmp("manifest-thread")
    @volatile var interleaved = false
    @volatile var innerEx: Option[Throwable] = None
    MaintenanceLock.withLock(spark, dir) {
      // same thread, same holder: re-entrant passthrough (unchanged)
      assert(MaintenanceLock.withLock(spark, dir) { 42 } == 42)
      // a second thread shares this JVM's holder id — the file lease
      // alone would wave it through as "re-entrant"; the in-process
      // registry must fail it fast instead
      val t = new Thread(() => {
        try { MaintenanceLock.withLock(spark, dir) { interleaved = true }; () }
        catch { case e: Throwable => innerEx = Some(e) }
      }, "second-maintainer")
      t.start(); t.join()
      assert(!interleaved, "a second thread interleaved maintenance on a held index")
      assert(innerEx.exists(_.isInstanceOf[MaintenanceLock.LockHeldException]),
        s"expected LockHeldException, got $innerEx")
      ()
    }
    // released: another thread acquires freely now
    @volatile var ok = false
    val t2 = new Thread(() => {
      MaintenanceLock.withLock(spark, dir) { ok = true }; ()
    })
    t2.start(); t2.join()
    assert(ok, "post-release acquisition from another thread failed")
  }

  test("lock key is canonical: aliased spellings of one dir (trailing slash, //, ., relative) contend on one lease") {
    // keyed on the raw string, /idx and /idx/ would miss each other in
    // the in-JVM registry AND the second thread's fileLease would read
    // the first's lock file, see the shared holder id, and pass through
    // as "re-entrant" — two threads interleaving on one index
    val dir = tmp("manifest-alias")
    val parent = new java.io.File(dir).getParent
    val name = new java.io.File(dir).getName
    val aliases = Seq(s"$dir/", s"$parent//$name", s"$parent/./$name")
    MaintenanceLock.withLock(spark, dir) {
      for (alias <- aliases) {
        @volatile var interleaved = false
        @volatile var innerEx: Option[Throwable] = None
        val t = new Thread(() => {
          try { MaintenanceLock.withLock(spark, alias) { interleaved = true }; () }
          catch { case e: Throwable => innerEx = Some(e) }
        }, s"alias-maintainer")
        t.start(); t.join()
        assert(!interleaved, s"alias '$alias' slipped past the lock on $dir")
        assert(innerEx.exists(_.isInstanceOf[MaintenanceLock.LockHeldException]),
          s"alias '$alias': expected LockHeldException, got $innerEx")
      }
      ()
    }
    // cwd-relative spelling: makeQualified resolves it against the
    // filesystem working directory, so it aliases the absolute form
    val relName = s"graft-alias-lock-${java.util.UUID.randomUUID.toString.take(8)}"
    val absOfRel = new java.io.File(
      System.getProperty("user.dir"), relName).getAbsolutePath
    try MaintenanceLock.withLock(spark, absOfRel) {
      @volatile var innerEx: Option[Throwable] = None
      val t = new Thread(() => {
        try { MaintenanceLock.withLock(spark, relName) { () }; () }
        catch { case e: Throwable => innerEx = Some(e) }
      })
      t.start(); t.join()
      assert(innerEx.exists(_.isInstanceOf[MaintenanceLock.LockHeldException]),
        s"relative spelling '$relName': expected LockHeldException, got $innerEx")
      ()
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(absOfRel))
      ()
    }
    // all spellings released together: an alias acquires freely now
    assert(MaintenanceLock.withLock(spark, s"$dir/") { 7 } == 7)
  }

  test("lock key does NOT percent-decode: a dir literally named with a URI escape stays distinct from its decoded twin, lease lands in the right dir") {
    // canonicalDir builds the key from the RAW uri path: getPath would
    // decode a literal '%20' in the dir NAME to a space, colliding two
    // distinct dirs on one key and (re-parsed) pointing the lease file
    // at the wrong directory
    val root = tmp("manifest-pct")
    val escDir = s"$root/a%20b"
    val spaceDir = s"$root/a b"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(escDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(spaceDir))
    MaintenanceLock.withLock(spark, escDir) {
      // the lease file lives INSIDE the literal a%20b dir (a decoding
      // canonicalizer re-parsed through Hadoop Path would drop it
      // elsewhere) and never in the decoded twin
      assert(new java.io.File(escDir, "_lock").exists,
        "lease file missing from the literal 'a%20b' dir")
      assert(!new java.io.File(spaceDir, "_lock").exists,
        "lease leaked into the decoded twin dir")
      // the decoded twin is a DIFFERENT dir: another thread locks it
      // freely while a%20b is held — no key collision
      @volatile var ok = false
      val t = new Thread(() => {
        MaintenanceLock.withLock(spark, spaceDir) {
          ok = new java.io.File(spaceDir, "_lock").exists
        }
        ()
      })
      t.start(); t.join()
      assert(ok, "distinct dir 'a b' was blocked or mis-leased by the " +
        "lock on 'a%20b' — percent-decoding key collision")
      ()
    }
  }

  test("release leaves a STOLEN lease intact (the lock now carries the thief's id)") {
    val dir = tmp("manifest-steal")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    MaintenanceLock.withLockAs(spark, dir, "victim") {
      // simulate a takeover mid-body (the victim stopped beating long
      // enough to be declared stale): the thief's lease replaces ours
      val out = fs.create(lock, true)
      out.write("thief".getBytes("UTF-8")); out.close()
      ()
    }
    // the victim's release must NOT free the thief's live lease
    assert(fs.exists(lock), "release deleted a lease it no longer owned")
    val in = fs.open(lock)
    val h = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
    finally in.close()
    assert(h == "thief", s"lock holder after release: $h")
    // and a third writer still fails fast against the thief's lease
    intercept[MaintenanceLock.LockHeldException] {
      MaintenanceLock.withLockAs(spark, dir, "proc-X") { fail("ran") }
    }
  }

  test("a LIVE holder outliving the stale window keeps its lease (heartbeat beats takeover)") {
    val dir = tmp("manifest-heartbeat")
    // stale window 300 ms, body runs 4x longer: without the heartbeat
    // the second holder would steal the lease mid-body (exactly the
    // 100 TB-compact-outlives-the-window corruption)
    MaintenanceLock.withLockAs(spark, dir, "long-runner", staleMs = 300L) {
      Thread.sleep(1200L)
      intercept[MaintenanceLock.LockHeldException] {
        MaintenanceLock.withLockAs(spark, dir, "thief", staleMs = 300L) {
          fail("stole a live lease")
        }
      }
      ()
    }
    // released: the same window now admits the next holder at once
    assert(MaintenanceLock.withLockAs(spark, dir, "thief",
      staleMs = 300L) { 7 } == 7)
  }

  test("concurrent admit-vs-compact is excluded by the lease (the interleave that used to be undefined)") {
    import spark.implicits._
    val dir = tmp("manifest-admit-lock")
    val docs = Seq((1L, (1 to 40).map(i => s"w$i x$i").mkString(" ")))
      .toDF("doc_id", "text")
    operators.LshBandIndex.build(spark, docs, dir)
    // a compact is mid-flight in another process (lease held by it):
    // admit/delete/compact from this side must fail fast, not corrupt
    MaintenanceLock.withLockAs(spark, dir, "other-process") {
      val batch = Seq((2L, (1 to 40).map(i => s"y$i z$i").mkString(" ")))
        .toDF("doc_id", "text")
      intercept[MaintenanceLock.LockHeldException] {
        operators.LshBandIndex.admit(spark, batch, dir)
      }
      intercept[MaintenanceLock.LockHeldException] {
        operators.LshBandIndex.compact(spark, dir)
      }
      intercept[MaintenanceLock.LockHeldException] {
        operators.LshBandIndex.delete(spark, Seq(1L), dir)
      }
      // reads stay lock-free: the probe works mid-maintenance
      assert(operators.LshBandIndex.probe(spark, batch, dir)
        .collect() != null)
      ()
    }
    // lease released: maintenance proceeds
    operators.LshBandIndex.compact(spark, dir)
  }
}
