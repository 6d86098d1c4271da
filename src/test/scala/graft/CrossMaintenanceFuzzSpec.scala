package graft

import graft.streaming.{AnnMaintenance, IngestPipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** CROSS-lifecycle composition fuzz — the six per-lifecycle fuzz
  * harnesses prove each index's laws hold per-op; a 100 TB deployment
  * runs the maintainers CONCURRENTLY (text ingest into LSH+BM25, the
  * ANN maintainer into BOTH serving indexes — IVF and IVF-PQ — rollup
  * maintenance, and GDPR sweeps across all of them), so this spec
  * fuzzes the COMPOSITION: a seeded op walk
  * drives a SUBJECT that suffers everything production suffers —
  * crash-injected ingest batches replayed from the top, at-least-once
  * ANN batches re-delivered (including batches whose vectors were
  * since FORGOTTEN — the retired-ids law), duplicate rollup op ids,
  * lease contention from a concurrent sweeper absorbed by the bounded
  * retry, and a GDPR sweep that crashes half-done and reruns in full —
  * while a TWIN applies the same logical ops cleanly, exactly once.
  * After EVERY step, all seven serving surfaces (LSH probe, BM25
  * probe, IVF full-probe top-k, IVF-PQ full-probe ADC top-k, rollup
  * query, and the round-18 FILTERED top-k on both ANN lifecycles)
  * must be identical on both sides: crashes, replays and contention in
  * one lifecycle must never leak into another's served state.
  *
  * Deterministic: fixed seed, synthesized doc texts keyed by doc_id,
  * seeded KMeans builds (identical centroids both sides), every op
  * kind fires at least once before the seeded random walk — the
  * [[Bm25FuzzSpec]] discipline (a pure random walk degenerates). */
class CrossMaintenanceFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001
  import operators.{Bm25Index, IndexManifest, IvfIndex, LshBandIndex,
    MaintenanceLock, RollupStore}

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** 40 unique tokens per doc, keyed by id — novel by construction. */
  private def textOf(id: Long): String =
    (0 until 40).map(i => s"d${id}w$i").mkString(" ")

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def vecBatchDf(shift: Long, origIds: Seq[Long]) =
    Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(origIds: _*))
      .select((col("vec_id") + shift).as("vec_id"), col("label"),
        col("embedding"))

  test("seeded cross-maintainer fuzz: subject (crashes, replays, contention, sweeps) serves bit-equal to the clean twin after EVERY step") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val sLsh = tmp("xf-s-lsh"); val sBm = tmp("xf-s-bm")
    val sIvf = tmp("xf-s-ivf"); val sPq = tmp("xf-s-pq")
    val sRs = tmp("xf-s-rs")
    val tLsh = tmp("xf-t-lsh"); val tBm = tmp("xf-t-bm")
    val tIvf = tmp("xf-t-ivf"); val tPq = tmp("xf-t-pq")
    val tRs = tmp("xf-t-rs")

    // --- seed all five lifecycles identically on both sides ----------
    val seedDocs = docsDf((0L until 10L).map(id => (id, textOf(id))))
      .localCheckpoint()
    for (d <- Seq(sLsh, tLsh)) LshBandIndex.build(spark, seedDocs, d)
    for (d <- Seq(sBm, tBm)) Bm25Index.build(spark, seedDocs, d)
    for (d <- Seq(sIvf, tIvf)) IvfIndex.build(spark, sf, d)
    for (d <- Seq(sPq, tPq)) operators.IvfPq.build(spark, sf, d)
    val events = Tables.events(spark, sf).localCheckpoint()
    var eventsHi = 300L
    val seedFacts = events.filter(col("event_id") < eventsHi)
    for (d <- Seq(sRs, tRs)) RollupStore.build(spark, seedFacts, d)

    // --- harness state (the logical stream both sides consume) -------
    var nextDocId = 10L
    var nextShift = 100000L
    var vecBatches = Vector.empty[(Long, Seq[Long])]
    var forgottenDocs = Set.empty[Long]
    var forgottenVecs = Set.empty[Long]
    var forgottenUsers = Set.empty[Long]
    val trace = new StringBuilder

    // --- the seven serving surfaces compared after every step ---------
    val bmQueries = docsDf((0L until 3L).map(id => (id, textOf(id))))
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(Dsl.toks(col("text")), 1, 4)))
          .as("term"))
      .localCheckpoint()
    val lshProbeBatch = docsDf(Seq(
      (7000001L, textOf(0L)), (7000002L, textOf(999999L))))
      .localCheckpoint()
    val qVec = operators.Similarity.normed(spark, sf)
      .filter(col("vec_id") === 100L).select("e")
      .collect()(0).getSeq[Double](0).toArray
    // the round-18 filtered serving surface rides the same walk: the
    // most common label (victims can never exhaust it), no stats
    // table anywhere in this suite — the documented default-overfetch
    // path, identical semantics both sides
    val probeLabel = Tables.embeddings(spark, sf)
      .groupBy("label").count()
      .orderBy(desc("count"), asc("label")).collect()(0).getInt(0)
    def surfaces(lsh: String, bm: String, ivf: String, pq: String,
        rs: String) = (
      LshBandIndex.probe(spark, lshProbeBatch, lsh)
        .collect().map(_.toString).toSeq,
      Bm25Index.probe(spark, bmQueries, bm)
        .collect().map(_.toString).toSeq,
      IvfIndex.query(spark, ivf, qVec, topK = 15, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      operators.IvfPq.query(spark, pq, qVec, topK = 15, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      RollupStore.query(spark, rs).collect().map(_.toString).toSeq,
      IvfIndex.queryFiltered(spark, ivf, qVec, topK = 10,
          col("label") === probeLabel, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      operators.IvfPq.queryFiltered(spark, pq, qVec, topK = 10,
          col("label") === probeLabel, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq)

    val crashSeams = Seq("sets:appended", "bands:appended",
      "lsh:appended", "postings:appended", "stats:swapped")

    def mkIngestBatch(): org.apache.spark.sql.DataFrame = {
      // 3 novel docs + 1 near-dup of seed doc 0 + 1 poor doc — the
      // gate and the near-dup audit both fire every ingest op
      val novel = (0 until 3).map { _ =>
        val id = nextDocId; nextDocId += 1; (id, textOf(id))
      }
      val nd = { val id = nextDocId; nextDocId += 1
        (id, textOf(0L).replace("d0w7", "edited")) }
      val poor = { val id = nextDocId; nextDocId += 1
        (id, "too short to index") }
      docsDf(novel :+ nd :+ poor).localCheckpoint()
    }

    // every op kind once (dependencies first; a SECOND ann-append after
    // the sweep so the prior-batch re-delivery — including the
    // forgotten vector — deterministically fires), then the seeded walk
    val kinds = Seq(0, 3, 5, 4, 1, 2, 6, 3) ++ Seq.fill(2)(rnd.nextInt(7))
    for ((kind, step) <- kinds.zipWithIndex) {
      val opId = Some(100L + step)
      kind match {
        case 0 => // clean ingest batch, both sides
          trace ++= "ingest "
          val b = mkIngestBatch()
          IngestPipeline.ingestBatch(spark, b, sLsh, sBm, opId)
          IngestPipeline.ingestBatch(spark, b, tLsh, tBm, opId)
          ()
        case 1 => // subject ingest crashes at a seam, replays from the top
          val seam = crashSeams(step % crashSeams.length)
          trace ++= s"ingest-crash($seam) "
          val b = mkIngestBatch()
          val crashed = try {
            IngestPipeline.ingestBatchImpl(spark, b, sLsh, sBm,
              p => if (p == seam) throw new RuntimeException("boom"), opId)
            false
          } catch { case e: RuntimeException => e.getMessage == "boom" }
          assert(crashed, s"crash seam $seam never fired")
          IngestPipeline.ingestBatch(spark, b, sLsh, sBm, opId)
          IngestPipeline.ingestBatch(spark, b, tLsh, tBm, opId)
          ()
        case 2 => // subject ingest races a sweeper's lease: retry absorbs
          trace ++= "ingest-contended "
          val b = mkIngestBatch()
          val held = new java.util.concurrent.CountDownLatch(1)
          val release = new java.util.concurrent.CountDownLatch(1)
          val sweeper = new Thread(() =>
            MaintenanceLock.withLockAs(spark, sLsh, "sweeper@elsewhere") {
              held.countDown(); release.await()
            })
          sweeper.start(); held.await()
          new Thread(() => { Thread.sleep(600); release.countDown() }).start()
          IngestPipeline.ingestBatch(spark, b, sLsh, sBm, opId)
          sweeper.join()
          IngestPipeline.ingestBatch(spark, b, tLsh, tBm, opId)
          ()
        case 3 => // ANN batch; subject re-delivers it AND a random prior
          // batch (at-least-once) — including batches with since-
          // forgotten vectors, which must stay retired
          val ids = Seq.fill(3 + rnd.nextInt(3))(rnd.nextInt(400).toLong)
            .distinct
          val shift = nextShift; nextShift += 100000L
          trace ++= s"ann-append(shift=$shift) "
          val b = vecBatchDf(shift, ids).localCheckpoint()
          AnnMaintenance.applyBatch(spark, b, sIvf, step.toLong,
            rebalanceEvery = 0)
          AnnMaintenance.applyBatchPq(spark, b, sPq, step.toLong,
            rebalanceEvery = 0)
          // immediate replay on BOTH maintainers: must admit nothing
          AnnMaintenance.applyBatch(spark, b, sIvf, step.toLong,
            rebalanceEvery = 0)
          AnnMaintenance.applyBatchPq(spark, b, sPq, step.toLong,
            rebalanceEvery = 0)
          vecBatches :+= ((shift, ids))
          if (vecBatches.size > 1) {
            val (psh, pids) = vecBatches(rnd.nextInt(vecBatches.size - 1))
            trace ++= s"ann-replay(shift=$psh) "
            val pb = vecBatchDf(psh, pids).localCheckpoint()
            AnnMaintenance.applyBatch(spark, pb, sIvf, step.toLong,
              rebalanceEvery = 0)
            AnnMaintenance.applyBatchPq(spark, pb, sPq, step.toLong,
              rebalanceEvery = 0)
          }
          AnnMaintenance.applyBatch(spark, b, tIvf, step.toLong,
            rebalanceEvery = 0)
          AnnMaintenance.applyBatchPq(spark, b, tPq, step.toLong,
            rebalanceEvery = 0)
          ()
        case 4 => // seeded rebalance, both sides (same split decisions)
          trace ++= "ann-rebalance "
          IvfIndex.rebalance(spark, sIvf, factor = 1.2)
          IvfIndex.rebalance(spark, tIvf, factor = 1.2)
          operators.IvfPq.rebalance(spark, sPq, factor = 1.2)
          operators.IvfPq.rebalance(spark, tPq, factor = 1.2)
          ()
        case 5 => // rollup batch; subject re-applies the same op id
          trace ++= "rollup-append "
          val lo = eventsHi; eventsHi += 50L
          val b = events.filter(col("event_id") >= lo &&
            col("event_id") < eventsHi).localCheckpoint()
          assert(RollupStore.append(spark, b, sRs, opId))
          assert(!RollupStore.append(spark, b, sRs, opId),
            "duplicate rollup op id must be skipped")
          assert(RollupStore.append(spark, b, tRs, opId))
          ()
        case _ => // GDPR sweep: subject crashes half-done, reruns in full
          val docV = IndexManifest.read(spark, tBm, "postings")
            .select("doc_id").distinct().collect().map(_.getLong(0))
            .filterNot(forgottenDocs).max
          val vecV = vecBatches.flatMap { case (sh, ids) =>
            ids.map(_ + sh) }.filterNot(forgottenVecs)
            .headOption.getOrElse(5L + forgottenVecs.size)
          val userU = events.filter(col("user_id").isNotNull)
            .filter(!col("user_id").isin(forgottenUsers.toSeq: _*))
            .select("user_id").head().getLong(0)
          trace ++= s"gdpr(doc=$docV,vec=$vecV,user=$userU) "
          val factsSoFar = events.filter(col("event_id") < eventsHi)
            .join(broadcast(forgottenUsers.toSeq.toDF("user_id")),
              Seq("user_id"), "left_anti")
          def sweep(lsh: String, bm: String, ivf: String, pq: String,
              rs: String): Unit = {
            LshBandIndex.delete(spark, Seq(docV), lsh)
            Bm25Index.delete(spark, Seq(docV), bm)
            IvfIndex.delete(spark, Seq(vecV), ivf)
            operators.IvfPq.delete(spark, Seq(vecV), pq)
            RollupStore.delete(spark, factsSoFar,
              Seq(userU).toDF("user_id"), rs, opId)
            LshBandIndex.compact(spark, lsh)
            Bm25Index.compact(spark, bm)
            IvfIndex.applyDeletes(spark, ivf)
            operators.IvfPq.applyDeletes(spark, pq)
            ()
          }
          // the crashed half: two deletes landed, then the job died
          LshBandIndex.delete(spark, Seq(docV), sLsh)
          IvfIndex.delete(spark, Seq(vecV), sIvf)
          // the replay runs the WHOLE sweep from the top
          sweep(sLsh, sBm, sIvf, sPq, sRs)
          sweep(tLsh, tBm, tIvf, tPq, tRs)
          forgottenDocs += docV
          forgottenVecs += vecV
          forgottenUsers += userU
          ()
      }
      val s = surfaces(sLsh, sBm, sIvf, sPq, sRs)
      val t = surfaces(tLsh, tBm, tIvf, tPq, tRs)
      assert(s._1 == t._1, s"step $step LSH diverged; trace: $trace")
      assert(s._2 == t._2, s"step $step BM25 diverged; trace: $trace")
      assert(s._3 == t._3, s"step $step IVF diverged; trace: $trace")
      assert(s._4 == t._4, s"step $step IVF-PQ diverged; trace: $trace")
      assert(s._5 == t._5, s"step $step rollup diverged; trace: $trace")
      assert(s._6 == t._6,
        s"step $step filtered IVF diverged; trace: $trace")
      assert(s._7 == t._7,
        s"step $step filtered IVF-PQ diverged; trace: $trace")
    }
    for (tag <- Seq("ingest ", "ingest-crash(", "ingest-contended",
        "ann-append(", "ann-replay(", "ann-rebalance", "rollup-append",
        "gdpr("))
      assert(trace.toString.contains(tag),
        s"walk degenerated: no '$tag' in trace: $trace")
    // the composed walk drove the MANIFEST-committed retirement path on
    // both ANN lifecycles: every sweep's applyDeletes published its
    // retired segment through a commit, the segment fan-in stays under
    // the compaction threshold, and the distinct set is exactly the
    // forgotten vectors
    for (d <- Seq(sIvf, sPq)) {
      val snap = IndexManifest.snapshot(spark, d)
      val segs = snap.segmentsOf(operators.RetiredIds.Table)
      assert(segs.nonEmpty &&
        segs.size <= operators.RetiredIds.CompactThreshold,
        s"$d: retired segments out of bounds: $segs")
      assert(operators.RetiredIds.count(spark, d) == forgottenVecs.size.toLong,
        s"$d: retired set diverged from the forgotten vectors")
    }
  }

  /** The sequential walk above interleaves ops on ONE thread; the
    * 100 TB deployment runs the maintainers on RACING threads. This
    * round puts text ingest, the ANN maintainer, rollup maintenance
    * and a GDPR sweep on four real threads — the per-dir lease
    * serializes mutations (contention absorbed by bounded retry, the
    * production policy) — while probers flow LOCK-FREE the whole time,
    * and requires (a) no probe ever throws, (b) at least one probe
    * BEGINS inside every maintainer's critical section and completes
    * (maintainers re-run their idempotent last op until observed — a
    * skip path still takes the lease, so the section is real), and
    * (c) the final serving state of all seven surfaces (incl. the
    * filtered ANN pair) is bit-equal to
    * a clean twin that applied the same logical ops sequentially.
    * The op set is chosen to COMMUTE (novel-doc ingests, disjoint
    * shifted ANN ids, GDPR victims from the never-re-sent seed corpus,
    * rollup batches excluding the retracted user), so every lease
    * interleaving must converge to the same served state — any
    * divergence is a cross-thread isolation bug, not op-order noise.
    * BM25/LSH probes carry a small bounded FNF retry: a GDPR compact
    * vacuums FULLY by design (physical removal wins over reader
    * grace — the standing round-14 ruling), so a reader pinned one
    * commit back can lose its files mid-read and must re-resolve. */
  test("TRUE-concurrency round: four maintainers race on real threads, probers flow lock-free through every critical section, final state equals the clean twin") {
    import spark.implicits._
    val sLsh = tmp("xc-s-lsh"); val sBm = tmp("xc-s-bm")
    val sIvf = tmp("xc-s-ivf"); val sPq = tmp("xc-s-pq")
    val sRs = tmp("xc-s-rs")
    val tLsh = tmp("xc-t-lsh"); val tBm = tmp("xc-t-bm")
    val tIvf = tmp("xc-t-ivf"); val tPq = tmp("xc-t-pq")
    val tRs = tmp("xc-t-rs")
    val seedDocs = docsDf((0L until 10L).map(id => (id, textOf(id))))
      .localCheckpoint()
    for (d <- Seq(sLsh, tLsh)) LshBandIndex.build(spark, seedDocs, d)
    for (d <- Seq(sBm, tBm)) Bm25Index.build(spark, seedDocs, d)
    for (d <- Seq(sIvf, tIvf)) IvfIndex.build(spark, sf, d)
    for (d <- Seq(sPq, tPq)) operators.IvfPq.build(spark, sf, d)
    val events = Tables.events(spark, sf).localCheckpoint()
    val victimUser = events.filter(col("user_id").isNotNull)
      .select("user_id").head().getLong(0)
    val seedFacts = events.filter(col("event_id") < 300L).localCheckpoint()
    for (d <- Seq(sRs, tRs)) RollupStore.build(spark, seedFacts, d)

    // --- the commuting logical op set, fixed up front ----------------
    val ingestBatches = (0 until 3).map { i =>
      val base = 5000L + i * 10L
      docsDf((0 until 3).map(j => (base + j, textOf(base + j))) :+
        ((base + 3, textOf(0L).replace("d0w7", "edited"))) :+
        ((base + 4, "too short to index"))).localCheckpoint()
    }
    val annBatches = (0 until 3).map { i =>
      vecBatchDf(1000000L * (i + 1), Seq(10L + i, 50L + i, 90L + i))
        .localCheckpoint()
    }
    // rollup batches EXCLUDE the retracted user so retraction commutes
    val rollupBatches = (0 until 3).map { i =>
      events.filter(col("event_id") >= 300L + i * 200L &&
          col("event_id") < 500L + i * 200L &&
          col("user_id") =!= victimUser)
        .localCheckpoint()
    }
    val docVictim = 3L   // seed doc, never re-ingested
    val vecVictim = 7L   // seed vector, never re-sent
    val vecVictim2 = 8L  // forgotten via the KILLED gdpr sweep
    // kill-round batches: one extra logical op per maintainer type,
    // applied by the subject through a mid-critical-section DEATH +
    // stale-lease takeover, and by the twin cleanly (all commute with
    // the rest of the op set — novel ids, victim-free rollup rows)
    val ingestKillBatch = docsDf((0 until 3).map(j =>
      (6000L + j, textOf(6000L + j))) :+
      ((6003L, textOf(0L).replace("d0w7", "edited"))) :+
      ((6004L, "too short to index"))).localCheckpoint()
    val annKillBatch = vecBatchDf(9000000L, Seq(20L, 60L)).localCheckpoint()
    val rollupKillBatch = events.filter(col("event_id") >= 900L &&
        col("event_id") < 1000L && col("user_id") =!= victimUser)
      .localCheckpoint()

    // --- critical-section instrumentation ----------------------------
    import java.util.concurrent.atomic.AtomicLong
    val names = Seq("ingest", "ann", "rollup", "gdpr")
    val enters = names.map(n => n -> new AtomicLong(0)).toMap
    val exits = names.map(n => n -> new AtomicLong(0)).toMap
    val covered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def marked[T](name: String)(body: => T): T = {
      enters(name).incrementAndGet()
      try body finally { exits(name).incrementAndGet(); () }
    }
    def withPatience[T](body: => T): T = {
      var out: Option[T] = None
      var attempts = 0
      while (out.isEmpty) {
        try out = Some(body)
        catch {
          case _: MaintenanceLock.LockHeldException if attempts < 600 =>
            attempts += 1; Thread.sleep(100)
        }
      }
      out.get
    }
    val killed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val lockFs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    /** The round-18 kill round: die mid-critical-section (the
      * [[MaintenanceLock.AbandonedLease]] seam — heartbeat stops, the
      * lease FILE survives, exactly what a dead process leaves), wait
      * out a shrunken stale window, have a CONTENDER with a foreign
      * holder id (the watchdog / next process) reclaim the lease via
      * the atomic stale-rename takeover and release it, then replay
      * the killed op to convergence under normal contention. Every
      * other maintainer keeps hammering the same dirs throughout —
      * their DefaultStaleMs sees the corpse as merely held and
      * patiently retries, so only the shrunken-window contender can
      * reclaim it: the production watchdog story, raced live. */
    def killAndRecover(name: String, dir: String,
        abandon: () => Unit, replay: () => Unit): Unit = {
      var crashed = false
      withPatience {
        try abandon()
        catch { case _: MaintenanceLock.AbandonedLease => crashed = true }
      }
      if (!crashed)
        failures.add(s"$name: the abandon seam never fired")
      else if (!lockFs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/_lock")))
        failures.add(s"$name: the killed holder's lease must survive it")
      else {
        Thread.sleep(700)
        withPatience {
          MaintenanceLock.withLockAs(spark, dir,
            s"$name-watchdog@elsewhere", staleMs = 500L) { () }
        }
        withPatience { replay() }
        killed.add(name); ()
      }
    }
    def maintainer(name: String, ops: Seq[() => Unit],
        idempotentLast: () => Unit): Thread = new Thread(() => {
      try {
        for (op <- ops) marked(name) { withPatience(op()) }
        // re-run the idempotent last op until a probe lands inside
        // this maintainer's critical section (a skip path still takes
        // the lease — the section is real); bounded so a dead prober
        // can't hang the suite
        var extra = 0
        while (!covered.contains(name) && extra < 200) {
          marked(name) { withPatience(idempotentLast()) }
          extra += 1
        }
      } catch {
        case t: Throwable => failures.add(s"$name maintainer died: $t")
      }
    }, s"xc-$name")

    // op ids are MONOTONIC per stream, so each kill op takes the id
    // slot matching its position (a lower id landing later would be
    // silently skipped by the high-water marker)
    val ingestT = maintainer("ingest",
      Seq(
        () => { IngestPipeline.ingestBatch(spark, ingestBatches(0), sLsh,
          sBm, Some(500L)); () },
        // die inside the BM25 section: postings landed (or the repair
        // branch reached), stats not swapped, marker not advanced —
        // the torn state the repair path exists for, now reached via a
        // DEAD holder instead of a clean throw. BOTH bm25 seams are
        // armed because a lease contention aborting the first attempt
        // after the LSH admit makes withPatience's retry enter via the
        // REPAIR path (bm25:repair), not the append path — a
        // single-seam arm then completes uncrashed (observed flake
        // under full-suite contention). The kill op holds the sBm
        // lease ITSELF (re-entrant under the inner Bm25 ops, the ann
        // kill's pattern) so the corpse leaves a lease no matter which
        // seam fired; contenders fail fast, never block, so the
        // nested sLsh acquisition cannot deadlock.
        () => killAndRecover("ingest", sBm,
          () => MaintenanceLock.withLock(spark, sBm) {
            IngestPipeline.ingestBatchImpl(spark, ingestKillBatch,
              sLsh, sBm,
              p => if (p == "postings:appended" || p == "bm25:repair")
                throw new MaintenanceLock.AbandonedLease, Some(501L)); ()
          },
          () => { IngestPipeline.ingestBatch(spark, ingestKillBatch, sLsh,
            sBm, Some(501L)); () }),
        () => { IngestPipeline.ingestBatch(spark, ingestBatches(1), sLsh,
          sBm, Some(502L)); () },
        () => { IngestPipeline.ingestBatch(spark, ingestBatches(2), sLsh,
          sBm, Some(503L)); () }),
      () => { IngestPipeline.ingestBatch(spark, ingestBatches.last, sLsh,
        sBm, Some(503L)); () })
    val annT = maintainer("ann",
      Seq(
        () => {
          streaming.AnnMaintenance.applyBatch(spark, annBatches(0), sIvf,
            0L, rebalanceEvery = 0)
          streaming.AnnMaintenance.applyBatchPq(spark, annBatches(0), sPq,
            0L, rebalanceEvery = 0)
          () },
        // die AFTER the append landed but before the stream could ack
        // the batch — Structured Streaming's replay window with a dead
        // holder's lease on top; the replay must admit nothing
        () => killAndRecover("ann", sIvf,
          () => MaintenanceLock.withLock(spark, sIvf) {
            streaming.AnnMaintenance.applyBatch(spark, annKillBatch, sIvf,
              9L, rebalanceEvery = 0)
            throw new MaintenanceLock.AbandonedLease
          },
          () => { streaming.AnnMaintenance.applyBatch(spark, annKillBatch,
            sIvf, 9L, rebalanceEvery = 0); () }),
        () => {
          streaming.AnnMaintenance.applyBatch(spark, annBatches(1), sIvf,
            1L, rebalanceEvery = 0)
          streaming.AnnMaintenance.applyBatchPq(spark, annBatches(1), sPq,
            1L, rebalanceEvery = 0)
          () },
        () => {
          streaming.AnnMaintenance.applyBatch(spark, annBatches(2), sIvf,
            2L, rebalanceEvery = 0)
          streaming.AnnMaintenance.applyBatchPq(spark, annBatches(2), sPq,
            2L, rebalanceEvery = 0)
          () }),
      () => { streaming.AnnMaintenance.applyBatch(spark, annBatches.last,
        sIvf, 2L, rebalanceEvery = 0); () })
    val rollupT = maintainer("rollup",
      Seq(
        () => { RollupStore.append(spark, rollupBatches(0), sRs,
          Some(600L)); () },
        // die between the staged write and the swap: data invisible,
        // marker not advanced — the replay applies exactly once
        () => killAndRecover("rollup", sRs,
          () => { RollupStore.appendImpl(spark, rollupKillBatch, sRs,
            p => if (p == "written")
              throw new MaintenanceLock.AbandonedLease, Some(601L)); () },
          () => { RollupStore.append(spark, rollupKillBatch, sRs,
            Some(601L)); () }),
        () => { RollupStore.append(spark, rollupBatches(1), sRs,
          Some(602L)); () },
        () => { RollupStore.append(spark, rollupBatches(2), sRs,
          Some(603L)); () }),
      () => { RollupStore.append(spark, rollupBatches.last, sRs,
        Some(603L)); () })
    // each sweep op gets its OWN lease patience: a LockHeldException is
    // thrown fail-fast BEFORE any mutation, so per-op retry re-runs
    // only the op that never started — the rollup retraction in
    // particular must apply exactly once (its op id is None: the
    // retraction is not part of the maintainer's monotonic op stream,
    // and a shared high-water mark across two concurrent streams would
    // skip whichever lands second — appends after the retraction or
    // the retraction after the appends)
    val gdprT = maintainer("gdpr",
      Seq(
        // die inside the retirement commit (segment staged, manifest
        // uncommitted, tombstones intact) — the replayed apply must
        // retire + remove exactly once over the corpse's torn state
        () => {
          withPatience { IvfIndex.delete(spark, Seq(vecVictim2), sIvf) }
          killAndRecover("gdpr", sIvf,
            () => { IvfIndex.applyDeletesImpl(spark, sIvf,
              p => if (p == "retired:staged")
                throw new MaintenanceLock.AbandonedLease); () },
            () => { IvfIndex.applyDeletes(spark, sIvf); () })
        },
        () => {
        withPatience { LshBandIndex.delete(spark, Seq(docVictim), sLsh) }
        withPatience { Bm25Index.delete(spark, Seq(docVictim), sBm) }
        withPatience { IvfIndex.delete(spark, Seq(vecVictim), sIvf) }
        withPatience { operators.IvfPq.delete(spark, Seq(vecVictim), sPq) }
        withPatience { RollupStore.delete(spark, seedFacts,
          Seq(victimUser).toDF("user_id"), sRs, None) }
        withPatience { LshBandIndex.compact(spark, sLsh) }
        withPatience { Bm25Index.compact(spark, sBm) }
        withPatience { IvfIndex.applyDeletes(spark, sIvf) }
        withPatience { operators.IvfPq.applyDeletes(spark, sPq) }
        () }),
      // the idempotent tail re-runs only replay-safe ANN ops
      () => {
        withPatience { IvfIndex.delete(spark, Seq(vecVictim), sIvf) }
        withPatience { IvfIndex.applyDeletes(spark, sIvf) }
        () })

    // --- lock-free probers on the main thread ------------------------
    val qVec = operators.Similarity.normed(spark, sf)
      .filter(col("vec_id") === 100L).select("e")
      .collect()(0).getSeq[Double](0).toArray
    val bmQueries = docsDf((0L until 2L).map(id => (id, textOf(id))))
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(Dsl.toks(col("text")), 1, 3)))
          .as("term")).localCheckpoint()
    val lshProbeBatch = docsDf(Seq((7000001L, textOf(0L))))
      .localCheckpoint()
    // each probe is timed individually: coverage = the probe BEGAN
    // while the maintainer's op was in flight and COMPLETED without
    // error — serving never waits on maintenance. (Strict whole-probe
    // containment would flake on fast ops like a rollup marker skip.)
    def timedProbe(body: => Unit): Unit = {
      val pre = names.map(n =>
        n -> (enters(n).get() > exits(n).get())).toMap
      body
      for (n <- names; if pre(n)) { covered.add(n); () }
    }
    // manifest probes: bounded re-resolve absorbs a full vacuum
    // landing mid-read (GDPR compact — the documented policy)
    def retried(body: => Unit): Unit = {
      var tries = 0
      var done = false
      while (!done) {
        try { body; done = true }
        catch {
          case t: Throwable
              if tries < 20 && IvfIndex.retryableProbeFailure(t) =>
            tries += 1
        }
      }
    }
    val probeLabel = Tables.embeddings(spark, sf)
      .groupBy("label").count()
      .orderBy(desc("count"), asc("label")).collect()(0).getInt(0)
    def probeOnce(): Unit = {
      // IVF/PQ: the eager probe's own retry is the availability story
      timedProbe { IvfIndex.queryImpl(spark, sIvf, qVec, topK = 10,
        nprobe = 1000, maxAttempts = 64).collect(); () }
      timedProbe { operators.IvfPq.queryImpl(spark, sPq, qVec, topK = 10,
        nprobe = 1000, maxAttempts = 64).collect(); () }
      // filtered serving flows lock-free through the same sections
      // (no stats table in this suite — the default-overfetch path)
      timedProbe { IvfIndex.queryFilteredImpl(spark, sIvf, qVec,
        topK = 10, col("label") === probeLabel, nprobe = 1000,
        maxAttempts = 64).collect(); () }
      timedProbe { operators.IvfPq.queryFilteredImpl(spark, sPq, qVec,
        topK = 10, col("label") === probeLabel, nprobe = 1000,
        maxAttempts = 64).collect(); () }
      timedProbe { retried { Bm25Index.probe(spark, bmQueries, sBm)
        .collect(); () } }
      timedProbe { retried { LshBandIndex.probe(spark, lshProbeBatch, sLsh)
        .collect(); () } }
      timedProbe { retried { RollupStore.query(spark, sRs).collect(); () } }
    }
    val threads = Seq(ingestT, annT, rollupT, gdprT)
    threads.foreach(_.start())
    try {
      while (threads.exists(_.isAlive)) probeOnce()
    } finally threads.foreach(_.join())
    assert(failures.isEmpty,
      s"maintainer threads failed: ${failures.toArray.mkString(" | ")}")
    for (n <- names)
      assert(covered.contains(n),
        s"no probe completed inside the '$n' critical section")
    for (n <- names)
      assert(killed.contains(n),
        s"no mid-critical-section kill + stale takeover ran for '$n'")

    // --- the clean twin applies the same logical ops sequentially ----
    IngestPipeline.ingestBatch(spark, ingestBatches(0), tLsh, tBm, Some(500L))
    IngestPipeline.ingestBatch(spark, ingestKillBatch, tLsh, tBm, Some(501L))
    IngestPipeline.ingestBatch(spark, ingestBatches(1), tLsh, tBm, Some(502L))
    IngestPipeline.ingestBatch(spark, ingestBatches(2), tLsh, tBm, Some(503L))
    for ((b, i) <- annBatches.zipWithIndex) {
      streaming.AnnMaintenance.applyBatch(spark, b, tIvf, i.toLong,
        rebalanceEvery = 0)
      streaming.AnnMaintenance.applyBatchPq(spark, b, tPq, i.toLong,
        rebalanceEvery = 0)
    }
    streaming.AnnMaintenance.applyBatch(spark, annKillBatch, tIvf, 9L,
      rebalanceEvery = 0)
    RollupStore.append(spark, rollupBatches(0), tRs, Some(600L))
    RollupStore.append(spark, rollupKillBatch, tRs, Some(601L))
    RollupStore.append(spark, rollupBatches(1), tRs, Some(602L))
    RollupStore.append(spark, rollupBatches(2), tRs, Some(603L))
    IvfIndex.delete(spark, Seq(vecVictim2), tIvf)
    IvfIndex.applyDeletes(spark, tIvf)
    LshBandIndex.delete(spark, Seq(docVictim), tLsh)
    Bm25Index.delete(spark, Seq(docVictim), tBm)
    IvfIndex.delete(spark, Seq(vecVictim), tIvf)
    operators.IvfPq.delete(spark, Seq(vecVictim), tPq)
    RollupStore.delete(spark, seedFacts,
      Seq(victimUser).toDF("user_id"), tRs, None)
    LshBandIndex.compact(spark, tLsh)
    Bm25Index.compact(spark, tBm)
    IvfIndex.applyDeletes(spark, tIvf)
    operators.IvfPq.applyDeletes(spark, tPq)

    def surfacesOf(lsh: String, bm: String, ivf: String, pq: String,
        rs: String) = (
      LshBandIndex.probe(spark, lshProbeBatch, lsh)
        .collect().map(_.toString).toSeq,
      Bm25Index.probe(spark, bmQueries, bm)
        .collect().map(_.toString).toSeq,
      IvfIndex.query(spark, ivf, qVec, topK = 15, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      operators.IvfPq.query(spark, pq, qVec, topK = 15, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      RollupStore.query(spark, rs).collect().map(_.toString).toSeq,
      IvfIndex.queryFiltered(spark, ivf, qVec, topK = 10,
          col("label") === probeLabel, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      operators.IvfPq.queryFiltered(spark, pq, qVec, topK = 10,
          col("label") === probeLabel, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq)
    val s = surfacesOf(sLsh, sBm, sIvf, sPq, sRs)
    val t = surfacesOf(tLsh, tBm, tIvf, tPq, tRs)
    assert(s._1 == t._1, "LSH diverged after the concurrent round")
    assert(s._2 == t._2, "BM25 diverged after the concurrent round")
    assert(s._3 == t._3, "IVF diverged after the concurrent round")
    assert(s._4 == t._4, "IVF-PQ diverged after the concurrent round")
    assert(s._5 == t._5, "rollup diverged after the concurrent round")
    assert(s._6 == t._6,
      "filtered IVF serving diverged after the concurrent round")
    assert(s._7 == t._7,
      "filtered IVF-PQ serving diverged after the concurrent round")
    // four stale takeovers ran; the atomic-rename path must leave no
    // _lock.stale- tombstones behind on any subject dir
    for (d <- Seq(sLsh, sBm, sIvf, sPq, sRs)) {
      val leftovers = new java.io.File(d).listFiles()
        .map(_.getName).filter(_.startsWith("_lock.stale-")).toSeq
      assert(leftovers.isEmpty,
        s"$d: stale-lease tombstones left behind: $leftovers")
    }
  }
}
