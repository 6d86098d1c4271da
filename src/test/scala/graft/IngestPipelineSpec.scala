package graft

import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.Doc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import java.nio.file.Files

/** The composed ingest pipeline (quality gate → LSH near-dup admit →
  * BM25 index append) end to end over a MemoryStream, including the
  * replay law: re-feeding an ingested wire changes neither index. */
class IngestPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import operators.{Bm25Index, LshBandIndex}

  private def tmp(name: String): String = {
    val dir = Files.createTempDirectory(name).toFile
    dir.deleteOnExit()
    dir.getAbsolutePath
  }

  private def freshIndexes(): (String, String) = {
    import spark.implicits._
    val lsh = tmp("graft-ingest-lsh"); val bm = tmp("graft-ingest-bm25")
    // seed corpus: two long docs already in both indexes
    val seed = Seq(
      Doc(1L, (1 to 40).map(i => s"seed$i alpha$i").mkString(" ")),
      Doc(2L, (1 to 40).map(i => s"base$i beta$i").mkString(" "))).toDF()
    LshBandIndex.build(spark, seed, lsh)
    Bm25Index.build(spark, seed, bm)
    (lsh, bm)
  }

  private def postingsState(bm: String): (Long, (Long, Long)) = {
    val p = operators.IndexManifest.read(spark, bm, "postings").count()
    val st = operators.IndexManifest.read(spark, bm, "stats").collect().head
    (p, (st.getLong(0), st.getLong(1)))
  }

  test("stream: poor doc gated, near-dup rejected, survivor lands in both indexes; replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (lsh, bm) = freshIndexes()
    val seedText = (1 to 40).map(i => s"seed$i alpha$i").mkString(" ")
    val wire = Seq(
      Doc(10L, "too short to index"),                       // poor: gated
      Doc(11L, seedText.replace("alpha7", "alphaX")),       // near-dup of 1
      Doc(12L, (1 to 40).map(i => s"fresh$i gamma$i").mkString(" ")))
    val mem = MemoryStream[Doc]
    val q = IngestPipeline.start(mem.toDS(), lsh, bm, tmp("graft-ingest-ckpt"))
    try {
      mem.addData(wire: _*)
      q.processAllAvailable()
    } finally q.stop()

    val indexedDocs = operators.IndexManifest.read(spark, bm, "postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexedDocs == Set(1L, 2L, 12L),
      s"only the fresh survivor joins the seeds: $indexedDocs")
    val lshDocs = operators.IndexManifest.read(spark, lsh, "sets")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(lshDocs == Set(1L, 2L, 12L), s"lsh sets: $lshDocs")
    // the survivor is servable through the BM25 index
    val hits = Bm25Index.probe(spark,
      Seq((0L, "fresh3"), (0L, "gamma9")).toDF("qid", "term"), bm)
      .collect()
    assert(hits.nonEmpty && hits.head.getLong(2) == 12L,
      s"survivor must rank first for its own terms: ${hits.toSeq}")

    // replay the SAME wire on a fresh stream: the dedup gate rejects
    // everything (each doc finds itself at jaccard 1.0), so neither
    // index changes — exactly-once effect without idempotent writes
    val before = postingsState(bm)
    val mem2 = MemoryStream[Doc]
    val q2 = IngestPipeline.start(mem2.toDS(), lsh, bm, tmp("graft-ingest-ckpt2"))
    try {
      mem2.addData(wire: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(postingsState(bm) == before, "replay must not grow the BM25 index")
    val lshDocs2 = operators.IndexManifest.read(spark, lsh, "sets")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(lshDocs2 == Set(1L, 2L, 12L), "replay must not grow the LSH index")
  }

  // ------------------------------------------------------------------
  // Crash injection at every pipeline seam: a crash followed by a
  // replay of the SAME batch id must converge both indexes to the
  // clean-run state — in particular the round-12 defect seam (crash
  // between the LSH append and the BM25 append), where the replayed
  // audit rejects the batch at jaccard 1.0 and, without the membership
  // repair, the docs would permanently never enter the BM25 index.
  // ------------------------------------------------------------------

  private def wire() = {
    import spark.implicits._
    val seedText = (1 to 40).map(i => s"seed$i alpha$i").mkString(" ")
    Seq(
      Doc(10L, "too short to index"),                 // poor: gated
      Doc(11L, seedText.replace("alpha7", "alphaX")), // near-dup of 1
      Doc(12L, (1 to 40).map(i => s"fresh$i gamma$i").mkString(" "))).toDF()
  }

  /** Full observable state of both indexes, order-normalized. */
  private def indexState(lsh: String, bm: String) = (
    operators.IndexManifest.read(spark, lsh, "sets")
      .collect().map(_.toString).sorted.toSeq,
    operators.IndexManifest.read(spark, lsh, "bands")
      .collect().map(_.toString).sorted.toSeq,
    operators.IndexManifest.read(spark, bm, "postings")
      .collect().map(_.toString).sorted.toSeq,
    operators.IndexManifest.read(spark, bm, "stats")
      .collect().map(_.toString).toSeq,
    operators.Bm25Index.appliedOp(spark, bm))

  /** Run `body`, which must fail at its planted crash seam: the planted
    * "boom" must be somewhere in the thrown exception's cause chain (a
    * Spark wrapper around it is fine, any other failure is not). */
  private def crashesAtSeam(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    if (!chain.exists(t => Option(t.getMessage).exists(_.contains("boom")))) {
      val trace = new java.io.StringWriter
      e.printStackTrace(new java.io.PrintWriter(trace))
      fail(s"the planted crash is not in the cause chain:\n$trace")
    }
  }

  test("crash at every seam + replay converges to the clean-run state; done batches skip in full") {
    // the clean run is the target state
    val (lshC, bmC) = freshIndexes()
    assert(IngestPipeline.ingestBatch(spark, wire(), lshC, bmC,
      opId = Some(1L)) == 1L)
    val want = indexState(lshC, bmC)
    assert(want._5.contains(1L), "clean run must stamp the op marker")

    val seams = Seq("audited", "sets:appended", "bands:appended",
      "committed", "lsh:appended", "postings:appended", "stats:staged")
    for (seam <- seams) {
      val (lsh, bm) = freshIndexes()
      crashesAtSeam {
        IngestPipeline.ingestBatchImpl(spark, wire(), lsh, bm,
          p => if (p == seam) throw new RuntimeException(s"boom at $p"),
          opId = Some(1L))
      }
      // replay of the same batch id repairs whatever the crash tore
      val n = IngestPipeline.ingestBatch(spark, wire(), lsh, bm,
        opId = Some(1L))
      assert(n == 1L, s"replay after crash at $seam admitted $n")
      assert(indexState(lsh, bm) == want,
        s"crash at $seam + replay diverges from the clean run")
      // a further replay is skipped in full by the op marker
      assert(IngestPipeline.ingestBatch(spark, wire(), lsh, bm,
        opId = Some(1L)) == 0L, s"completed batch not skipped after $seam")
      assert(indexState(lsh, bm) == want,
        s"skipped replay still changed state after $seam")
    }

    // stats:swapped fires after the marker landed with the final write:
    // the replay must SKIP in full, not re-run
    val (lsh2, bm2) = freshIndexes()
    crashesAtSeam {
      IngestPipeline.ingestBatchImpl(spark, wire(), lsh2, bm2,
        p => if (p == "stats:swapped") throw new RuntimeException("boom"),
        opId = Some(1L))
    }
    assert(IngestPipeline.ingestBatch(spark, wire(), lsh2, bm2,
      opId = Some(1L)) == 0L, "marker landed — replay must skip in full")
    assert(indexState(lsh2, bm2) == want)

    // ------------------------------------------------------------------
    // REAL checkpoint recovery, not a simulated replay: run the stream,
    // then delete the checkpoint's commit record for batch 0 — exactly
    // the on-disk state a crash leaves after foreachBatch's side
    // effects ran but before Spark committed the batch. The restarted
    // query re-runs batch 0 with the SAME batchId; the op marker (which
    // landed with the BM25 stats swap) must skip it in full.
    // ------------------------------------------------------------------
    locally {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val (lshS, bmS) = freshIndexes()
      val ck = tmp("graft-ingest-restart-ck")
      val mem = MemoryStream[Doc]
      val wireDocs = wire().as[Doc].collect().toSeq
      val q1 = IngestPipeline.start(mem.toDS(), lshS, bmS, ck)
      try { mem.addData(wireDocs: _*); q1.processAllAvailable() }
      finally q1.stop()
      val afterRun = indexState(lshS, bmS)
      assert(afterRun._1 == want._1 && afterRun._3.nonEmpty,
        "streamed run must populate both indexes")
      // simulate the crash window: side effects durable, commit lost
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val commit0 = new org.apache.hadoop.fs.Path(s"$ck/commits/0")
      assert(fs.exists(commit0), "expected a commit record for batch 0")
      fs.delete(commit0, false)
      val q2 = IngestPipeline.start(mem.toDS(), lshS, bmS, ck)
      try q2.processAllAvailable() finally q2.stop()
      // non-vacuous: Spark really did re-run batch 0 (the commit record
      // was rewritten), and the re-run changed nothing
      assert(fs.exists(commit0),
        "restarted query never reprocessed batch 0 — test is vacuous")
      assert(indexState(lshS, bmS) == afterRun,
        "checkpoint-recovered batch 0 must be skipped by its op marker")
    }

    // double crash: the headline seam, then a crash inside the REPAIR
    // path itself; the third replay still converges. The restarted
    // streams above must be fully gone first: no active query and no
    // job still running on their behalf.
    eventually(timeout(Span(60, Seconds))) {
      assert(spark.streams.active.isEmpty,
        s"streams still active: ${spark.streams.active.map(_.name).toSeq}")
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
        "jobs still active: " +
          spark.sparkContext.statusTracker.getActiveJobIds.toSeq)
    }
    val (lsh3, bm3) = freshIndexes()
    crashesAtSeam {
      IngestPipeline.ingestBatchImpl(spark, wire(), lsh3, bm3,
        p => if (p == "lsh:appended") throw new RuntimeException("boom"),
        opId = Some(1L))
    }
    crashesAtSeam {
      IngestPipeline.ingestBatchImpl(spark, wire(), lsh3, bm3,
        p => if (p == "bm25:repair") throw new RuntimeException("boom"),
        opId = Some(1L))
    }
    assert(IngestPipeline.ingestBatch(spark, wire(), lsh3, bm3,
      opId = Some(1L)) == 1L)
    assert(indexState(lsh3, bm3) == want,
      "double crash + replay diverges from the clean run")
  }

  test("zero-admit batches stamp the op marker: the replay skips before any audit work") {
    import spark.implicits._
    val (lsh, bm) = freshIndexes()
    val seedText = (1 to 40).map(i => s"seed$i alpha$i").mkString(" ")
    val baseText = (1 to 40).map(i => s"base$i beta$i").mkString(" ")
    // every doc is gated or a near-dup of a seed: nothing admits (the
    // edited tokens are single-occurrence — alpha9/beta7 are not
    // prefixes of any other token with i <= 40)
    val allDup = Seq(
      Doc(20L, "way too short"),
      Doc(21L, seedText.replace("alpha9 ", "alphaZ ")),
      Doc(22L, baseText.replace("beta7 ", "betaZ "))).toDF()
    val before = indexState(lsh, bm)
    assert(IngestPipeline.ingestBatch(spark, allDup, lsh, bm,
      opId = Some(5L)) == 0L)
    assert(operators.Bm25Index.appliedOp(spark, bm).contains(5L),
      "an all-rejected batch must still record its op id")
    assert(indexState(lsh, bm)._1 == before._1 &&
      indexState(lsh, bm)._3 == before._3,
      "the zero-admit stamp must not change any table")
    // the replay must skip on the marker BEFORE the audit runs: a
    // crashPoint at 'audited' proves the audit never executes
    val n = IngestPipeline.ingestBatchImpl(spark, allDup, lsh, bm,
      p => if (p == "audited")
        throw new RuntimeException("audit ran — marker skip failed"),
      opId = Some(5L))
    assert(n == 0L, "replayed zero-admit batch must skip in full")
  }

  test("withLeaseRetry: bounded doubling backoff, success on release, final exception surfaces") {
    import operators.MaintenanceLock
    // deterministic seam drive: body locked for 2 attempts, then free
    var calls = 0
    var slept = List.empty[Long]
    val got = IngestPipeline.withLeaseRetry(maxAttempts = 6,
        baseBackoffMs = 100L, sleep = ms => slept ::= ms) {
      calls += 1
      if (calls <= 2) throw new MaintenanceLock.LockHeldException("held")
      42
    }
    assert(got == 42 && calls == 3)
    assert(slept.reverse == List(100L, 200L), s"backoff drift: $slept")
    // a lease outlasting the budget surfaces the LAST exception
    var calls2 = 0
    var slept2 = List.empty[Long]
    intercept[MaintenanceLock.LockHeldException] {
      IngestPipeline.withLeaseRetry(maxAttempts = 3,
          baseBackoffMs = 50L, sleep = ms => slept2 ::= ms) {
        calls2 += 1
        throw new MaintenanceLock.LockHeldException("still held")
      }
    }
    assert(calls2 == 3, "budget must bound the attempts")
    assert(slept2.reverse == List(50L, 100L),
      "no sleep after the final attempt")
    // a non-lease failure is NOT retried (crash-replay is the streaming
    // engine's job, not this loop's)
    var calls3 = 0
    intercept[RuntimeException] {
      IngestPipeline.withLeaseRetry(sleep = _ => ())({
        calls3 += 1; throw new RuntimeException("boom")
      })
    }
    assert(calls3 == 1)
  }

  test("a batch arriving during a short sweep is absorbed by the retry; a sweep outlasting the budget fails the batch") {
    import spark.implicits._
    import operators.MaintenanceLock
    val (lsh, bm) = freshIndexes()
    val batch = Seq(
      Doc(20L, (1 to 40).map(i => s"live$i delta$i").mkString(" "))).toDF()
    // simulate a sweep from ANOTHER process: a fresh foreign lease file
    // on the LSH index (the first index the pipeline touches)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$lsh/_lock")
    def holdLease(): Unit = {
      val out = fs.create(lock, true)
      out.write("gdpr-sweeper".getBytes("UTF-8")); out.close()
    }
    holdLease()
    // the retry loop's 2nd sleep "waits out" the sweep: release there
    var sleeps = 0
    val admitted = IngestPipeline.withLeaseRetry(sleep = _ => {
      sleeps += 1
      if (sleeps == 2) { fs.delete(lock, false); () }
    })(IngestPipeline.ingestBatch(spark, batch, lsh, bm, Some(1L)))
    assert(admitted == 1L, "batch must land once the sweep releases")
    assert(sleeps == 2, s"expected 2 backoff rounds, saw $sleeps")
    // a sweep that never releases: the bounded retry gives up loudly
    holdLease()
    val batch2 = Seq(
      Doc(21L, (1 to 40).map(i => s"late$i omega$i").mkString(" "))).toDF()
    intercept[MaintenanceLock.LockHeldException] {
      IngestPipeline.withLeaseRetry(maxAttempts = 2, sleep = _ => ())(
        IngestPipeline.ingestBatchImpl(spark, batch2, lsh, bm, _ => (),
          Some(2L)))
    }
    fs.delete(lock, false)
    // after the sweep ends, the replayed batch id lands exactly-once
    assert(IngestPipeline.ingestBatch(spark, batch2, lsh, bm,
      Some(2L)) == 1L)
  }
}
