package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** ONE composed right-to-be-forgotten request applied across ALL SIX
  * persisted lifecycles — the test a real deletion-compliance audit
  * runs. The request models one customer owning a document (LSH bands,
  * BM25 postings, segment prevalence), an embedding vector (IVF,
  * IVF-PQ), and an event history (the maintained rollup), and asserts:
  *
  *  (a) IMMEDIATE query-side absence everywhere — before any physical
  *      maintenance, every probe/query behaves as if the victim never
  *      existed (for the hash/text indexes, bit-equal to a fresh build
  *      over the survivors; for the vector indexes, the pre-delete
  *      result minus the victim — rebuilt quantizers would legitimately
  *      differ, the tombstone must not);
  *  (b) post-compact/apply PHYSICAL absence — the parquet tables read
  *      DIRECTLY contain no victim rows and the tombstone sets are
  *      gone;
  *  (c) the rollup's non-retractable extrema are repaired — the
  *      maintained store equals a from-scratch build over the
  *      surviving facts.
  *
  * The per-index laws live in each index's own spec; this one pins the
  * COMPOSITION (one request, six indexes, no step leaking another's
  * victim).
  */
class GdprSweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001
  import operators.{Bm25Index, IvfIndex, IvfPq, LshBandIndex,
    PrevalenceIndex, RollupStore}

  private def tmp(name: String): String = {
    val dir = Files.createTempDirectory(name).toFile
    dir.deleteOnExit()
    dir.getAbsolutePath
  }

  private def corpus = Tables.documents(spark, sf).select("doc_id", "text")

  test("one forget request: immediate absence, physical absence after compact, extrema repaired") {
    import spark.implicits._
    val (lsh, bm, prev, ivf, pq, rs) = (tmp("gdpr-lsh"), tmp("gdpr-bm25"),
      tmp("gdpr-prev"), tmp("gdpr-ivf"), tmp("gdpr-pq"), tmp("gdpr-rollup"))

    // --- build all six over the shared sf0.001 tables -----------------
    LshBandIndex.build(spark, corpus, lsh)
    Bm25Index.build(spark, corpus, bm)
    PrevalenceIndex.build(spark, corpus, prev)
    IvfIndex.build(spark, sf, ivf)
    IvfPq.build(spark, sf, pq)
    val events = Tables.events(spark, sf)
    RollupStore.build(spark, events, rs)

    // --- the customer: a served doc, a vector, an event history -------
    val bmQueries = Tables.documents(spark, sf).filter(col("doc_id") < 8)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(Dsl.toks(col("text")), 11, 4)))
          .as("term"))
    def bmRows(dir: String) = Bm25Index.probe(spark, bmQueries, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val bmBefore = bmRows(bm)
    val docV = bmBefore.head._3 // a doc that is actually served
    val vecW = 5L
    val userU = events.filter(col("user_id").isNotNull)
      .select("user_id").head().getLong(0)

    // presence probes BEFORE the request
    val vTextBatch = corpus.filter(col("doc_id") === docV)
      .select(lit(900001L).as("doc_id"), col("text"))
      .localCheckpoint()
    assert(LshBandIndex.probe(spark, vTextBatch, lsh).collect()
      .exists(_.getLong(1) == docV), "victim doc must be LSH-servable first")
    val wVec = operators.Similarity.normed(spark, sf)
      .filter(col("vec_id") === vecW)
      .select("e").head().getSeq[Double](0).toArray
    val ivfBefore = IvfIndex.query(spark, ivf, wVec, topK = 11).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(ivfBefore.exists(_._1 == vecW), "victim vector must be IVF-servable")
    val pqBefore = IvfPq.query(spark, pq, wVec, topK = 11).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(pqBefore.exists(_._1 == vecW), "victim vector must be PQ-servable")

    // --- THE composed forget request ----------------------------------
    LshBandIndex.delete(spark, Seq(docV), lsh)
    Bm25Index.delete(spark, Seq(docV), bm)
    PrevalenceIndex.delete(spark, Seq(docV), prev)
    IvfIndex.delete(spark, Seq(vecW), ivf)
    IvfPq.delete(spark, Seq(vecW), pq)
    val forget = Seq(userU).toDF("user_id")
    RollupStore.delete(spark, events, forget, rs, opId = Some(1L))

    // --- (a) immediate query-side absence ------------------------------
    // hash/text indexes: the strong survivors law, bit-equal
    val lshSurv = tmp("gdpr-lsh-surv"); val bmSurv = tmp("gdpr-bm25-surv")
    val prevSurv = tmp("gdpr-prev-surv")
    val survivors = corpus.filter(col("doc_id") =!= docV)
    LshBandIndex.build(spark, survivors, lshSurv)
    Bm25Index.build(spark, survivors, bmSurv)
    PrevalenceIndex.build(spark, survivors, prevSurv)
    def lshRows(dir: String) = LshBandIndex.probe(spark, vTextBatch, dir)
      .collect().map(_.toString).toSeq
    assert(lshRows(lsh) == lshRows(lshSurv),
      "LSH probe-after-delete must equal a fresh survivors build")
    assert(bmRows(bm) == bmRows(bmSurv),
      "BM25 probe-after-delete must equal a fresh survivors build")
    def prevRows(dir: String) = PrevalenceIndex
      .probe(spark, vTextBatch, dir).collect().map(_.toString).toSeq
    assert(prevRows(prev) == prevRows(prevSurv),
      "prevalence probe-after-delete must equal a fresh survivors build")
    // vector indexes: pre-delete results minus the victim, order intact
    val ivfAfter = IvfIndex.query(spark, ivf, wVec, topK = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(ivfAfter == ivfBefore.filterNot(_._1 == vecW),
      s"IVF after-delete must be before-minus-victim: $ivfAfter")
    val pqAfter = IvfPq.query(spark, pq, wVec, topK = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(pqAfter == pqBefore.filterNot(_._1 == vecW),
      s"PQ after-delete must be before-minus-victim: $pqAfter")

    // --- (c) rollup extrema repaired -----------------------------------
    val rsSurv = tmp("gdpr-rollup-surv")
    RollupStore.build(spark,
      events.join(broadcast(forget), Seq("user_id"), "left_anti"), rsSurv)
    def rollupRows(dir: String) = RollupStore.query(spark, dir)
      .collect().map(_.toString).toSeq
    assert(rollupRows(rs) == rollupRows(rsSurv),
      "maintained rollup must equal a from-scratch build over survivors " +
        "(count/sum retraction AND min/max repair)")

    // --- (b) physical absence after compact/apply ----------------------
    LshBandIndex.compact(spark, lsh)
    Bm25Index.compact(spark, bm)
    PrevalenceIndex.compact(spark, prev)
    IvfIndex.applyDeletes(spark, ivf)
    IvfPq.applyDeletes(spark, pq)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def gone(path: String): Boolean =
      !fs.exists(new org.apache.hadoop.fs.Path(path))
    // read the tables DIRECTLY — no probe-layer filtering can hide
    // rows. Manifested indexes resolve to their live segment files;
    // the partition-dir indexes (IVF/PQ) are read at their raw paths.
    def liveFiles(dir: String, table: String): Seq[String] =
      operators.IndexManifest.load(spark, dir).get
        .segmentsOf(table).map(s => s"$dir/segs/$s")
    for ((paths, idCol, victim) <- Seq(
        (liveFiles(lsh, "bands"), "doc_id", docV),
        (liveFiles(lsh, "sets"), "doc_id", docV),
        (liveFiles(bm, "postings"), "doc_id", docV),
        (liveFiles(prev, "segs"), "doc_id", docV),
        (Seq(s"$ivf/vectors"), "vec_id", vecW),
        (Seq(s"$pq/codes"), "vec_id", vecW))) {
      assert(spark.read.parquet(paths: _*)
        .filter(col(idCol) === victim).count() == 0L,
        s"${paths.mkString(",")} still physically holds the victim")
    }
    // tombstones cleared: nothing listed in the manifest AND the old
    // tombstone segment dirs physically vacuumed
    for (dir <- Seq(lsh, bm, prev)) {
      assert(operators.IndexManifest.readOpt(spark, dir, "tombstones")
        .isEmpty, s"$dir tombstones still listed in the manifest")
      val orphanTs = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$dir/segs")).map(_.getPath.getName)
        .filter(_.startsWith("tombstones-"))
      assert(orphanTs.isEmpty,
        s"$dir tombstone segments not vacuumed: ${orphanTs.toSeq}")
    }
    for (dir <- Seq(ivf, pq))
      assert(gone(s"$dir/tombstones"), s"$dir tombstones not cleared")
    // post-compact serving is unchanged (compact applied exactly the
    // already-hidden rows, nothing else)
    assert(bmRows(bm) == bmRows(bmSurv), "BM25 diverged across compact")
    assert(lshRows(lsh) == lshRows(lshSurv), "LSH diverged across compact")
    assert(prevRows(prev) == prevRows(prevSurv),
      "prevalence diverged across compact")
  }

  test("a reader pinned before the sweep keeps serving the pre-sweep view under retention; a fresh reader sees absence") {
    // the stated 100 TB motivation for the manifest layer: long-running
    // readers DURING a deletion-compliance sweep. The reader pins its
    // snapshot, the whole delete+compact runs under retention depth 1,
    // and the reader finishes on the complete pre-sweep view — bit-equal,
    // never mixed, never FileNotFound. A reader arriving after sees
    // absence at once.
    val lsh = tmp("gdpr3-lsh"); val bm = tmp("gdpr3-bm25")
    LshBandIndex.build(spark, corpus, lsh)
    Bm25Index.build(spark, corpus, bm)
    val bmQueries = Tables.documents(spark, sf).filter(col("doc_id") < 8)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(Dsl.toks(col("text")), 11, 4)))
          .as("term"))
    def bmRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val bmBefore = bmRows(Bm25Index.probe(spark, bmQueries, bm))
    val docV = bmBefore.head._3
    val probeBatch = corpus.filter(col("doc_id") === docV)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    def lshRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val lshBefore = lshRows(LshBandIndex.probe(spark, probeBatch, lsh))
    assert(lshBefore.exists(_._2 == docV), "fixture: victim must match")
    // BM25 reader pinned, then the victim's delete AND compact land
    val bmPinned = bmRows(Bm25Index.probeImpl(spark, bmQueries, bm, _ => {
      Bm25Index.delete(spark, Seq(docV), bm)
      Bm25Index.compact(spark, bm, retainGenerations = 1)
    }))
    assert(bmPinned == bmBefore,
      "pinned BM25 reader lost the pre-sweep view mid-sweep")
    // LSH reader pinned across its half of the sweep
    val lshPinned = lshRows(LshBandIndex.probeImpl(spark, probeBatch, lsh,
      _ => {
        LshBandIndex.delete(spark, Seq(docV), lsh)
        LshBandIndex.compact(spark, lsh, retainGenerations = 1)
      }))
    assert(lshPinned == lshBefore,
      "pinned LSH reader lost the pre-sweep view mid-sweep")
    // fresh readers: the victim is gone, results equal survivor builds
    val bmSurv = tmp("gdpr3-bm25-surv")
    Bm25Index.build(spark, corpus.filter(col("doc_id") =!= docV), bmSurv)
    assert(bmRows(Bm25Index.probe(spark, bmQueries, bm)) ==
      bmRows(Bm25Index.probe(spark, bmQueries, bmSurv)),
      "post-sweep BM25 diverged from a survivors build")
    assert(!lshRows(LshBandIndex.probe(spark, probeBatch, lsh))
      .exists(_._2 == docV), "post-sweep LSH still matches the victim")
  }

  test("the composed sweep crashed mid-flight and replayed IN FULL converges (per-index idempotence composes)") {
    import spark.implicits._
    val (lsh, bm, prev, ivf, pq, rs) = (tmp("gdpr2-lsh"), tmp("gdpr2-bm25"),
      tmp("gdpr2-prev"), tmp("gdpr2-ivf"), tmp("gdpr2-pq"),
      tmp("gdpr2-rollup"))
    LshBandIndex.build(spark, corpus, lsh)
    Bm25Index.build(spark, corpus, bm)
    PrevalenceIndex.build(spark, corpus, prev)
    IvfIndex.build(spark, sf, ivf)
    IvfPq.build(spark, sf, pq)
    val events = Tables.events(spark, sf)
    RollupStore.build(spark, events, rs)

    val bmQueries = Tables.documents(spark, sf).filter(col("doc_id") < 8)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(Dsl.toks(col("text")), 11, 4)))
          .as("term"))
    def bmRows(dir: String) = Bm25Index.probe(spark, bmQueries, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val docV = bmRows(bm).head._3
    val vecW = 5L
    val userU = events.filter(col("user_id").isNotNull)
      .select("user_id").head().getLong(0)
    val forget = Seq(userU).toDF("user_id")

    // the full sweep as a replayable unit (exactly the production shape:
    // a deletion-compliance job that reruns FROM THE TOP after a crash)
    def sweep(): Unit = {
      LshBandIndex.delete(spark, Seq(docV), lsh)
      Bm25Index.delete(spark, Seq(docV), bm)
      PrevalenceIndex.delete(spark, Seq(docV), prev)
      IvfIndex.delete(spark, Seq(vecW), ivf)
      IvfPq.delete(spark, Seq(vecW), pq)
      RollupStore.delete(spark, events, forget, rs, opId = Some(1L))
      LshBandIndex.compact(spark, lsh)
      Bm25Index.compact(spark, bm)
      PrevalenceIndex.compact(spark, prev)
      IvfIndex.applyDeletes(spark, ivf)
      IvfPq.applyDeletes(spark, pq)
      ()
    }

    // crash #1: between two indexes' DELETES (lsh+bm tombstoned, the
    // other four lifecycles never saw the request)
    LshBandIndex.delete(spark, Seq(docV), lsh)
    Bm25Index.delete(spark, Seq(docV), bm)
    // crash #2 (after a partial replay): between delete and compact —
    // all deletes landed, only the LSH compact ran
    LshBandIndex.delete(spark, Seq(docV), lsh)
    Bm25Index.delete(spark, Seq(docV), bm)
    PrevalenceIndex.delete(spark, Seq(docV), prev)
    IvfIndex.delete(spark, Seq(vecW), ivf)
    IvfPq.delete(spark, Seq(vecW), pq)
    RollupStore.delete(spark, events, forget, rs, opId = Some(1L))
    LshBandIndex.compact(spark, lsh)
    // the final replay runs the WHOLE sweep from the top
    sweep()

    // convergence: the strong survivors law for BM25, victim absent
    // physically everywhere, tombstones cleared, rollup repaired
    val bmSurv = tmp("gdpr2-bm25-surv")
    Bm25Index.build(spark, corpus.filter(col("doc_id") =!= docV), bmSurv)
    assert(bmRows(bm) == bmRows(bmSurv),
      "replayed sweep: BM25 diverges from a fresh survivors build")
    def liveFiles(dir: String, table: String): Seq[String] =
      operators.IndexManifest.load(spark, dir).get
        .segmentsOf(table).map(s => s"$dir/segs/$s")
    for ((paths, idCol, victim) <- Seq(
        (liveFiles(lsh, "bands"), "doc_id", docV),
        (liveFiles(lsh, "sets"), "doc_id", docV),
        (liveFiles(bm, "postings"), "doc_id", docV),
        (liveFiles(prev, "segs"), "doc_id", docV),
        (Seq(s"$ivf/vectors"), "vec_id", vecW),
        (Seq(s"$pq/codes"), "vec_id", vecW)))
      assert(spark.read.parquet(paths: _*)
        .filter(col(idCol) === victim).count() == 0L,
        s"replayed sweep left the victim in ${paths.mkString(",")}")
    for (dir <- Seq(lsh, bm, prev))
      assert(operators.IndexManifest.readOpt(spark, dir, "tombstones")
        .isEmpty, s"replayed sweep left tombstones listed in $dir")
    val rsSurv = tmp("gdpr2-rollup-surv")
    RollupStore.build(spark,
      events.join(broadcast(forget), Seq("user_id"), "left_anti"), rsSurv)
    assert(RollupStore.query(spark, rs).collect().map(_.toString).toSeq ==
      RollupStore.query(spark, rsSurv).collect().map(_.toString).toSeq,
      "replayed sweep: rollup diverges from a survivors build")
  }
}
