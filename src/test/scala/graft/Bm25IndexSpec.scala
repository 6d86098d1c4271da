package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Persisted BM25 inverted-index lifecycle (build / probe / append /
  * delete / compact / recover), pinned against the oracle-checked
  * registry twin q209 and against fresh builds (the append and delete
  * equivalence laws are exact because every stored stat is an
  * integer). */
class Bm25IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001
  import operators.Bm25Index

  private def corpus = Tables.documents(spark, sf).select("doc_id", "text")

  private def queries =
    Tables.documents(spark, sf).filter(col("doc_id") < 8)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(Dsl.toks(col("text")), 11, 4)))
          .as("term"))

  private def tmpDir(): String = {
    val dir = Files.createTempDirectory("graft-bm25-index").toFile
    dir.deleteOnExit()
    dir.getAbsolutePath
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("persisted probe matches the oracle-checked registry twin q209") {
    val dir = tmpDir()
    Bm25Index.build(spark, corpus, dir)
    val got = rowsOf(Bm25Index.probe(spark, queries, dir))
    val want = rowsOf(SparkEntry.queries("q209_bm25_index_topk")(spark, sf))
    assert(got == want, "persisted probe diverged from the registry/oracle path")
    assert(got.nonEmpty && got.exists(_._2 == 1L), "no ranked rows — vacuous")
  }

  test("append law: build(A) + append(B) probes bit-equal to build(A ∪ B)") {
    val a = corpus.filter(col("doc_id") % 10 < 8)
    val b = corpus.filter(col("doc_id") % 10 >= 8)
    val incDir = tmpDir(); val fullDir = tmpDir()
    Bm25Index.build(spark, a, incDir)
    Bm25Index.append(spark, b, incDir)
    Bm25Index.build(spark, corpus, fullDir)
    // stats additivity is exact integers
    val si = operators.IndexManifest.read(spark, incDir, "stats")
      .collect().head
    val sff = operators.IndexManifest.read(spark, fullDir, "stats")
      .collect().head
    assert((si.getLong(0), si.getLong(1)) == ((sff.getLong(0), sff.getLong(1))),
      s"stats diverge: $si vs $sff")
    assert(rowsOf(Bm25Index.probe(spark, queries, incDir)) ==
      rowsOf(Bm25Index.probe(spark, queries, fullDir)),
      "incremental index probes differently from a fresh build")
  }

  test("refreshStats (recompute from postings) equals the additive merge") {
    val dir = tmpDir()
    Bm25Index.build(spark, corpus.filter(col("doc_id") % 10 < 8), dir)
    Bm25Index.append(spark, corpus.filter(col("doc_id") % 10 >= 8), dir)
    val additive = operators.IndexManifest.read(spark, dir, "stats")
      .collect().head
    Bm25Index.refreshStats(spark, dir)
    val recomputed = operators.IndexManifest.read(spark, dir, "stats")
      .collect().head
    assert((additive.getLong(0), additive.getLong(1)) ==
      ((recomputed.getLong(0), recomputed.getLong(1))),
      s"additive $additive != recomputed $recomputed")
  }

  test("right-to-be-forgotten: tombstone hides at once; compact applies; crash-safe") {
    // pick a doc that actually appears in some query's top-10
    val probeDir = tmpDir()
    Bm25Index.build(spark, corpus, probeDir)
    val before = rowsOf(Bm25Index.probe(spark, queries, probeDir))
    val victim = before.head._3
    Bm25Index.delete(spark, Seq(victim), probeDir)
    val hidden = rowsOf(Bm25Index.probe(spark, queries, probeDir))
    assert(!hidden.exists(_._3 == victim), "tombstoned doc still served")
    val survivorDir = tmpDir()
    Bm25Index.build(spark, corpus.filter(col("doc_id") =!= victim),
      survivorDir)
    val survProbe = rowsOf(Bm25Index.probe(spark, queries, survivorDir))
    // the STRONG law: the tombstone carries the victim's (n, dl) mass,
    // so df, idf AND avgdl all see the delete immediately —
    // probe-after-delete ≡ fresh build over the survivors, pre-compact
    assert(hidden == survProbe,
      "probe-after-delete diverges from a fresh survivors build")
    // re-delete is idempotent: the tombstone guard must not subtract
    // the victim's stats mass twice
    Bm25Index.delete(spark, Seq(victim), probeDir)
    assert(rowsOf(Bm25Index.probe(spark, queries, probeDir)) == survProbe,
      "double delete double-subtracted the victim's stats mass")
    Bm25Index.compact(spark, probeDir)
    val applied = rowsOf(Bm25Index.probe(spark, queries, probeDir))
    assert(applied == survProbe,
      "compacted index diverges from a fresh build over the survivors")
    // crash injection: the manifest makes every compact crash state
    // fully live AND probe-identical (tombstones still pending → the
    // logical view; committed → the physical view — same rows either
    // way, the strong law), with recover + rerun converging
    for (crashAt <- Seq("postings:written", "stats:written",
        "committed", "vacuumed")) {
      val dir = tmpDir()
      Bm25Index.build(spark, corpus, dir)
      Bm25Index.delete(spark, Seq(victim), dir)
      intercept[RuntimeException] {
        Bm25Index.compactImpl(spark, dir, p =>
          if (p == crashAt) throw new RuntimeException(s"boom at $p"))
      }
      assert(rowsOf(Bm25Index.probe(spark, queries, dir)) == applied,
        s"probe diverged AT the crash state $crashAt")
      Bm25Index.recover(spark, dir)
      Bm25Index.compact(spark, dir)
      assert(rowsOf(Bm25Index.probe(spark, queries, dir)) == applied,
        s"crash at $crashAt not repaired")
    }
  }

  test("workload gate: over-budget probe (semi-join path) is bit-equal to the isin pushdown") {
    val dir = tmpDir()
    Bm25Index.build(spark, corpus, dir)
    val pushed = rowsOf(Bm25Index.probe(spark, queries, dir))
    // termBudget = 0 forces every workload over budget → the broadcast
    // left-semi path, no driver term collect
    val semi = rowsOf(Bm25Index.probe(spark, queries, dir, termBudget = 0L))
    assert(pushed == semi, "semi-join probe diverges from the isin probe")
    assert(pushed.nonEmpty, "vacuous")
  }

  test("append op marker: replayed op id is skipped; stale stats are detectable and repairable") {
    val a = corpus.filter(col("doc_id") % 10 < 8)
    val b = corpus.filter(col("doc_id") % 10 >= 8)
    val dir = tmpDir()
    Bm25Index.build(spark, a, dir)
    assert(Bm25Index.appliedOp(spark, dir).isEmpty, "fresh index has no marker")
    assert(Bm25Index.append(spark, b, dir, opId = Some(7L)), "first apply runs")
    assert(Bm25Index.appliedOp(spark, dir).contains(7L), "marker landed with stats")
    val after = rowsOf(Bm25Index.probe(spark, queries, dir))
    assert(!Bm25Index.append(spark, b, dir, opId = Some(7L)),
      "replayed op id must be skipped")
    assert(rowsOf(Bm25Index.probe(spark, queries, dir)) == after,
      "skipped replay still changed the index")
    // maintenance recompute must not lose the high-water mark
    Bm25Index.refreshStats(spark, dir)
    assert(Bm25Index.appliedOp(spark, dir).contains(7L),
      "refreshStats dropped the op marker")

    // an opId-LESS maintenance append must not erase the marker (the
    // IngestPipeline repair path appends without an op id; losing the
    // high-water mark would downgrade every later replay to the full
    // audit) — the manifest commit preserves it
    import spark.implicits._
    Bm25Index.append(spark,
      Seq((990001L, (1 to 30).map(i => s"mk$i").mkString(" ")))
        .toDF("doc_id", "text"), dir)
    assert(Bm25Index.appliedOp(spark, dir).contains(7L),
      "opId-less append erased the high-water mark")

    // crash mid-append: with the manifest, NOTHING lands (postings and
    // stats publish in one commit) — the index is bit-identical to
    // pre-append, the marker is unclaimed, and the straight replay of
    // the same append IS the repair
    val dir2 = tmpDir()
    Bm25Index.build(spark, a, dir2)
    val preAppend = rowsOf(Bm25Index.probe(spark, queries, dir2))
    for (crashAt <- Seq("postings:appended", "stats:staged")) {
      intercept[RuntimeException] {
        Bm25Index.appendImpl(spark, b, dir2, p =>
          if (p == crashAt) throw new RuntimeException("boom"),
          opId = Some(3L))
      }
      assert(Bm25Index.appliedOp(spark, dir2).isEmpty,
        s"torn append at $crashAt must not claim its op id")
      assert(rowsOf(Bm25Index.probe(spark, queries, dir2)) == preAppend,
        s"torn append at $crashAt left partial state visible")
      Bm25Index.recover(spark, dir2) // vacuum the orphan segment
    }
    assert(Bm25Index.append(spark, b, dir2, opId = Some(3L)),
      "replay of the torn append must run, not be skipped")
    assert(Bm25Index.appliedOp(spark, dir2).contains(3L))
    assert(rowsOf(Bm25Index.probe(spark, queries, dir2)) == after,
      "replayed torn append diverges from the clean append")
  }

  test("zero-change marker stamp: stampOp records the op id without touching any table") {
    val dir = tmpDir()
    Bm25Index.build(spark, corpus, dir)
    val before = rowsOf(Bm25Index.probe(spark, queries, dir))
    Bm25Index.stampOp(spark, dir, 11L)
    assert(Bm25Index.appliedOp(spark, dir).contains(11L))
    assert(rowsOf(Bm25Index.probe(spark, queries, dir)) == before,
      "stampOp changed probe results")
    // the stamped id now short-circuits a replayed append
    assert(!Bm25Index.append(spark, corpus, dir, opId = Some(11L)),
      "append at the stamped id must be skipped")
  }

  test("stampOp honors the configured retention depth (a busy all-rejected stream must not shrink the reader grace)") {
    import operators.IndexManifest
    val dir = tmpDir()
    Bm25Index.build(spark, corpus, dir)
    val v0 = IndexManifest.load(spark, dir).get.version
    // two zero-change stamps under depth 2: BOTH prior generations
    // stay pinnable — the stamp cadence no longer erodes the window
    Bm25Index.stampOp(spark, dir, 1L, retainGenerations = 2)
    Bm25Index.stampOp(spark, dir, 2L, retainGenerations = 2)
    assert(IndexManifest.loadAt(spark, dir, v0).isDefined,
      "depth 2: the build generation must survive two stamps")
    assert(IndexManifest.loadAt(spark, dir, v0 + 1).isDefined)
    // a default (depth 1) stamp reclaims past one generation back
    Bm25Index.stampOp(spark, dir, 3L)
    assert(IndexManifest.loadAt(spark, dir, v0 + 2).isDefined,
      "depth 1 keeps exactly one generation back")
    assert(IndexManifest.loadAt(spark, dir, v0).isEmpty,
      "depth 1 must reclaim deeper generations")
  }

  test("pinned probe: a delete committing mid-probe is invisible — one consistent version, never a mix") {
    val dir = tmpDir()
    Bm25Index.build(spark, corpus, dir)
    val before = rowsOf(Bm25Index.probe(spark, queries, dir))
    val victim = before.head._3
    // the mutation lands BETWEEN the probe's manifest resolution and
    // its table reads — the exact window the per-table loads left open
    val during = rowsOf(Bm25Index.probeImpl(spark, queries, dir,
      _ => Bm25Index.delete(spark, Seq(victim), dir)))
    assert(during == before,
      "a probe pinned before the delete must serve the full pre-delete view")
    // a freshly pinned probe honors the delete (victim gone, stats mass
    // subtracted — scores shift, not just the victim's row)
    val after = rowsOf(Bm25Index.probe(spark, queries, dir))
    assert(!after.exists(_._3 == victim), "victim still served after delete")
    assert(after != before)
  }

  test("pinned probe survives a mid-probe compact under retention; without it the lagging reader fails loudly") {
    val dir = tmpDir()
    Bm25Index.build(spark, corpus, dir)
    val full = rowsOf(Bm25Index.probe(spark, queries, dir))
    val victim = full.head._3
    Bm25Index.delete(spark, Seq(victim), dir)
    val hidden = rowsOf(Bm25Index.probe(spark, queries, dir))
    // the round-14 torn-view scenario: probe pins the
    // tombstones-pending version, a compact commits (victim physically
    // gone, stats recomputed, tombstones cleared). Per-table loads
    // would resolve v1 postings (victim present) against v2 tombstones
    // (empty) and v2 stats — serving the forgotten doc with inflated
    // df. The pinned probe must instead serve the v1 view bit-equal,
    // and the compact's retention knob keeps its files alive.
    val during = rowsOf(Bm25Index.probeImpl(spark, queries, dir,
      _ => Bm25Index.compact(spark, dir, retainGenerations = 1)))
    assert(during == hidden,
      "pinned probe mixed manifest versions across a mid-probe compact")
    assert(!during.exists(_._3 == victim),
      "the forgotten doc transiently re-entered top-k mid-compact")
    assert(rowsOf(Bm25Index.probe(spark, queries, dir)) == hidden,
      "post-compact probe diverged from the tombstone view")
    // without retention, the compact reclaims the pinned generation:
    // the lagging reader fails LOUDLY — it never serves a partial set
    Bm25Index.delete(spark, Seq(full(1)._3), dir)
    intercept[Exception] {
      rowsOf(Bm25Index.probeImpl(spark, queries, dir,
        _ => Bm25Index.compact(spark, dir)))
    }
  }

  test("probeAt: the pre-append version serves the old ranking; a vacuumed version resolves None") {
    import operators.IndexManifest
    val dir = tmpDir()
    val half = corpus.filter(col("doc_id") % 2 === 0)
    Bm25Index.build(spark, half, dir)
    val v0 = IndexManifest.load(spark, dir).get.version
    val before = rowsOf(Bm25Index.probe(spark, queries, dir))
    // an append lands; head serving changes, the retained pre-append
    // version still serves the OLD ranking bit-equal — the canary-diff
    // tool (no rebuild, no second index)
    Bm25Index.append(spark, corpus.filter(col("doc_id") % 2 === 1), dir)
    val head = rowsOf(Bm25Index.probe(spark, queries, dir))
    assert(head != before, "fixture: the append must change the ranking")
    val at = Bm25Index.probeAt(spark, queries, dir, v0)
      .getOrElse(fail("retained pre-append version must be probeable"))
    assert(rowsOf(at) == before,
      "time-travel probe diverged from the pre-append ranking")
    // one more mutation + routine depth-1 hygiene pushes v0 past the
    // horizon: loud None, never a partial file set
    Bm25Index.stampOp(spark, dir, 1L)
    Bm25Index.stampOp(spark, dir, 2L)
    assert(Bm25Index.probeAt(spark, queries, dir, v0).isEmpty,
      "a vacuumed version must resolve None")
  }

  test("a pre-manifest legacy layout migrates in place and probes identical to the manifest-built twin") {
    import operators.IndexManifest
    val dirA = tmpDir()
    Bm25Index.build(spark, corpus, dirA)
    // reconstruct the legacy (plain-table-dirs) layout from the twin
    val dirB = tmpDir()
    for (t <- Seq("postings", "stats"))
      IndexManifest.read(spark, dirA, t).write.parquet(s"$dirB/$t")
    assert(IndexManifest.migrate(spark, dirB,
      Seq("postings", "stats", "tombstones")).isDefined)
    assert(rowsOf(Bm25Index.probe(spark, queries, dirB)) ==
      rowsOf(Bm25Index.probe(spark, queries, dirA)),
      "migrated index probe diverged from the manifest-built twin")
    // the migrated index is fully maintainable: the delete + compact
    // lifecycle holds the same laws as a natively built one
    Bm25Index.delete(spark, Seq(3L), dirB)
    Bm25Index.compact(spark, dirB)
    Bm25Index.delete(spark, Seq(3L), dirA)
    Bm25Index.compact(spark, dirA)
    assert(rowsOf(Bm25Index.probe(spark, queries, dirB)) ==
      rowsOf(Bm25Index.probe(spark, queries, dirA)),
      "post-migration maintenance diverged")
  }

  test("probe plan reads only index parquet and prunes to the probed terms") {
    import spark.implicits._
    val dir = tmpDir()
    Bm25Index.build(spark, corpus, dir)
    spark.catalog.clearCache()
    // a production query workload arrives as its own small frame; the
    // plan claim is about the INDEX side, so materialize the q209
    // convention driver-side first
    val qLocal = queries.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("qid", "term")
    val df = Bm25Index.probe(spark, qLocal, dir)
    df.collect()
    val plan = tools.Inspect.finalPlan(df)
    val scans = "file:[^\\]\\s,]*".r.findAllIn(plan).toSeq
    assert(scans.nonEmpty, s"no file scans found:\n$plan")
    scans.foreach(s => assert(s.contains(dir) || !s.contains(".parquet"),
      s"probe scanned outside the index: $s"))
    assert(!plan.contains("documents.parquet"),
      "probe must never touch the corpus text")
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      s"term filter not pushed to the postings scan:\n$plan")
  }
}
