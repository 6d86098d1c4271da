package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Persisted-IVF lifecycle: build once, query from the parquet index,
  * with the partition-pruned scan actually pruning and recall tracking
  * brute force. */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft-ivf-index").toFile
    dir.deleteOnExit()
    operators.IvfIndex.build(spark, sf, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  private def queryVec: Array[Double] =
    Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")).as("e"))
      .collect()(0).getSeq[Double](0).toArray

  test("query reads only the probed cell partitions (pruning = the lookup)") {
    // queryPlan = the lazy single-attempt plan (query itself is eager
    // under the probe-retry policy and returns a local frame)
    val df = operators.IvfIndex.queryPlan(spark, indexDir, queryVec,
      topK = 10, nprobe = 4)
    df.collect() // materialize so the adaptive plan finalizes
    // inputFiles reports the pre-pruning FileIndex; the real evidence is
    // the scan exec's selected partitions after partition filtering
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over the index")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"cell filter must be a partition filter:\n${scan.toString}")
    val selected = scan.selectedPartitions.partitionCount
    assert(selected <= 4, s"scan touched $selected partitions — pruning failed")
    val allCells = spark.read.parquet(s"$indexDir/vectors")
      .select("cell").distinct().count()
    assert(allCells > 4, "index must have more cells than probes for the test to mean anything")
  }

  test("persisted-index results match an in-memory probe of the same cells") {
    val got = operators.IvfIndex.query(spark, indexDir, queryVec,
      topK = 10, nprobe = 16) // all cells -> exact brute force
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    val brute = SparkEntry.queries("q42_ann_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // nprobe = k degrades IVF to exact search; apart from the query
    // vector itself (vec_id 0, which q42 excludes), the top lists must
    // be IDENTICAL — same ids, same order
    val gotIds = got.map(_._1).filterNot(_ == 0L).toSeq
    val bruteIds = brute.map(_._1).toSeq.take(gotIds.length)
    assert(gotIds == bruteIds,
      s"exact-mode IVF diverged from brute force: $gotIds vs $bruteIds")
    // cosines for shared ids must agree to double precision
    val bruteMap = brute.toMap
    got.filter(g => bruteMap.contains(g._1)).foreach { case (id, c) =>
      assert(math.abs(c - bruteMap(id)) < 1e-12, s"vec $id cosine drift")
    }
    // recall@10 of the default nprobe=4 probe against brute force
    val probed = operators.IvfIndex.query(spark, indexDir, queryVec,
      topK = 10, nprobe = 4).collect().map(_.getLong(0)).toSet
    val recall = bruteIds.count(probed.contains).toDouble / bruteIds.size
    assert(recall >= 0.3, s"recall@10 $recall — suspiciously low even for weakly clustered data")
  }

  test("incremental assign picks the true nearest centroid for every vector") {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    val vecs = spark.read.parquet(s"$indexDir/vectors")
      .select("vec_id", "label", "e", "nrm").limit(100)
    val assigned = operators.IvfIndex.assignToCentroids(vecs, centroids)
      .select("vec_id", "e", "cell").collect()
    assert(assigned.nonEmpty)
    assigned.foreach { r =>
      val e = r.getSeq[Double](1).toArray
      val best = centroids.map { case (cell, c) =>
        (c.zip(e).map { case (a, b) => (a - b) * (a - b) }.sum, cell)
      }.min // (distance, cell) — same lower-cell tie-break as the impl
      assert(r.getInt(2) == best._2,
        s"vec ${r.getLong(0)} assigned to ${r.getInt(2)}, nearest is ${best._2}")
    }
  }

  test("appended vectors are served by the persisted index without a rebuild") {
    import spark.implicits._
    // fresh index (the shared one is reused by other tests; append would
    // pollute their expected contents)
    val dir2 = Files.createTempDirectory("graft-ivf-append").toFile
    dir2.deleteOnExit()
    operators.IvfIndex.build(spark, sf, dir2.getAbsolutePath)
    // plant a clone of the query vector under a fresh id: after append,
    // an exact-mode probe must surface it with cosine ~ 1.0
    val q = queryVec
    val clone = Seq((999999L, 7, q.toSeq, math.sqrt(q.map(x => x * x).sum)))
      .toDF("vec_id", "label", "e", "nrm")
    operators.IvfIndex.appendVectors(spark, dir2.getAbsolutePath, clone)
    val got = operators.IvfIndex.query(spark, dir2.getAbsolutePath, q,
      topK = 3, nprobe = 16).collect()
    val planted = got.find(_.getLong(0) == 999999L)
    assert(planted.isDefined, s"appended vector missing from top-3: ${got.toSeq}")
    assert(math.abs(planted.get.getDouble(3) - 1.0) < 1e-9,
      "planted clone must score cosine ~ 1.0")
    // replay law: re-appending the same batch is a no-op (the vec_id
    // guard) — the clone is stored once and the top-k is unchanged
    operators.IvfIndex.appendVectors(spark, dir2.getAbsolutePath, clone)
    val stored = spark.read.parquet(s"${dir2.getAbsolutePath}/vectors")
      .filter(org.apache.spark.sql.functions.col("vec_id") === 999999L)
      .count()
    assert(stored == 1L, s"replayed append duplicated the vector: $stored rows")
    val got2 = operators.IvfIndex.query(spark, dir2.getAbsolutePath, q,
      topK = 3, nprobe = 16).collect().map(_.toString).toSeq
    assert(got2 == got.map(_.toString).toSeq,
      "replayed append changed query results")
  }

  test("drift audit flags a skewed append; rebalance splits it and recall holds") {
    import spark.implicits._
    val dir2 = Files.createTempDirectory("graft-ivf-rebalance").toFile
    dir2.deleteOnExit()
    operators.IvfIndex.build(spark, sf, dir2.getAbsolutePath)
    val d = dir2.getAbsolutePath
    val total = spark.read.parquet(s"$d/vectors").count()
    // skewed append: one clone of the query vector per original vector —
    // the corpus doubles, but every new row lands in ONE cell
    val q = queryVec
    val qn = math.sqrt(q.map(x => x * x).sum)
    val clones = (0L until total).map(i =>
      (1000000L + i, 7, q.toSeq, qn)).toDF("vec_id", "label", "e", "nrm")
    operators.IvfIndex.appendVectors(spark, d, clones)
    // detection: the clone cell's population dwarfs the mean
    val audit = operators.IvfIndex.driftAudit(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val hotN = audit.map(_._2).max
    val meanN = audit.map(_._2).sum.toDouble / audit.length
    assert(hotN > 2.0 * meanN,
      s"append was supposed to skew one cell: max $hotN vs mean $meanN")
    // maintenance: at least the hot cell splits; nothing is lost
    val nCellsBefore = audit.length
    val splits = operators.IvfIndex.rebalance(spark, d, factor = 2.0)
    assert(splits >= 1, "rebalance found nothing to split")
    val after = operators.IvfIndex.driftAudit(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(after.map(_._2).sum == 2 * total, "rebalance lost or duplicated vectors")
    assert(after.length == nCellsBefore + splits,
      "each split must add exactly one cell")
    assert(after.map(_._2).max < hotN,
      "the hot cell's population must shrink after its split")
    val nCents = spark.read.parquet(s"$d/centroids").count()
    assert(nCents == after.length.toLong, "centroids table out of sync with cells")
    // recall: nprobe=4 probe vs exact (all-cells) search on the
    // rebalanced index stays within the pinned band
    val exact = operators.IvfIndex.query(spark, d, q,
      topK = 10, nprobe = after.length).collect().map(_.getLong(0)).toSeq
    val probed = operators.IvfIndex.query(spark, d, q,
      topK = 10, nprobe = 4).collect().map(_.getLong(0)).toSet
    val recall = exact.count(probed.contains).toDouble / exact.size
    assert(recall >= 0.7, s"recall@10 after rebalance: $recall")
  }

  test("rebalanceToConvergence reaches a state where no splittable cell exceeds the factor") {
    import spark.implicits._
    val dir4 = Files.createTempDirectory("graft-ivf-converge").toFile
    dir4.deleteOnExit()
    operators.IvfIndex.build(spark, sf, dir4.getAbsolutePath)
    val d4 = dir4.getAbsolutePath
    val total = spark.read.parquet(s"$d4/vectors").count()
    // clone burst with per-clone jitter, so the hot cell stays
    // SPLITTABLE all the way down (distinct vectors at every level)
    val q = queryVec
    val clones = (0L until 3 * total).map { i =>
      val e = q.toSeq.updated(0, q(0) + 1e-3 * i)
      (1000000L + i, 7, e, math.sqrt(e.map(x => x * x).sum))
    }.toDF("vec_id", "label", "e", "nrm")
    operators.IvfIndex.appendVectors(spark, d4, clones)
    val splits = operators.IvfIndex.rebalanceToConvergence(spark, d4, factor = 2.0)
    assert(splits >= 2, s"a 4x corpus burst should need more than one split, got $splits")
    val after = operators.IvfIndex.driftAudit(spark, d4)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(after.map(_._2).sum == 4 * total, "convergence lost or duplicated vectors")
    val meanN = after.map(_._2).sum.toDouble / after.length
    // every remaining above-factor cell must be one a further pass
    // declines to split (degenerate) — with jittered clones there
    // should be none at all unless KMeans refuses a cut
    val stillHot = after.filter(_._2 > 2.0 * meanN)
    assert(stillHot.isEmpty || splits >= 8,
      s"converged with splittable hot cells remaining: $stillHot")
  }

  test("rebalance keeps a degenerate all-identical hot cell whole (no split, no corruption)") {
    import spark.implicits._
    val dir3 = Files.createTempDirectory("graft-ivf-degenerate").toFile
    dir3.deleteOnExit()
    val d3 = dir3.getAbsolutePath
    val e0 = Seq(1.0, 0.0, 0.0)
    val e1 = Seq(0.0, 1.0, 0.0)
    // cell 0: 20 IDENTICAL vectors (unsplittable); cell 1: 2 distinct
    val vecs = ((0 until 20).map(i => (i.toLong, 0, e0, 1.0, 0)) ++
      Seq((100L, 1, e1, 1.0, 1), (101L, 1, Seq(0.0, 0.9, 0.1), 0.906, 1)))
      .toDF("vec_id", "label", "e", "nrm", "cell")
    vecs.write.partitionBy("cell").parquet(s"$d3/vectors")
    Seq((0, e0), (1, e1)).toDF("cell", "centroid")
      .coalesce(1).write.parquet(s"$d3/centroids")
    // cell 0 is hot (20 > 1.5 x mean 11) but cannot be split two ways —
    // the dynamic-overwrite write would leave the old partition intact
    // AND write a copy under a new id, duplicating all 20 vectors
    val splits = operators.IvfIndex.rebalance(spark, d3, factor = 1.5)
    assert(splits == 0, "an unsplittable cell must be kept whole")
    assert(spark.read.parquet(s"$d3/vectors").count() == 22,
      "degenerate rebalance duplicated or dropped vectors")
    assert(spark.read.parquet(s"$d3/centroids").count() == 2)
  }

  test("reader racing a rebalance (stale centroids + orphan cell dirs) serves the COMPLETE live set; the next rebalance adopts the orphans") {
    import spark.implicits._
    val dir5 = Files.createTempDirectory("graft-ivf-torn").toFile
    dir5.deleteOnExit()
    val d5 = dir5.getAbsolutePath
    operators.IvfIndex.build(spark, sf, d5)
    val q = queryVec
    val knownCells = spark.read.parquet(s"$d5/centroids")
      .collect().map(_.getInt(0))
    // the torn state rebalance can crash into: vector rows landed under
    // a cell id the (not-yet-rewritten) centroids table doesn't list
    val orphanId = knownCells.max + 7
    val before = operators.IvfIndex.query(spark, d5, q,
      topK = 10, nprobe = knownCells.length)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(before.head._1 == 0L, "fixture: the query vector is vec 0 itself")
    (0 until 25).map { i =>
      val e = q.toSeq.updated(0, q(0) + 1e-3 * i)
      (2000000L + i, 7, e, math.sqrt(e.map(x => x * x).sum), orphanId)
    }.toDF("vec_id", "label", "e", "nrm", "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$d5/vectors")
    // 1) the racing reader: no exception, full top-k, and the orphan
    //    dir IS scanned — a mid-flight rebalance's moved rows are
    //    reachable no other way until the centroid rewrite lands, so
    //    serving must stay complete (id 2000000 is an exact clone of q
    //    and ties vec 0 at cosine 1.0; the jittered clones rank next,
    //    jitter ascending = cosine descending)
    val during = operators.IvfIndex.query(spark, d5, q,
      topK = 10, nprobe = knownCells.length)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(during.map(_._1) == (0L +: (2000000L to 2000008L)),
      s"torn-state probe must serve the complete live set: $during")
    assert(math.abs(during(1)._2 - 1.0) < 1e-12,
      "the orphan-planted exact clone must score cosine 1.0")
    // 2) driftAudit surfaces the orphan cell (population visible, no
    //    stored centroid -> null displacement)
    val audit = operators.IvfIndex.driftAudit(spark, d5).collect()
      .map(r => (r.getInt(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val orphanRow = audit.find(_._1 == orphanId)
    assert(orphanRow.exists(r => r._2 == 25L && r._3.isEmpty),
      s"driftAudit should flag the orphan cell with null displacement: $orphanRow")
    // 3) the next rebalance adopts the orphan instead of stranding or
    //    merging it: its id appears in centroids, nothing lost, and an
    //    exact probe now surfaces the planted near-clone of q
    val nVecs = spark.read.parquet(s"$d5/vectors").count()
    operators.IvfIndex.rebalance(spark, d5)
    val cents = spark.read.parquet(s"$d5/centroids")
      .collect().map(_.getInt(0)).toSet
    val cells = spark.read.parquet(s"$d5/vectors")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells == cents, s"cells $cells vs centroids $cents still out of sync after rebalance")
    assert(spark.read.parquet(s"$d5/vectors").count() == nVecs,
      "adoption lost or duplicated vectors")
    val healed = operators.IvfIndex.query(spark, d5, q,
      topK = 3, nprobe = cents.size).collect().map(_.getLong(0)).toSet
    assert(healed.contains(2000000L),
      s"adopted orphan's near-clone of the query vector missing from top-3: $healed")
  }

  test("q144 incremental IVF recall tracks combined-corpus brute force") {
    val got = SparkEntry.queries("q144_ivf_incremental")(spark, sf)
      .collect().map(_.getLong(0))
    assert(got.length == 10)
    val brute = SparkEntry.queries("q42_ann_bruteforce")(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val recall = brute.count(got.contains).toDouble / brute.size
    assert(recall >= 0.3, s"recall@10 $recall vs combined brute force")
    // every brute-force hit that q144 recalls from the NEW batch proves
    // the no-refit assignment path serves new vectors end-to-end
    val rows = SparkEntry.queries("q144_ivf_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate ids in top-k")
    val cosines = rows.map(_._2)
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
      "top-k not sorted by cosine")
  }

  test("right-to-be-forgotten: tombstoned vector is never served; applyDeletes prunes only touched cells") {
    val dir = Files.createTempDirectory("graft-ivf-del").toFile
    dir.deleteOnExit()
    operators.IvfIndex.build(spark, sf, dir.getAbsolutePath)
    val idx = dir.getAbsolutePath
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def exists(sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$idx/$sub"))
    val before = operators.IvfIndex.query(spark, idx, queryVec, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    val victim = before.head._1
    operators.IvfIndex.delete(spark, Seq(victim), idx)
    // logical delete is immediate: the victim vanishes, the rest keep
    // their relative order (next-best promoted into the top-10)
    val after = operators.IvfIndex.query(spark, idx, queryVec, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(!after.map(_._1).contains(victim), "deleted vector still served")
    assert(after.map(_._1).take(5).toSeq == before.filter(_._1 != victim)
      .map(_._1).take(5).toSeq, "survivors must keep their order")
    // physical apply: only the victim's cell is touched, tombstones
    // cleared, results unchanged, rerun is a no-op
    val nCells1 = operators.IvfIndex.applyDeletes(spark, idx)
    assert(nCells1 == 1, s"one victim -> one touched cell, got $nCells1")
    assert(!exists("tombstones"))
    assert(spark.read.parquet(s"$idx/vectors")
      .filter(col("vec_id") === victim).count() == 0,
      "victim must be physically gone")
    val afterApply = operators.IvfIndex.query(spark, idx, queryVec, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(afterApply.map(_._1).toSeq == after.map(_._1).toSeq,
      "physical apply changed served results")
    assert(operators.IvfIndex.applyDeletes(spark, idx) == 0,
      "no tombstones -> no-op")
    // emptying a whole cell removes its directory (the dynamic-
    // overwrite blind spot: an emptied cell is NOT in the written
    // data, so it must be dropped explicitly)
    val someCell = spark.read.parquet(s"$idx/vectors")
      .groupBy("cell").count().orderBy("count").limit(1)
      .collect()(0).getInt(0)
    val cellVecs = spark.read.parquet(s"$idx/vectors")
      .filter(col("cell") === someCell)
      .collect().map(_.getLong(0)).toSeq
    operators.IvfIndex.delete(spark, cellVecs, idx)
    operators.IvfIndex.applyDeletes(spark, idx)
    assert(!exists(s"vectors/cell=$someCell"),
      s"emptied cell $someCell directory must be removed")
    assert(spark.read.parquet(s"$idx/vectors")
      .filter(col("cell") === someCell).count() == 0)
  }

  test("mutations hold the maintenance lease: a second holder fails fast, reads stay lock-free") {
    import operators.{IvfIndex, MaintenanceLock}
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-ivf-lock").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath
    IvfIndex.build(spark, sf, idx)
    val batch = operators.Similarity.normed(spark, sf)
      .filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 50000L)
    MaintenanceLock.withLockAs(spark, idx, "sweeper@elsewhere") {
      // every mutating entry point contends like a second process
      intercept[MaintenanceLock.LockHeldException] {
        IvfIndex.appendVectors(spark, idx, batch)
      }
      intercept[MaintenanceLock.LockHeldException] {
        IvfIndex.delete(spark, Seq(0L), idx)
      }
      intercept[MaintenanceLock.LockHeldException] {
        IvfIndex.applyDeletes(spark, idx)
      }
      intercept[MaintenanceLock.LockHeldException] {
        IvfIndex.rebalance(spark, idx)
      }
      // reads are lock-free BY DESIGN: a probe during maintenance works
      assert(IvfIndex.query(spark, idx, queryVec, topK = 5,
        nprobe = 16).count() == 5L)
      ()
    }
    // released: the same mutations proceed (and nest: rebalance inside
    // rebalanceToConvergence re-enters the same-thread lease)
    IvfIndex.appendVectors(spark, idx, batch)
    assert(spark.read.parquet(s"$idx/vectors")
      .filter(col("vec_id") >= 50000L).count() == 3L)
    IvfIndex.rebalanceToConvergence(spark, idx, maxRounds = 1)
  }

  test("a forgotten vector is NOT resurrected by an at-least-once replay after delete + applyDeletes") {
    import operators.IvfIndex
    val dir = Files.createTempDirectory("graft-ivf-retired").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath
    IvfIndex.build(spark, sf, idx)
    val batch = operators.Similarity.normed(spark, sf)
      .filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 900000L)
    IvfIndex.appendVectors(spark, idx, batch)
    val victim = 900002L
    IvfIndex.delete(spark, Seq(victim), idx)
    assert(IvfIndex.applyDeletes(spark, idx) >= 1)
    // at-least-once delivery: the WHOLE original batch replays AFTER
    // its victim was forgotten and physically removed — the stored-ids
    // guard alone would re-admit it (the rows are gone); the retired
    // table must keep it out forever
    IvfIndex.appendVectors(spark, idx, batch)
    assert(spark.read.parquet(s"$idx/vectors")
      .filter(col("vec_id") === victim).count() == 0L,
      "replayed append resurrected a forgotten vector")
    // the batch's SURVIVORS replay as a no-op (still exactly-once)
    assert(spark.read.parquet(s"$idx/vectors")
      .filter(col("vec_id") >= 900000L).count() == 4L,
      "replay double-admitted or dropped the batch's survivors")
    // and the victim is absent from a full probe
    val qv = batch.filter(col("vec_id") === victim)
      .select("e").collect()(0).getSeq[Double](0).toArray
    val served = IvfIndex.query(spark, idx, qv, topK = 10, nprobe = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(!served.contains(victim), "forgotten vector served after replay")
    // a later delete/apply cycle APPENDS to retired (never clears it):
    // the first victim stays retired through the second cycle's replay
    val victim2 = 900000L
    IvfIndex.delete(spark, Seq(victim2), idx)
    IvfIndex.applyDeletes(spark, idx)
    IvfIndex.appendVectors(spark, idx, batch)
    assert(spark.read.parquet(s"$idx/vectors")
      .filter(col("vec_id").isin(victim, victim2)).count() == 0L,
      "a second retire cycle forgot the first cycle's retirement")
  }

  test("probe survives a rebalance landing between its centroid read and its vectors scan (stale view re-planned)") {
    import spark.implicits._
    import operators.IvfIndex
    val dir = Files.createTempDirectory("graft-ivf-probe-race").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath
    IvfIndex.build(spark, sf, idx)
    // skew one cell so the injected rebalance actually splits (moving
    // rows into a NEW cell id the stale centroid view cannot probe)
    val q = queryVec
    val total = spark.read.parquet(s"$idx/vectors").count()
    val clones = (0L until total).map { i =>
      val e = q.toSeq.updated(0, q(0) + 1e-3 * i)
      (3000000L + i, 7, e, math.sqrt(e.map(x => x * x).sum))
    }.toDF("vec_id", "label", "e", "nrm")
    IvfIndex.appendVectors(spark, idx, clones)
    // ground truth from the quiesced index: a rebalance is a pure
    // repartitioning, so the full-probe answer is invariant under it
    var splits = -1
    val got = IvfIndex.queryImpl(spark, idx, q, topK = 10, nprobe = 10000,
      afterPin = attempt => {
        if (attempt == 1) { splits = IvfIndex.rebalance(spark, idx, 2.0); () }
      }, sleep = _ => ())
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(splits >= 1, "fixture: the injected rebalance must split a cell")
    val want = IvfIndex.query(spark, idx, q, topK = 10, nprobe = 10000)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got == want,
      "probe racing a rebalance must re-plan to the correct top-k")
    // applyDeletes overwrite injected at the same seam: the victim is
    // never served and the probe never throws
    val victim = got.head._1
    IvfIndex.delete(spark, Seq(victim), idx)
    val got2 = IvfIndex.queryImpl(spark, idx, q, topK = 10, nprobe = 10000,
      afterPin = attempt => {
        if (attempt == 1) { IvfIndex.applyDeletes(spark, idx); () }
      }, sleep = _ => ())
      .collect().map(_.getLong(0)).toSeq
    assert(!got2.contains(victim),
      "probe racing applyDeletes served the deleted vector")
    assert(got2.take(9) == want.map(_._1).filterNot(_ == victim),
      "probe racing applyDeletes must serve the survivors in order")
  }

  test("servingHealth pins the audit exactly: populations, hot factor, orphans, tombstone backlog, retirement, probe forecast") {
    import spark.implicits._
    import operators.IvfIndex
    val dir = Files.createTempDirectory("graft-ivf-health").toFile
    dir.deleteOnExit()
    val d = dir.getAbsolutePath
    val e0 = Seq(1.0, 0.0, 0.0); val e1 = Seq(0.0, 1.0, 0.0)
    // cell 0: 6 rows, cell 1: 2 rows, cell 2: 4 rows ORPHANED (not in
    // the centroids table — a crashed rebalance's torn state)
    val vecs = ((0 until 6).map(i => (i.toLong, 0, e0, 1.0, 0)) ++
      Seq((100L, 1, e1, 1.0, 1), (101L, 1, e1, 1.0, 1)) ++
      (0 until 4).map(i => (200L + i, 2, e1, 1.0, 2)))
      .toDF("vec_id", "label", "e", "nrm", "cell")
    vecs.write.partitionBy("cell").parquet(s"$d/vectors")
    Seq((0, e0), (1, e1)).toDF("cell", "centroid")
      .coalesce(1).write.parquet(s"$d/centroids")
    IvfIndex.delete(spark, Seq(100L), d)
    val h = IvfIndex.servingHealth(spark, d, nprobe = 2, factor = 1.4)
      .collect()(0)
    // 12 vectors over 3 cells: mean 4.0, max 6, hot 6/4 = 1.5; only
    // cell 0 exceeds 1.4 x 4 = 5.6; cell 2 is the orphan; one pending
    // tombstone; forecast = 2 x 4 mean / 6+4 worst-two-cells
    assert(h.getAs[Int]("n_cells") == 3)
    assert(h.getAs[Long]("n_vectors") == 12L)
    assert(h.getAs[Long]("max_cell") == 6L)
    assert(h.getAs[Double]("mean_cell") == 4.0)
    assert(h.getAs[Double]("hot_factor") == 1.5)
    assert(h.getAs[Long]("n_hot_cells") == 1L)
    assert(h.getAs[Long]("orphan_cells") == 1L)
    assert(h.getAs[Long]("tombstone_backlog") == 1L)
    assert(h.getAs[Long]("retired_ids") == 0L)
    assert(h.getAs[Double]("probe_rows_mean") == 8.0)
    assert(h.getAs[Long]("probe_rows_worst") == 10L)
    // after the physical apply: backlog drains into retirement, the
    // population map reflects the removal
    IvfIndex.applyDeletes(spark, d)
    val h2 = IvfIndex.servingHealth(spark, d, nprobe = 2, factor = 1.4)
      .collect()(0)
    assert(h2.getAs[Long]("n_vectors") == 11L)
    assert(h2.getAs[Long]("tombstone_backlog") == 0L)
    assert(h2.getAs[Long]("retired_ids") == 1L)
  }

  test("probe retry absorbs a transient FileNotFoundException (bounded attempts; classifier walks the cause chain)") {
    import operators.IvfIndex
    // the real scan-time failure shape: a file deleted between the
    // scan's listing and its read surfaces as SparkException layers
    // with an FNF cause — simulate it at the seam where it lands
    var calls = 0
    val rows = IvfIndex.queryImpl(spark, indexDir, queryVec,
      topK = 5, nprobe = 16,
      afterPin = attempt => {
        calls += 1
        if (attempt <= 2)
          throw new org.apache.spark.SparkException("stage failed",
            new java.io.FileNotFoundException("cell=3/part-0000.parquet"))
      }, sleep = _ => ())
      .collect()
    assert(calls == 3, s"expected 2 retries then success, saw $calls attempts")
    assert(rows.length == 5)
    // attempts are BOUNDED: a persistent failure surfaces
    intercept[org.apache.spark.SparkException] {
      IvfIndex.queryImpl(spark, indexDir, queryVec, topK = 5, nprobe = 16,
        afterPin = _ => throw new org.apache.spark.SparkException("down",
          new java.io.FileNotFoundException("gone")),
        maxAttempts = 3, sleep = _ => ())
    }
    // classifier: FNF anywhere in the chain or a vanished-path analysis
    // error retries; an unrelated failure does not
    assert(IvfIndex.retryableProbeFailure(
      new RuntimeException(new java.io.FileNotFoundException("x"))))
    assert(IvfIndex.retryableProbeFailure(
      new RuntimeException("...java.io.FileNotFoundException: x...")))
    assert(!IvfIndex.retryableProbeFailure(
      new IllegalStateException("unrelated")))
  }

  test("a probe against a dir that was never an index fails FAST (no retry backoff burned on a permanent path error)") {
    import operators.IvfIndex
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    intercept[org.apache.spark.sql.AnalysisException] {
      IvfIndex.queryImpl(spark,
        s"/tmp/graft-no-such-index-${java.util.UUID.randomUUID}",
        queryVec, topK = 5, nprobe = 4, sleep = sleeps += _)
    }
    assert(sleeps.isEmpty,
      s"a wrong indexDir must surface on attempt 1, not back off: $sleeps")
  }

  test("eager-probe dedupe keys on the vec_id COLUMN, not position 0 (a reordered plan cannot dedupe on the wrong field)") {
    import spark.implicits._
    import operators.IvfIndex
    // plan whose FIRST column is label: rows (label, vec_id) =
    // (0,1),(0,2),(1,1) — a position-0 dedupe keeps (0,1),(1,1) and
    // serves vec_id 1 twice; the fieldIndex dedupe keeps (0,1),(0,2)
    val rows = IvfIndex.eagerProbe(spark, indexDir, "vectors", keep = 2,
      _ => (), maxAttempts = 1, _ => ())((_, _, _) =>
      Seq((0, 1L), (0, 2L), (1, 1L)).toDF("label", "vec_id"))
      .collect().map(_.getLong(1)).toSeq
    assert(rows == Seq(1L, 2L),
      s"dedupe must key on the vec_id column: served $rows")
  }

  test("an under-filled dedupe out of a SATURATED fetch is a retry signal; only the exhausted final attempt serves short") {
    import spark.implicits._
    import operators.IvfIndex
    val fetch = IvfIndex.withHeadroom(3)
    var calls = 0
    def dupPlan = (1 to fetch).map(i => (9L, i)).toDF("vec_id", "i")
    def okPlan = Seq((1L, 0), (2L, 0), (3L, 0)).toDF("vec_id", "i")
    // attempt 1 returns `fetch` rows that dedupe to ONE id (the >=3x
    // multiplicity window DupHeadroom cannot cover); the retry re-plans
    // and attempt 2 serves the full unique top-k
    val got = IvfIndex.eagerProbe(spark, indexDir, "vectors", keep = 3,
      _ => (), maxAttempts = 4, _ => ()) { (_, _, _) =>
      calls += 1
      if (calls == 1) dupPlan else okPlan
    }.collect().map(_.getLong(0)).toSeq
    assert(calls == 2, s"expected one under-fill retry, saw $calls attempts")
    assert(got == Seq(1L, 2L, 3L))
    // retries exhausted: the final attempt serves the short answer
    // rather than failing the serving path (the documented bound)
    val short = IvfIndex.eagerProbe(spark, indexDir, "vectors", keep = 3,
      _ => (), maxAttempts = 1, _ => ())((_, _, _) => dupPlan)
      .collect().map(_.getLong(0)).toSeq
    assert(short == Seq(9L), s"exhausted attempt must serve what it has: $short")
    // a genuinely small corpus (rows < fetch, all unique) is NOT a
    // retry signal: one attempt, short answer served
    var smallCalls = 0
    val small = IvfIndex.eagerProbe(spark, indexDir, "vectors", keep = 3,
      _ => (), maxAttempts = 4, _ => ()) { (_, _, _) =>
      smallCalls += 1
      Seq((5L, 0)).toDF("vec_id", "i")
    }.collect().map(_.getLong(0)).toSeq
    assert(smallCalls == 1 && small == Seq(5L),
      s"a short scan of a small corpus must serve in one attempt: " +
        s"$smallCalls attempts, $small")
  }

  test("an append's FIRST write into an empty cell does not trip the layout witness: one attempt, pre-append view served") {
    import operators.IvfIndex
    val dir = Files.createTempDirectory("graft-ivf-first-write").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath
    IvfIndex.build(spark, sf, idx)
    // empty the smallest cell: its dir is removed, its centroid stays —
    // exactly the state where a later append CREATES the dir afresh
    val smallest = spark.read.parquet(s"$idx/vectors")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(asc("n"), asc("cell")).collect()(0).getInt(0)
    val members = operators.Similarity.normed(spark, sf)
      .join(spark.read.parquet(s"$idx/vectors")
        .filter(col("cell") === smallest).select("vec_id"), "vec_id")
      .localCheckpoint()
    val memberIds = members.select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfIndex.delete(spark, memberIds, idx)
    IvfIndex.applyDeletes(spark, idx)
    assert(!new java.io.File(s"$idx/vectors/cell=$smallest").exists,
      "fixture: the emptied cell dir must be gone")
    // probe racing the append: afterPin recreates cell=<smallest> by
    // appending a clone of an original member (same nearest centroid).
    // The new dir belongs to a KNOWN centroid id — a first-write
    // append, not a rebalance — so the witness must NOT re-plan.
    var attempts = 0
    val got = IvfIndex.queryImpl(spark, idx, queryVec, topK = 5,
      nprobe = 1000,
      afterPin = a => {
        attempts = a
        if (a == 1) {
          IvfIndex.appendVectors(spark, idx,
            members.withColumn("vec_id", col("vec_id") + 8000000L))
          assert(new java.io.File(s"$idx/vectors/cell=$smallest").exists,
            "fixture: the append must recreate the emptied cell dir")
          ()
        }
      }, sleep = _ => ())
    assert(attempts == 1,
      s"a first-write append dir must not trip the witness: $attempts attempts")
    assert(got.count() == 5L)
  }

  test("queryFiltered serves the exact filtered top-k at several selectivities (over-fetch sized from label_stats); absent labels fail loudly; no stats falls back to the default") {
    import operators.{IvfIndex, Similarity}
    val dir = Files.createTempDirectory("graft-ivf-filtered").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath
    operators.IvfIndex.build(spark, sf, idx)
    val q = queryVec
    val w = Similarity.normed(spark, sf)
    graft.functions.VectorFunctions.register(spark)
    def bruteFiltered(lab: Int, restrictTo: Option[Set[Long]]): Seq[(Long, Double)] = {
      val qnrm = math.sqrt(q.map(x => x * x).sum)
      val base = w.filter(col("label") === lab)
        .withColumn("qe", array(q.map(lit): _*))
        .withColumn("cosine",
          expr("dot_product(e, qe)") / (col("nrm") * lit(qnrm)))
        .select("vec_id", "cosine")
        .orderBy(desc("cosine"), asc("vec_id"))
      val rows = base.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      restrictTo.map(ids => rows.filter(r => ids.contains(r._1)))
        .getOrElse(rows).take(5)
    }
    // DEFAULT path first (no stats yet): must serve, every row matching
    val labels = w.groupBy("label").count()
      .orderBy(desc("count"), asc("label")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val common = labels.head._1
    val noStats = IvfIndex.queryFiltered(spark, idx, q, topK = 5,
      col("label") === common, nprobe = 1000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    assert(noStats.forall(_._2 == common),
      "default-overfetch path served a non-matching row")
    // rank preservation end-to-end: what IS served is a PREFIX of the
    // exact filtered truth, even when the default K' under-fetches
    val truthCommon = bruteFiltered(common, None)
    assert(noStats.map(r => (r._1, r._3)).toSeq ==
      truthCommon.take(noStats.length),
      "served rows must be the best-ranked filtered truth prefix")
    // data-sized path: several selectivities, full probe → exact truth
    IvfIndex.writeLabelStats(spark, idx)
    for ((lab, _) <- Seq(labels.head, labels(labels.length / 2),
        labels.last)) {
      val got = IvfIndex.queryFiltered(spark, idx, q, topK = 5,
        col("label") === lab, nprobe = 1000)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
      assert(got == bruteFiltered(lab, None),
        s"label $lab: filtered top-5 must equal the exact filtered truth")
    }
    // pruned probe (nprobe = 4): exact truth RESTRICTED to the cells
    // the probe ranks — the residual approximation is cell pruning,
    // same as the unfiltered operator
    val cents = IvfIndex.readCentroids(spark, idx)
    val probed = IvfIndex.rankedCells(cents, q, 4).toSet
    spark.catalog.refreshByPath(s"$idx/vectors")
    val inProbed = spark.read.parquet(s"$idx/vectors")
      .filter(col("cell").isin(probed.toSeq: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got4 = IvfIndex.queryFiltered(spark, idx, q, topK = 5,
      col("label") === common, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got4 == bruteFiltered(common, Some(inProbed)),
      "pruned filtered top-5 must equal the filtered truth within the probed cells")
    // a label the probed cells don't hold: loud, never silently short
    intercept[IvfIndex.NoMatchInProbedCells] {
      IvfIndex.queryFiltered(spark, idx, q, topK = 5,
        col("label") === 9999, nprobe = 4)
    }
  }

  test("label_stats tracks maintenance: a split refreshes the forecast; a window of stale stats falls back instead of failing healthy filtered queries") {
    import spark.implicits._
    import operators.IvfIndex
    val dir = Files.createTempDirectory("graft-ivf-stats-maint").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath
    IvfIndex.build(spark, sf, idx)
    IvfIndex.writeLabelStats(spark, idx)
    // plant a splittable hot cell so the rebalance renumbers cells
    val q = queryVec
    val total = spark.read.parquet(s"$idx/vectors").count()
    val clones = (0L until total).map { i =>
      val e = q.toSeq.updated(0, q(0) + 1e-3 * i)
      (5000000L + i, 7, e, math.sqrt(e.map(x => x * x).sum))
    }.toDF("vec_id", "label", "e", "nrm")
    IvfIndex.appendVectors(spark, idx, clones)
    assert(IvfIndex.rebalance(spark, idx, 2.0) >= 1)
    // the split refreshed the stats: every live cell id is audited
    spark.catalog.refreshByPath(s"$idx/label_stats")
    spark.catalog.refreshByPath(s"$idx/vectors")
    val statCells = spark.read.parquet(s"$idx/label_stats")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val liveCells = spark.read.parquet(s"$idx/vectors")
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(statCells == liveCells,
      s"maintenance must refresh label_stats to the live cell layout " +
        s"(stats $statCells vs live $liveCells)")
    // and stats counts match the live population per (cell, label)
    val statRows = spark.read.parquet(s"$idx/label_stats")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val liveRows = spark.read.parquet(s"$idx/vectors")
      .groupBy("cell", "label").count()
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(statRows == liveRows, "refreshed stats must equal live counts")
    // STALE window: hand-write stats that know NONE of the live cells
    // (the pre-refresh instant) — a filtered query must fall back to
    // the default instead of throwing a spurious zero-match error
    Seq((99991, 7, 5L)).toDF("cell", "label", "n")
      .repartition(1).write.mode("overwrite").parquet(s"$idx/label_stats")
    spark.catalog.refreshByPath(s"$idx/label_stats")
    val got = IvfIndex.queryFiltered(spark, idx, q, topK = 5,
      col("label") === 7, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(got.length == 5 && got.forall(_ >= 0),
      "stale stats must degrade to the default over-fetch, not fail")
  }
}
