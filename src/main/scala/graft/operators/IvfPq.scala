package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: the composed production ANN index (the FAISS `IVFx,PQy`
  * shape, Jégou et al. 2011 §IV) — IvfIndex's coarse partition pruning
  * over PQ-compressed codes instead of raw vectors. At 100 TB the
  * two compressions multiply: the coarse quantizer prunes the scan to
  * nprobe cell directories (partition pruning IS the index lookup,
  * [[IvfIndex]]'s argument), and within them only the 4-byte code rows
  * are read — the original float vectors are touched ONLY by the
  * optional exact-rerank stage, as [[Similarity.pqRerankTopK]]'s
  * pruned point-lookup (q164).
  *
  * The index is three parquet tables:
  *   - `centroids/` — (cell, centroid), k rows (seeded KMeans coarse
  *     fit — the q50/q55 seeded-fit class, hence no direct oracle:
  *     correctness is pinned by IvfPqSpec's cross-laws against the
  *     DuckDB-oracled q162/q164 — with nprobe = all cells the pruning
  *     is a no-op and query()/queryRerank() must reproduce those
  *     queries' rows EXACTLY, ADC values bit-equal);
  *   - `codebooks/`  — (m, j, cw), M×K rows: the PQ sample codebook
  *     ([[Similarity.pqCollectCodebooks]]);
  *   - `codes/`      — (vec_id, label, code_0..M-1) PARTITIONED BY
  *     cell: [[Similarity.pqEncodeScan]] output + the coarse
  *     assignment.
  *
  * Query = load centroids + codebooks (k-bounded collects, the
  * [[IvfIndex.query]] discipline) → nearest nprobe cells driver-side →
  * ADC lookup table computed DRIVER-side (M×K doubles, same left-fold
  * arithmetic as the engines) and inlined as literal arrays →
  * partition-pruned scan of the probed cells' codes with M element_at
  * lookups per row. No broadcast join, no float math on vectors.
  *
  * Single-writer is ENFORCED ([[MaintenanceLock]] on every mutating
  * entry point — build/append/delete/applyDeletes/rebalance), for the
  * reason documented on [[IvfIndex]]: the partition-dir layout has no
  * manifest commit to detect a lost race, so two racing replays of
  * one append would both pass the vec_id guard. Reads stay lock-free. */
object IvfPq {
  import Similarity.{PqM, PqD, PqK}

  def build(spark: SparkSession, sfDir: String, indexDir: String,
      k: Int = 16, seed: Long = 1L): Unit =
   MaintenanceLock.withLock(spark, indexDir) {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark2 = spark
    import spark2.implicits._
    val w = Similarity.normed(spark, sfDir)
      .select("vec_id", "label", "e")
      .withColumn("fv", array_to_vector(col("e"))).cache()
    try {
      val km = new KMeans().setK(k).setSeed(seed)
        .setFeaturesCol("fv").setPredictionCol("cell").fit(w)
      km.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/centroids")
      val cbs = Similarity.pqCollectCodebooks(w)
      (0 until PqM).flatMap(m => (0 until PqK)
        .map(j => (m, j, cbs(m)(j).toSeq)))
        .toDF("m", "j", "cw")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/codebooks")
      val cells = km.transform(w).select(col("vec_id"), col("label"), col("cell"))
      Similarity.pqEncodeScan(w, cbs)
        .drop("recon_err")
        .join(cells, "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/codes")
    } finally { w.unpersist(); () }
  }

  /** Incremental append — [[IvfIndex.appendVectors]]'s discipline at PQ
    * granularity: encode the batch with the PERSISTED codebooks
    * (K-bounded collect → the native `pq_encode` literal-loop
    * expression, one zero-shuffle projection), coarse-assign against
    * the PERSISTED centroids ([[IvfIndex.assignToCentroids]]'s literal
    * argmin), and parquet-APPEND under the touched cell partitions
    * only — existing code rows are never read or rewritten, and
    * neither quantizer is refit (coarse drift under skewed appends is
    * [[IvfIndex.driftAudit]]'s domain; codebook staleness shows up in
    * q163's balance histogram). Batch columns are cast to the STORED
    * schema before the write so a drifting input type fails loudly at
    * append time, not in every later reader. Replay guard
    * ([[PrevalenceIndex.append]]'s convention): already-indexed vec_ids
    * are anti-joined out, so a re-sent batch cannot double-serve a
    * vector; the guard reads only the codes table's vec_id column. */
  def append(spark: SparkSession, indexDir: String, batch: DataFrame): Unit =
   MaintenanceLock.withLock(spark, indexDir) {
    graft.functions.VectorFunctions.register(spark)
    val cbs = loadCodebooks(spark, indexDir)
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    val stored = spark.read.parquet(s"$indexDir/codes").schema
    // replay guard = stored ids ∪ RETIRED ids ([[IvfIndex.appendVectors]]'s
    // reasoning verbatim: stored alone resurrects a forgotten vector when
    // an old batch replays after delete + applyDeletes)
    val known = spark.read.parquet(s"$indexDir/codes")
      .select("vec_id").distinct()
    val guard = RetiredIds.read(spark, indexDir)
      .map(r => known.unionByName(r.select("vec_id"))).getOrElse(known)
    val cbLit = typedlit(cbs.map(_.map(_.toSeq).toSeq).toSeq)
    val enc = IvfIndex.assignToCentroids(
      batch.join(guard, Seq("vec_id"), "left_anti"), centroids)
      .withColumn("r", call_function("pq_encode", col("e"), cbLit))
    val withCodes = (0 until PqM).foldLeft(enc) { (acc, m) =>
      acc.withColumn(s"code_$m",
        element_at(col("r").getField("codes"), m + 1))
    }
    val aligned = stored.fields.filterNot(_.name == "cell")
      .map(f => col(f.name).cast(f.dataType).as(f.name))
    // materialize before the write — the replay guard's anti-join reads
    // vec_id from the same codes directory this job appends to; sever
    // the lineage so no re-listing can observe the in-flight write
    // (the IvfIndex.appendVectors / admitImpl newSetIds discipline)
    val toAdd = withCodes.select(aligned :+ col("cell"): _*)
      .localCheckpoint()
    toAdd.write.mode("append").partitionBy("cell")
      .parquet(s"$indexDir/codes")
    toAdd.unpersist()
    ()
  }

  /** Probe cells + driver-computed ADC table for `query`, shared by
    * [[query]] and [[queryRerank]], from an already-resolved centroid
    * view ([[IvfIndex.queryPlanFrom]]'s seam shape). The fold is the
    * engines' left fold, so ADC values are bit-equal to q162's. */
  private def probePlanFrom(spark: SparkSession, indexDir: String,
      centroids: Array[(Int, Array[Double])],
      q: Array[Double], nprobe: Int,
      orphans: Seq[Int]): (Seq[Int], DataFrame) = {
    val probes = (centroids.map { case (cell, c) =>
      (c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, cell)
    }.sorted.take(nprobe).map(_._2).toSeq ++ orphans).distinct
    // ledger: one executed attempt (IvfIndex.queryPlanFrom's record)
    ProbeLedger.record(spark, indexDir, probes)
    val cbs = spark.read.parquet(s"$indexDir/codebooks")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val adcTable: Seq[Seq[Double]] = (0 until PqM).map { m =>
      (0 until PqK).map { j =>
        val c = cbs((m, j))
        (0 until PqD).map { i =>
          val diff = q(m * PqD + i) - c(i); diff * diff
        }.reduce(_ + _)
      }
    }
    val adc = (0 until PqM)
      .map(m => element_at(typedLit(adcTable(m)), col(s"code_$m") + 1))
      .reduce(_ + _)
    val scored = minusTombstones(spark.read.parquet(s"$indexDir/codes")
      .filter(col("cell").isin(probes: _*)), // partition pruning = the lookup
      tombstonesOf(spark, indexDir))
      .withColumn("adc_dist", adc)
    (probes, scored)
  }

  /** Right-to-be-forgotten delete over the CODES table — the
    * [[IvfIndex.delete]] tombstone discipline for the PQ form:
    * O(batch) id append, [[query]]/[[queryRerank]] anti-join the set
    * out AFTER the partition-pruned scan (broadcast-scale, lookup
    * shape unchanged), [[applyDeletes]] removes the codes physically.
    * A forgotten vector can never be served, even before the apply.
    * Maintenance ([[driftAudit]]/[[rebalance]]) reads the live table —
    * run [[applyDeletes]] first; until then audits conservatively
    * include the to-be-deleted rows. */
  def delete(spark: SparkSession, vecIds: Seq[Long], indexDir: String): Unit =
   MaintenanceLock.withLock(spark, indexDir) {
    import spark.implicits._
    vecIds.toDF("vec_id").repartition(1)
      .write.mode("append").parquet(s"$indexDir/tombstones")
  }

  private def tombstonesOf(spark: SparkSession, indexDir: String)
      : Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  private def minusTombstones(df: DataFrame, ts: Option[DataFrame]): DataFrame =
    ts.map(t => df.join(broadcast(t.select("vec_id")), Seq("vec_id"),
      "left_anti")).getOrElse(df)

  /** Physically remove tombstoned codes, touching ONLY the cell
    * partitions that contain them — [[IvfIndex.applyDeletes]] over the
    * codes-only table (no float column is ever read or written).
    * Emptied cells' directories are deleted explicitly (dynamic
    * overwrite cannot remove an absent partition — the rebalance
    * lesson); tombstones are cleared last, so a crash anywhere earlier
    * reruns idempotently. Returns the number of cells rewritten or
    * removed. */
  def applyDeletes(spark: SparkSession, indexDir: String): Int =
    applyDeletesImpl(spark, indexDir, _ => ())

  /** [[applyDeletes]] with [[RetiredIds.retireImpl]]'s spec seams —
    * [[IvfIndex.applyDeletesImpl]]'s shape on the codes lifecycle. */
  private[graft] def applyDeletesImpl(spark: SparkSession, indexDir: String,
      crashPoint: String => Unit,
      compactThreshold: Int = RetiredIds.CompactThreshold): Int =
   MaintenanceLock.withLock(spark, indexDir) {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    tombstonesOf(spark, indexDir) match {
      case None => 0
      case Some(ts0) =>
        val ts = ts0.select("vec_id")
        // retire FIRST — once the code rows are gone only the
        // manifest-committed retirement memory ([[RetiredIds]]) stops
        // a replayed append from resurrecting them; a crash below
        // leaves tombstones in place and the rerun re-retires (dup
        // rows, compaction collapses them) and reapplies
        RetiredIds.retireImpl(spark, indexDir, ts, crashPoint,
          compactThreshold)
        val codes = spark.read.parquet(s"$indexDir/codes")
        val storedCols = codes.schema.fields.map(_.name)
        val touched = codes.join(broadcast(ts), "vec_id")
          .groupBy("cell").agg(count(lit(1)).as("n_del"))
          .collect().map(_.getInt(0)).sorted.toSeq
        if (touched.nonEmpty) {
          val survivors = codes.filter(col("cell").isin(touched: _*))
            .join(broadcast(ts), Seq("vec_id"), "left_anti")
            .select(storedCols.map(col): _*)
            .localCheckpoint()
          val liveCells = survivors.select("cell").distinct()
            .collect().map(_.getInt(0)).toSet
          if (liveCells.nonEmpty) {
            survivors.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("cell").parquet(s"$indexDir/codes")
          }
          survivors.unpersist()
          for (c <- touched if !liveCells.contains(c)) {
            fs.delete(new org.apache.hadoop.fs.Path(
              s"$indexDir/codes/cell=$c"), true)
            ()
          }
        }
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/tombstones"), true)
        if (touched.nonEmpty)
          IvfIndex.refreshStatsIfPresent(spark, indexDir, "codes")
        // re-arm the probes-since-apply meter (IvfIndex.applyDeletesImpl)
        ProbeLedger.markDrained(spark, indexDir)
        touched.length
    }
  }

  /** One-shot LAZY probe plan (current centroid view, no retry) — the
    * plan-inspection seam; serving goes through [[query]]. */
  private[graft] def queryPlan(spark: SparkSession, indexDir: String,
      q: Array[Double], topK: Int = 10, nprobe: Int = 4): DataFrame = {
    val cents = IvfIndex.readCentroids(spark, indexDir)
    val (_, scored) = probePlanFrom(spark, indexDir, cents, q, nprobe,
      IvfIndex.orphanCells(
        IvfIndex.cellDirs(spark, indexDir, "codes"), cents))
    scored.select("vec_id", "label", "cell", "adc_dist")
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** Top-k by ADC over the probed cells' codes — EAGER under
    * [[IvfIndex.ProbeRetryAttempts]]'s probe-retry policy (the serving
    * index's reader story: [[graft.streaming.AnnMaintenance]] makes
    * partition overwrites routine, so a missing-file race or a centroid
    * view changing under the scan re-resolves and re-plans instead of
    * failing the query). */
  def query(spark: SparkSession, indexDir: String, q: Array[Double],
      topK: Int = 10, nprobe: Int = 4): DataFrame =
    queryImpl(spark, indexDir, q, topK, nprobe)

  /** [[query]] with the spec seams exposed ([[IvfIndex.queryImpl]]'s
    * shape: `afterPin` fires between the centroid read and the codes
    * scan). Delegates to the SHARED [[IvfIndex.eagerProbe]] retry loop
    * (one copy of the concurrency logic — witness pair, dedupe,
    * headroom trim) with the ADC plan injected and the codes table as
    * the layout witness. */
  private[graft] def queryImpl(spark: SparkSession, indexDir: String,
      q: Array[Double], topK: Int = 10, nprobe: Int = 4,
      afterPin: Int => Unit = _ => (),
      maxAttempts: Int = IvfIndex.ProbeRetryAttempts,
      sleep: Long => Unit = Thread.sleep): DataFrame =
    IvfIndex.eagerProbe(spark, indexDir, "codes", topK, afterPin,
        maxAttempts, sleep) { (cents, orphans, fetch) =>
      val (_, scored) = probePlanFrom(spark, indexDir, cents, q, nprobe,
        orphans)
      scored.select("vec_id", "label", "cell", "adc_dist")
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(fetch)
    }

  /** Persist the per-(cell, label) population map over the CODES table
    * — [[IvfIndex.writeLabelStats]] for the PQ lifecycle (the stats
    * feed [[queryFiltered]]'s over-fetch forecast). */
  def writeLabelStats(spark: SparkSession, indexDir: String): Unit =
    IvfIndex.writeStatsOf(spark, indexDir, "codes")

  /** Metadata-filtered top-k by ADC — [[IvfIndex.queryFiltered]]'s
    * architecture on the codes lifecycle: unfiltered K′-candidate ADC
    * ranking through the shared eager probe (maintenance-survival
    * guarantees carry over), K′ sized from the `label_stats/`
    * forecast, predicate post-filter, top `topK` survivors. Rank
    * preservation under filtering holds for ADC order exactly as for
    * cosine; zero-match forecasts fail loudly
    * ([[IvfIndex.NoMatchInProbedCells]]). */
  def queryFiltered(spark: SparkSession, indexDir: String,
      q: Array[Double], topK: Int,
      predicate: org.apache.spark.sql.Column, nprobe: Int = 4): DataFrame =
    queryFilteredImpl(spark, indexDir, q, topK, predicate, nprobe)

  /** [[queryFiltered]] with the spec seams exposed, including
    * [[IvfIndex.queryFilteredImpl]]'s bounded doubling ESCALATION on a
    * post-filter shortfall (clustered labels under-fill the forecast
    * K′; the loop ends at top-`topK` survivors or an exhausted probed
    * population — the answer is then the exact filtered ADC truth
    * within the probed cells). */
  private[graft] def queryFilteredImpl(spark: SparkSession,
      indexDir: String, q: Array[Double], topK: Int,
      predicate: org.apache.spark.sql.Column, nprobe: Int = 4,
      afterPin: Int => Unit = _ => (),
      maxAttempts: Int = IvfIndex.ProbeRetryAttempts,
      sleep: Long => Unit = Thread.sleep): DataFrame = {
    val entryView = IvfIndex.readCentroids(spark, indexDir)
    val probes = IvfIndex.rankedCells(entryView, q, nprobe)
    var k = IvfIndex.filteredFetch(spark, indexDir, probes, topK,
      predicate)
    var out: Option[DataFrame] = None
    while (out.isEmpty) {
      val cand = IvfIndex.eagerProbe(spark, indexDir, "codes", k,
          afterPin, maxAttempts, sleep) { (cents, orphans, fetch) =>
        val (_, scored) = probePlanFrom(spark, indexDir, cents, q, nprobe,
          orphans)
        scored.select("vec_id", "label", "cell", "adc_dist")
          .orderBy(col("adc_dist"), col("vec_id"))
          .limit(fetch)
      }
      val kept = cand.filter(predicate)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(topK)
      if (kept.count() >= topK || cand.count() < k ||
          k >= Int.MaxValue / 2 - IvfIndex.DupHeadroom)
        out = Some(kept)
      else
        k = math.min(k.toLong * 2L,
          (Int.MaxValue / 2 - IvfIndex.DupHeadroom).toLong).toInt
    }
    out.get
  }

  /** The persisted codebooks as nested Seqs (m → j → subvector). */
  private def loadCodebooks(spark: SparkSession,
      indexDir: String): Seq[Seq[Array[Double]]] = {
    val rows = spark.read.parquet(s"$indexDir/codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    (0 until PqM).map(m => (0 until PqK).map(j => rows((m, j))))
  }

  /** PQ-decode projection over a codes frame: reconstructed vector =
    * the concatenation of each subspace's selected codeword — a
    * zero-shuffle projection against inlined codebook literals (the
    * probePlan discipline; the codes table still carries no floats at
    * rest). */
  private def decodeCol(cbs: Seq[Seq[Array[Double]]]):
      org.apache.spark.sql.Column =
    concat((0 until PqM).map { m =>
      element_at(typedlit(cbs(m).map(_.toSeq)), col(s"code_$m") + 1)
    }: _*)

  /** Per-cell index health at PQ granularity — [[IvfIndex.driftAudit]]
    * with the displacement measured from the RECONSTRUCTED vectors,
    * since the codes table stores no floats: |decode(v) − c|² =
    * Σ_m |cw_{m,code_m} − c_m|², and those M×K partial distances are
    * precomputed DRIVER-side per cell (k·M·K doubles — 2 048 at the
    * default shape) and inlined, so the audit is ONE scan of the codes
    * with M table lookups per row, k rows out. Population growth +
    * displacement growth under frozen-quantizer appends is exactly the
    * signal [[rebalance]] consumes. */
  def driftAudit(spark: SparkSession, indexDir: String): DataFrame = {
    val cbs = loadCodebooks(spark, indexDir)
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val whens = cents.map { case (cell, c) =>
      val tables: Seq[Seq[Double]] = (0 until PqM).map { m =>
        (0 until PqK).map { j =>
          (0 until PqD).map { i =>
            val diff = cbs(m)(j)(i) - c(m * PqD + i); diff * diff
          }.sum
        }
      }
      val d2 = (0 until PqM)
        .map(m => element_at(typedlit(tables(m)), col(s"code_$m") + 1))
        .reduce(_ + _)
      when(col("cell") === cell, d2)
    }
    spark.read.parquet(s"$indexDir/codes")
      .withColumn("d2", coalesce(whens: _*))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), avg("d2").as("mean_disp2"))
      .orderBy("cell")
  }

  /** [[IvfIndex.servingHealth]] over the codes table — same columns,
    * same k-bounded cost (the forecast counts CODE rows, which is the
    * honest probe cost here: the ADC scan reads codes, never floats). */
  def servingHealth(spark: SparkSession, indexDir: String,
      nprobe: Int = 4, factor: Double = 2.0): DataFrame =
    IvfIndex.healthOf(spark, indexDir, "codes", nprobe, factor)

  /** Maintenance — [[IvfIndex.rebalance]]'s touch-only-what-changed
    * discipline over the codes table: re-split every cell whose
    * population exceeds `factor` × the mean, fitting k=2 over the
    * cell's DECODED members (work bounded by the hot cell), rewriting
    * only that cell's partitions via dynamic partition overwrite, and
    * rewriting the centroids table LAST. Codes are NEVER re-encoded —
    * a rebalance moves rows between cell directories and refines the
    * coarse map, so at nprobe = all cells the ADC answer is
    * bit-identical before and after (IvfPqSpec pins this invariant:
    * rebalance is a pure repartitioning of the search space). Orphan
    * adoption + fresh-id allocation from max over BOTH tables mirror
    * [[IvfIndex.rebalance]]'s torn-state recovery; degenerate
    * (all-identical) hot cells are kept whole for the same
    * dynamic-overwrite reason documented there. `topN` > 0 adds the
    * N most populous cells to the split set regardless of factor —
    * [[IvfIndex.rebalance]]'s diffuse-drift mode. Returns cells split. */
  def rebalance(spark: SparkSession, indexDir: String,
      factor: Double = 2.0, seed: Long = 1L, topN: Int = 0): Int =
   MaintenanceLock.withLock(spark, indexDir) {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val cbs = loadCodebooks(spark, indexDir)
    val codes = spark.read.parquet(s"$indexDir/codes")
    val counts = codes.groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    if (counts.length < 2) return 0
    val meanN = counts.map(_._2).sum.toDouble / counts.length
    val largest: Seq[Int] =
      if (topN <= 0) Seq.empty
      else counts.sortBy { case (c, n) => (-n, c) }.take(topN)
        .map(_._1).toSeq
    val hot = (counts.filter(_._2 > factor * meanN).map(_._1) ++ largest)
      .distinct.sorted.toSeq
    val stored = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val known = stored.map(_._1).toSet
    val orphans = counts.map(_._1).filterNot(known).sorted
    val adopted: Seq[(Int, Array[Double])] =
      if (orphans.isEmpty) Seq.empty
      else codes.filter(col("cell").isin(orphans: _*))
        .withColumn("de", decodeCol(cbs))
        .select(col("cell"), posexplode(col("de")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("centroid"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    val centroids = stored ++ adopted
    if (hot.isEmpty && orphans.isEmpty) return 0
    var nextId = math.max(centroids.map(_._1).max, counts.map(_._1).max) + 1
    var splits = 0
    val storedCols = codes.schema.fields.map(_.name)
      .filterNot(_ == "cell")
    val kept = scala.collection.mutable.ArrayBuffer(
      centroids.filterNot(c => hot.contains(c._1)).toSeq: _*)
    for (cellId <- hot) {
      val members = codes.filter(col("cell") === cellId)
        .withColumn("fv", array_to_vector(decodeCol(cbs))).cache()
      try {
        val km = new KMeans().setK(2).setSeed(seed)
          .setFeaturesCol("fv").setPredictionCol("sub").fit(members)
        val subCents = km.clusterCenters.map(_.toArray)
        val subCounts = km.transform(members).groupBy("sub").count()
          .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
        if (subCents.length < 2 ||
            subCounts.getOrElse(0, 0L) == 0L ||
            subCounts.getOrElse(1, 0L) == 0L) {
          kept += ((cellId, centroids.find(_._1 == cellId).get._2))
        } else {
          val subIds = Array(cellId, nextId)
          nextId += 1
          val assigned = km.transform(members)
            .withColumn("cell",
              when(col("sub") === 0, lit(subIds(0))).otherwise(lit(subIds(1))))
            .select(storedCols.map(col) :+ col("cell"): _*)
            .localCheckpoint()
          assigned.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell").parquet(s"$indexDir/codes")
          assigned.unpersist()
          kept += ((subIds(0), subCents(0)))
          kept += ((subIds(1), subCents(1)))
          splits += 1
        }
      } finally { members.unpersist(); () }
    }
    // no-progress pass writes nothing (IvfIndex.rebalance's rationale:
    // zero churn, no spurious probe retries)
    if (splits > 0 || adopted.nonEmpty) {
      val spark2 = spark
      import spark2.implicits._
      kept.sortBy(_._1)
        .map { case (c, arr) => (c, arr.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/centroids")
      IvfIndex.refreshStatsIfPresent(spark, indexDir, "codes")
    }
    // re-arm the traffic gate's touch map (IvfIndex.rebalance)
    ProbeLedger.markRebalanced(spark, indexDir)
    splits
  }

  /** [[rebalance]] to a fixpoint — the [[IvfIndex.rebalanceToConvergence]]
    * loop at PQ granularity. */
  def rebalanceToConvergence(spark: SparkSession, indexDir: String,
      factor: Double = 2.0, seed: Long = 1L, maxRounds: Int = 8): Int =
   MaintenanceLock.withLock(spark, indexDir) {
    var total = 0
    var rounds = 0
    var again = true
    while (again && rounds < maxRounds) {
      val n = rebalance(spark, indexDir, factor, seed)
      total += n
      again = n > 0
      rounds += 1
    }
    total
  }

  /** Filtered two-stage: the [[queryFiltered]] candidate machinery
    * feeds the exact-cosine rerank — filtered ADC top-`shortlist`
    * (K′-sized, escalating, maintenance-surviving), then stage 2
    * reranks ONLY those matching candidates against `vectors` (the
    * pruned point-lookup, q164's shape). Filtering BEFORE the rerank
    * is the whole point: the rerank budget is spent on rows that can
    * actually be served, instead of a mostly-non-matching unfiltered
    * shortlist whose survivors starve (q222's trap at stage two).
    * With nprobe = all cells and `shortlist` ≥ the label's matching
    * count this is exactly the brute-force filtered cosine top-k
    * (IvfPqSpec's cross-law). */
  def queryRerankFiltered(spark: SparkSession, indexDir: String,
      vectors: DataFrame, q: Array[Double], topK: Int,
      predicate: org.apache.spark.sql.Column, nprobe: Int = 4,
      shortlist: Int = 100): DataFrame = {
    val short = queryFilteredImpl(spark, indexDir, q,
      math.max(topK, shortlist), predicate, nprobe)
    val qn = math.sqrt(q.map(x => x * x).sum)
    val qe = array(q.toSeq.map(lit): _*)
    graft.functions.VectorFunctions.register(spark)
    short.select("vec_id", "label", "adc_dist")
      .join(vectors.select(col("vec_id"), col("e"), col("nrm")), "vec_id")
      .withColumn("qe", qe)
      .select(col("vec_id"), col("label"), col("adc_dist"),
        (expr("dot_product(e, qe)") / (col("nrm") * lit(qn))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(topK)
  }

  /** Two-stage: ADC shortlist over the probed cells, exact cosine
    * rerank of ONLY the shortlist against `vectors` (the original
    * embeddings frame — at scale a pruned point-lookup read by id,
    * q164's stage 2). */
  def queryRerank(spark: SparkSession, indexDir: String,
      vectors: DataFrame, q: Array[Double], topK: Int = 10,
      nprobe: Int = 4, shortlist: Int = 100): DataFrame =
    IvfIndex.eagerProbe(spark, indexDir, "codes", topK, _ => (),
        IvfIndex.ProbeRetryAttempts, Thread.sleep) { (cents, orphans,
        fetch) =>
      val (_, scored) = probePlanFrom(spark, indexDir, cents, q, nprobe,
        orphans)
      // the shortlist stays EXACTLY `shortlist` slots — it is the
      // spec'd candidate budget (IvfPqSpec's q164 cross-law pins the
      // 100-candidate semantics); a mid-commit double-listed code row
      // eating a slot is a transient recall artifact inside the
      // documented bound. The FINAL stage gets dedupe headroom so a
      // duplicate can never shrink the served top-k below topK.
      val short = scored.select("vec_id", "label", "adc_dist")
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(shortlist)
      val qn = math.sqrt(q.map(x => x * x).sum)
      val qe = array(q.toSeq.map(lit): _*)
      graft.functions.VectorFunctions.register(spark)
      short.join(vectors.select(col("vec_id"), col("e"), col("nrm")), "vec_id")
        .withColumn("qe", qe)
        .select(col("vec_id"), col("label"), col("adc_dist"),
          (expr("dot_product(e, qe)") / (col("nrm") * lit(qn))).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(fetch)
    }
}
