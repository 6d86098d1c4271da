package graft.tools

import graft.{Floors, GraftSession, Tables}
import graft.operators.IvfIndex
import graft.streaming.AnnMaintenance
import org.apache.spark.sql.functions._

/** ANN-maintainer scale probe — the [[IngestScale]] discipline applied
  * to the third maintainer (embeddings → IVF). Not part of the driver
  * contract. Measures, against an index that GROWS across the run (a
  * one-batch demo hides the guard anti-join's real cost):
  *
  *  - per-batch append wall time and vecs/sec across a growth curve
  *    ([[AnnMaintenance.applyBatch]] — normalize, vec_id ∪ retired
  *    guard, argmin assignment, partitioned append), split into the
  *    JIT-COLD first batch and the warm curve so each floor flags at
  *    a meaningful threshold (cold and warm throughput differ ~2× by
  *    construction — one shared floor dulls the alarm);
  *  - the trigger batch's health-gated rebalance on a PLANTED hot cell
  *    (jittered clone burst → servingHealth trips → splits to
  *    convergence): the maintenance cost a deployment pays every
  *    `rebalanceEvery` batches when drift is real;
  *  - the replay skip (the whole last batch re-sent): the vec_id guard
  *    must admit nothing, priced so "exactly-once costs one anti-join"
  *    is measured rather than claimed;
  *  - FILTERED serving latency (quiesced): the queryFiltered path —
  *    label_stats forecast read, K′-sized candidate fetch,
  *    post-filter, any escalation — priced against the unfiltered
  *    baseline on the same index state; the gap is what a predicate
  *    costs;
  *  - serving latency UNDER maintenance: a prober thread races the
  *    rebalance and records p50/p99 probe wall time against the
  *    quiesced baseline — the availability claim ("no probe fails
  *    through a live rebalance") is spec'd in AnnMaintenanceSpec; this
  *    prices what the eager retry's re-planned attempts cost;
  *  - the [[IvfIndex.servingHealth]] audit row — the q267 readout this
  *    tool archives per run (population map, hot factor, backlog,
  *    probe-cost forecast).
  *
  * Usage: sbt "runMain graft.tools.AnnScale [sfDir] [nBatches]"
  *
  * Output JSON carries `floor_suspects` + `load_suspect` against the
  * committed idle-machine floors (ann_floor.json — the
  * bench_floor.json protocol), so an archived record flags its own
  * regressions: time metrics flag HIGH at 2×, throughput metrics flag
  * LOW under half floor.
  */
object AnnScale {

  private[graft] def floorSuspects(metrics: Map[String, Double],
      floors: Map[String, Double]): Seq[String] =
    Floors.suspects(metrics, floors,
      Seq("build_sec" -> 2.0, "rebalance_sec" -> 2.0,
        "replay_skip_sec" -> 2.0,
        "probe_p50_sec" -> 2.0, "probe_p99_sec" -> 2.0,
        "probe_p50_under_rebalance_sec" -> 2.0,
        "probe_p99_under_rebalance_sec" -> 2.0,
        "filtered_probe_p50_sec" -> 2.0,
        "filtered_probe_p99_sec" -> 2.0),
      Seq("cold_vecs_per_sec", "min_warm_vecs_per_sec"))

  /** Exact order-statistic percentile (nearest-rank): with the probe
    * sample sizes here (~40 quiesced, one per ~100 ms under a ~6 s
    * rebalance) an interpolated percentile would manufacture precision
    * the sample doesn't have. */
  private[graft] def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    require(nBatches >= 2, "need a cold batch AND a warm curve")
    val spark = GraftSession("graft-ann-scale")

    val base = java.nio.file.Files.createTempDirectory("graft-ann-scale")
    val idx = s"$base/ivf"
    // bootstrap contract: the coarse quantizer is fitted offline over
    // the base corpus; the stream then grows the index around it
    val (_, tBuild) = timed(IvfIndex.build(spark, sfDir, idx))
    val wire = Tables.embeddings(spark, sfDir).cache()
    val nBase = wire.count()
    // growth curve: one full shifted clone of the corpus per batch —
    // the index ends the curve at (nBatches + 1) × base size, so the
    // later batches pay the guard anti-join against a grown index
    val batches = (0 until nBatches).map { i =>
      val shift = 1000000L * (i + 1)
      val b = wire.select((col("vec_id") + shift).as("vec_id"),
          col("label"), col("embedding"))
        .localCheckpoint()
      val nb = b.count()
      val (_, sec) = timed(AnnMaintenance.applyBatch(spark, b, idx,
        batchId = i.toLong, rebalanceEvery = 0))
      val indexVecs = spark.read.parquet(s"$idx/vectors").count()
      (i, nb, sec, indexVecs)
    }
    // replay skip: the whole last batch re-sent (at-least-once
    // delivery) — the guard must admit nothing, and its price is one
    // anti-join against the stored+retired ids
    val lastShift = 1000000L * nBatches
    val replayBatch = wire.select((col("vec_id") + lastShift).as("vec_id"),
        col("label"), col("embedding"))
      .localCheckpoint()
    val nBefore = spark.read.parquet(s"$idx/vectors").count()
    val (_, tReplay) = timed(AnnMaintenance.applyBatch(spark, replayBatch,
      idx, batchId = (nBatches - 1).toLong, rebalanceEvery = 0))
    require(spark.read.parquet(s"$idx/vectors").count() == nBefore,
      "replay skip admitted vectors")
    // rebalance trigger: plant a jittered clone burst (3x the mean
    // cell) so the health gate trips and the split does real work
    val mean = nBefore.toDouble / spark.read.parquet(s"$idx/centroids").count()
    val burstN = (3 * mean).toInt
    val q0 = graft.operators.Similarity.normed(spark, sfDir)
      .filter(col("vec_id") === 0L).select("e")
      .collect()(0).getSeq[Double](0).toArray
    val spark2 = spark
    import spark2.implicits._
    val burst = (0 until burstN).map { i =>
      val e = q0.toSeq.updated(0, q0(0) + 1e-3 * i)
      (50000000L + i, 7, e.map(_.toFloat))
    }.toDF("vec_id", "label", "embedding").localCheckpoint()
    AnnMaintenance.applyBatch(spark, burst, idx, batchId = 0L,
      rebalanceEvery = 0)
    // serving latency, QUIESCED baseline: the default serving shape
    // (topK 10, nprobe 4) against the fully grown index, one JIT
    // warmup discarded, nearest-rank percentiles over 40 samples
    def probeLat(): Double =
      timed(IvfIndex.queryImpl(spark, idx, q0, topK = 10, nprobe = 4,
        maxAttempts = 32).collect())._2
    probeLat()
    val quiesced = (0 until 40).map(_ => probeLat())
    // FILTERED serving, quiesced, same index state: prices the
    // round-18 queryFiltered path (label_stats forecast read + the
    // K′-sized candidate fetch + post-filter; escalation priced in
    // whenever the forecast undershoots) against the unfiltered
    // baseline above — the cost of the predicate is the gap
    IvfIndex.writeLabelStats(spark, idx)
    val fLabel = spark.read.parquet(s"$idx/label_stats")
      .groupBy("label").agg(sum("n").as("n"))
      .orderBy(desc("n"), asc("label")).collect()(0).getInt(0)
    def probeLatFiltered(): Double =
      timed(IvfIndex.queryFiltered(spark, idx, q0, topK = 10,
        col("label") === fLabel, nprobe = 4).collect())._2
    probeLatFiltered()
    val filteredQ = (0 until 40).map(_ => probeLatFiltered())
    // serving latency UNDER the rebalance: the availability claim is
    // spec'd (no probe fails through a live rebalance — the eager
    // retry); this PRICES it — a prober thread races the trigger
    // batch's rebalanceToConvergence and every completed probe's wall
    // time lands in the sample, re-planned retries included
    val underQ = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var stopProbe = false
    // any unexpected probe throw is CAPTURED and fails the run after
    // join(): a prober dying silently mid-rebalance would truncate the
    // sample and publish misleadingly low under-rebalance floors
    @volatile var probeDeath: Option[Throwable] = None
    val prober = new Thread(() => {
      try { while (!stopProbe) underQ.add(probeLat()) }
      catch { case t: Throwable => probeDeath = Some(t) }
    }, "ann-scale-prober")
    prober.start()
    val (splits, tRebalance) = timed(AnnMaintenance.applyBatch(spark,
      spark.emptyDataFrame, idx, batchId = 0L, rebalanceEvery = 1))
    stopProbe = true
    prober.join()
    require(splits > 0, "the planted burst must trigger at least one split")
    require(probeDeath.isEmpty,
      s"the prober died mid-rebalance — percentiles would be truncated: " +
        probeDeath.map(_.toString).getOrElse(""))
    val under = underQ.toArray(Array.empty[java.lang.Double])
      .map(_.doubleValue).toSeq
    require(under.nonEmpty, "the prober completed no probe during the rebalance")
    wire.unpersist()

    val batchJson = batches.map { case (i, nb, sec, iv) =>
      s"""{"batch":$i,"vecs":$nb,"sec":${f"$sec%.3f"},""" +
        s""""vecs_per_sec":${f"${nb / sec}%.1f"},"index_vecs":$iv}"""
    }.mkString("[", ",", "]")
    val cold = batches.head match { case (_, nb, sec, _) => nb / sec }
    val warmMin = batches.tail.map { case (_, nb, sec, _) => nb / sec }.min
    val metrics = Map("build_sec" -> tBuild, "rebalance_sec" -> tRebalance,
      "replay_skip_sec" -> tReplay, "cold_vecs_per_sec" -> cold,
      "min_warm_vecs_per_sec" -> warmMin,
      "probe_p50_sec" -> pct(quiesced, 0.50),
      "probe_p99_sec" -> pct(quiesced, 0.99),
      "probe_p50_under_rebalance_sec" -> pct(under, 0.50),
      "probe_p99_under_rebalance_sec" -> pct(under, 0.99),
      "filtered_probe_p50_sec" -> pct(filteredQ, 0.50),
      "filtered_probe_p99_sec" -> pct(filteredQ, 0.99))
    val suspects = floorSuspects(metrics, Floors.load("ann_floor.json"))
    val suspectsJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the q267 serving-health audit row, archived with the run
    val h = IvfIndex.servingHealth(spark, idx).collect()(0)
    val healthJson =
      s"""{"n_cells":${h.getAs[Int]("n_cells")},""" +
        s""""n_vectors":${h.getAs[Long]("n_vectors")},""" +
        s""""max_cell":${h.getAs[Long]("max_cell")},""" +
        s""""mean_cell":${f"${h.getAs[Double]("mean_cell")}%.1f"},""" +
        s""""hot_factor":${f"${h.getAs[Double]("hot_factor")}%.3f"},""" +
        s""""n_hot_cells":${h.getAs[Long]("n_hot_cells")},""" +
        s""""orphan_cells":${h.getAs[Long]("orphan_cells")},""" +
        s""""tombstone_backlog":${h.getAs[Long]("tombstone_backlog")},""" +
        s""""retired_ids":${h.getAs[Long]("retired_ids")},""" +
        s""""probe_rows_mean":${f"${h.getAs[Double]("probe_rows_mean")}%.1f"},""" +
        s""""probe_rows_worst":${h.getAs[Long]("probe_rows_worst")}}"""
    println(s"""{"sf":"$sfDir","base_vecs":$nBase,""" +
      s""""build_sec":${f"$tBuild%.3f"},"batches":$batchJson,""" +
      s""""cold_vecs_per_sec":${f"$cold%.1f"},""" +
      s""""min_warm_vecs_per_sec":${f"$warmMin%.1f"},""" +
      s""""replay_skip_sec":${f"$tReplay%.3f"},""" +
      s""""rebalance_splits":$splits,"rebalance_sec":${f"$tRebalance%.3f"},""" +
      s""""probe_p50_sec":${f"${metrics("probe_p50_sec")}%.4f"},""" +
      s""""probe_p99_sec":${f"${metrics("probe_p99_sec")}%.4f"},""" +
      s""""probe_p50_under_rebalance_sec":${f"${metrics("probe_p50_under_rebalance_sec")}%.4f"},""" +
      s""""probe_p99_under_rebalance_sec":${f"${metrics("probe_p99_under_rebalance_sec")}%.4f"},""" +
      s""""filtered_probe_p50_sec":${f"${metrics("filtered_probe_p50_sec")}%.4f"},""" +
      s""""filtered_probe_p99_sec":${f"${metrics("filtered_probe_p99_sec")}%.4f"},""" +
      s""""probes_under_rebalance":${under.size},""" +
      s""""health":$healthJson,""" +
      s""""floor_suspects":$suspectsJson,"load_suspect":${suspects.nonEmpty}}""")
    spark.stop()
  }
}
