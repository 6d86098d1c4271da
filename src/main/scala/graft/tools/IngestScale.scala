package graft.tools

import graft.{Floors, GraftSession, Tables}
import graft.operators.{Bm25Index, LshBandIndex}
import graft.streaming.IngestPipeline
import org.apache.spark.sql.functions._

/** Ingest-pipeline scale probe. Not part of the driver contract — the
  * measured number behind the round-13 exactly-once composed pipeline
  * (quality gate → LSH admit → BM25 append): per-batch wall time and
  * docs/sec as the persisted indexes GROW (the probe joins an
  * ever-larger bands table — this curve is the honest cost, a one-batch
  * demo is not), plus the two replay paths' costs measured rather than
  * claimed:
  *
  *  - marker skip (crash after the batch completed): should be
  *    milliseconds — one marker file read, no index I/O;
  *  - membership repair (crash between the LSH and BM25 appends): the
  *    sets semi-join + postings anti-join + refreshStats — the rare
  *    path, priced so the hot path provably pays none of it.
  *
  * Usage: sbt "runMain graft.tools.IngestScale [sfDir] [nBatches]"
  *
  * Like the query bench, the measured numbers are checked against a
  * COMMITTED idle-machine floor file (ingest_floor.json — the
  * bench_floor.json discipline applied to the pipeline): the output
  * JSON carries `floor_suspects` + `load_suspect`, so an archived
  * record flags its own regressions instead of relying on prose.
  */
object IngestScale {

  /** This tool's key set and factors: time metrics flag at 2× (the
    * Bench SuspectFactor), except the marker skip, whose floor is
    * millisecond-scale and GC-jittery (5×); cold and warm throughput
    * each flag against their OWN floor — the first batch is JIT-cold
    * by construction and runs ~30% under the warm curve, so a single
    * shared floor either dulls the warm alarm or cries wolf on every
    * cold start (the round-15 verdict's dulled-alarm finding). */
  private[graft] def floorSuspects(metrics: Map[String, Double],
      floors: Map[String, Double]): Seq[String] =
    Floors.suspects(metrics, floors,
      Seq("build_sec" -> 2.0, "repair_replay_sec" -> 2.0,
        "marker_skip_sec" -> 5.0),
      Seq("cold_docs_per_sec", "min_warm_docs_per_sec"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    require(nBatches >= 2, "need a cold batch AND a warm curve")
    val spark = GraftSession("graft-ingest-scale")

    val base = java.nio.file.Files.createTempDirectory("graft-ingest-scale")
    val lsh = s"$base/lsh"; val bm = s"$base/bm25"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .cache()
    val n = docs.count()
    // seed the indexes with the first half; ingest the rest in batches
    val half = n / 2
    val seed = docs.filter(col("doc_id") < half)
    val (_, tBuild) = timed {
      LshBandIndex.build(spark, seed, lsh)
      Bm25Index.build(spark, seed, bm)
    }
    val perBatch = (n - half) / nBatches
    val batches = (0 until nBatches).map { i =>
      val lo = half + i * perBatch
      val hi = if (i == nBatches - 1) n else half + (i + 1) * perBatch
      val b = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .localCheckpoint()
      val nb = b.count()
      val (admitted, sec) = timed(
        IngestPipeline.ingestBatch(spark, b, lsh, bm, Some(i.toLong)))
      val indexDocs = graft.operators.IndexManifest.read(spark, lsh, "sets").count()
      (i, nb, admitted, sec, indexDocs)
    }
    // replay path 1: marker skip (the whole batch already landed) —
    // min-of-3: the floor is millisecond-scale, one GC pause would
    // dominate a single sample
    val lastBatch = docs.filter(
      col("doc_id") >= half + (nBatches - 1) * perBatch && col("doc_id") < n)
      .localCheckpoint()
    val skipRuns = (0 until 3).map { _ =>
      timed(IngestPipeline.ingestBatch(
        spark, lastBatch, lsh, bm, Some((nBatches - 1).toLong)))
    }
    require(skipRuns.forall(_._1 == 0L), "marker skip must admit nothing")
    val tSkip = skipRuns.map(_._2).min
    // replay path 2: membership repair — crash a FRESH batch between the
    // LSH and BM25 appends, then replay it (the round-13 repair seam).
    // Texts are synthesized per id (40 unique tokens each) so every doc
    // is genuinely novel — a prefix-edited corpus doc would be rejected
    // as a near-dup and the repair path would never fire.
    val fresh = spark.range(perBatch)
      .select((col("id") + lit(10000000L)).as("doc_id"),
        concat_ws(" ",
          (0 until 40).map(i => concat(lit(s"f${i}u"), col("id"))): _*)
          .as("text"))
      .localCheckpoint()
    val crashed = try {
      IngestPipeline.ingestBatchImpl(spark, fresh, lsh, bm,
        p => if (p == "lsh:appended") throw new RuntimeException("boom"),
        Some(nBatches.toLong))
      false
    } catch { case _: RuntimeException => true }
    require(crashed, "crash injection did not fire")
    val (repairN, tRepair) = timed(IngestPipeline.ingestBatch(
      spark, fresh, lsh, bm, Some(nBatches.toLong)))
    require(repairN == perBatch,
      s"repair replay recovered $repairN of $perBatch docs")
    docs.unpersist()

    val batchJson = batches.map { case (i, nb, adm, sec, idx) =>
      s"""{"batch":$i,"docs":$nb,"admitted":$adm,"sec":${f"$sec%.3f"},""" +
        s""""docs_per_sec":${f"${nb / sec}%.1f"},"index_docs":$idx}"""
    }.mkString("[", ",", "]")
    // cold/warm split: batch 0 is JIT-cold by construction; the warm
    // curve is the number that actually measures the growing-index cost
    val coldDps = batches.head match { case (_, nb, _, sec, _) => nb / sec }
    val warmDps = batches.tail.map { case (_, nb, _, sec, _) => nb / sec }.min
    val metrics = Map("build_sec" -> tBuild, "marker_skip_sec" -> tSkip,
      "repair_replay_sec" -> tRepair, "cold_docs_per_sec" -> coldDps,
      "min_warm_docs_per_sec" -> warmDps)
    val suspects = floorSuspects(metrics, Floors.load("ingest_floor.json"))
    val suspectsJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the freshness/lag audit over both indexes' manifest logs — the
    // per-index observability row a fleet dashboard scrapes (version
    // head, op high-water mark, live segments, retained depth)
    val freshJson = graft.operators.IndexManifest.freshness(spark,
        Seq("lsh" -> lsh, "bm25" -> bm)).collect().map { r =>
      def nl(i: Int) = if (r.isNullAt(i)) "null" else r.getLong(i).toString
      s"""{"index":"${r.getString(0)}","version":${nl(1)},""" +
        s""""op_id":${nl(2)},"n_tables":${nl(3)},"n_segments":${nl(4)},""" +
        s""""retained_versions":${nl(5)},"oldest_retained":${nl(6)}}"""
    }.mkString("[", ",", "]")
    println(s"""{"sf":"$sfDir","total_docs":$n,"seed_docs":$half,""" +
      s""""build_sec":${f"$tBuild%.3f"},"batches":$batchJson,""" +
      s""""cold_docs_per_sec":${f"$coldDps%.1f"},""" +
      s""""min_warm_docs_per_sec":${f"$warmDps%.1f"},""" +
      s""""marker_skip_sec":${f"$tSkip%.4f"},""" +
      s""""repair_replay_docs":$repairN,"repair_replay_sec":${f"$tRepair%.3f"},""" +
      s""""freshness":$freshJson,""" +
      s""""floor_suspects":$suspectsJson,"load_suspect":${suspects.nonEmpty}}""")
    spark.stop()
  }
}
