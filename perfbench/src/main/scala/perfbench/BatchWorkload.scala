package perfbench

import graft.{CacheScope, Q}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** The batch workload: one analyst client, closed loop, makes passes
  * over headline (`bench = true`) registry queries, each result
  * collected to the driver so every output column is computed, and
  * BM25, LSH and IVF probes, in an order shuffled by the seed. During
  * each pass a writer lands one seeded micro-batch in the same indexes
  * through the ingest and ANN maintenance pipelines. */
object BatchWorkload {

  /** Scan, exchange, join and code-generated aggregation, with no
    * tokenizer or higher-order function. */
  val ScanNames: Seq[String] = Seq("q01_pricing_summary", "q26_events_hourly",
    "q117_tpch_q18")

  /** Per-row compute: an interpreted higher-order-function tokenizer
    * (q186), a driver-side merge loop (q147) and the top-k-per-group
    * operator (q58). */
  val TextNames: Seq[String] = Seq("q186_wordpiece_encode", "q147_bpe_merges",
    "q58_ann_batch")

  def queries: Seq[Q] = (ScanNames ++ TextNames).map(n =>
    graft.Registry.benchSet.find(_.name == n).getOrElse(sys.error(s"$n is not a bench query")))

  /** Scale of the relational tables (about 120k lineitem rows) and rows
    * of the document and embedding tables. */
  val Sf = 0.02
  val Docs = 120L

  /** Measured cycles a run always makes, at least. With nine
    * operations a cycle, the tail is read at the percentile 27 samples
    * allow (p63.0), however many cycles a fast host fits in the window. */
  val MinCycles = 3
  def minSamples: Int = MinCycles * (queries.size + Indexes.Kinds.size)

  /** The tables do not depend on --seed: the checksums the program's
    * answers are checked against were captured for this data. */
  val DataSeed = 42L

  /** Registry module of each query, for the per-query metric names. */
  lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    Seq("Relational" -> Relational.all, "TpchMore" -> TpchMore.all,
      "TextAnalysis" -> TextAnalysis.all, "Dedup" -> Dedup.all,
      "LshBandIndex" -> LshBandIndex.all, "PrevalenceIndex" -> PrevalenceIndex.all,
      "Bm25Index" -> Bm25Index.all, "RollupStore" -> RollupStore.all,
      "Similarity" -> Similarity.all, "Pipelines" -> Pipelines.all,
      "Sampling" -> Sampling.all, "CorpusPipeline" -> CorpusPipeline.all,
      "Layout" -> Layout.all, "TrainingPrep" -> TrainingPrep.all,
      "QualityModel" -> QualityModel.all, "TitleMatch" -> graft.apps.TitleMatch.all)
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  def queryMetric(q: String): String = s"${moduleOf.getOrElse(q, "graft")}.${q}_s"

  /** Generate the tables once per scale; later runs in the same work
    * directory reuse them. */
  def tablesAt(spark: SparkSession, work: Path, sf: Double = Sf, docs: Long = Docs): String = {
    val dir = work.resolve(s"data/tables-sf$sf-docs$docs-seed$DataSeed")
    if (!Files.exists(dir.resolve("_COMPLETE"))) {
      DataGen.tables(spark, dir.toString, sf, docs, DataSeed)
      Files.write(dir.resolve("_COMPLETE"), Array.emptyByteArray)
    }
    dir.toString
  }

  /** Deliver one query: build it and collect every row. */
  def deliver(spark: SparkSession, q: Q, dir: String): (Array[Row], DataFrame) =
    CacheScope.withScope {
      val df = q.run(spark, dir)
      (df.collect(), df)
    }

  /** One analyst operation: a registry query delivered in full, or an
    * index probe of one kind. */
  sealed trait Op { def name: String }
  final case class QueryOp(q: Q) extends Op { def name: String = q.name }
  final case class ProbeOp(kind: Int) extends Op { def name: String = Indexes.Kinds(kind) }

  def run(spark: SparkSession, o: Opts, tracer: Tracer): Result = {
    val root = o.work.resolve(s"indexes-${ProcessHandle.current().pid()}")
    try runIn(spark, o, tracer, root) finally Main.removeTree(root)
  }

  private def runIn(spark: SparkSession, o: Opts, tracer: Tracer, root: Path): Result = {
    val dir = tablesAt(spark, o.work)
    val (dirs, corpus) = Indexes.prepare(spark, o.seed, root)
    Main.log(s"inputs ready: tables in $dir, seed corpus and vectors")
    val qs = queries
    val ops: Seq[Op] = qs.map(QueryOp) ++ Indexes.Kinds.indices.map(ProbeOp)
    val expected = Checksum.expected("batch")
    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    val probes = new Indexes.Probes(spark, o.seed, dirs)
    val probeCount = mutable.Map.empty[Int, Int].withDefaultValue(0)

    // what each query delivered in the cold pass, which the measured
    // cycles must deliver again
    val got = mutable.Map.empty[String, String]
    var counters: Option[SparkCounters] = None
    def tagOf(traced: Boolean): Tag = if (!traced) Tag.Off else new Tag {
      def apply[T](name: String, request: Long)(body: => T): T =
        counters.get.tagged(name)(tracer.span(name, request)(body))
    }
    /** Run `op` and check its answer; the query's frame, for plan counts. */
    def runOp(op: Op, cycle: Int, tag: Tag): Option[DataFrame] = {
      attempted += 1
      try op match {
        case QueryOp(q) =>
          val (rows, df) = tag(q.name, cycle)(deliver(spark, q, dir))
          val sum = Checksum.of(rows)
          if (!got.contains(q.name)) {
            got(q.name) = sum
            if (!expected.get(q.name).contains(sum)) {
              failed += 1
              notes += s"${q.name}: checksum $sum, expected ${expected.getOrElse(q.name, "none recorded")}"
            }
          } else if (got(q.name) != sum) {
            failed += 1; notes += s"${q.name}: checksum $sum in cycle $cycle, ${got(q.name)} before"
          }
          Some(df)
        case ProbeOp(k) =>
          val i = probeCount(k)
          probeCount(k) = i + 1
          if (!probes.run(k, i, tag)) { failed += 1; notes += s"${op.name} $i missed its seed item" }
          None
      } catch { case e: Exception =>
        failed += 1; notes += s"${op.name}: ${e.getMessage}"; None }
    }

    // set-up, cold: what a fresh batch job pays before its first answer,
    // building the three indexes and one pass over every operation
    // (planning, code generation and JIT compilation of each)
    val c0 = System.nanoTime()
    Indexes.build(spark, dirs, corpus)
    ops.foreach(runOp(_, -1, Tag.Off))
    val setupS = (System.nanoTime() - c0) / 1e9
    corpus.unpersist()
    Main.log(f"set-up $setupS%.2f s")

    val writer = new Indexes.Writer(spark, o.seed, dirs)
    if (o.trace) counters = Some(SparkCounters.install(spark.sparkContext))
    val cycleS = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val opMs = mutable.ArrayBuffer.empty[(String, Double)]
    val tracedOp = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var plans = PlanStats.Zero
    var exchanges = 0L
    val tracedBatches = mutable.ArrayBuffer.empty[Int]
    // a cycle: the writer lands micro-batch k while the analyst makes one
    // pass over every operation in a seeded order; it ends when both have
    def runCycle(k: Int, traced: Boolean): Unit = {
      val tag = tagOf(traced)
      val w = new Thread(() => writer.write(k, tag), s"perfbench-writer-$k")
      val order = new scala.util.Random(o.seed * 7919L + k).shuffle(ops)
      val p0 = System.nanoTime()
      w.start()
      try order.foreach { op =>
        val s0 = System.nanoTime()
        val df = runOp(op, k, tag)
        val ms = (System.nanoTime() - s0) / 1e6
        opMs += ((op.name, ms))
        if (traced) {
          tracedOp.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += ms
          df.foreach { d =>
            plans = plans + PlanStats.of(d)
            exchanges += PlanStats.nodes(d.queryExecution.executedPlan)
              .count(n => n.nodeName.endsWith("Exchange") && !n.nodeName.startsWith("Reused"))
          }
        }
      } finally w.join()
      cycleS += ((traced, (System.nanoTime() - p0) / 1e9))
      if (traced) tracedBatches += k
    }

    val t0 = System.nanoTime()
    val deadline = o.deadlineAfter(t0)
    var k = 0
    var lastNs = 0L
    // cycles run while another fits in the window, and at least
    // MinCycles; a traced run makes four cycles, untraced, traced,
    // traced, untraced, so it can report its own overhead without the
    // cycles' warm-up trend counting for or against tracing
    while (k < (if (o.trace) 4 else MinCycles) || System.nanoTime() + lastNs <= deadline) {
      val traced = o.trace && (k == 1 || k == 2)
      val c1 = System.nanoTime()
      counters match {
        case Some(c) if !traced =>
          // the last traced cycle's events reach the listener before it
          // is detached
          c.drain()
          SparkCounters.detached(spark.sparkContext, c)(runCycle(k, traced))
        case _ => runCycle(k, traced)
      }
      lastNs = System.nanoTime() - c1
      k += 1
    }
    attempted += writer.batches + writer.errors.size
    failed += writer.check(notes)
    val untraced = cycleS.filterNot(_._1).map(_._2).toSeq
    val cyc = Stats.median(untraced)
    notes += f"batch: ${ops.size} operations a cycle, cycles ${cycleS.map(c => f"${c._2}%.2f").mkString(" ")} s; " +
      f"writer ingest ${writer.ingestS.map(x => f"$x%.2f").mkString(" ")} s, ann ${writer.annS.map(x => f"$x%.2f").mkString(" ")} s"

    if (!o.trace) {
      val lat = opMs.map(_._2).toSeq
      // each operation's median over the cycles, averaged: the nine
      // operations differ up to fourfold, so a median over the pooled
      // deliveries would fall between neighbouring operations and move
      // with which of them the writer happened to slow
      val opP50 = opMs.groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2).toSeq))
      notes += f"op_tail_ms is p${Stats.tailPercentile(minSamples).get}%.1f of ${lat.size} operations"
      Result(attempted, failed, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("ops_per_s", ops.size / cyc, "1/s"),
        Metric("op_p50_ms", opP50.sum / opP50.size, "ms"),
        Metric("op_tail_ms", Stats.tail(lat, minSamples), "ms")), notes.toSeq)
    } else {
      val c = counters.get
      c.drain()
      val nT = tracedBatches.size.toDouble
      val a = c.of(qs.map(_.name))
      val w = c.of(Seq(Indexes.IngestTag, Indexes.AnnTag))
      val ingest = c.of(Seq(Indexes.IngestTag))
      val tracedCycle = Stats.median(cycleS.filter(_._1).map(_._2).toSeq)
      val querySpans = tracer.spans.filter(s => qs.exists(_.name == s.name))
      val jobWallS = qs.map(q => c.of(Seq(q.name)))
        .map(x => Stats.coveredNs(x.jobSpans.toSeq, Long.MinValue, Long.MaxValue) / 1e3).sum
      def med(name: String) = Stats.median(tracedOp.getOrElse(name, mutable.ArrayBuffer(0.0)).toSeq)
      def jobS(m: String) = w.msByModule(m) / 1e3 / nT
      val ingestS = tracedBatches.map(writer.ingestS(_))
      notes += "writer job seconds by call-site module: " +
        w.msByModule.toSeq.sortBy(-_._2).map { case (m, ms) => f"$m ${ms / 1e3 / nT}%.2f" }.mkString(", ")
      val perQuery = qs.map(q => Metric(queryMetric(q.name), med(q.name) / 1e3, "s"))
      val layer = SparkMetrics.of(a, nT) ++ Seq(
        Metric("spark.exchanges", exchanges / nT, "count"),
        Metric("spark.codegen_stages", plans.codegenStages / nT, "count"),
        Metric("spark.interpreted_hof_exprs", plans.hofExprs / nT, "count"),
        Metric("spark.driver_only_s",
          math.max(0.0, querySpans.map(_.durNs / 1e9).sum - jobWallS) / nT, "s"),
        Metric("plans.TopKPerGroup.rows_in", plans.topkRowsIn / nT, "count"),
        Metric("plans.TopKPerGroup.rows_out", plans.topkRowsOut / nT, "count"),
        Metric("streaming.IngestPipeline.batch_s", Stats.median(ingestS.toSeq), "s"),
        Metric("streaming.IngestPipeline.self_s", ingestS.sum / nT -
          Seq("operators.LshBandIndex", "operators.Bm25Index", "operators.IndexManifest")
            .map(m => ingest.msByModule(m) / 1e3).sum / nT, "s"),
        Metric("operators.LshBandIndex.job_s", jobS("operators.LshBandIndex"), "s"),
        Metric("operators.Bm25Index.job_s", jobS("operators.Bm25Index"), "s"),
        Metric("operators.IndexManifest.job_s", jobS("operators.IndexManifest"), "s"),
        Metric("operators.IvfIndex.job_s", jobS("operators.IvfIndex"), "s"),
        Metric("streaming.AnnMaintenance.batch_s",
          Stats.median(tracedBatches.map(writer.annS(_)).toSeq), "s"),
        Metric("streaming.AnnMaintenance.vecs_per_s",
          Indexes.BatchVecs * nT / tracedBatches.map(writer.annS(_)).sum, "1/s"),
        Metric("operators.Bm25Index.probe_p50_ms", med(Indexes.Kinds(0)), "ms"),
        Metric("operators.LshBandIndex.probe_p50_ms", med(Indexes.Kinds(1)), "ms"),
        Metric("operators.IvfIndex.query_p50_ms", med(Indexes.Kinds(2)), "ms"),
        Metric("jvm.heap_mb", Main.heapMb(), "MB"),
        Metric("trace.overhead_pct", (tracedCycle - cyc) / cyc * 100.0, "%")) ++
        writer.layerMetrics(ingest, tracedBatches.toSeq)
      Result(attempted, failed, perQuery ++ layer, notes.toSeq)
    }
  }
}

/** Order-independent checksum of delivered rows, and the recorded
  * expectations. Doubles are compared to six significant digits, so an
  * answer that differs only in the last bits of a float still matches. */
object Checksum {
  private def norm(v: Any): String = v match {
    case null => "~"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else f"$d%.6g"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) | (stringHash(s, 0xbeef) & 0xffffffffL)
  }

  /** "rows:hash", the hash a wrapping sum of per-row hashes. */
  def of(rows: Array[Row]): String =
    s"${rows.length}:${java.lang.Long.toHexString(rows.map(r => hash64(norm(r))).sum)}"

  private val Resource = "/perfbench/expected-checksums.tsv"

  /** query → checksum recorded for `workload`. */
  def expected(workload: String): Map[String, String] =
    Option(getClass.getResourceAsStream(Resource)).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.split('\t')).collect { case Array(w, q, s) if w == workload => q -> s }.toMap
      finally in.close()
    }.getOrElse(Map.empty)
}
