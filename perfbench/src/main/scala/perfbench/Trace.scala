package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans recorded in memory around the benchmark's calls into the
  * program's layers; `request` ties the spans of one request, pass or
  * batch together. With tracing off, [[span]] only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Stats.Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, request: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        done.add(Stats.Span(id, parent, name, t0, t1, request))
      }
    }

  def spans: Seq[Stats.Span] = done.asScala.toSeq

  /** Self time per span name, in seconds. */
  def selfSeconds: Map[String, Double] =
    Stats.selfTimeByName(spans).map { case (k, v) => k -> v / 1e9 }

  /** Write every span as one JSON line. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"request":${s.request}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Counters from Spark's public listener events, grouped by the tag the
  * benchmark puts in the [[SparkCounters.TagKey]] local property before
  * it calls into the program. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  import SparkCounters._

  final class Agg {
    var jobs, stages, tasks, jobsEnded = 0L
    var cpuNs, runMs, gcMs, spillBytes, scanBytes, scanRows = 0L
    var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, outputBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val msByModule = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }

  private val aggs = mutable.Map.empty[String, Agg]
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (String, Long, String)]
  private val execModule = mutable.Map.empty[Long, String]

  private def agg(tag: String): Agg = aggs.getOrElseUpdate(tag, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      .getOrElse(Untagged)
    val a = agg(tag)
    a.jobs += 1
    a.stages += e.stageInfos.size
    a.tasks += e.stageInfos.map(_.numTasks.toLong).sum
    e.stageIds.foreach(stageTag(_) = tag)
    // jobs that adaptive execution or a broadcast starts on its own
    // threads carry no program frame; they belong to the module whose
    // action started their SQL execution
    val module = e.stageInfos.sortBy(_.stageId).lastOption.map(s => moduleOf(s.details))
      .filter(_ != Other).orElse(Option(e.properties).flatMap(p =>
        Seq("spark.sql.execution.id", "spark.sql.execution.root.id").view
          .flatMap(k => Option(p.getProperty(k))).flatMap(id => execModule.get(id.toLong)).headOption))
      .getOrElse(Other)
    jobInfo(e.jobId) = (tag, e.time, module)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execModule(x.executionId) = moduleOf(x.details)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (tag, t0, module) =>
      val a = agg(tag)
      a.jobsEnded += 1
      a.jobSpans += ((t0, e.time))
      a.msByModule(module) += e.time - t0
    }
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageTag.getOrElse(e.stageId, Untagged))
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.scanBytes += m.inputMetrics.bytesRead
      a.scanRows += m.inputMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Run `body` with its jobs tagged `tag` (restoring the thread's tag). */
  def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Block until every event posted before this call has reached this
    * listener, and every job started under any tag has ended. A marker
    * job goes through the listener bus after all earlier events; once
    * its end is seen, nothing posted earlier is still in flight. No
    * fixed sleep. */
  def drain(): Unit = {
    val before = synchronized(agg(Barrier).jobsEnded)
    tagged(Barrier)(sc.parallelize(Seq(1), 1).count())
    synchronized {
      while (agg(Barrier).jobsEnded <= before || aggs.values.exists(a => a.jobsEnded < a.jobs))
        wait(1000)
    }
  }

  /** Counters of the given tags, merged. Call [[drain]] first. */
  def of(tags: Iterable[String]): Agg = synchronized {
    val out = new Agg
    for (t <- tags; a <- aggs.get(t)) {
      out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
      out.jobsEnded += a.jobsEnded
      out.cpuNs += a.cpuNs; out.runMs += a.runMs; out.gcMs += a.gcMs
      out.spillBytes += a.spillBytes; out.scanBytes += a.scanBytes
      out.scanRows += a.scanRows; out.shuffleWriteBytes += a.shuffleWriteBytes
      out.shuffleReadBytes += a.shuffleReadBytes; out.fetchWaitMs += a.fetchWaitMs
      out.outputBytes += a.outputBytes
      out.jobSpans ++= a.jobSpans
      a.msByModule.foreach { case (k, v) => out.msByModule(k) += v }
    }
    out
  }
}

object SparkMetrics {
  /** The listener counters every workload reports, divided by `per`
    * units of work (a pass, a request, a batch). */
  def of(a: SparkCounters#Agg, per: Double): Seq[Metric] = Seq(
    Metric("spark.scan_bytes", a.scanBytes / per, "bytes"),
    Metric("spark.scan_rows", a.scanRows / per, "count"),
    Metric("spark.shuffle_write_bytes", a.shuffleWriteBytes / per, "bytes"),
    Metric("spark.shuffle_read_bytes", a.shuffleReadBytes / per, "bytes"),
    Metric("spark.shuffle_fetch_wait_s", a.fetchWaitMs / 1e3 / per, "s"),
    Metric("spark.executor_cpu_s", a.cpuNs / 1e9 / per, "s"),
    Metric("spark.executor_run_s", a.runMs / 1e3 / per, "s"),
    Metric("spark.gc_s", a.gcMs / 1e3 / per, "s"),
    Metric("spark.spill_bytes", a.spillBytes / per, "bytes"),
    Metric("spark.jobs", a.jobs / per, "count"),
    Metric("spark.stages", a.stages / per, "count"),
    Metric("spark.tasks", a.tasks / per, "count"))
}

object SparkCounters {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"
  val Barrier = "perfbench.barrier"
  val Other = "other"

  private val graftFrame = """graft\.(operators|streaming|apps|pipeline|plans)\.([A-Za-z0-9]+)""".r

  /** The innermost program module on a job's call site, e.g.
    * `operators.LshBandIndex`: Spark's call site lists the user frames
    * that started the job, innermost first. */
  def moduleOf(callSite: String): String =
    graftFrame.findFirstMatchIn(callSite)
      .map(m => s"${m.group(1)}.${m.group(2).stripSuffix("$")}").getOrElse(Other)

  /** Register a fresh listener on `sc`. */
  def install(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters(sc)
    sc.addSparkListener(c)
    c
  }

  /** Run `body` with `c` detached from `sc`, so an untraced stretch of a
    * traced run pays no listener cost. */
  def detached[T](sc: SparkContext, c: SparkCounters)(body: => T): T = {
    sc.removeSparkListener(c)
    try body finally sc.addSparkListener(c)
  }
}

/** Counts read from an executed physical plan. */
final case class PlanStats(codegenStages: Long, hofExprs: Long,
    topkRowsIn: Long, topkRowsOut: Long) {
  def +(o: PlanStats): PlanStats = PlanStats(codegenStages + o.codegenStages,
    hofExprs + o.hofExprs, topkRowsIn + o.topkRowsIn, topkRowsOut + o.topkRowsOut)
}

object PlanStats {
  val Zero: PlanStats = PlanStats(0, 0, 0, 0)

  /** Every node of the final plan, through adaptive wrappers, query
    * stages, reused exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, names: String*): Option[Long] =
    names.view.flatMap(p.metrics.get).headOption.map(_.value)

  /** Rows a node emits: its own row metric, or that of the row-preserving
    * node below it. */
  private def rowsOut(p: SparkPlan): Long =
    metric(p, "numOutputRows", "shuffleRecordsWritten").getOrElse {
      p match {
        case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
        case q: QueryStageExec => rowsOut(q.plan)
        case _ if p.children.size == 1 && preservesRows(p) => rowsOut(p.children.head)
        case _ => 0L
      }
    }

  private def preservesRows(p: SparkPlan): Boolean =
    Set("WholeStageCodegen", "InputAdapter", "Project", "Sort", "ColumnarToRow",
      "AQEShuffleRead", "Exchange", "ShuffleQueryStage", "ReusedExchange")
      .exists(p.nodeName.startsWith)

  /** Whole-stage codegen stages, higher-order-function expressions (which
    * Spark always interprets) and the rows entering and leaving the
    * partial top-k-per-group pass, in the executed plan of `df`. */
  def of(df: DataFrame): PlanStats = {
    val all = nodes(df.queryExecution.executedPlan)
    val partial = all.filter(_.nodeName.startsWith("TopKPerGroupPartial"))
    PlanStats(
      all.count(_.isInstanceOf[WholeStageCodegenExec]).toLong,
      all.map(_.expressions.map(_.collect { case h: HigherOrderFunction => h }.size).sum.toLong).sum,
      partial.map(p => p.children.map(rowsOut).sum).sum,
      all.filter(n => n.children.exists(_.nodeName.startsWith("TopKPerGroupPartial")))
        .map(rowsOut).sum)
  }
}
