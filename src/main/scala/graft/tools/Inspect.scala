package graft.tools

import graft.{Bench, GraftSession, Registry, Tables}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** One-shot inspection of registry queries, in one session. For each
  * named query it:
  *
  *  - collects the result once (exchange reuse only materializes under
  *    AQE at runtime) and writes the whole adaptive plan, final and
  *    initial, to target/inspect/<q>.plan.txt;
  *  - reports, from the FINAL plan, how many ReusedExchange nodes fired
  *    and how many times each base table is scanned — the signal that
  *    caught q133/q134 silently reading the fact table twice when
  *    branch-local pruning or pushdown de-canonicalized a shared subtree;
  *  - times 3 reps through Bench's own measured action (min reported)
  *    and the jobs/stages/tasks each rep ran, from a listener drained by
  *    a marker job.
  *
  * Dev-only; not part of the driver contract.
  *
  * Usage: sbt "runMain graft.tools.Inspect q134_tpch_q17 [more]"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object Inspect {

  private val Reps = 3

  /** The plan AQE actually ran: an executed adaptive plan prints it above
    * its `== Initial Plan ==` section. */
  def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  /** How many times each base table's parquet appears in `plan`. */
  def scanCounts(plan: String): Map[String, Int] =
    Tables.names.map(t => t -> s"$t\\.parquet".r.findAllIn(plan).size).toMap

  /** Jobs, stages and tasks started since the last [[reset]]. */
  final class JobCounters(sc: SparkContext) extends SparkListener {
    private val MarkerKey = "graft.inspect.marker"
    private var jobs, stages, tasks, markersEnded = 0L
    private var markerJobs = Set.empty[Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(MarkerKey) != null))
        markerJobs += e.jobId
      else {
        jobs += 1
        stages += e.stageInfos.size
        tasks += e.stageInfos.map(_.numTasks.toLong).sum
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs(e.jobId)) { markerJobs -= e.jobId; markersEnded += 1 }
      notifyAll()
    }

    /** Block until every event posted before this call has reached this
      * listener: a marker job's events queue behind all earlier ones, so
      * once its end is seen nothing earlier is still in flight. */
    def drain(): Unit = {
      val before = synchronized(markersEnded)
      val prev = sc.getLocalProperty(MarkerKey)
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, prev)
      synchronized { while (markersEnded <= before) wait() }
    }

    def reset(): Unit = synchronized { jobs = 0; stages = 0; tasks = 0 }

    /** (jobs, stages, tasks); call [[drain]] first. */
    def read: (Long, Long, Long) = synchronized((jobs, stages, tasks))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-inspect")
    val counters = new JobCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    val out = Files.createDirectories(Paths.get("target", "inspect"))
    for (name <- args) {
      val q = Registry.all.find(_.name == name)
        .getOrElse(sys.error(s"$name is not a registry query"))
      // the collect also warms JIT, codegen and the page cache
      val df = q.run(spark, sfDir)
      df.collect()
      Files.writeString(out.resolve(s"$name.plan.txt"),
        df.queryExecution.executedPlan.toString)
      val plan = finalPlan(df)
      val counts = scanCounts(plan)
      val scans = Tables.names.filter(counts(_) > 0)
        .map(t => s"$t=${counts(t)}").mkString(" ")
      counters.drain(); counters.reset()
      val ts = Seq.fill(Reps)(Bench.measureOnce(q, spark, sfDir))
      counters.drain()
      val (jobs, stages, tasks) = counters.read
      println(f"[inspect] $name%-34s reused=${"ReusedExchange".r.findAllIn(plan).size} $scans " +
        f"min=${ts.min}%.3f all=${ts.map(t => f"$t%.3f").mkString(",")} " +
        f"jobs=${jobs.toDouble / Reps}%.1f stages=${stages.toDouble / Reps}%.1f " +
        f"tasks=${tasks.toDouble / Reps}%.1f")
    }
    spark.stop()
  }
}
