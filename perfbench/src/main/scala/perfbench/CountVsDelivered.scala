package perfbench

import graft.CacheScope
import java.nio.file.Paths

/** One-off comparison behind README.md's table: for every headline
  * query, the median of three `count()` runs against the median of three
  * runs that collect every row, on tables generated like the batch
  * workload's, and the layer that dominates the delivered run.
  *
  *   java ... perfbench.CountVsDelivered WORK_DIR SF DOCS CORES
  *
  * Prints one tab-separated line per query. */
object CountVsDelivered {

  private def secs[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val o = Opts("batch", 0L, 0.0, trace = true, work, args(3).toInt)
    val spark = Main.session(o)
    try {
      val dir = BatchWorkload.tablesAt(spark, work, args(1).toDouble, args(2).toLong)
      val counters = SparkCounters.install(spark.sparkContext)
      println("query\tcount_s\tdelivered_s\tratio\tdominant_layer\tdriver_only_share\thof_exprs\tshuffle_mb")
      for (q <- graft.Registry.benchSet) {
        CacheScope.withScope(q.run(spark, dir).collect())
        val count = Stats.median((1 to 3).map(_ => secs(CacheScope.withScope(q.run(spark, dir).count()))))
        var plans = PlanStats.Zero
        val delivered = Stats.median((1 to 3).map(i => secs(counters.tagged(s"${q.name}#$i") {
          val (_, df) = BatchWorkload.deliver(spark, q, dir)
          plans = PlanStats.of(df)
        })))
        counters.drain()
        val a = counters.of((1 to 3).map(i => s"${q.name}#$i"))
        val jobWall = (1 to 3).map(i => Stats.coveredNs(counters.of(Seq(s"${q.name}#$i")).jobSpans.toSeq,
          Long.MinValue, Long.MaxValue) / 1e3).sum / 3
        val driverShare = math.max(0.0, 1.0 - jobWall / delivered)
        val shuffleMb = (a.shuffleWriteBytes + a.shuffleReadBytes) / 3 / 1048576.0
        val layer =
          if (driverShare > 0.5) "driver (planning, driver-side loops)"
          else if (plans.hofExprs > 0) "per-row compute (interpreted higher-order functions)"
          else if (plans.topkRowsIn > 0) "custom exec (TopKPerGroup)"
          else if (shuffleMb > 1.0) "exchange"
          else "scan and code-generated stages"
        println(f"${q.name}\t$count%.3f\t$delivered%.3f\t${delivered / count}%.2f\t$layer\t$driverShare%.2f\t${plans.hofExprs}\t$shuffleMb%.2f")
      }
    } finally spark.stop()
  }
}
