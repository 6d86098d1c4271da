package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What one run of the benchmark was asked to do. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, cores: Int) {
  def deadlineAfter(startNs: Long): Long = startNs + (seconds * 1e9).toLong
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** The result line of one run. `failed` counts operations that failed
  * or returned a wrong answer, out of `attempted`. */
final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
    notes: Seq[String] = Nil) {
  def correct: Boolean = failed == 0 && attempted > 0

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --cores C`. Prints progress lines, then the result as the
  * last line of standard output. */
object Main {

  val Workloads: Map[String, (SparkSession, Opts, Tracer) => Result] = Map(
    "batch" -> BatchWorkload.run,
    "serving" -> ServingWorkload.run)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.keys.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath,
      need("cores").toInt)
  }

  def session(o: Opts): SparkSession = {
    val local = o.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Delete `p` and everything under it, if it exists. */
  def removeTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { st =>
      st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }

  /** JVM heap in use after a full collection, in MB. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Progress line, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    println(f"[perfbench] $up%7.2f s  $msg")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    log("session ready")
    val tracer = new Tracer(o.trace)
    val result = try Workloads(o.workload)(spark, o, tracer)
      finally spark.stop()
    if (o.trace) {
      tracer.writeJsonl(o.work.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))
      log("self time by span: " + tracer.selfSeconds.toSeq.sortBy(-_._2)
        .map { case (n, t) => f"$n $t%.2f s" }.mkString(", "))
    }
    result.notes.foreach(log)
    println(result.json)
  }
}
