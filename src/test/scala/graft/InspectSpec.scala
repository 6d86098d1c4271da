package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inspect's job counters are read right after a marker-job drain, with
  * no sleep: every job the measured reps started must already be
  * counted, and the marker itself must not be. */
class InspectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the drain makes every finished job visible at once and does not count its own marker") {
    val sc = spark.sparkContext
    val counters = new tools.Inspect.JobCounters(sc)
    sc.addSparkListener(counters)
    try {
      counters.drain(); counters.reset()
      val n = 7
      // an RDD count is exactly one job with one stage of 2 tasks
      (1 to n).foreach(_ => sc.parallelize(1 to 10, 2).count())
      counters.drain()
      assert(counters.read == ((n.toLong, n.toLong, 2L * n)))
      counters.drain()
      assert(counters.read._1 == n, "a drain must not count its marker job")
    } finally sc.removeSparkListener(counters)
  }
}
