package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom top-k-per-group operator: rewrite fires on the declarative
  * pattern, the heap exec's results equal the window form exactly
  * (including ranks), and non-matching shapes are left alone. */
class TopKPerGroupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def topkQuery(k: Int) = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
  }

  test("the rewrite replaces WindowExec with TopKPerGroupExec") {
    val plan = topkQuery(3).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup "), s"rule did not fire:\n$plan")
    assert(!plan.contains("Window ["), "window exec should be gone")
  }

  test("heap exec equals the window form rows AND ranks") {
    // expected: compute ranks via the window WITHOUT the filter (the
    // rewrite only matches Filter-over-Window, so this stays on WindowExec)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val expected = Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(w))
      .collect()
      .filter(_.getAs[Int]("rn") <= 3)
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Int]("rn"),
        r.getAs[Long]("o_orderkey"), r.getAs[Double]("o_totalprice")))
      .toSet
    val got = topkQuery(3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected)
  }

  test("q23 (driver-verified query) runs on the custom exec in this session") {
    val q23 = SparkEntry.queries("q23_window_rank")(spark, sf)
    assert(q23.queryExecution.executedPlan.toString.contains("TopKPerGroup "))
    assert(q23.count() > 0)
  }

  test("rank-only comparisons that do not match are left on WindowExec") {
    val w = Window.partitionBy(col("o_custkey")).orderBy(desc("o_totalprice"))
    val unmatched = Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") >= 2) // bottom-filter: not a top-k shape
    val plan = unmatched.queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerGroup "))
    assert(unmatched.count() > 0)
  }

  test("range join plans as an equi-join on the bucket key, not a cross join") {
    val plan = SparkEntry.queries("q57_range_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range join must stay an equi-join:\n$plan")
  }

  test("batch ANN broadcasts queries and ranks on the heap exec") {
    val plan = SparkEntry.queries("q58_ann_batch")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup "))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("partial pre-prune runs below the group exchange (map-side top-k)") {
    val plan = topkQuery(3).queryExecution.executedPlan.toString
    val fin = plan.indexOf("TopKPerGroup ")
    val ex = plan.indexOf("Exchange hashpartitioning", fin)
    val part = plan.indexOf("TopKPerGroupPartial ", fin)
    assert(fin >= 0 && ex >= 0 && part >= 0 && fin < ex && ex < part,
      s"expected TopKPerGroup above Exchange above TopKPerGroupPartial:\n$plan")
  }

  test("a child already clustered by the group key keeps its one exchange") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val df = Tables.orders(spark, sf).repartition(col("o_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    df.collect()
    val plan = tools.Inspect.finalPlan(df)
    assert(plan.contains("TopKPerGroupPartial "), s"partial missing:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected only the repartition's exchange:\n$plan")
  }

  test("partial passthrough past the group cap still yields exact top-k") {
    // one input partition holding MORE distinct groups than the
    // row-budget cap (MaxPartialRows / k): the partial pass must stream
    // the overflow groups' rows through un-pruned and the final pass
    // re-prunes — rows AND ranks equal the window form exactly.
    val n = graft.plans.TopKPerGroupPartialExec.MaxPartialRows / 2 + 1000
    val df = spark.range(n.toLong * 3)
      .select((col("id") % n).as("g"), (col("id") * 7 % 1000).as("v"),
        col("id"))
      .coalesce(1)
    val w = Window.partitionBy(col("g")).orderBy(desc("v"), asc("id"))
    val pruned = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupPartial "), s"partial missing:\n$plan")
    val got = pruned.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val expected = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).iterator.flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._2, t._3)).take(2).zipWithIndex
          .map { case ((g, v, id), i) => (g, v, id, i + 1) }
      }.toSet
    assert(got == expected)
  }

  test("global (unpartitioned) row_number is left on WindowExec") {
    val w = Window.orderBy(desc("o_totalprice"))
    val global = Tables.orders(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    assert(!global.queryExecution.executedPlan.toString.contains("TopKPerGroup "))
    assert(global.count() == 5)
  }
}
