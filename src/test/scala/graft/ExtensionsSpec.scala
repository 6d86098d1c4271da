package graft

import graft.operators.Skew
import org.scalatest.funsuite.AnyFunSuite

/** SparkSessionExtensions registration, IVF ANN recall, and salted-join
  * equivalence. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("GraftExtensions injects functions usable from plain SQL") {
    // TestSpark sets spark.sql.extensions=graft.functions.GraftExtensions;
    // no manual register() call here
    val d = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(d == 11.0)
    val sh = spark.sql(
      "SELECT distinct_shingles(array('a','b','c','a','b','c','a'), 3) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh.toSet == Set("a b c", "b c a", "c a b"))
  }

  test("IVF ANN finds high-cosine neighbors (recall vs brute force)") {
    val bf = SparkEntry.queries("q42_ann_bruteforce")(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("q55_ann_ivf")(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    val recall = bf.intersect(ivf).size / 10.0
    assert(recall >= 0.5, s"IVF recall@10 was $recall (bf=$bf ivf=$ivf)")
  }

  test("salted join returns exactly the plain join's rows on skewed data") {
    import spark.implicits._
    // 90% of the big side shares one key
    val big = (0 until 2000).map(i =>
      (if (i % 10 == 0) s"key$i" else "hot", s"payload$i"))
      .toDF("k", "payload")
    val small = Seq(("hot", 1), ("key0", 2), ("key10", 3), ("cold", 4))
      .toDF("k", "v")
    val plain = big.join(small, "k")
      .select("k", "payload", "v")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val salted = Skew.saltedJoin(big, small, "k", 8)
      .select("k", "payload", "v")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(salted == plain)
    assert(plain.nonEmpty)
  }
}
