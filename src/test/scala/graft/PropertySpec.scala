package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Property-based invariants (SURVEY §5.4): differential tests of the
  * custom Catalyst expressions against their declarative twins, cast
  * round-trips, and filter/limit laws. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Minimal forAll over scalacheck Gen (no scalatestplus bridge in the
    * offline dependency set). */
  private def forSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach(body)
    }
  }

  test("DistinctShingles == array_distinct(declarative shingles) on random token arrays") {
    import spark.implicits._
    graft.functions.TextFunctions.register(spark)
    val tokGen = Gen.listOfN(40,
      Gen.oneOf("a", "b", "cc", "dd", "e f".trim, "gg", "h", "i", "jj", "kk"))
    val samples = Gen.listOfN(60, tokGen).sample.get :+
      List("x") :+ List("x", "y") :+ List("x", "y", "z") :+ List.empty[String]
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t").cache()
    val native = df.select($"id", expr("distinct_shingles(t, 3)").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val declarative = df.select($"id",
      array_distinct(Dsl.shingles3($"t")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(native == declarative)
  }

  test("DotProduct == interpreted zip_with/aggregate bit-exactly on random vectors") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val rng = new scala.util.Random(3)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rng.nextDouble() * 2 - 1),
        Array.fill(64)(rng.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val native = df.select($"id", expr("dot_product(a, b)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val interpreted = df.select($"id",
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0),
        (acc, v) => acc + v).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (i, a, b) =>
      assert(native(i) == interpreted(i), s"row $i differs")
      val local = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      assert(native(i) == local, s"row $i differs from local fold")
    }
  }

  test("md5h61 stays in [0, 2^61) and is stable") {
    import spark.implicits._
    val df = (0 until 500).map(i => s"value-$i").toDF("s")
    val hs = df.select(Dsl.md5h61($"s").as("h")).collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0 && h < Dsl.H61Mod))
    val again = df.select(Dsl.md5h61($"s").as("h")).collect().map(_.getLong(0))
    assert(hs.sameElements(again))
  }

  test("native Md5Hash61 == declarative hex formulation bit-exactly") {
    import spark.implicits._
    // adversarial inputs: empty, unicode, long, digest-like, binary-ish
    val strs = (0 until 2000).map(i => s"doc $i body ${"x" * (i % 97)}") ++
      Seq("", " ", "é🙂 unicode", "a\tb\nc", "0123456789abcdef" * 8)
    val df = strs.toDF("s").repartition(7).cache()
    val pairs = df.select(
      Dsl.md5h61($"s").as("fast"),
      Dsl.md5h61Decl($"s").as("decl")).collect()
    assert(pairs.forall(r => r.getLong(0) == r.getLong(1)),
      pairs.find(r => r.getLong(0) != r.getLong(1)).toString)
  }

  test("top-k law: size <= k, prefix-closed, sorted") {
    val o = Tables.orders(spark, TestSpark.sf0001)
    forSamples(Gen.choose(1, 50), 10) { k =>
      val rows = o.select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(k).collect()
      assert(rows.length == math.min(k, 1500))
      val prices = rows.map(_.getDouble(1))
      assert(prices.sameElements(prices.sortBy(-(_: Double))))
    }
  }

  test("cast round-trip: string -> typed -> string is identity for clean values") {
    import spark.implicits._
    forSamples(Gen.listOfN(30, Gen.choose(Long.MinValue / 2, Long.MaxValue / 2)), 5) { xs =>
      val df = xs.map(_.toString).toDF("s")
      val back = df.select(col("s").cast("long").cast("string").as("s"))
        .collect().map(_.getString(0))
      assert(back.toSeq == xs.map(_.toString))
    }
  }

  // Queries exempt from the partitioning-invariance law, each for a
  // documented physical reason — NOT because they are flaky:
  //   q50/q51/q55 — seeded MLlib fits (KMeans k-means||, RF): the seed
  //     fixes per-partition sampling, so results are deterministic for a
  //     FIXED partitioning but legitimately change when the input is
  //     repartitioned;
  //   q54/q95 — sketches (HLL, t-digest) whose merge is
  //     order/partition-sensitive by design;
  //   q98/q99 — LBFGS logistic fit / zlib byte-stream, both dependent on
  //     row order within partitions.
  // Everything else in the registry must hold. A new query is covered
  // automatically the moment it is registered — opting OUT requires
  // adding it here with a reason.
  private val partitioningExempt = Set(
    "q50_kmeans_embeddings", "q51_rf_regression", "q55_ann_ivf",
    "q144_ivf_incremental", // seeded KMeans fit on the base corpus
    "q54_approx_distinct", "q95_approx_percentiles",
    "q98_quality_classifier", "q99_compressibility")

  test("results are invariant to input partitioning (registry-wide law)") {
    // same query over adversarially repartitioned input must produce
    // identical ordered output — the property the oracle gate relies on
    val names = Registry.all.map(_.name).filterNot(partitioningExempt)
    assert(names.size >= 130, "registry shrank — law coverage suspect")
    // both sides run cold inside a CacheScope; the 4-partition side is
    // the shared registry run, compared by an ordered digest of its rows
    for (name <- names) {
      val a = RegistryRuns(name)
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = try RegistryRuns.scopedDigest(name)
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      assert(b == (a.digest -> a.rows), s"$name differs under repartitioning")
    }
  }

  test("drift union law: columns = union of inputs, rows = sum of inputs") {
    import spark.implicits._
    val all = Seq("c1", "c2", "c3", "c4")
    val pairGen = for {
      ca <- Gen.someOf(all) if ca.nonEmpty
      cb <- Gen.someOf(all) if cb.nonEmpty
    } yield (ca, cb)
    forSamples(pairGen, 10) { case (ca, cb) =>
      val a = Seq(Tuple1("r")).toDF("dummy")
      val dfa = ca.zipWithIndex.foldLeft(a) { case (d, (c, i)) =>
        d.withColumn(c, lit(s"a$i")) }.drop("dummy")
      val dfb = cb.zipWithIndex.foldLeft(a) { case (d, (c, i)) =>
        d.withColumn(c, lit(s"b$i")) }.drop("dummy")
      val u = graft.sources.CsvIngest.driftUnion(Seq(dfa, dfb))
      assert(u.columns.toSet == ca.toSet ++ cb.toSet)
      assert(u.count() == 2)
    }
  }
}
