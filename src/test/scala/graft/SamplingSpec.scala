package graft

import org.scalatest.funsuite.AnyFunSuite

/** Deterministic-sampling semantics: content-hash samples must be pure
  * functions of row content — stable across reruns and partitionings —
  * and split assignment must partition every row exactly once. */
class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("hash sample is deterministic and partitioning-independent") {
    val q = SparkEntry.queries("q77_hash_sample")
    val first = q(spark, sf).collect().map(_.getLong(0)).toSeq
    val second = q(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(first == second, "same input must yield the identical sample")
    assert(first.nonEmpty, "5% of orders must be non-empty at sf0.001")
    // ~5% of 1500 orders; hash buckets are uniform so allow wide slack
    assert(first.size > 20 && first.size < 200, s"got ${first.size} rows")
    // partitioning independence: recompute the bucket after an explicit
    // repartition — membership must not change (unlike df.sample)
    import org.apache.spark.sql.functions._
    val repart = Tables.orders(spark, sf).repartition(13)
      .filter(Dsl.md5h61(concat(lit("sample:"), col("o_orderkey").cast("string"))) % 100 < 5)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(repart == first.toSet)
  }

  test("stratified split covers every doc exactly once with ~80/10/10 mass") {
    val rows = SparkEntry.queries("q78_stratified_split")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val total = rows.values.sum
    val nDocs = Tables.documents(spark, sf).count()
    assert(total == nDocs, "split must partition the table exactly")
    val bySplit = rows.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    assert(bySplit("train").toDouble / total > 0.7, s"train share: $bySplit")
    assert(bySplit.keySet == Set("train", "valid", "test"))
  }

  test("group quota sample takes exactly k=3 per language, deterministically") {
    val df = SparkEntry.queries("q79_group_quota_sample")(spark, sf)
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val perLang = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perLang.values.forall(_ == 3), s"per-lang counts: $perLang")
    val again = SparkEntry.queries("q79_group_quota_sample")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("temperature sampling flattens the language mix toward sqrt(n)") {
    import spark.implicits._
    // 400/100/25 docs: keep probabilities sqrt(25/n) = 0.25 / 0.5 / 1.0
    val docs = (
      (0 until 400).map(i => (i.toLong, s"a $i", "aa", "s", 10L)) ++
      (0 until 100).map(i => (1000L + i, s"b $i", "bb", "s", 10L)) ++
      (0 until 25).map(i => (2000L + i, s"c $i", "cc", "s", 10L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q126_temperature_sample")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows("cc") == (25L, 25L), "smallest language keeps 100%")
    val (n400, k400) = rows("aa"); val (n100, k100) = rows("bb")
    assert(n400 == 400 && k400 > 60 && k400 < 140, s"aa kept $k400 of 400 (expect ~100)")
    assert(n100 == 100 && k100 > 30 && k100 < 70, s"bb kept $k100 of 100 (expect ~50)")
    // keep FRACTION strictly decreases with language size
    assert(k400.toDouble / n400 < k100.toDouble / n100 && k100 < n100)
    // determinism: rerun yields identical audit
    val again = SparkEntry.queries("q126_temperature_sample")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == rows)
  }

  /** Independent md5h61 twin (digest bytes 8..15 little-endian, mod
    * 2^61) — recomputes engine hashes with no Spark code. */
  private def h61(s: String): Long = {
    val dg = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val be = Array.tabulate(8)(i => dg(15 - i))
    new java.math.BigInteger(1, be)
      .mod(java.math.BigInteger.valueOf(2305843009213693952L)).longValue()
  }

  test("DSIR importance score matches an independent plain-Scala recomputation; acceptance is band-consistent") {
    import spark.implicits._
    def score(text: String): Double = {
      val t = text.trim.toLowerCase.split("\\s+").toSeq
      val grams = t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      grams.map(g => graft.operators.Sampling.dsirW(
        (h61(s"dsirg:$g") % 64).toInt)).sum / grams.size
    }
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "s", 16L),
      (1L, "delta epsilon", "en", "s", 13L),
      (2L, "zeta", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    // run UNfiltered internals via the registry query on a fixture
    // where we recompute everything: for each output row, iscore must
    // equal the plain-Scala score bit-for-bit and coin < rate
    val out = SparkEntry.queries("q153_dsir_resample")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getInt(3), r.getLong(4))).toMap
    val texts = Map(0L -> "alpha beta gamma", 1L -> "delta epsilon", 2L -> "zeta")
    out.foreach { case (id, (nGrams, iscore, rate, coin)) =>
      assert(nGrams == (if (id == 2L) 1 else if (id == 1L) 3 else 5))
      assert(iscore == score(texts(id)),
        s"doc $id engine score $iscore != recomputed ${score(texts(id))}")
      val expRate = if (iscore >= 0.25) 16 else if (iscore >= 0.0) 8
        else if (iscore >= -0.25) 4 else 1
      assert(rate == expRate && coin < rate,
        s"doc $id band/coin inconsistent: $iscore $rate $coin")
      assert(coin == java.lang.Math.floorMod(h61(s"dsirs:$id"), 16L))
    }
    // rejected docs are exactly those whose coin fails their band
    texts.keys.filterNot(out.contains).foreach { id =>
      val s0 = score(texts(id))
      val expRate = if (s0 >= 0.25) 16 else if (s0 >= 0.0) 8
        else if (s0 >= -0.25) 4 else 1
      assert(java.lang.Math.floorMod(h61(s"dsirs:$id"), 16L) >= expRate,
        s"doc $id was rejected but its coin clears the band")
    }
    // determinism on the real corpus: two runs, identical rows
    val a = SparkEntry.queries("q153_dsir_resample")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q153_dsir_resample")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("budget mix solves integer keep rates; audit matches exact brute-force recomputation") {
    import spark.implicits._
    // three sources: "big" oversupplied (rate < 1e6), "tiny"
    // undersupplied (rate saturates at 1e6 — the shortfall shape),
    // "mid" in between; every number in the operator is integer
    // arithmetic, so the whole audit is recomputable bit-for-bit
    val docs = (
      (0 until 200).map(i => (i.toLong, (1 to 20).map(t => s"b$t").mkString(" "), "en", "big", 10L)) ++
      (0 until 5).map(i => (500L + i, (1 to 8).map(t => s"t$t").mkString(" "), "en", "tiny", 10L)) ++
      (0 until 40).map(i => (700L + i, (1 to 15).map(t => s"m$t").mkString(" "), "en", "mid", 10L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q154_budget_mix")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // exact recomputation with the independent h61 twin
    val toks = Map("big" -> 20L, "tiny" -> 8L, "mid" -> 15L)
    val nDocs = Map("big" -> 200L, "tiny" -> 5L, "mid" -> 40L)
    val ids = Map(
      "big" -> (0L until 200L), "tiny" -> (500L until 505L),
      "mid" -> (700L until 740L))
    val w = Seq("big", "tiny", "mid")
      .map(src => src -> (h61(s"mixw:$src") % 5 + 1)).toMap
    val totalTokens = toks.map { case (s0, t) => t * nDocs(s0) }.sum
    val budget = totalTokens / 2
    val wTotal = w.values.sum
    for (src <- Seq("big", "tiny", "mid")) {
      val avail = toks(src) * nDocs(src)
      val want = budget * w(src) / wTotal
      val rate = math.min(1000000L, want * 1000000L / avail)
      val keptIds = ids(src).filter(i => h61(s"mixkeep:$i") % 1000000L < rate)
      val expected = (w(src), nDocs(src), avail, want, rate,
        keptIds.size.toLong, keptIds.size.toLong * toks(src))
      assert(rows(src) == expected,
        s"$src audit diverges: got ${rows(src)}, expected $expected")
    }
    // the undersupplied source must saturate; the oversupplied must not
    assert(rows("tiny")._5 == 1000000L, s"tiny must saturate: ${rows("tiny")}")
    assert(rows("big")._5 < 1000000L, s"big must be rate-limited: ${rows("big")}")
  }

  test("epoch shuffle: each epoch is a full permutation with contiguous per-shard sequences; epochs reshuffle") {
    val rows = SparkEntry.queries("q166_epoch_shuffle")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val nDocs = Tables.documents(spark, sf).count()
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(0, 1, 2), "three epochs expected")
    for ((e, rs) <- byEpoch) {
      assert(rs.map(_._4).distinct.length.toLong == nDocs &&
        rs.length.toLong == nDocs,
        s"epoch $e must be a permutation of the corpus")
      for ((sh, srs) <- rs.groupBy(_._2))
        assert(srs.map(_._3).sorted.toSeq == (1 to srs.length),
          s"epoch $e shard $sh: seq must be contiguous from 1 " +
            "(resume-from-step-N is a range predicate)")
    }
    // a fresh permutation per epoch: some doc must land on a different
    // shard (the epoch salt actually reshuffles)
    val sh0 = byEpoch(0).map(r => r._4 -> r._2).toMap
    val sh1 = byEpoch(1).map(r => r._4 -> r._2).toMap
    assert(sh0.exists { case (doc, sh) => sh1(doc) != sh },
      "epoch 1 must not replay epoch 0's shard assignment")
  }

  test("q177 interleave: prefix composition is near-uniform across sources despite corpus skew") {
    val rows = SparkEntry.queries("q177_source_interleave")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 200)
    assert(rows.map(_._1).toSeq == (1 to 200), "rank must be 1..200 dense")
    // deterministic: a second run is identical
    val again = SparkEntry.queries("q177_source_interleave")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq == again.toSeq)
    // corpus source counts vs prefix counts: the corpus is skewed, the
    // prefix must be (roughly) flat — each source's share within a
    // ±2.5x band of uniform, and the max/min prefix ratio far below
    // the corpus max/min ratio
    val corpus = graft.Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prefix = rows.groupBy(_._3).map { case (s, rs) => s -> rs.length }
    assert(prefix.keySet == corpus.keySet, "every source must surface in 200")
    val uniform = 200.0 / corpus.size
    prefix.foreach { case (s, c) =>
      assert(c > uniform / 2.5 && c < uniform * 2.5,
        s"source $s got $c of 200 (uniform would be $uniform)") }
    // the flatten law needs actual skew (the driver corpus is
    // source-uniform): plant a 6:2:2 corpus and check the 200-prefix
    // lands far closer to uniform than the corpus mix
    import spark.implicits._
    val skewDir = TestSpark.makeSfDir("documents" ->
      (0 until 1000).map { i =>
        val src = if (i < 600) "big" else if (i < 800) "mid" else "small"
        (i.toLong, s"text $i", "en", src, 10L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val skPrefix = SparkEntry.queries("q177_source_interleave")(spark, skewDir)
      .collect().map(_.getString(2)).groupBy(identity)
      .map { case (s, xs) => s -> xs.length }
    val skRatio = skPrefix.values.max.toDouble / skPrefix.values.min
    assert(skRatio < 2.0,
      s"skewed-corpus prefix ratio $skRatio (corpus ratio 3.0) — not flattened")
    assert(skPrefix("big") < 600.0 / 1000 * 200,
      "dominant source not downweighted in the prefix")
  }

  test("q176 datasheet matches an independent recomputation") {
    val m = SparkEntry.queries("q176_corpus_datasheet")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val docs = graft.Tables.documents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val n = docs.length
    assert(m("n_docs") == n.toDouble)
    assert(m("distinct_langs") == docs.map(_._3).distinct.length.toDouble)
    assert(m("distinct_sources") == docs.map(_._4).distinct.length.toDouble)
    assert(m("sum_chars") == docs.map(_._5).sum.toDouble)
    val toks = docs.map(d => d._2.trim.split("[ \t\n\f\r]+").length)
    assert(m("sum_tokens") == toks.map(_.toLong).sum.toDouble)
    assert(m("mean_tokens") == toks.map(_.toLong).sum.toDouble / n)
    val fps = docs.map(_._2.trim.replaceAll("[ \t\n\f\r]+", " ")
      .toLowerCase).distinct.length
    assert(m("exact_dup_rate") == (n - fps).toDouble / n)
    assert(m("short_doc_rate") == toks.count(_ < 20).toDouble / n)
    // entropy: positive, bounded by ln(|langs|), quantized at 1e-9
    val maxEnt = math.log(m("distinct_langs")) * 1e9
    assert(m("lang_entropy_q9") > 0 && m("lang_entropy_q9") <= maxEnt)
  }

  test("q204 data-constrained accounting: hand-computed dyadic sums + repetition penalty") {
    import spark.implicits._
    // source "big": 10 unique 10-token docs (U=100); source "small":
    // ONE 10-token doc duplicated 5x (U=10). u_total=110, uniform
    // alloc = 2*110/2 = 110 per source.
    val smallText = "s x1 x2 x3 x4 x5 x6 x7 x8 x9"
    val docs = ((1 to 10).map(i =>
      (100L + i, s"t$i a b c d e f g h i", "en", "big", 20L)) ++
      (1 to 5).map(i => (200L + i, smallText, "en", "small", 30L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q204_data_constrained")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)), r.getDouble(7))).toMap
    // big: e_full = 110 div 100 = 1, rem = 10 -> epochs 2,
    // effective = (100>>0) + (10>>1) = 105
    assert(rows("big")._1 == ((10L, 10L, 100L, 110L, 2L, 105L)),
      s"big: ${rows("big")}")
    assert(rows("big")._2 == 105.0 / 110.0)
    // small: e_full = 11, rem = 0 -> epochs 11,
    // effective = sum_{k=0..10} (10>>k) = 10+5+2+1 = 18
    assert(rows("small")._1 == ((5L, 1L, 10L, 110L, 11L, 18L)),
      s"small: ${rows("small")}")
    assert(rows("small")._2 == 18.0 / 110.0)
    // the law the audit exists for: repeating a small source buys far
    // less effective mass per allocated token than fresh data
    assert(rows("small")._2 < rows("big")._2)
  }

  test("q214 water-filling: caps saturate, budget lands exactly, remainder deterministic") {
    import spark.implicits._
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    def run(avails: Seq[(String, Int)]) = {
      val docs = avails.zipWithIndex.map { case ((src, n), i) =>
        (i.toLong, doc(n), "en", src, 10L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = TestSpark.makeSfDir("documents" -> docs)
      SparkEntry.queries("q214_waterfill_mix")(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getBoolean(2), r.getLong(3), r.getLong(4))))
        .toMap
    }
    // tiny and mid saturate; big absorbs the rest of B = 1110/2 = 555
    val a = run(Seq("tiny" -> 10, "mid" -> 100, "big" -> 1000))
    assert(a("tiny") == ((10L, true, 10L, 445L)))
    assert(a("mid") == ((100L, true, 100L, 445L)))
    assert(a("big") == ((1000L, false, 445L, 445L)))
    assert(a.values.map(_._3).sum == 555L, "budget must land exactly")
    // remainder case: B = 307/2 = 153; 7 saturates, 146 div 3 = 48 rem 2
    // -> the first two unsaturated sources in (avail, source) order +1
    val b = run(Seq("s0" -> 7, "s1" -> 100, "s2" -> 100, "s3" -> 100))
    assert(b("s0") == ((7L, true, 7L, 48L)))
    assert(b("s1") == ((100L, false, 49L, 48L)))
    assert(b("s2") == ((100L, false, 49L, 48L)))
    assert(b("s3") == ((100L, false, 48L, 48L)))
    assert(b.values.map(_._3).sum == 153L)
    assert(b.values.forall { case (av, _, al, _) => al <= av })
  }
}
