package graft

import org.scalatest.funsuite.AnyFunSuite

/** Model-based quality filtering semantics: the classifier must learn
  * its weak teacher, and compressibility must rank repetitive text below
  * diverse text. */
class QualityModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("quality classifier recovers the weak teacher labels on its own corpus") {
    val rows = SparkEntry.queries("q98_quality_classifier")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(rows.nonEmpty)
    val agree = rows.count(r => r._2 == r._3).toDouble / rows.length
    // linearly-separable-ish weak labels: LR must fit its own teacher well
    assert(agree > 0.9, s"teacher agreement only $agree")
    // and both classes must actually occur (no degenerate always-1 model)
    assert(rows.exists(_._3 == 0) && rows.exists(_._3 == 1))
  }

  test("fixed-weight scorer matches an independent plain-Scala sigmoid") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 2, "en", "s", 104L),
      (2L, "spam spam spam spam spam", "en", "s", 24L),
      (3L, "one two three four five six seven eight nine ten", "en", "s", 48L))
      .map { case (id, tx, l, so, n) => (id, tx.trim, l, so, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val got = SparkEntry.queries("q98b_fixed_weight_scorer")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val expected = docs.select("doc_id", "text").collect().map { r =>
      val t = r.getString(1).trim.split("\\s+").toSeq
      val nt = t.size.toDouble
      val ttr = t.distinct.size.toDouble / t.size
      val al = t.map(_.length).sum.toDouble / t.size
      val z = ((-6.0 + 0.12 * nt) + 2.0 * ttr) + 0.25 * al
      (r.getLong(0), math.floor(1.0 / (1.0 + math.exp(-z)) * 1e6).toLong,
        if (z >= 0.0) 1 else 0)
    }.sortBy(_._1).toSeq
    assert(got == expected, s"scorer diverges: $got vs $expected")
    // both classes occur in the toy frame (doc 2 short -> negative)
    assert(got.map(_._3).toSet == Set(0, 1))
  }

  test("bigram nll matches a hand-built add-one-smoothed LM") {
    import spark.implicits._
    // corpus: "a b a b" + "a b c". C(a,b)=3 C(b,a)=1 C(b,c)=1;
    // C(a)=3 C(b)=3 C(c)=1; V=3. p(a,b)=4/6, p(b,a)=p(b,c)=2/6.
    val docs = Seq(
      (1L, "a b a b", "en", "s", 7L),
      (2L, "a b c", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    def q9(p: Double) = math.floor(-math.log(p) * 1e9).toLong
    def q6(nlls: Seq[Long]) =
      math.floor(nlls.sum / (nlls.size * 1000.0)).toLong
    val expected = Seq(
      (1L, 3L, q6(Seq(q9(4.0 / 6), q9(2.0 / 6), q9(4.0 / 6)))),
      (2L, 2L, q6(Seq(q9(4.0 / 6), q9(2.0 / 6)))))
    val got = SparkEntry.queries("q150_bigram_nll")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"nll diverges: $got vs $expected")
  }

  test("compressibility ranks repetitive text as more compressible") {
    val out = SparkEntry.queries("q99_compressibility")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out.nonEmpty)
    assert(out.values.forall(r => r > 0.0 && r < 1.5))
    // deterministic across reruns (same JDK zlib, same input)
    val again = SparkEntry.queries("q99_compressibility")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out == again)
    // synthetic sanity: a highly repetitive doc must compress better
    // than a max-diversity doc of the same length
    val deflate = (s: String) => {
      val d = new java.util.zip.Deflater()
      val raw = s.getBytes("UTF-8"); d.setInput(raw); d.finish()
      val buf = new Array[Byte](1 << 20)
      var n = 0; while (!d.finished()) n += d.deflate(buf)
      n.toDouble / raw.length
    }
    assert(deflate(Seq.fill(200)("spam").mkString(" ")) <
      deflate((1 to 200).map(i => s"w$i").mkString(" ")))
  }

  test("q171 buckets: per-lang thirds by value cutoffs, consistent with q150 scores") {
    val rows = SparkEntry.queries("q171_perplexity_buckets")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    val nll = SparkEntry.queries("q150_bigram_nll")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows.length == nll.size, "same doc universe as q150")
    rows.foreach { case (id, _, v, b) =>
      assert(nll(id) == v, s"doc $id: bucket score != q150 score")
      assert(b >= 1 && b <= 3)
    }
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length
      val k1 = (n + 2) / 3; val k2 = (2 * n + 2) / 3
      val byB: Map[Int, Seq[Long]] =
        rs.groupBy(_._4).map { case (b, v) => b -> v.map(_._3).toSeq }
      // rank coverage: cumulative counts reach the tercile targets
      assert(byB.getOrElse(1, Seq.empty[Long]).size >= k1,
        s"$lang: head covers ${byB.getOrElse(1, Seq.empty[Long]).size} < k1=$k1")
      assert(byB.getOrElse(1, Seq.empty[Long]).size +
        byB.getOrElse(2, Seq.empty[Long]).size >= k2)
      // value monotonicity: head < middle < tail strictly across cuts
      for (b <- 1 to 2; if byB.contains(b) && byB.contains(b + 1))
        assert(byB(b).max < byB(b + 1).min,
          s"$lang: bucket $b max !< bucket ${b + 1} min")
    }
  }

  test("q179 stupid backoff resolves all three levels with hand-computed scores") {
    import spark.implicits._
    val dir = TestSpark.makeSfDir("documents" -> Seq(
      (0L, "x a b c"),   // train: trigrams (x,a,b),(a,b,c)
      (1L, "c d e"),     // train: trigram (c,d,e)
      (8L, "a b c d e zz") // eval: one hit per backoff level + one OOV
    ).toDF("doc_id", "text"))
    val rows = SparkEntry.queries("q179_stupid_backoff")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set(8L), "only held-out docs are scored")
    // (a,b,c): seen trigram -> 1/1 = 1.0          (level 3)
    // (b,c,d): unseen; bigram (c,d) seen -> 0.4 * 1/2 = 0.2   (level 2)
    // (c,d,e): seen trigram -> 1/1 = 1.0          (level 3)
    // (d,e,zz): unseen everywhere, zz OOV -> 0.16 * 0/T = 0   (level 1)
    // mean = floor((1e9 + floor(0.2*1e9) + 1e9 + 0) / (4 * 1000)) = 550000
    assert(rows(8L) == ((4L, 2L, 1L, 1L, 550000L)),
      s"got ${rows(8L)}")
  }

  test("q187 calibration buckets are well-formed and ECE-bounded on the teacher") {
    val sf = TestSpark.sf0001
    val rows = SparkEntry.queries("q187_scorer_calibration")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val nCorpus = Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == nCorpus, "buckets must tile the corpus")
    for ((b, _, meanPred, obs) <- rows) {
      assert(b >= 0 && b <= 9)
      // mean predicted prob lies in its decile (bucket 9 includes 1.0)
      assert(meanPred >= b / 10.0 && meanPred < (b + 1) / 10.0 + 1e-6,
        s"bucket $b mean_pred $meanPred outside its decile")
      assert(obs >= 0.0 && obs <= 1.0)
    }
    // the scorer's n_tokens weight dominates its logit and the label IS
    // an n_tokens threshold, so the reliability curve must be usable:
    // expected calibration error under 0.35 (an uncalibrated or
    // anti-calibrated scorer lands far above)
    val n = rows.map(_._2).sum.toDouble
    val ece = rows.map { case (_, nb, mp, obs) =>
      nb / n * math.abs(mp - obs)
    }.sum
    assert(ece < 0.35, s"ECE $ece — scorer not usably calibrated")
  }

  test("q231 JM interpolation: unseen-bigram-seen-words scores via the unigram term, OOV excluded, sweep exact") {
    import spark.implicits._
    // train "a b a b": c(a)=c(b)=2, T=4; c12(a,b)=2, c12(b,a)=1.
    // eval "b b a z": (b,b) unseen bigram but both words seen -> the
    // JM point: p = (1-l)*0.5; (b,a) p = l*0.5 + (1-l)*0.5 = 0.5;
    // (a,z) OOV (z unseen) -> excluded and counted.
    val docs = Seq(
      (0L, "a b a b", "en", "s", 7L),
      (8L, "b b a z", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q231_jm_interpolation")(spark, dir)
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def q9(x: Double) = math.floor(-math.log(x) * 1e9).toLong
    def want(l: Double) = {
      val s9 = q9((1 - l) * 0.5) + q9(0.5)
      (2L, 1L, math.floor(s9 / 2000.0).toLong)
    }
    assert(rows.keySet == Set(0.25, 0.5, 0.75), s"lams: ${rows.keySet}")
    Seq(0.25, 0.5, 0.75).foreach { l =>
      assert(rows(l) == want(l), s"lam $l wrong: ${rows(l)} vs ${want(l)}")
    }
    // the sweep is monotone here: more weight on the (weaker) bigram
    // term raises held-out NLL
    assert(rows(0.25)._3 <= rows(0.5)._3 && rows(0.5)._3 <= rows(0.75)._3)
  }
}
