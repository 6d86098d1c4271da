package graft

import org.scalatest.funsuite.AnyFunSuite

/** Similarity-search semantics on crafted embeddings (planted duplicate
  * and near-duplicate vectors). */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def embDf = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def randVec() = Array.fill(64)(rng.nextFloat() * 2f - 1f)
    val v0 = randVec()
    val v0dup = v0.clone()
    val v0near = v0.clone(); v0near(0) = v0near(0) + 0.01f
    val rows = Seq(
      (0L, v0, 1), (1L, v0dup, 1), (2L, v0near, 1)) ++
      (3L to 40L).map(i => (i, randVec(), (i % 3).toInt))
    rows.toDF("vec_id", "embedding", "label")
  }

  lazy val sfDir: String = TestSpark.makeSfDir("embeddings" -> embDf)

  test("norms are positive and dimension is 64") {
    val rows = SparkEntry.queries("q40_embedding_norms")(spark, sfDir).collect()
    assert(rows.length == 41)
    assert(rows.forall(_.getInt(2) == 64))
    assert(rows.forall(_.getDouble(3) > 0))
  }

  test("near-dup pairs finds the planted duplicate with cosine 1.0") {
    // identical/near-identical vectors share every band's sign bucket,
    // so banded-LSH blocking never drops the planted pairs
    val rows = SparkEntry.queries("q41_embed_neardup_pairs")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows.contains((0L, 1L)))
    assert(math.abs(rows((0L, 1L)) - 1.0) < 1e-12)
    assert(rows.contains((0L, 2L)) && rows((0L, 2L)) > 0.999)
  }

  test("brute-force ANN ranks the duplicate first") {
    val rows = SparkEntry.queries("q42_ann_bruteforce")(spark, sfDir).collect()
    assert(rows.length == 10)
    assert(rows.head.getLong(0) == 1L, "exact duplicate must rank first")
    assert(rows(1).getLong(0) == 2L, "near duplicate must rank second")
    val cosines = rows.map(_.getDouble(2))
    assert(cosines.sameElements(cosines.sortBy(-_)))
  }

  test("LSH ANN finds the duplicate in the query's bucket") {
    val rows = SparkEntry.queries("q43_ann_lsh")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.head.getLong(0) == 1L,
      "identical vector must share the bucket and rank first")
    val buckets = rows.map(_.getInt(2)).distinct
    assert(buckets.length == 1, "all candidates come from one bucket")
  }

  test("adaptive LSH fanout keeps bucket population bounded as the corpus grows") {
    import spark.implicits._
    import graft.operators.Similarity
    // plane count tracks corpus size with exact integer thresholds
    assert(Similarity.adaptivePlanes(500) == 4)
    assert(Similarity.adaptivePlanes(2048) == 4)
    assert(Similarity.adaptivePlanes(2049) == 5)
    assert(Similarity.adaptivePlanes(1L << 40) == 16) // plane-pool ceiling
    // skewed corpus: strong directional bias (NOT duplicates — genuine
    // near-dups must share buckets; the fanout only has to split the
    // merely-correlated mass)
    val rng = new scala.util.Random(11)
    val u = Array.fill(64)(rng.nextFloat() * 2f - 1f)
    def biased() = u.map(x => 0.6f * x + (rng.nextFloat() * 2f - 1f))
    val n = 4096
    val df = (0 until n).map(i => (i.toLong, biased(), 0))
      .toDF("vec_id", "embedding", "label")
    val dir = TestSpark.makeSfDir("embeddings" -> df)
    def maxBucket(planes: Option[Int]): Long =
      Similarity.bandedBuckets(spark, dir, planes)
        .groupBy("band", "bucket").count()
        .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    val adaptive = maxBucket(None)   // adaptivePlanes(4096) = 5 → 32 buckets/band
    val fixedOld = maxBucket(Some(4)) // the pre-adaptive fixed fanout
    assert(adaptive < fixedOld,
      s"adaptive fanout must split harder than fixed: $adaptive vs $fixedOld")
    assert(adaptive <= 8 * Similarity.NdTargetBucket,
      s"max bucket population $adaptive exceeds 8x target")
  }

  test("semantic dedup prunes the in-cell near-dup and misses the cross-cell pair (recall boundary)") {
    import spark.implicits._
    import graft.operators.{IvfIndex, Similarity}
    // v0 = pinned centroid 2 itself, v1 = v0 with one component nudged:
    // both land in cell 2 with cosine ~1 -> v1 must be pruned, keeper 0.
    // v2/v3 straddle the boundary between centroids 0 and 1
    // (v2 = 1.2*c0 + c1, v3 = c0 + 1.2*c1): cosine ~0.98 but DIFFERENT
    // cells — SemDeDup's documented recall boundary: a near-pair split
    // across cells is never compared, so it must NOT appear.
    val cents = Similarity.semCentroids.toMap
    val c0 = cents(0); val c1 = cents(1); val c2v = cents(2)
    val v0 = c2v.map(_.toFloat)
    val v1 = v0.clone(); v1(0) = v1(0) * 0.99f
    val v2 = c0.zip(c1).map { case (a, b) => (1.2 * a + b).toFloat }
    val v3 = c0.zip(c1).map { case (a, b) => (a + 1.2 * b).toFloat }
    val df = Seq((0L, v0, 0), (1L, v1, 0), (2L, v2, 1), (3L, v3, 1))
      .toDF("vec_id", "embedding", "label")
    val dir = TestSpark.makeSfDir("embeddings" -> df)
    // preconditions, computed through the real assignment path: the
    // planted near-pair really is near AND really is split across cells
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    assert(cos(v2, v3) >= Similarity.SemTau, "planted cross-cell pair must be near")
    // 4 vectors -> the query's active cell count is the 16-centroid
    // prefix of the pinned pool; the precondition check must assign
    // against the same prefix the query masks to
    val cells = IvfIndex.assignToCentroids(
      Similarity.normed(spark, dir),
      Similarity.semCentroids.take(Similarity.adaptiveSemCells(4)))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(0L) == 2 && cells(1L) == 2, s"v0/v1 must share cell 2: $cells")
    assert(cells(2L) != cells(3L), s"v2/v3 must split across cells: $cells")
    val rows = SparkEntry.queries("q151_semantic_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set(1L),
      s"only v1 has an in-cell lower-id near neighbor: $rows")
    assert(rows(1L) == ((2, 0L, 1L)), s"v1 pruned by keeper v0 in cell 2: $rows")
  }

  test("semantic dedup cell count is corpus-adaptive: a larger corpus activates more of the pinned pool") {
    import spark.implicits._
    import graft.operators.Similarity
    // exact integer thresholds (target cell population 128)
    assert(Similarity.adaptiveSemCells(500) == 16)
    assert(Similarity.adaptiveSemCells(2048) == 16)
    assert(Similarity.adaptiveSemCells(2049) == 32)
    assert(Similarity.adaptiveSemCells(4097) == 64)
    assert(Similarity.adaptiveSemCells(1L << 40) == 64) // pool ceiling
    // 3000 vectors cross the first threshold: the query must use
    // cells beyond the 16-centroid prefix (population per cell stays
    // ~target instead of doubling), and every cell id stays inside
    // the active 32-cell prefix
    val rng = new scala.util.Random(23)
    val df = (0L until 3000L)
      .map(i => (i, Array.fill(64)(rng.nextFloat() * 2f - 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val dir = TestSpark.makeSfDir("embeddings" -> df)
    val cells = SparkEntry.queries("q151_semantic_dedup")(spark, dir)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.forall(c => c >= 0 && c < 32),
      s"cell ids must stay in the active 32-cell prefix: $cells")
    assert(cells.exists(_ >= 16),
      s"3000 vectors must activate cells beyond the 16-prefix: $cells")
  }

  test("PQ: codes in range, recon positive, ADC self-consistent, recall@10 bounded, scan variant row-identical") {
    val sf = TestSpark.sf0001
    val enc = SparkEntry.queries("q161_pq_encode")(spark, sf).collect()
    assert(enc.length == 500)
    val M = operators.Similarity.PqM
    enc.foreach { r =>
      (1 to M).foreach(c => assert(r.getInt(c) >= 0 && r.getInt(c) < 16,
        s"code out of range on vec ${r.getLong(0)}"))
      // donors (vec < 16) quantize to themselves at exactly 0
      assert(r.getDouble(M + 1) >= 0 &&
        (r.getLong(0) < 16 || r.getDouble(M + 1) > 0),
        s"recon_err out of range on vec ${r.getLong(0)}")
    }
    // vec j < 16 donates its subvectors as codeword j of every
    // subspace, so its own best codeword is itself in each subspace —
    // codes (j, ..., j) and recon_err exactly 0.0 (identical doubles
    // subtract to zero; no epsilon needed)
    enc.filter(_.getLong(0) < 16).foreach { r =>
      (1 to M).foreach(c => assert(r.getInt(c) == r.getLong(0).toInt,
        s"codebook donor ${r.getLong(0)} not self-coded"))
      assert(r.getDouble(M + 1) == 0.0,
        s"donor ${r.getLong(0)} recon ${r.getDouble(M + 1)} != 0")
    }
    // ADC self-consistency: q162's distances recomputed in Scala from
    // the q161 codes + raw embeddings, same fold order -> exact match
    val emb = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.col("embedding"),
          x => x.cast("double")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val D = 64 / M
    val q = emb(0L)
    val cb = (0 until M).map(m =>
      (0 until 16).map(j => emb(j.toLong).slice(m * D, (m + 1) * D)))
    def dist(a: Array[Double], b: Array[Double]): Double =
      (0 until D).map(i => (a(i) - b(i)) * (a(i) - b(i))).reduce(_ + _)
    val codes = enc.map(r => r.getLong(0) -> (1 to M).map(r.getInt)).toMap
    val adc = SparkEntry.queries("q162_pq_adc_topk")(spark, sf).collect()
    assert(adc.length == 10)
    adc.foreach { r =>
      val id = r.getLong(0)
      val want = (0 until M)
        .map(m => dist(q.slice(m * D, (m + 1) * D), cb(m)(codes(id)(m))))
        .reduce(_ + _)
      assert(r.getDouble(2) == want, s"ADC mismatch on vec $id")
    }
    // recall@10 vs exact search (unit-norm embeddings: L2 order ==
    // cosine order, so q42 is the ground truth). Measured 0.4 for this
    // query on this corpus; 0.2 is the stability floor — PQ at 32 bits
    // on isotropic synthetic data is its adversarial case.
    val exact = SparkEntry.queries("q42_ann_bruteforce")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val recall = adc.map(_.getLong(0)).count(exact.contains).toDouble / 10
    assert(recall >= 0.2, s"ADC recall@10 $recall below the stability floor")
    // the 100 TB zero-shuffle scan variant is row-identical to q161
    val w = operators.Similarity.normed(spark, sf)
    val scan = operators.Similarity.pqEncodeScan(
      w, operators.Similarity.pqCollectCodebooks(w))
      .orderBy("vec_id").collect()
    assert(scan.length == enc.length)
    scan.zip(enc).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      (1 to M).foreach(c => assert(a.getInt(c) == b.getInt(c),
        s"scan code differs on vec ${a.getLong(0)} subspace ${c - 1}"))
      assert(a.getDouble(M + 1) == b.getDouble(M + 1),
        s"scan recon differs on vec ${a.getLong(0)}")
    }
  }

  test("q163 balance sums to the corpus per subspace; q167 recall row 0 equals the q162-vs-q42 overlap") {
    val sf = TestSpark.sf0001
    val bal = SparkEntry.queries("q163_pq_code_balance")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val M = operators.Similarity.PqM
    assert(bal.length == M * 16, "histogram must cover the full m x code grid")
    (0 until M).foreach { m =>
      assert(bal.filter(_._1 == m).map(_._3).sum == 500L,
        s"subspace $m histogram must account for every vector exactly once")
    }
    val rec = SparkEntry.queries("q167_pq_recall_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rec.map(_._1).toSeq == (0L to 9L), "one row per query vector")
    rec.foreach { case (q, h, r) =>
      assert(h >= 0 && h <= 10 && r == h / 10.0, s"recall row broken for qid $q")
    }
    // cross-law: qid 0's hit count IS the overlap of the two oracled
    // top-10 queries (q162 ADC, q42 exact cosine) — the eval harness
    // measures exactly what those queries emit, by construction
    val adc0 = SparkEntry.queries("q162_pq_adc_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val ex0 = SparkEntry.queries("q42_ann_bruteforce")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(rec.head._2 == (adc0 & ex0).size.toLong,
      s"q167 qid 0 (${rec.head._2}) must equal |q162 ∩ q42| = ${(adc0 & ex0).size}")
  }

  test("q178 MRL recall rows are well-formed; full-dim side reproduces q42; prefix search is self-consistent") {
    val sf = TestSpark.sf0001
    val rec = SparkEntry.queries("q178_mrl_recall_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rec.map(_._1).toSeq == (0L to 9L), "one row per query vector")
    rec.foreach { case (q, h, r) =>
      assert(h >= 0 && h <= 10 && r == h / 10.0, s"recall row broken for qid $q")
    }
    // cross-law against an independent plain-Scala recomputation for
    // qid 0: truncated-prefix top-10 ∩ full top-10 == the emitted hit
    // count (and the full side must equal q42's oracled answer)
    val vecs = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double], n: Int) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q0 = vecs(0L)
    def top10(n: Int) = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v, q0, n)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val full = top10(64); val pref = top10(operators.Similarity.MrlDim)
    val q42ids = SparkEntry.queries("q42_ann_bruteforce")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(full == q42ids, "full-dim recomputation must match q42")
    assert(rec.head._2 == (pref & full).size.toLong,
      s"q178 qid 0 (${rec.head._2}) != |prefix ∩ full| = ${(pref & full).size}")
  }

  test("q216 int8 recall rows are well-formed; qid-0 hit count matches an independent quantize-and-rank recomputation") {
    val sf = TestSpark.sf0001
    val rec = SparkEntry.queries("q216_int8_recall_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rec.map(_._1).toSeq == (0L to 9L), "one row per query vector")
    rec.foreach { case (q, h, r) =>
      assert(h >= 0 && h <= 10 && r == h / 10.0, s"recall row broken for qid $q")
    }
    // cross-law against a plain-Scala recomputation for qid 0: quantize
    // every vector with the same per-tensor formula, rank by quantized
    // cosine and by exact cosine, and the overlap must equal the
    // emitted hit count. Also pins the quantized domain to [-127, 127].
    val vecs = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val s0 = vecs.values.flatten.map(math.abs).max
    val qvecs = vecs.map { case (id, v) =>
      id -> v.map(x => math.max(-127.0,
        math.min(127.0, math.floor(x * 127.0 / s0 + 0.5))))
    }
    qvecs.values.flatten.foreach(q =>
      assert(q == math.rint(q) && math.abs(q) <= 127.0, s"bad int8 value $q"))
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) -2.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    def top10(m: Map[Long, Array[Double]]) = m.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v, m(0L))) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val exact = top10(vecs); val int8 = top10(qvecs)
    assert(rec.head._2 == (int8 & exact).size.toLong,
      s"q216 qid 0 (${rec.head._2}) != |int8 ∩ exact| = ${(int8 & exact).size}")
  }

  test("q218 MMR re-rank equals an independent plain-Scala greedy recomputation for every query") {
    val sf = TestSpark.sf0001
    val out = SparkEntry.queries("q218_mmr_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.size == 10 * 5, "10 queries x 5 ranks")
    val vecs = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def q9(x: Double) = math.floor(x * 1e9).toLong
    for (qid <- 0L to 9L) {
      // top-12 candidates by (cos desc, vec_id), then index by vec_id
      val cand = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(v, vecs(qid))) }
        .sortBy { case (id, c) => (-c, id) }.take(12)
        .sortBy(_._1)
      val ids = cand.map(_._1).toArray
      val rel = cand.map(c => q9(c._2)).toArray
      val simm = Array.tabulate(ids.length, ids.length)((i, j) =>
        q9(cos(vecs(ids(j)), vecs(ids(i)))))
      // greedy MMR, lambda = 1/2 (argmax of rel - maxsim), 0-based here
      var chosen = Vector(rel.indices.maxBy(i => (rel(i), -i)))
      var msim = simm(chosen.head).clone()
      var psc = Vector(rel(chosen.head))
      for (_ <- 2 to 5) {
        val sc = rel.indices.map(i =>
          if (chosen.contains(i)) Long.MinValue else rel(i) - msim(i))
        val p = sc.indices.maxBy(i => (sc(i), -i))
        chosen :+= p
        msim = msim.indices.map(i => math.max(msim(i), simm(p)(i))).toArray
        psc :+= sc(p)
      }
      for (r <- 1 to 5) {
        assert(out((qid, r)) == ((ids(chosen(r - 1)), psc(r - 1))),
          s"qid $qid rank $r: got ${out((qid, r))}, " +
            s"expected (${ids(chosen(r - 1))}, ${psc(r - 1)})")
      }
    }
  }

  test("multimodal metadata is deterministic and sized correctly") {
    import spark.implicits._
    val docs = Seq((0L, "PNGx some fake payload", "en", "s", 22L),
      (1L, "JPGy other payload", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q44_multimodal_meta")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getString(3), r.getInt(4), r.getInt(5))).toMap
    assert(rows(0L)._1 == 22)
    assert(rows(0L)._2 == "PNGx")
    val (_, _, w, h) = rows(0L)
    assert(w >= 32 && w < 480 && h >= 32 && h < 352)
  }

  test("q190 graded metrics agree with q167 hits and respect metric bounds") {
    val sf = TestSpark.sf0001
    val g = SparkEntry.queries("q190_retrieval_metrics")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val rec = SparkEntry.queries("q167_pq_recall_eval")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // both harnesses rank the same two top-10 lists: hit counts agree
    assert(g.keySet == rec.keySet)
    for ((q, (nHit, rr, dcg, ndcg)) <- g) {
      assert(nHit == rec(q), s"qid $q: n_hit $nHit != q167 ${rec(q)}")
      assert(rr >= 0L && rr <= 1000000L)
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9)
      if (nHit == 0) assert(rr == 0L && dcg == 0L)
      // any hit inside the top-10 puts the first one at rank <= 10
      else assert(rr >= 100000L, s"qid $q: rr_q6 $rr < 1e6/10")
    }
  }

  test("q194 hard negatives = exact ranking minus q41 dups; planted dup excluded, removal promotes") {
    // crafted corpus: vec 0 has an exact dup (1) and a near-dup (2) —
    // both are FALSE negatives a contrastive batch must not contain
    val out = SparkEntry.queries("q194_hard_negatives")(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    val dupDir = SparkEntry.queries("q41_embed_neardup_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSet
    // sanity: the banding caught the planted exact dup
    assert(dupDir.contains(0L -> 1L), "q41 must find the planted dup")
    // no returned negative is a known dup; qid 0 excludes BOTH plants
    out.foreach { case (q, _, v, _) =>
      assert(!dupDir.contains(q -> v), s"dup ($q,$v) leaked into negatives") }
    val q0 = out.filter(_._1 == 0L)
    assert(q0.length == 10 && !q0.exists(_._3 == 1L) && !q0.exists(_._3 == 2L))
    // ranks are contiguous from 1 and cosine is non-increasing
    out.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rs.length).toSeq, s"qid $q ranks")
      assert(sorted.map(_._4).sliding(2).toSeq
        .forall(p => p.length < 2 || p(0) >= p(1)), s"qid $q cosine order")
    }
    // full differential: driver-side exact ranking over the collected
    // vectors, minus the dup set, must produce the SAME id sequences —
    // i.e. removing a dup PROMOTES the next-hardest candidate rather
    // than shortening the list
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => a(i) * b(i)).sum
    def cos(a: Long, b: Long) = dot(vecs(a), vecs(b)) /
      (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
    for (q <- 0L until 10L) {
      val expect = vecs.keys.filter(v => v != q && !dupDir.contains(q -> v))
        .toSeq.map(v => (v, cos(q, v)))
        .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1)
      val got = out.filter(_._1 == q).sortBy(_._2).map(_._3).toSeq
      assert(got == expect, s"qid $q: $got != $expect")
    }
  }

  test("q199 MaxSim equals the driver-side late-interaction sum; planted group wins") {
    // crafted corpus: label 1 holds exact/near dups of query vecs 0..2,
    // so its per-qvec maxes hit cosine ~1.0 and it must outrank labels
    // that only meet the queries at random angles
    val out = SparkEntry.queries("q199_colbert_maxsim")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._2).forall(_ == 8L), "every label scores all 8 query vecs")
    assert(out.head._1 == 1, s"planted label 1 must rank first: ${out.toSeq}")
    // full differential: recompute sum-of-max-quantized-cosines in Scala
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => a(i) * b(i)).sum
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val qs = rows.filter(_._1 < 8)
    val expect = rows.map(_._3).distinct.map { lbl =>
      val members = rows.filter(_._3 == lbl)
      val score = qs.map { case (_, qe, _) =>
        members.map { case (_, e, _) =>
          math.floor(dot(e, qe) / (nrm(e) * nrm(qe)) * 1e9).toLong }.max
      }.sum
      lbl -> score
    }.toMap
    out.foreach { case (lbl, _, got) =>
      assert(got == expect(lbl), s"label $lbl: $got != ${expect(lbl)}") }
  }

  test("q202 attribution probe: planted dup wins, tie-break, shared 3-grams exact") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    def randVec() = Array.fill(64)(rng.nextFloat() * 2f - 1f)
    val v10 = randVec(); val v20 = randVec(); val v30 = randVec()
    val v11 = v10.clone()                      // exact dup of eval 10
    val v21 = v20.clone(); v21(0) += 0.01f     // near dup of eval 20
    val v31 = v30.map(_ * 2f)                  // scaled copy of eval 30...
    val v32 = v30.map(_ * 2f)                  // ...twice: cosine tie
    val emb = Seq((10L, v10, 0), (11L, v11, 0), (12L, randVec(), 0),
      (20L, v20, 0), (21L, v21, 0), (30L, v30, 0), (31L, v31, 0),
      (32L, v32, 0)).toDF("vec_id", "embedding", "label")
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma delta epsilon"), // identical: 3 shared 3-grams
      (12L, "unrelated words entirely here"),
      (20L, "one two three four"),             // {one two three, two three four}
      (21L, "zero one two three"),             // shares exactly {one two three}
      (30L, "p q r s"),
      (31L, "x y z w"),                        // disjoint: 0 shared
      (32L, "x y z w"))
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("embeddings" -> emb, "documents" -> docs)
    val out = SparkEntry.queries("q202_attribution_probe")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set(10L, 20L, 30L), s"one row per eval doc: $out")
    // exact dup: cosine ~1.0, all 3 distinct 3-grams shared
    assert(out(10L)._1 == 11L && out(10L)._2 > 0.9999999 && out(10L)._3 == 3L,
      s"eval 10: ${out(10L)}")
    // near dup beats the random candidates; exactly one shared 3-gram
    assert(out(20L)._1 == 21L && out(20L)._2 > 0.999 && out(20L)._3 == 1L,
      s"eval 20: ${out(20L)}")
    // bitwise cosine tie between 31 and 32 -> train_id ASC picks 31;
    // lexical corroboration is honestly zero for a disjoint text
    assert(out(30L)._1 == 31L && out(30L)._3 == 0L, s"eval 30: ${out(30L)}")
  }

  test("q212 hybrid RRF equals the driver-side fusion of q209 and the exact ANN ranking") {
    val dir = TestSpark.sf0001
    val bm = SparkEntry.queries("q209_bm25_index_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    // exact ANN top-10 per qid < 8, recomputed driver-side
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => a(i) * b(i)).sum
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val ann = (for {
      (qid, qe) <- rows.filter(_._1 < 8)
      ranked = rows.filter(_._1 != qid)
        .map { case (v, e) => (v, dot(e, qe) / (nrm(e) * nrm(qe))) }
        .sortBy { case (v, c) => (-c, v) }.take(10)
      ((v, _), i) <- ranked.zipWithIndex
    } yield (qid, v) -> (i + 1L)).toMap
    // expected fusion per qid
    val expect = (0L until 8L).flatMap { qid =>
      val docs = (bm.keySet ++ ann.keySet).filter(_._1 == qid).map(_._2)
      docs.toSeq.map { d =>
        val s = bm.get((qid, d)).map(r => 1000000L / (60 + r)).getOrElse(0L) +
          ann.get((qid, d)).map(r => 1000000L / (60 + r)).getOrElse(0L)
        (qid, d, s, bm.getOrElse((qid, d), 0L), ann.getOrElse((qid, d), 0L))
      }.sortBy { case (_, d, s, _, _) => (-s, d) }.take(10).zipWithIndex
        .map { case ((q, d, s, br, ar), i) => (q, i + 1L, d, s, br, ar) }
    }
    val got = SparkEntry.queries("q212_hybrid_rrf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect, s"fusion diverges:\n$got\nvs\n$expect")
    // both rankers must actually contribute somewhere
    assert(got.exists(r => r._5 > 0 && r._6 > 0), "no doc ranked by both")
    assert(got.exists(r => r._5 == 0 || r._6 == 0), "no single-ranker doc")
  }

  test("q213 embedding health: collapsed label ~1, antipodal ~0, full differential") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    def randVec() = Array.fill(64)(rng.nextFloat() * 2f - 1f)
    val v0 = randVec()
    val v3 = randVec()
    // label 0 collapsed (3 identical); label 1 = a vector and its exact
    // negation (centroid ~ 0); label 2 diffuse random
    val emb2 = (Seq((0L, v0, 0), (1L, v0.clone(), 0), (2L, v0.clone(), 0),
      (3L, v3, 1), (4L, v3.map(-_), 1)) ++
      (5L to 14L).map(i => (i, randVec(), 2)))
      .toDF("vec_id", "embedding", "label")
    val dir = TestSpark.makeSfDir("embeddings" -> emb2)
    val rows = SparkEntry.queries("q213_embedding_health")(spark, dir)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows(0)._1 == 3L && rows(0)._4 > 0.999, s"collapsed: ${rows(0)}")
    assert(rows(1)._1 == 2L && math.abs(rows(1)._4) < 0.2, s"antipodal: ${rows(1)}")
    assert(rows(2)._1 == 10L && rows(2)._4 > 0.0 && rows(2)._4 < 0.99 &&
      rows(2)._2 < rows(2)._3, s"diffuse: ${rows(2)}")
    // full differential: replicate the quantized pipeline in Scala
    val data = emb2.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray,
      r.getInt(2)))
    data.map(_._3).distinct.foreach { lbl =>
      val mem = data.filter(_._3 == lbl)
      val cqa = (0 until 64).map(i =>
        math.floor(mem.map(_._2(i)).sum.toDouble / mem.size).toLong)
      val n2c = cqa.map(c => c * c).sum
      val cs = mem.map { case (_, xq, _) =>
        val dotq = xq.indices.map(i => xq(i) * cqa(i)).sum
        val n2d = xq.map(x => x * x).sum
        if (n2d > 0 && n2c > 0)
          math.floor(dotq.toDouble /
            (math.sqrt(n2d.toDouble) * math.sqrt(n2c.toDouble)) * 1e9).toLong
        else 0L
      }
      val got = rows(lbl)
      assert(got == ((mem.size.toLong, cs.min, cs.max,
        cs.sum.toDouble / mem.size / 1e9)),
        s"label $lbl: $got != ${(mem.size, cs.min, cs.max, cs.sum.toDouble / mem.size / 1e9)}")
    }
  }

  test("q222 filtered-ANN recall: post-filter collapse and over-fetch repair on a planted-label fixture") {
    import spark.implicits._
    // query 0 (label 1) points along axis 0. 20 label-0 decoys hug the
    // query direction (cos ~ 0.99+) and own the global top-10; the 5
    // label-1 matches sit at cos ~ 0.707 -- ALL outside the global
    // top-10 but inside the top-100. Expected: n_surv10 = 0 (the
    // post-filter collapse), n_surv100 = 5 (over-fetch recovers every
    // match), n_label = 6 (the 5 matches + the query itself).
    def vec(x: Float, y: Float, slot: Int, eps: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(0) = x; a(1) = y
      if (slot >= 2) a(slot) = eps
      a
    }
    val query = Seq((0L, vec(1f, 0f, 0, 0f), 1))
    val decoys = (0 until 20).map(i =>
      (10L + i, vec(1f, 0.01f * i, 2 + i, 0.05f), 0))
    val matches = (0 until 5).map(i =>
      (40L + i, vec(1f, 1f, 30 + i, 0.05f), 1))
    val df = (query ++ decoys ++ matches)
      .toDF("vec_id", "embedding", "label")
    val dir = TestSpark.makeSfDir("embeddings" -> df)
    val rows = SparkEntry.queries("q222_filtered_ann_recall")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getDouble(6)))
    assert(rows.length == 1, s"one query expected: ${rows.toSeq}")
    assert(rows(0) == ((0L, 1, 6L, 0L, 0.0, 5L, 0.5)),
      s"q222 fixture row wrong: ${rows(0)}")
  }

  test("q228 multi-probe dominates single-probe; single-probe hits cross-check q43 vs q42 for vec 0") {
    val sf = TestSpark.sf0001
    val rows = SparkEntry.queries("q228_multiprobe_lsh_recall")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6)))).toMap
    // dominance: the multi-probe candidate set contains the single-
    // probe set, so counts and hits can only grow
    rows.foreach { case (qid, (cs, cm, hs, hm)) =>
      assert(cm >= cs && hm >= hs, s"dominance broken at qid $qid: $cs $cm $hs $hm")
      assert(cm <= 5 * cs + 5 * 10 || cm >= cs, "sanity")
    }
    assert(rows.values.exists { case (_, _, hs, hm) => hm > hs },
      "multi-probe must beat single-probe somewhere, or the harness is vacuous")
    // three-way cross-law at qid 0: q228's single-probe hit count IS
    // |q43 top-10 (the single-bucket probe for vec 0) INTERSECT q42
    // top-10 (the exact truth for vec 0)|
    val lsh = SparkEntry.queries("q43_ann_lsh")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val exact = SparkEntry.queries("q42_ann_bruteforce")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(rows(0L)._3 == (lsh & exact).size.toLong,
      s"qid-0 single-probe hits ${rows(0L)._3} != |q43 ∩ q42| ${(lsh & exact).size}")
  }
}
