package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression suite: the plan each operator is supposed to
  * produce at scale, pinned as assertions so a refactor can't silently
  * swap a broadcast for a shuffle or a top-k for a full sort. Timing
  * (Bench) says how fast the plan ran HERE; these say whether it's the
  * plan you'd ship to a 1000-executor cluster. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Untruncated scan metadata, read programmatically off the physical
    * plan's FileSourceScanExec nodes. The string form of the plan
    * truncates `PushedFilters:`/`ReadSchema:` at
    * spark.sql.maxMetadataStringLength, which made the round-5 pushdown
    * assertions order-dependent (attribute-ID growth late in the suite
    * pushed the asserted text past the cut). The metadata map itself is
    * never truncated. Uses sparkPlan (pre-AQE) because
    * AdaptiveSparkPlanExec is a leaf node — collect can't descend into it. */
  private def scanMeta(name: String, key: String): String = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.metadata.getOrElse(key, "")
    }.mkString("\n")
  }

  test("top-k queries use TakeOrderedAndProject, never a global sort+limit") {
    for (q <- Seq("q03_topk_orders", "q04_topk_multikey"))
      assert(plan(q).contains("TakeOrderedAndProject"), s"$q plan")
  }

  /** Every registry frame for the two plan-only sweeps below, built once:
    * each frame's QueryExecution memoises its plan phases, so the second
    * sweep re-analyses and re-optimises nothing. Queries whose
    * CONSTRUCTION already runs driver-side jobs (model fits, sketch
    * builds) are skipped: stringifying their final frame would pay a
    * full training run for a plan check, and their plans are simple
    * scans/aggregates covered by their own specs. */
  private lazy val lazyFrames = {
    val eagerConstruction = Set("q50_kmeans_embeddings", "q51_rf_regression",
      "q55_ann_ivf", "q96_bloom_contamination", "q98_quality_classifier")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .collect { case (name, fn) if !eagerConstruction(name) =>
        name -> fn(spark, sf) }
  }

  test("no unintended cartesian products anywhere in the registry") {
    // Broadcast nested-loop joins are legitimate only for 1-row scalar
    // frames (corpus totals); a CartesianProduct node is never OK.
    for ((name, df) <- lazyFrames) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian join")
    }
  }

  test("no unpartitioned window runs over a raw scan anywhere in the registry") {
    // A Window with an empty PARTITION BY routes its entire input
    // through ONE task's sort — the single-reducer scale-killer. It is
    // tolerable only over a frame already reduced by an aggregation
    // (e.g. q113's prefix-sum over the n_chars histogram, whose size is
    // bounded by value cardinality, not corpus size). Assert registry-
    // wide so a future query can't reintroduce the pattern.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    for ((name, df) <- lazyFrames) {
      val plan = df.queryExecution.optimizedPlan
      plan.foreach {
        case w: LWindow if w.partitionSpec.isEmpty =>
          assert(w.child.exists(_.isInstanceOf[Aggregate]),
            s"$name: global-sort window over un-aggregated input " +
              "(single-reducer at scale)\n" + w.treeString)
        case _ => ()
      }
    }
  }

  test("LSH candidate joins shuffle on the bucket key (SortMergeJoin or hash), not nested loops") {
    for (q <- Seq("q37_minhash_lsh_pairs", "q39_simhash_pairs",
        "q76_ngram_jaccard_pairs")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q must equi-join")
    }
  }

  test("fact-table scans read pruned schemas") {
    // q01 needs 5 lineitem columns; the comment/partition columns and
    // l_comment-ish fields must not reach the scan
    val p = plan("q01_pricing_summary")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_partkey"), "q01 must not read join keys it ignores")
  }

  test("point lookup pushes the key predicate into the scan") {
    val pushed = scanMeta("q24_point_lookup", "PushedFilters")
    assert(pushed.contains("EqualTo"), pushed)
  }

  test("bloom-contamination plan keeps the pre-join filter and the broadcast join") {
    val p = plan("q96_bloom_contamination")
    assert(p.contains("BroadcastHashJoin"), "eval side must broadcast")
    assert(p.contains("UDF"), "bloom might-contain filter must be present")
  }

  test("fuzzy pairs join is an equi-join on the brand block") {
    val p = plan("q97_fuzzy_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("tpch q18 broadcasts the HAVING survivors and top-ks, never full-sorts") {
    // the survivor join is deliberately unhinted (threshold-dependent
    // size) — AQE must pick the broadcast from the measured shuffle
    // size, which only shows in the adaptive plan after execution
    val df = SparkEntry.queries("q117_tpch_q18")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"survivor set must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must not full-sort:\n$p")
  }

  test("tpch q4 EXISTS runs as a semi join with the lateness predicate inside") {
    val p = plan("q118_tpch_q4")
    assert(p.contains("LeftSemi"), s"EXISTS must be a semi join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q10 pushes both selective filters and top-ks the revenue") {
    val p = plan("q122_tpch_q10")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not full-sort:\n$p")
    val pushed = scanMeta("q122_tpch_q10", "PushedFilters")
    assert(pushed.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must reach the lineitem scan:\n$pushed")
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate"),
      s"order window must reach the orders scan:\n$pushed")
  }

  test("tpch q19 disjunction stays one equi-join, not a union of fact scans") {
    val p = plan("q124_tpch_q19")
    assert(!p.contains("Union"), s"OR-branches must not triple-scan the fact:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch q21 EXISTS/NOT EXISTS run as semi and anti equi-joins") {
    val p = plan("q125_tpch_q21")
    assert(p.contains("LeftSemi"), s"EXISTS must be a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must be an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch q6 pushes all three predicates into a 4-column scan") {
    val pushed = scanMeta("q128_tpch_q6", "PushedFilters")
    for (pred <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(pushed.contains(pred), s"q128 must push $pred:\n$pushed")
    // scan must not read columns the query never touches
    val readSchema = scanMeta("q128_tpch_q6", "ReadSchema")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_returnflag"),
      s"q128 reads columns it doesn't need:\n$readSchema")
  }

  test("tpch q7 broadcasts the prefiltered nation dims") {
    val p = plan("q129_tpch_q7")
    assert(p.contains("BroadcastHashJoin"), s"nation dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch q17 pushes the brand filter and caps via one windowed fact pass") {
    val pushed = scanMeta("q134_tpch_q17", "PushedFilters")
    assert(pushed.contains("EqualTo(p_brand,Brand#13)"),
      s"brand predicate must reach the part scan:\n$pushed")
    val p = plan("q134_tpch_q17")
    assert(!p.contains("CartesianProduct"))
    // the per-part cap is a partitioned window, not an aggregate joined
    // back — the join-back form scanned the fact table twice (pruning
    // de-canonicalized the branches, so exchange reuse never fired)
    assert(tools.Inspect.scanCounts(p)("lineitem") == 1,
      s"q134 must read the fact table exactly once:\n$p")
  }

  test("tpch q22 dormant-customer predicate runs as an anti equi-join") {
    val p = plan("q135_tpch_q22")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must be an anti join:\n$p")
    // the only nested-loop is the 1-row scalar average broadcast
    assert(scanMeta("q135_tpch_q22", "PushedFilters")
        .contains("GreaterThanOrEqual(o_orderdate"),
      s"recent-orders window must reach the orders scan:\n$p")
  }

  test("tpch q2 prunes part before the supply join and top-ks the answer") {
    val p = plan("q138_tpch_q2")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must not full-sort:\n$p")
    val pushed = scanMeta("q138_tpch_q2", "PushedFilters")
    assert(pushed.contains("EqualTo(p_size,7)") &&
      pushed.contains("EqualTo(p_type,STANDARD)"),
      s"part cuts must reach the scan:\n$pushed")
    assert(pushed.contains("EqualTo(r_name,EUROPE)"),
      s"region cut must reach the scan:\n$pushed")
  }

  test("tpch q20 semi-joins suppliers against the hot-part aggregate") {
    val p = plan("q141_tpch_q20")
    assert(p.contains("LeftSemi"),
      s"supplier side must attach by semi join:\n$p")
    assert(scanMeta("q141_tpch_q20", "PushedFilters")
        .contains("StringContains(p_name,blue)"),
      s"part-name cut must reach the scan:\n$p")
  }

  test("bm25 scoring is doc-local: no explode, stats broadcast, top-k") {
    val p = plan("q142_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must not full-sort:\n$p")
    assert(!p.contains("Generate"),
      s"tf must come from an array filter, not an explode shuffle:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"corpus stats must broadcast:\n$p")
  }

  test("q15/q11 scalar branches reuse the aggregated exchange, one fact scan") {
    // Both queries re-aggregate their grouped frame for a 1-row scalar
    // (max / total) broadcast back over it. Without exchange reuse the
    // fact scan + aggregate silently run twice — q133 regressed exactly
    // this way when the supplier join pushed isnotnull(l_suppkey) into
    // only one branch's scan and broke canonical equality. Reuse only
    // materializes under AQE at runtime, so execute, then read the
    // final plan.
    // (query, fact table, expected scan count): the scalar-branch
    // TPC-H family plus the text operators whose branches must share
    // one tokenize+scan (r7: q142/q142b/q107 repartition-reuse, q145's
    // guarded window index, q80's symmetrized explode inference, q85's
    // aggregate keepalive). q85/q47b expect 2: the shared tokenize
    // pass plus a footer-only count(*) scan for the corpus size.
    // cold cache: if another suite cached a shared frame (q43/q55
    // cache `normed`), a pinned query's branches read
    // InMemoryTableScan instead of reusing an exchange and the
    // ReusedExchange assertion becomes cache-state dependent
    spark.catalog.clearCache()
    val pinned = Seq(
      ("q133_tpch_q15", "lineitem", 1),
      ("q139_tpch_q11", "lineitem", 1),
      ("q113_equidepth_deciles", "documents", 1),
      ("q142_bm25_topk", "documents", 1),
      ("q142b_bm25_textbook", "documents", 1),
      // q143 moved to its own cache-shape test below (r18): the
      // window-hash frame is materialized once and shared via
      // InMemoryRelation, so no ReusedExchange appears by design
      ("q145_substring_removal", "documents", 1),
      ("q146_adaptive_quality_filter", "documents", 1),
      ("q80_repetition_filter", "documents", 1),
      ("q86_bigram_lift", "documents", 1),
      ("q107_oov_rate", "documents", 1),
      ("q85_salient_terms", "documents", 2),
      ("q47b_rare_terms", "documents", 2),
      // uncached self-join on the cell id: both sides canonicalize to
      // the same scan->assign->exchange subtree, so one side must be a
      // ReusedExchange; 2 scans = the shared full scan plus the
      // column-pruned count(*) footer scan feeding the adaptive cell
      // count (the q85/q47b shape)
      ("q151_semantic_dedup", "embeddings", 2))
    for ((q, fact, expected) <- pinned) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = tools.Inspect.finalPlan(df)
      assert(p.contains("ReusedExchange"),
        s"$q scalar branch must reuse the aggregated exchange:\n$p")
      assert(tools.Inspect.scanCounts(p)(fact) == expected,
        s"$q must read $fact exactly $expected time(s) in the final plan:\n$p")
    }
  }

  test("q143/q185 share ONE materialized window-hash pass") {
    // r18: the df-count branch and the position-probe branch used to
    // re-run tokenize + posexplode + md5h61 above a shared raw-text
    // exchange (the exchange was reused, the per-window md5 ran
    // twice — measured at sf0.1). Both now read one cached
    // (doc_id[, pos], h) frame; pin the shape: exactly one documents
    // scan in the final plan and the cache actually present. A bare
    // shared h-exchange cannot replace the cache — column pruning
    // drops `pos` from the aggregate branch and de-canonicalizes the
    // subtrees (tried and measured in r18).
    spark.catalog.clearCache()
    for (q <- Seq("q143_substring_dedup", "q185_memorization_audit")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = tools.Inspect.finalPlan(df)
      assert(p.contains("InMemoryTableScan"),
        s"$q must read the shared window-hash cache:\n$p")
      assert(tools.Inspect.scanCounts(p)("documents") == 1,
        s"$q must scan documents exactly once in the final plan:\n$p")
      spark.catalog.clearCache()
    }
  }

  test("projection-only operators stay scan-stage: no join, no aggregate exchange") {
    // q153 (DSIR score+gate), q155 (markup strip), q156 (Gopher rules)
    // all claim "one codegen projection chain, zero REQUIRED shuffles"
    // — pin it: the only exchanges allowed are the presentational
    // output sort's rangepartitioning and the EXPLICIT scale-adaptive
    // spread (Dsl.spreadIfNarrow — REPARTITION_BY_*, fires only on
    // narrower-than-cores scans, i.e. the local single-row-group
    // files; a no-op at scale). No ENSURE_REQUIREMENTS hash exchange
    // (the planner-inserted kind a join/aggregate would force), no
    // join, no aggregate. A refactor that turns the per-row filter
    // into a join against a derived table fails here instead of
    // surviving as a silent corpus-width shuffle at 100 TB.
    for (q <- Seq("q153_dsir_resample", "q155_markup_strip",
        "q156_gopher_rules")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = tools.Inspect.finalPlan(df)
      val required = "Exchange [a-z]*partitioning[^\\n]*ENSURE_REQUIREMENTS".r
        .findAllIn(p).toSeq
      assert(required.forall(_.contains("rangepartitioning")),
        s"$q may only shuffle for the output sort or the explicit spread:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(!p.contains("HashAggregate"), s"$q must not aggregate:\n$p")
    }
  }

  test("registry-wide scan allowance: no query reads a base table more than committed") {
    // The ReuseAudit invariant promoted to CI (round-8): every query's
    // FINAL adaptive plan may read each base table at most its committed
    // allowance. Default allowance is 1; every entry above 1 below is a
    // SEMANTIC multi-read (self-join, role split like corpus-vs-batch,
    // correlated-subquery shape, or a narrow-column re-scan cheaper than
    // a full-row shuffle) triaged in COVERAGE.md. Raising a value needs
    // that triage; a branch-pruning regression that de-canonicalizes a
    // shared subtree (the q85/q133 trap) fails here instead of waiting
    // for a manual sweep. Counts measured by graft.tools.Inspect.
    // Queries that .cache() an internally-reused frame print their
    // cache-BUILD scans or an InMemoryTableScan depending on what the
    // session's cache already holds, so their textual scan count is
    // cache-state dependent — give the whole family a ceiling of 2
    // (their join shapes are pinned by the LSH/ANN plan tests above;
    // this sweep still catches an O(branches) scan blowup).
    val cachedFamily = Map(
      "q36_minhash_signatures" -> "documents",
      "q37_minhash_lsh_pairs" -> "documents",
      "q38_simhash_signatures" -> "documents",
      "q39_simhash_pairs" -> "documents",
      "q56_dedup_clusters" -> "documents",
      // caches the batch-keyed shingle sets AND the (batch,h) distinct;
      // the max-id broadcast is a narrow doc_id-only second read
      "q262_novelty_curve" -> "documents",
      // caches the signed-sets frame (q37's machinery); candidate join
      // + verify join-back both read the cache
      "q264_lsh_band_ablation" -> "documents",
      "q69_dedup_survivors" -> "documents",
      // r18: both cache the (doc_id[, pos], h) window-hash frame the
      // df-count aggregate and the position probe share (one windowing
      // pass instead of two); textual count is cache-state headroom,
      // the exact cold shape is pinned by the dedicated test above
      "q143_substring_dedup" -> "documents",
      "q185_memorization_audit" -> "documents",
      "q76_ngram_jaccard_pairs" -> "documents",
      "q121_ngram_jaccard_dfcap" -> "documents",
      "q149_containment_pairs" -> "documents",
      "q165_prefix_jaccard_join" -> "documents",
      "q168_fuzzy_contamination" -> "documents",
      "q41_embed_neardup_pairs" -> "embeddings",
      "q42_ann_bruteforce" -> "embeddings",
      "q43_ann_lsh" -> "embeddings",
      "q58_ann_batch" -> "embeddings",
      // caches the |sources|-row per-source aggregate; stats pass +
      // admission pass are the two roles
      "q154_budget_mix" -> "documents",
      // embeds clustersDf's cached pair/edge frames (the q56 family)
      // plus its own n_tokens scan — r12 ReuseAudit measured COLD file
      // reads = 1 (the cached machinery absorbs the rest); the 2 here
      // is pure textual cache-state headroom for this sweep's
      // registry-order cache, not a real second read
      "q172_soft_dedup_weights" -> "documents",
      // embeds BOTH cached machineries (q165 sets/ex, q37 bands) —
      // r12 ReuseAudit measured COLD file reads = 1 (same caveat)
      "q180_lsh_recall_eval" -> "documents",
      // embeds the cached q37 pair machinery (LSH signature frame)
      "q191_dup_pagerank" -> "documents",
      // embeds the cached q56 cluster machinery plus ONE canonical
      // feat (qkey) exchange shared by both its consumers
      // (ReuseAudit: reused=1, documents=2 cold)
      "q196_quality_canonical" -> "documents",
      // embeds the cached q56 cluster machinery; its own corpus side
      // is one doc_id-only scan (ReuseAudit: documents=1 cold)
      "q197_leakage_safe_splits" -> "documents",
      // caches the (source, term) count frame every downstream
      // aggregate derives from (ReuseAudit: documents=1 cold)
      "q201_source_drift" -> "documents",
      // caches the |sources|-row per-source aggregate consumed by
      // totals + base + the epoch explode (ReuseAudit: documents=1 cold)
      "q204_data_constrained" -> "documents",
      // caches the |sources|-row sorted grid consumed by the
      // saturated-set aggregate and the final allocation
      "q214_waterfill_mix" -> "documents",
      // embeds the cached q121 sets/ex machinery plus its own cached
      // qualifying-pair sweep frame (ReuseAudit: documents=1 cold)
      "q205_dedup_threshold_curve" -> "documents",
      // caches the (source, hash, count) frame the self-join and both
      // per-source aggregates read (ReuseAudit: documents=0 cold —
      // fully absorbed into the cache build)
      "q206_source_mirror" -> "documents",
      // caches the (doc_id, hash, tier) projection read by the
      // per-hash aggregate AND the join-back (ReuseAudit: documents=2
      // cold — the cache build prints at both consumer sites)
      "q208_quality_dup_matrix" -> "documents",
      // caches the postings frame consumed by stats + hits + dfs; the
      // query side is its own scan (corpus-vs-query role split, the
      // q193 precedent; ReuseAudit: documents=1 cold)
      "q209_bm25_index_topk" -> "documents",
      // caches the (source, length) histogram every grid/window
      // derives from (ReuseAudit: documents=1 cold)
      "q210_length_drift" -> "documents",
      // caches the |types|·|days| daily-count aggregate consumed by
      // the span aggregate and the dense-series build
      "q234_cusum_drift" -> "events",
      // embeds the cached q121 sets/ex machinery plus the cached
      // signature frame and pair sweep (ReuseAudit: documents=1 cold)
      "q211_lsh_calibration" -> "documents",
      // embeds the cached q37 pair machinery (capped); the census on
      // top touches only the cached pair frame
      "q235_dup_triangles" -> "documents",
      // embeds the cached q56 cluster machinery (clustersDf caches its
      // pair + edge frames); the audit reads only the cluster frame
      "q238_shard_colocation" -> "documents",
      // ONE cached pair build shared by the clustering iteration and
      // the edge-quality join (clustersFromPairs exists for this)
      "q261_cluster_quality" -> "documents",
      // the q37/q91 cached signed-sets machinery, one agg on top
      "q240_minhash_calibration" -> "documents",
      // same cached signed-sets machinery (ReuseAudit: documents=1)
      "q254_bbit_minhash" -> "documents",
      // cached q37 pair machinery + the q38 simhash scan — two sketch
      // roles over one corpus (ReuseAudit: documents=1 cold)
      "q255_simhash_vs_jaccard" -> "documents",
      // two SEMANTIC roles by design (the q189/q68 precedent): the
      // maintained-rollup scan and the affected-group survivor repair
      // read; the forget-slice partials are cached (|days|·|types|
      // rows), so the delete scan is absorbed (ReuseAudit: events=2)
      "q243_rollup_retraction" -> "events"
    ).map { case (q, t) => q -> Map(t -> 2) } ++ Map(
      // corpus-vs-query role split (the q193 precedent): the tk
      // exchange is shared by postings and the token re-join
      // (reused=1; explode_outer blocks the q133 inference), the
      // ≤8-row query frame is cached — its build prints at both the
      // term-explode and qt-join InMemoryTableScan sites when cold
      // (ReuseAudit: documents=3 textual)
      "q244_snippet_extraction" -> Map("documents" -> 3),
      // the q189 ⊕ q243 ⊖ composition: two role-split half scans
      // (event_id parity, the q189 precedent) + the affected-group
      // survivor repair read; forget-slice partials cached
      // (ReuseAudit: events=3)
      "q245_rollup_lifecycle" -> Map("events" -> 3),
      // orders audited in two different KEY roles (custkey histogram
      // for the customer edge, orderkey histogram for the lineitem
      // edge) — the q130 nation precedent
      "q248_join_size_forecast" -> Map("orders" -> 2),
      // r18: THREE committed roles — the postings-build tokenize scan
      // (inside the cached hits relation), the 1-row corpus-stats
      // branch (a map-combinable count/Σdl aggregate straight off the
      // scan, replacing the old full token-array shuffle; exchange
      // reuse cannot cross the cache boundary, so sharing was
      // impossible anyway — measured tokenize-twice before), and the
      // doc_id<8 pruned query read (ReuseAudit: documents=2 cold —
      // the 3 is textual cache-state headroom)
      "q193_bm25_mrr_eval" -> Map("documents" -> 3),
      // r18: q193's three committed roles, with the postings frame
      // additionally cached and probed by BOTH retrieval rounds plus
      // the feedback-term mining (broadcast-probe consumers of one
      // cache — never a corpus re-read beyond the roles; ReuseAudit:
      // documents=1 cold, the 3 is textual cache-state headroom)
      "q224_rm3_expansion" -> Map("documents" -> 3),
      // embeds BOTH cached machineries: the q209 postings frame over
      // documents (corpus + query-role scans, the q193/q209 split) and
      // the cached normed frame over embeddings (ReuseAudit: cold
      // documents=1; the 2s are textual cache-state headroom)
      "q212_hybrid_rrf" -> Map("documents" -> 2, "embeddings" -> 2),
      // q212's exact machinery minus the fusion (same cached postings
      // + cached normed frame; same textual cache-state headroom)
      "q256_ranker_agreement" -> Map("documents" -> 2, "embeddings" -> 2),
      // TEXTUAL count (the q169/q176 caveat): ONE cached component
      // explode whose build prints its FileScan body at the centroid,
      // join and cnorm InMemoryTableScan sites; cold file reads = 1
      // (ReuseAudit: embeddings=3 textual)
      "q213_embedding_health" -> Map("embeddings" -> 3),
      // TEXTUAL count, same caveat: ONE cached (doc_id, h) pair frame
      // whose build subtree prints at the audit's four consumer sites
      // (index count, batch count, per-doc rollup, flagged join-back);
      // at runtime the cache materializes once — a single documents
      // scan feeds the whole lifecycle twin (ReuseAudit: documents=4
      // textual, reused=0 because the sharing is the cache, not an
      // exchange)
      "q229_prevalence_index_admit" -> Map("documents" -> 4))
    val multi: Map[String, Map[String, Int]] = cachedFamily ++ Map(
      // TEXTUAL count (the q169 caveat): ONE cached normed frame whose
      // build prints at its three consumer sites — the 10-row query
      // slice, the exact-top-k corpus side, and the cell-assign scan
      // (corpus-vs-query role split, the q42/q58 precedent); cold file
      // reads = 1 (all three read the same cache)
      "q268_ivf_nprobe_recall" -> Map("embeddings" -> 3),
      // eval-vs-train role split (the q127/q84 precedent): the %10
      // eval panel is a pruned broadcast-side read; the train side is
      // the one full scan
      "q269_semantic_contamination_curve" -> Map("embeddings" -> 2),
      // same eval-vs-train role split, argmax direction (per-eval 1-NN)
      "q270_embedding_1nn_agreement" -> Map("embeddings" -> 2),
      // TEXTUAL count (the q268 caveat): the CACHED k-row cell-count
      // frame prints its build scan at BOTH consumer sites (forecast
      // windows + per-query join) next to the 10-row query slice;
      // cold file reads = 2 (one corpus pass builds the cache, one
      // pruned query read)
      "q275_ann_probe_cost_actual" -> Map("embeddings" -> 3),
      // q275's shape one audit deeper (same TEXTUAL caveat): the
      // CACHED assignment frame prints its build scan at its consumer
      // sites (per-query probe ranking, the query slice, the
      // candidate join); cold file reads = 2 — one corpus pass builds
      // the cache, one pruned read serves the 10-row query slice
      "q276_filtered_recall_calibration" -> Map("embeddings" -> 3),
      "q105_scd2" -> Map("part" -> 2),
      "q125_tpch_q21" -> Map("lineitem" -> 3),
      "q126_temperature_sample" -> Map("documents" -> 2),
      "q127_incremental_dedup" -> Map("documents" -> 2),
      // corpus-vs-batch role split (the q127 precedent): the doc_id
      // % 10 predicates push into per-branch scans — pruned re-reads
      // beat shuffling the corpus text through one shared exchange
      "q158_incremental_paragraph_dedup" -> Map("documents" -> 2),
      // TPC-H Q8 joins nation in two ROLES (supplier nation + customer
      // market nation) — a semantic double-read of a 25-row dim
      "q130_tpch_q8" -> Map("nation" -> 2),
      "q135_tpch_q22" -> Map("customer" -> 2),
      "q15_union_all" -> Map("orders" -> 2),
      "q47b_rare_terms" -> Map("documents" -> 2),
      "q57_range_join" -> Map("part" -> 2),
      "q59_gap_fill" -> Map("events" -> 2),
      // yesterday-state vs today-delta role split (event_id parity):
      // each partial aggregates its own pruned scan; the merge join
      // reuses their (day,event_type) partitioning
      "q189_rollup_merge" -> Map("events" -> 2),
      "q60_sql_correlated" -> Map("orders" -> 2),
      "q66_retention" -> Map("events" -> 2),
      "q68_merge_upsert" -> Map("orders" -> 3),
      "q74_title_match" -> Map("part" -> 2),
      "q81_corpus_pipeline" -> Map("documents" -> 2),
      // TEXTUAL count, not file reads: the two cache builds (narrow
      // base, LSH signature frame) print their FileScan body at every
      // InMemoryTableScan site of the 4-stage funnel; actual cold file
      // reads are 2 (base + signatures) — ReuseAudit-measured
      "q169_pipeline_funnel" -> Map("documents" -> 5),
      "q84_contamination" -> Map("documents" -> 2),
      // q84's two shingle branches (eval/train role split, pruned
      // per-branch scans — the q127 precedent) + the token-mass side
      // referenced twice (the per-cutoff join AND the corpus total a
      // ppm needs): both token scans are narrow (doc_id, size(toks))
      // projections, so 4 textual reads beat shuffling text once
      "q265_contamination_curve" -> Map("documents" -> 4),
      // q84's two shingle branches + ONE narrow metadata/token scan
      // (source + size(toks), referenced once — the per-source agg and
      // its own total share the row)
      "q266_contamination_by_source" -> Map("documents" -> 3),
      // eval-vs-train role split (the q127/q158 precedent): the % 10
      // predicates push into per-branch pruned scans
      "q175_decontaminate_spans" -> Map("documents" -> 2),
      // prev-vs-cur snapshot role split (the q127 precedent): each
      // branch reduces to (doc_id, source, row-hash) at its own scan
      "q183_snapshot_diff" -> Map("documents" -> 2),
      "q179_stupid_backoff" -> Map("documents" -> 2),
      // train-vs-eval role split, the q179 shape exactly: the % 10
      // predicates push into per-branch pruned scans
      "q231_jm_interpolation" -> Map("documents" -> 2),
      // TEXTUAL count (the q169 caveat): ONE cached narrow base whose
      // build prints its FileScan body at the scalar-agg, total and
      // entropy InMemoryTableScan sites; cold file reads are 1
      "q176_corpus_datasheet" -> Map("documents" -> 3),
      // narrow-column re-scan: the ns aggregate reads ONLY `source`
      // (1-column pruned ReadSchema) for its broadcast side — cheaper
      // than routing the probe side's rows through a shared exchange
      "q177_source_interleave" -> Map("documents" -> 2),
      // same narrow-column precedent: the per-source doc count reads
      // ONLY `source`, separate from the shingle-explode scan
      "q195_source_diversity" -> Map("documents" -> 2),
      // TEXTUAL count (the q169 caveat): the cached `scored` frame's
      // build — itself a SEMANTIC two-role read (doc text for the NLL
      // model, doc lang for the bucket key) — prints its FileScan body
      // at both InMemoryTableScan sites (histogram chain + final
      // stamp); actual cold file reads are 2, ReuseAudit-measured
      "q171_perplexity_buckets" -> Map("documents" -> 4),
      // shared full scan + count(*) footer scan for the adaptive cell
      // count (q41's corpus-adaptive discipline applied to SemDeDup)
      "q151_semantic_dedup" -> Map("embeddings" -> 2),
      "q85_salient_terms" -> Map("documents" -> 2),
      // sample-codebook branch: a SECOND scan with vec_id < 16 pushed
      // to the parquet reader — a 16-row pruned read (footer + one row
      // group at any scale), the price of a self-contained oracle; the
      // 100 TB form (pqEncodeScan, codebook collected once) scans once
      "q161_pq_encode" -> Map("embeddings" -> 2),
      // corpus-vs-query role split (the q42/q58 precedent): the 8-row
      // query side is a vec_id<8 pruned read broadcast to the probe
      "q199_colbert_maxsim" -> Map("embeddings" -> 2),
      "q162_pq_adc_topk" -> Map("embeddings" -> 2),
      "q163_pq_code_balance" -> Map("embeddings" -> 2),
      // cached ADC frame (corpus + codebook slice when cold — whether
      // the sweep sees them depends on registry iteration order, i.e.
      // which pq query ran first) + the exact-rerank stage's pruned
      // vector read — the two-stage design reads the table in two
      // SEMANTIC roles (codes vs rerank floats) by construction
      "q164_pq_rerank_topk" -> Map("embeddings" -> 3),
      // cached score frame (corpus + 16-row codebook slice when cold)
      // plus the exact-search side's corpus scan and its 10-row pruned
      // query slice — two SEMANTIC roles (ADC vs exact) by design: the
      // harness compares two independent pipelines over one table
      "q167_pq_recall_eval" -> Map("embeddings" -> 4),
      // same two-independent-pipelines harness as q167 (ADC vs exact),
      // plus the same cached-frame textual-count caveat
      "q190_retrieval_metrics" -> Map("embeddings" -> 4),
      // TEXTUAL count (the q169 caveat): ONE cached normed frame whose
      // build prints its FileScan body at the scale-aggregate, query
      // and both top-10 InMemoryTableScan sites; cold file reads = 1
      // (ReuseAudit: embeddings=1 cold — the int8 and exact sides both
      // read the same cache)
      "q216_int8_recall_eval" -> Map("embeddings" -> 4),
      // TEXTUAL count (the q169 caveat): TWO cached frames (normed +
      // the C-bounded candidate frame) whose builds print FileScan
      // bodies at the query, candidate and pairwise-sim consumer
      // sites; cold file reads = 1 (ReuseAudit: embeddings=1 cold)
      "q218_mmr_rerank" -> Map("embeddings" -> 4),
      // caches normed (ONE embeddings scan feeds panel + train sides)
      // and the panel-bounded shingle frame (ONE semi-joined documents
      // scan) — ReuseAudit cold: embeddings=1, documents absorbed into
      // the cache build; the 2s are textual cache-state headroom
      "q202_attribution_probe" -> Map("embeddings" -> 2, "documents" -> 2),
      // two SEMANTIC roles by design (the q167/q190 argument): the
      // cached banded dup machinery (corpus scan + adaptive-planes
      // count(*), q41's shape) prints at its InMemoryTableScan sites,
      // plus the exact candidate side's corpus scan and its vec_id<10
      // pruned query slice; at 100 TB the dup side is a PERSISTED
      // index probe (LshBandIndex discipline), not a recompute
      "q194_hard_negatives" -> Map("embeddings" -> 4),
      "q97_fuzzy_pairs" -> Map("part" -> 2))
    // Skipped: construction already runs driver-side jobs (model fits,
    // sketch builds, the BPE merge loop) — executing them here pays a
    // training run for a plan check; their scan behavior is covered by
    // their own specs, and q147's result frame is a local k-row table.
    val eagerConstruction = Set("q50_kmeans_embeddings", "q51_rf_regression",
      "q55_ann_ivf", "q96_bloom_contamination", "q98_quality_classifier",
      "q144_ivf_incremental", "q147_bpe_merges")
    // each plan is the final adaptive plan of the query's cold scoped
    // run, so the sweep's plan strings don't depend on which suites or
    // queries ran before
    for (name <- SparkEntry.queries.keys if !eagerConstruction(name)) {
      val p = RegistryRuns(name).finalPlan
      for ((t, n) <- tools.Inspect.scanCounts(p)) {
        val cap = multi.getOrElse(name, Map.empty).getOrElse(t, 1)
        assert(n <= cap,
          s"$name reads $t $n times (allowance $cap) — branch-pruning " +
            s"regression? run graft.tools.Inspect $name\n$p")
      }
    }
  }

  test("whole-stage codegen covers the hot aggregation pipelines") {
    for (q <- Seq("q01_pricing_summary", "q06_join_multiway_agg",
        "q30_token_count", "q82_text_chunks", "q148_bpe_encode")) {
      // under AQE codegen is inserted per-stage at materialization, so
      // execute first, then read the final adaptive plan ("*(n)" spans)
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("*("), s"$q fell out of codegen:\n$p")
    }
  }
}
