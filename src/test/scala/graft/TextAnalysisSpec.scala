package graft

import org.scalatest.funsuite.AnyFunSuite

/** Text-analysis semantics on crafted documents. */
class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docsDf = {
    import spark.implicits._
    Seq(
      (0L, "a a the xyz", "en", "s", 11L),
      (1L, "  le  les \t des mots ", "fr", "s", 21L),
      (2L, "Der die und Tag", "de", "s", 15L),
      (3L, (1 to 60).map(i => s"w$i").mkString(" "), "en", "s", 300L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  lazy val sfDir: String = TestSpark.makeSfDir("documents" -> docsDf)

  test("token counting splits on arbitrary whitespace after trim") {
    val rows = SparkEntry.queries("q30_token_count")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows(0L) == 4)
    assert(rows(1L) == 4, "tabs/multi-spaces collapse to one delimiter")
    assert(rows(3L) == 60)
  }

  test("quality scoring computes stopword ratio and buckets") {
    val rows = SparkEntry.queries("q31_quality_score")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getString(6))).toMap
    val (n, uniq, stopRatio, quality) = rows(0L)
    assert(n == 4 && uniq == 3)
    assert(math.abs(stopRatio - 0.75) < 1e-15) // 'a','a','the' of 4
    assert(quality == "poor")
    assert(rows(3L)._4 == "good")
  }

  test("language heuristic votes on marker words") {
    val rows = SparkEntry.queries("q32_lang_guess")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(rows(0L) == "en")
    assert(rows(1L) == "fr")
    assert(rows(2L) == "de", "marker match is case-sensitive by design: 'die'/'und'")
  }

  test("repetition filter flags template docs, passes diverse ones") {
    import spark.implicits._
    val docs = Seq(
      // 10x the same token: top_uni_ratio = 1.0, top_big_ratio = 1.0
      (0L, (1 to 10).map(_ => "spam").mkString(" "), "en", "s", 49L),
      // all-distinct tokens: every ratio is 1/n
      (1L, (1 to 40).map(i => s"w$i").mkString(" "), "en", "s", 160L),
      // one token — no bigram, excluded on both engines
      (2L, "solo", "en", "s", 4L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q80_repetition_filter")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(5), r.getBoolean(6))).toMap
    assert(rows(0L) == ((1.0, 1.0, true)), "pure repetition must be flagged")
    assert(rows(1L)._1 == 1.0 / 40 && !rows(1L)._3, "diverse doc must pass")
    assert(!rows.contains(2L), "single-token doc has no bigram row")
  }

  test("q217 phrase blocklist counts adjacent-token hits only, never substrings, with doc and occurrence grains distinct") {
    import spark.implicits._
    val docs = Seq(
      // "big table" twice as adjacent tokens (overlapping bigram walk:
      // big,table,big,table → "big table" ×2): n_hits 2, one doc
      (0L, "big table big table", "en", "sA", 19L),
      // substring trap: "bigger tables" must NOT match "big table"
      (1L, "bigger tables are fine", "en", "sA", 22L),
      // phrase split across a third token: NOT adjacent, no hit
      (2L, "big red table", "en", "sA", 13L),
      // single-token doc: no bigrams, no row, no crash
      (3L, "big", "en", "sA", 3L),
      // same phrase in a second source: grouped separately
      (4L, "a hash join here", "en", "sB", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q217_phrase_blocklist")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows == Map(
      ("sA", "big table") -> ((1L, 2L)),
      ("sB", "hash join") -> ((1L, 1L))),
      s"unexpected blocklist report: $rows")
  }

  test("corpus pipeline drops low-quality, exact-dup, and near-dup docs once each") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"tok${i % 13} word${i % 7} item$i").mkString(" ")
    val nearDup = base.replace("item40", "itemX") // near dup, shorter name wins on length? same length
    val docs = Seq(
      (0L, base, "en", "s", base.length.toLong),
      (1L, base, "en", "s", base.length.toLong),          // exact dup of 0
      (2L, nearDup, "en", "s", nearDup.length.toLong),    // near dup of 0
      (3L, "short doc", "en", "s", 9L),                   // fails quality (2 tokens)
      (4L, (1 to 40).map(i => s"u$i").mkString(" "), "en", "s", 200L)) // clean
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q81_corpus_pipeline")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // survivors: one of {0,1,2} (cluster root 0 wins: equal n_chars, min id)
    // + doc 4 = 2 docs total across all splits
    assert(rows.values.sum == 2,
      s"expected 2 surviving docs, got $rows")
  }

  test("pipeline funnel is monotone per stage and lands on q81's corpus") {
    val sf = TestSpark.sf0001
    val rows = SparkEntry.queries("q169_pipeline_funnel")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ==
      Seq("raw", "quality", "exact_dedup", "near_dedup"))
    // each stage only removes docs/tokens — a negative delta anywhere
    // means a stage ADDED rows, i.e. the funnel is lying
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4,
        s"stage ${b._2} grew vs ${a._2}: $b vs $a")
    }
    // the funnel's terminal stage IS the corpus q81 splits: doc counts
    // must agree exactly
    val q81docs = SparkEntry.queries("q81_corpus_pipeline")(spark, sf)
      .collect().map(_.getLong(1)).sum
    assert(rows.last._3 == q81docs,
      s"funnel terminal ${rows.last._3} != q81 corpus $q81docs")
  }

  test("q183 snapshot diff partitions both snapshots exactly") {
    val sf = TestSpark.sf0001
    val rows = SparkEntry.queries("q183_snapshot_diff")(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ids = graft.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    val inPrev = ids.filter(_ % 17 != 3).toSet
    val inCur = ids.filter(_ % 19 != 7).toSet
    def n(s: String) = rows.getOrElse(s, 0L)
    // every prev row is removed/changed/unchanged; every cur row is
    // added/changed/unchanged — the diff must partition BOTH exactly
    assert(n("removed") + n("changed") + n("unchanged") == inPrev.size)
    assert(n("added") + n("changed") + n("unchanged") == inCur.size)
    assert(n("added") == (inCur -- inPrev).size)
    assert(n("removed") == (inPrev -- inCur).size)
    // changed = present in both AND carrying the %13==5 text revision
    assert(n("changed") == (inPrev & inCur).count(_ % 13 == 5))
  }

  test("fingerprint is whitespace- and case-insensitive") {
    import spark.implicits._
    val docs = Seq(
      (0L, "Hello   world", "en", "s", 13L),
      (1L, " hello world ", "en", "s", 13L),
      (2L, "different", "en", "s", 9L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q34_fingerprint")(spark, dir).collect()
    assert(rows.length == 2, "normalized dups collapse to one fingerprint")
    val dupRow = rows.find(_.getLong(1) == 0L).get
    assert(dupRow.getLong(2) == 2L)
  }

  test("bm25 ranks more matched terms, more occurrences, shorter docs higher") {
    import spark.implicits._
    val pad = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (0L, s"spark hash merge $pad", "en", "s", 100L),   // all 3 terms
      (1L, s"spark $pad", "en", "s", 100L),              // 1 term
      (2L, s"spark spark spark $pad", "en", "s", 100L),  // 1 term, tf=3
      (3L, s"$pad", "en", "s", 100L),                    // no terms
      (4L, "spark", "en", "s", 5L))                      // 1 term, tiny doc
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q142_bm25_topk")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(0L) > rows(2L) && rows(2L) > rows(1L),
      s"3 distinct terms > tf=3 of one term > tf=1: $rows")
    assert(rows(4L) > rows(1L),
      s"same tf in a shorter doc must score higher (length norm): $rows")
    assert(rows(3L) == 0.0, s"doc with no query terms scores exactly 0: $rows")
  }

  test("textbook bm25 (q142b) matches an independent scorer's ranking") {
    import spark.implicits._
    val pad = (1 to 20).map(i => s"p$i").mkString(" ")
    val texts = Seq(
      0L -> s"spark hash merge $pad",
      1L -> s"spark $pad",
      2L -> s"spark spark spark $pad",
      3L -> s"$pad",
      4L -> "spark",
      5L -> s"hash merge hash $pad")
    val docs = texts.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    // independent plain-Scala BM25 (k1=1.2, b=0.75, Lucene idf)
    val terms = Seq("spark", "hash", "merge")
    val toks = texts.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.size).sum / n
    val df = terms.map(tm => tm -> toks.count(_._2.contains(tm))).toMap
    val expected = toks.map { case (id, tk) =>
      val dl = tk.size.toDouble
      val score = terms.map { tm =>
        val tf = tk.count(_ == tm).toDouble
        math.log((n - df(tm) + 0.5) / (df(tm) + 0.5) + 1.0) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
      }.sum
      (id, math.floor(score * 1e6).toLong)
    }.sortBy { case (id, q) => (-q, id) }.map(_._1)
    val got = SparkEntry.queries("q142b_bm25_textbook")(spark, dir)
      .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
    assert(got == expected, s"ranking diverges from reference BM25: $got vs $expected")
  }

  test("adaptive quality filter keeps docs at/above the per-language median ttr") {
    import spark.implicits._
    // en: ttr 0.5, 0.8, 1.0 (odd count -> median = middle = 0.8, 2 kept)
    // fr: ttr 0.4, 0.6, 0.8, 1.0 (even -> median = (0.6+0.8)/2 = 0.7, 2 kept)
    // NULL lang must be excluded entirely
    val docs = Seq(
      (1L, "a a", "en", "s", 3L),              // ttr 0.5
      (2L, "a b c d a", "en", "s", 9L),        // ttr 0.8
      (3L, "a b", "en", "s", 3L),              // ttr 1.0
      (4L, "a a a b b", "fr", "s", 9L),        // ttr 0.4
      (5L, "a a b b c", "fr", "s", 9L),        // ttr 0.6
      (6L, "a b c d a", "fr", "s", 9L),        // ttr 0.8
      (7L, "a b c d e", "fr", "s", 9L),        // ttr 1.0
      (8L, "x y z", null, "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q146_adaptive_quality_filter")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set("en", "fr"), s"NULL lang must be excluded: $rows")
    assert(rows("en") == ((3L, 2L, 0.8)), s"en median/kept wrong: ${rows("en")}")
    assert(rows("fr") == ((4L, 2L, 0.7)), s"fr median/kept wrong: ${rows("fr")}")
  }

  test("markup strip removes tags inside the document text, decodes entities once, collapses whitespace") {
    import spark.implicits._
    // the doc text ITSELF carries markup and entities — including
    // "&amp;lt;" which must decode to "&lt;" (one pass, &amp; last),
    // not double-decode to "<"
    val docs = Seq(
      (1L, "x <i>y</i> z &amp; w &amp;lt; v", "en", "s", 1L),
      (2L, "plain words only", "en", "s", 1L),
      // vertical tab: Java \s includes U+000B but RE2's does not — the
      // operator's explicit [ \t\n\f\r\x0B] class collapses it on both
      // engines (the round-9 dialect fix, pinned here)
      (3L, "a\u000Bb plain", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q155_markup_strip")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // independent plain-Scala recomputation of the full chain
    def expected(id: Long, text: String): (Int, Int, String) = {
      val pt = s"""<html><head><title>Doc $id</title></head><body><h1 class="t">T$id</h1><p>$text &amp; more &lt;tags&gt;</p><div id="f">footer</div></body></html>"""
      val nTags = "<[^>]+>".r.findAllIn(pt).size
      val nEnt = "&[a-z#0-9]+;".r.findAllIn(pt).size
      var c = pt.replaceAll("<[^>]+>", " ")
      for ((e, ch) <- Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&")) c = c.replace(e, ch)
      (nTags, nEnt, c.replaceAll("\\s+", " ").trim)
    }
    assert(rows(1L) == expected(1L, "x <i>y</i> z &amp; w &amp;lt; v"),
      s"doc 1 diverges: ${rows(1L)}")
    assert(rows(2L) == expected(2L, "plain words only"),
      s"doc 2 diverges: ${rows(2L)}")
    // the critical single-pass property, stated directly
    assert(rows(1L)._3.contains("&lt; v"),
      s"&amp;lt; must decode ONCE to &lt;, got: ${rows(1L)._3}")
    assert(rows(1L)._3.contains("x y z & w"),
      s"in-text tags must strip to spaces: ${rows(1L)._3}")
    assert(rows(3L)._3.contains("a b plain"),
      s"U+000B must collapse to a single space: '${rows(3L)._3}'")
  }

  test("gopher rules flag exactly the violated rule per crafted doc") {
    import spark.implicits._
    val clean = (Seq.fill(10)("the") ++ Seq.fill(40)("words")).mkString(" ")
    val short = "the of and word"                       // 4 tokens
    val longWords = (Seq.fill(2)("the") ++
      Seq.fill(48)("extraordinarily")).mkString(" ")    // mean len 14.3
    val digits = (Seq.fill(2)("the") ++
      Seq.fill(48)("12345")).mkString(" ")              // alpha 2/50
    val symbols = (Seq.fill(2)("the") ++ Seq.fill(38)("women") ++
      Seq.fill(10)("###")).mkString(" ")                // sym 10/50 = 0.2
    val docs = Seq(
      (0L, clean, "en", "s", 1L), (1L, short, "en", "s", 1L),
      (2L, longWords, "en", "s", 1L), (3L, digits, "en", "s", 1L),
      (4L, symbols, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q156_gopher_rules")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(6), r.getInt(7), r.getInt(8), r.getInt(9), r.getInt(10),
          r.getInt(11)))).toMap
    // (r_wordcount, r_meanlen, r_alpha, r_stop, r_symbol, keep)
    assert(rows(0L) == ((1, 1, 1, 1, 1, 1)), s"clean doc: ${rows(0L)}")
    assert(rows(1L) == ((0, 1, 1, 1, 1, 0)), s"short doc: ${rows(1L)}")
    assert(rows(2L) == ((1, 0, 1, 1, 1, 0)), s"long-word doc: ${rows(2L)}")
    assert(rows(3L)._3 == 0 && rows(3L)._6 == 0, s"digit doc: ${rows(3L)}")
    // alpha sits exactly ON the 0.8 boundary (40/50) -> passes; only
    // the symbol rule rejects
    assert(rows(4L) == ((1, 1, 1, 1, 0, 0)), s"symbol doc: ${rows(4L)}")
  }

  test("gopher repetition finds the hand-planted top n-grams through the TopKPerGroup exec") {
    import spark.implicits._
    // "ab cd ab cd ab xx": bigrams -> "ab cd"x2, "cd ab"x2, "ab xx"x1;
    // tie at cnt=2 -> lexicographically smaller "ab cd" wins.
    // doc chars = 17; frac(2) = 2*5/17.
    val docs = Seq((1L, "ab cd ab cd ab xx", "en", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val df = SparkEntry.queries("q157_gopher_repetition")(spark, dir)
    val rows = df.collect().map(r =>
      r.getInt(1) -> ((r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(rows(2) == (("ab cd", 2L, 10.0 / 17)), s"bigram: ${rows(2)}")
    assert(rows(3) == (("ab cd ab", 2L, 16.0 / 17)), s"trigram: ${rows(3)}")
    assert(rows(4)._2 == 1L, s"4-gram must be unique: ${rows(4)}")
    // the per-(doc, n) argmax is the row_number-filter shape the
    // custom strategy rewrites — the heap exec must actually fire
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerGroup "),
      "custom TopKPerGroup exec did not fire on the argmax")
  }

  test("q182 coverage: tie-band cutoff math matches hand computation; coverage is monotone") {
    import spark.implicits._
    // freq profile: 5 types x100, 20 types x10, 100 types x1
    // total mass 800; N=10 cuts INSIDE the x10 tie band
    val dir = TestSpark.makeSfDir("documents" -> Seq(
      (1L, (1 to 5).flatMap(i => Seq.fill(100)(s"a$i")).mkString(" ")),
      (2L, (1 to 20).flatMap(i => Seq.fill(10)(s"b$i")).mkString(" ")),
      (3L, (1 to 100).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text"))
    val rows = SparkEntry.queries("q182_vocab_coverage")(spark, dir)
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(rows(10) == ((10L, 550L, 800L, 550.0 / 800)),
      s"N=10 tie-band cutoff: ${rows(10)}")        // 5x100 + 5x10
    assert(rows(100) == ((100L, 775L, 800L, 775.0 / 800)),
      s"N=100: ${rows(100)}")                      // 700 + 75x1
    assert(rows(1000) == ((125L, 800L, 800L, 1.0)), // saturates at 125 types
      s"N=1000: ${rows(1000)}")
    assert(rows(10000)._2 == 800L)
    val cov = Seq(10, 100, 1000, 10000).map(rows(_)._4)
    assert(cov == cov.sorted, "coverage must be monotone in N")
  }

  test("q195 flags the template-stamped source: collapsed ttr, hot top_share") {
    import spark.implicits._
    // "syn": 10 docs, each ONE 3-token template repeated 20x — the
    // shingle distribution collapses to 3 types cycling forever;
    // "web": 10 docs of globally unique tokens — every shingle distinct
    val syn = (1 to 10).map(i =>
      (100L + i, Seq.fill(20)("buy now deal").mkString(" "), "en", "syn", 260L))
    val web = (1 to 10).map(i =>
      (200L + i, (1 to 60).map(j => s"w${i}x$j").mkString(" "), "en", "web", 400L))
    val dir = TestSpark.makeSfDir("documents" ->
      (syn ++ web).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = SparkEntry.queries("q195_source_diversity")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5),
          r.getDouble(6)))).toMap
    val (synDocs, synSh, synTypes, synTtr, synTop) = rows("syn")
    val (webDocs, webSh, webTypes, webTtr, webTop) = rows("web")
    assert(synDocs == 10L && webDocs == 10L)
    // syn: 60 tokens/doc -> 58 shingle instances, only 3 types total
    assert(synSh == 580L && synTypes == 3L, s"syn: $synSh/$synTypes")
    // web: every shingle unique -> ttr exactly 1.0
    assert(webSh == 580L && webTypes == 580L && webTtr == 1.0)
    assert(synTtr < 0.01, s"collapsed source ttr $synTtr not flagged")
    // the hottest syn shingle carries ~1/3 of the mass; web's 1/580
    assert(synTop > 0.3 && webTop < 0.01,
      s"top_share syn=$synTop web=$webTop")
  }

  test("q201 ranks the drifted source far above same-mixture sources") {
    import spark.implicits._
    // sources "a" and "b" draw from the SAME token mixture; "drift"
    // uses a disjoint vocabulary — its distribution over the corpus
    // top terms is all zeros where the mixture has mass, which is the
    // maximal chi-square shape
    val mixDoc = (1 to 60).map(j => s"common${j % 30}").mkString(" ")
    val docs = ((1 to 10).map(i => (100L + i, mixDoc, "en", "a", 300L)) ++
      (1 to 10).map(i => (200L + i, mixDoc, "en", "b", 300L)) ++
      (1 to 10).map(i =>
        (300L + i, (1 to 60).map(j => s"alien${i}x$j").mkString(" "),
          "en", "drift", 400L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q201_source_drift")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(3))
    assert(rows.head._1 == "drift",
      s"drifted source must rank first: ${rows.toSeq}")
    val byName = rows.toMap
    // the mixture itself holds 1/3 drift mass, so even identical-mix
    // sources carry chi2 from the drifted source's presence — the
    // honest behavior of a mixture-relative metric; the margin is 4x
    // here, assert 3x
    assert(byName("drift") > 3 * math.max(byName("a"), byName("b")),
      s"drift ${byName("drift")} must dwarf a=${byName("a")} b=${byName("b")}")
    // identical distributions must score identically (up to the 1e-12
    // quantization of each of the 100 contributions)
    assert(math.abs(byName("a") - byName("b")) < 1e-9,
      s"identical sources diverge: ${byName("a")} vs ${byName("b")}")
  }

  test("q203 exact quantiles: hand-computed ranks on a skewed fixture + all-equal edge") {
    import spark.implicits._
    // token counts [1, 2, 2, 3, 100]: N=5, sorted rank k picks
    // p50 k=ceil(2.5)=3 -> 2; p90 k=5 -> 100; p99/p999 k=5 -> 100
    val docs = Seq(
      (1L, "a"), (2L, "a b"), (3L, "c d"), (4L, "e f g"),
      (5L, (1 to 100).map(i => s"w$i").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q203_exact_quantiles")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows == Map("p50" -> (3L, 2L), "p90" -> (5L, 100L),
      "p99" -> (5L, 100L), "p999" -> (5L, 100L)), s"got $rows")
    // all-equal edge: every quantile lands on the single value
    val eq = Seq.tabulate(4)(i =>
      (i.toLong, "x y z w v u t", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dirEq = TestSpark.makeSfDir("documents" -> eq)
    val rowsEq = SparkEntry.queries("q203_exact_quantiles")(spark, dirEq)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rowsEq == Map("p50" -> (2L, 7L), "p90" -> (4L, 7L),
      "p99" -> (4L, 7L), "p999" -> (4L, 7L)), s"got $rowsEq")
  }

  test("q208 quality-dup matrix: per-tier dup membership, drops and token mass exact") {
    import spark.implicits._
    val good = (1 to 50).map(i => s"g$i").mkString(" ") // 50 toks, 50 uniq
    val good3 = (1 to 50).map(i => s"h$i").mkString(" ")
    val fair = Seq.fill(4)("a b c d e").mkString(" ")   // 20 toks, 5 uniq
    val fair2 = (1 to 20).map(i => s"f$i").mkString(" ") // 20 toks, 20 uniq but n<50
    val docs = Seq(
      (1L, good), (2L, good), (3L, good3),   // good tier, 1+2 dup
      (4L, fair), (5L, fair2),               // fair tier, no dups
      (6L, "x y"), (7L, "x y"))              // poor tier, dup pair
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q208_quality_dup_matrix")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)), r.getDouble(6))).toMap
    assert(rows("good")._1 == ((3L, 2L, 1L, 150L, 50L)), s"good: ${rows("good")}")
    assert(rows("good")._2 == 50.0 / 150.0)
    assert(rows("fair")._1 == ((2L, 0L, 0L, 40L, 0L)), s"fair: ${rows("fair")}")
    assert(rows("fair")._2 == 0.0)
    assert(rows("poor")._1 == ((2L, 2L, 1L, 4L, 2L)), s"poor: ${rows("poor")}")
    assert(rows("poor")._2 == 0.5)
  }

  test("q210 length drift: planted shifted source hits KS=1, identical sources tie") {
    import spark.implicits._
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // a and b: identical mix of 5×len10 + 5×len20; shift: 10×len50 —
    // the rest is entirely <= 20, so F diverges maximally below 50
    val docs = ((1 to 5).map(i => (100L + i, doc(10), "a")) ++
      (6 to 10).map(i => (100L + i, doc(20), "a")) ++
      (1 to 5).map(i => (200L + i, doc(10), "b")) ++
      (6 to 10).map(i => (200L + i, doc(20), "b")) ++
      (1 to 10).map(i => (300L + i, doc(50), "shift")))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q210_length_drift")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // shift vs rest: rest fully arrived by v=20, shift still at 0 -> KS=1
    assert(rows("shift") == ((10L, 1000000000L)), s"shift: ${rows("shift")}")
    // a vs rest (b + shift): at v=20 cum_a=10/10, cum_r=10/20 -> KS=0.5
    assert(rows("a") == ((10L, 500000000L)), s"a: ${rows("a")}")
    assert(rows("b") == rows("a"), "identical distributions must tie exactly")
  }

  test("q223 code-switch audit: window votes split on a planted bilingual doc, tie-break and fractions exact") {
    import spark.implicits._
    // doc 1: 20 es-marker tokens then 20 fr-marker tokens -> windows
    // vote [es, fr]; majority tie-break es (the q32 chain), n_minor 1,
    // minor_frac 0.5, mixed. doc 2: pure en, 25 tokens -> 2 windows
    // both en, unmixed. doc 3: 5 tokens (single short window).
    val esW = Seq.fill(6)(Seq("el", "la", "los")).flatten.take(20)
    val frW = Seq.fill(6)(Seq("le", "les", "des")).flatten.take(20)
    val enW = Seq.fill(9)(Seq("the", "is", "and")).flatten.take(25)
    val docs = Seq(
      (1L, (esW ++ frW).mkString(" "), "es", "s", 100L),
      (2L, enW.mkString(" "), "en", "s", 100L),
      (3L, "the is and x y", "en", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q223_code_switch_audit")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getString(7), r.getLong(8), r.getLong(9),
          r.getDouble(10)))).toMap
    assert(rows(1L) == ((2L, 0L, 1L, 1L, 0L, "es", 1L, 1L, 0.5)),
      s"bilingual doc wrong: ${rows(1L)}")
    assert(rows(2L) == ((2L, 2L, 0L, 0L, 0L, "en", 0L, 0L, 0.0)),
      s"pure-en doc wrong: ${rows(2L)}")
    assert(rows(3L) == ((1L, 1L, 0L, 0L, 0L, "en", 0L, 0L, 0.0)),
      s"short doc wrong: ${rows(3L)}")
  }

  test("q224 RM3: round 1 is exactly q193, expansion terms are non-query top-tf feedback terms") {
    val sf = TestSpark.sf0001
    val rm3 = SparkEntry.queries("q224_rm3_expansion")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // cross-law: with weight 1 and the same query protocol, q224's
    // first round IS q193 -- self_rank_1/rr1_q6 must match bit-exactly
    val mrr = SparkEntry.queries("q193_bm25_mrr_eval")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(rm3.keySet == mrr.keySet, s"qid sets differ")
    rm3.foreach { case (qid, (_, sr1, rr1)) =>
      assert((sr1, rr1) == mrr(qid),
        s"round-1 != q193 for qid $qid: ($sr1, $rr1) vs ${mrr(qid)}")
    }
    // expansion-term laws: <= 3 terms, none of them a query term (the
    // anti-join contract), every term non-empty
    val qt = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 8)
      .collect().map(r => r.getLong(0) ->
        r.getString(1).trim.split(s"[${graft.Dsl.WsChars}]+")
          .slice(10, 14).toSet).toMap
    rm3.foreach { case (qid, (exp, _, _)) =>
      val terms = exp.split(",").filter(_.nonEmpty).toSeq
      assert(terms.size <= 3, s"qid $qid: too many expansion terms $exp")
      assert(terms.toSet.intersect(qt(qid)).isEmpty,
        s"qid $qid: expansion leaked a query term: $exp vs ${qt(qid)}")
    }
    assert(rm3.values.exists(_._1.nonEmpty), "expansion must fire somewhere")
  }

  test("q230 blocks on the first bigram and verifies the tail; near-miss prefixes never count") {
    import spark.implicits._
    // doc 1: "stream table fish" blocks on "stream table" but the tail
    // fails verification -> no hit; then a true "stream table hash".
    // doc 2: overlapping "slow hash batch" twice ("slow hash batch
    // slow hash batch") -> 2 hits 1 doc; plus a 2-word "hash join".
    // doc 3: 1 token (no bigrams at all).
    val docs = Seq(
      (1L, "stream table fish then stream table hash", "en", "sA", 40L),
      (2L, "slow hash batch slow hash batch x hash join", "en", "sB", 43L),
      (3L, "solo", "en", "sA", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q230_phrase_blocklist_ml")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows == Map(
      ("sA", "stream table hash") -> ((1L, 1L)),
      ("sB", "slow hash batch") -> ((1L, 2L)),
      ("sB", "hash join") -> ((1L, 1L))),
      s"q230 fixture wrong: $rows")
  }

  test("q232 Gini: equal docs score 0, dominated source scores high, tie groups exact") {
    import spark.implicits._
    def doc(id: Long, n: Int, src: String) =
      (id, (1 to n).map(i => "w").mkString(" "), "en", src, n.toLong)
    // sEq: three equal docs (ties!) -> Gini 0. sDom: [1, 1, 98] ->
    // Gini (2*297 - 4*100)/300 = 0.64666..., top share 0.98.
    // sRamp: [1,2,3,4] -> (2*30 - 5*10)/40 = 0.25.
    val docs = Seq(
      doc(1, 2, "sEq"), doc(2, 2, "sEq"), doc(3, 2, "sEq"),
      doc(4, 1, "sDom"), doc(5, 1, "sDom"), doc(6, 98, "sDom"),
      doc(7, 1, "sRamp"), doc(8, 2, "sRamp"), doc(9, 3, "sRamp"),
      doc(10, 4, "sRamp"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = TestSpark.makeSfDir("documents" -> docs)
    val rows = SparkEntry.queries("q232_source_gini")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(rows("sEq") == ((3L, 6L, 2L, 2.0 / 6, 0.0)),
      s"sEq wrong: ${rows("sEq")}")
    assert(rows("sDom") == ((3L, 100L, 98L, 0.98, 194.0 / 300)),
      s"sDom wrong: ${rows("sDom")}")
    assert(rows("sRamp") == ((4L, 10L, 4L, 0.4, 10.0 / 40)),
      s"sRamp wrong: ${rows("sRamp")}")
  }
}
