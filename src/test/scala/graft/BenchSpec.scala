package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's validity stamping. Round 10's archived record
  * carried 5-11× inflated mins for five queries with
  * load_suspect=false: the co-tenant load ended before the single
  * end-of-run calibration probe, which therefore measured an idle
  * machine. The fix compares EVERY headline min to its own committed
  * idle floor. The "synthetic load" here is an injected measurement
  * function — deterministic where a real CPU-burn thread is racy — that
  * inflates exactly two queries mid-run and returns to idle timings
  * before the probe would run, reproducing the round-10 blind spot
  * shape precisely. */
class BenchSpec extends AnyFunSuite {

  test("parseFloors reads the committed bench_floor.json (every bench query has a floor)") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_floor.json")), "UTF-8")
    val floors = Floors.parse(txt)
    val benchNames = Registry.benchSet.map(_.name)
    benchNames.foreach { n =>
      assert(floors.contains(n), s"bench query $n has no committed floor")
      assert(floors(n) > 0.0 && floors(n) < 60.0, s"$n floor ${floors(n)} implausible")
    }
    assert(!floors.contains("_comment"))
  }

  test("Floors.parse returns exactly the numeric keys of the three committed floor files") {
    // the files hold one key per line; every key but `_comment` is numeric
    for ((file, n) <- Seq("bench_floor.json" -> 49, "ingest_floor.json" -> 5,
        "ann_floor.json" -> 11)) {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(file)), "UTF-8")
      val keys = txt.linesIterator.map(_.trim).filter(_.startsWith("\""))
        .map(_.drop(1).takeWhile(_ != '"')).filter(_ != "_comment").toSet
      assert(keys.size == n, s"$file: expected $n numeric keys, found ${keys.size}")
      assert(Floors.parse(txt).keySet == keys, s"$file parsed keys differ")
      assert(Floors.load(file) == Floors.parse(txt))
    }
  }

  test("a mid-run load that ends before the probe flags exactly the affected queries") {
    val floors = Map("q_a" -> 0.10, "q_b" -> 0.50, "q_c" -> 0.20, "q_d" -> 1.0)
    // co-tenant burns CPU while q_b and q_c run: their every sample
    // (min included) lands >2x floor; q_a ran before the load began and
    // q_d after it ended
    val loaded = Map(
      "q_a" -> 0.11, "q_b" -> 2.60, "q_c" -> 1.15, "q_d" -> 1.05)
    val mins = Bench.robustTimes(Seq("q_a", "q_b", "q_c", "q_d"), loaded)
      .map { case (k, ts) => k -> ts.min }.toMap
    assert(Bench.floorSuspects(mins, floors) == Seq("q_b", "q_c"),
      "exactly the two loaded queries must be flagged")
    // and the same record measured idle flags nothing
    val idle = floors.map { case (k, f) => k -> f * 1.3 }
    assert(Bench.floorSuspects(idle, floors).isEmpty)
  }

  test("boundary: exactly 2x floor is not suspect; just above is; unknown queries never flag") {
    val floors = Map("q_x" -> 0.25)
    assert(Bench.floorSuspects(Map("q_x" -> 0.50), floors).isEmpty)
    assert(Bench.floorSuspects(Map("q_x" -> 0.5001), floors) == Seq("q_x"))
    assert(Bench.floorSuspects(Map("q_new" -> 99.0), floors).isEmpty,
      "a query with no committed floor must not be flagged")
  }

  test("calib normalization: uniform ambient load cancels; a genuine regression still flags through it") {
    val floors = Map("q_a" -> 0.10, "q_b" -> 0.50, "q_c" -> 0.20,
      "q_calib" -> 0.10)
    // the round-12/14 archive shape: EVERY query ~2.5x its floor
    // because the box is busy, the calib probe included. Raw flags fire
    // on everything — the honest-but-useless record; normalized flags
    // recognize the inflation as ambient and clear.
    val ambient = Map("q_a" -> 0.25, "q_b" -> 1.30, "q_c" -> 0.52)
    val cr = Bench.calibRatio(Some(0.26), floors.get("q_calib"))
    assert(math.abs(cr - 2.6) < 1e-9)
    assert(Bench.floorSuspects(ambient, floors).toSet ==
      Set("q_a", "q_b", "q_c"), "raw flags must fire under ambient load")
    assert(Bench.floorSuspects(ambient, floors, cr).isEmpty,
      "uniform ambient inflation must cancel under calib normalization")
    // a genuine engine regression reads slow RELATIVE to the machine:
    // q_b at 6x floor while the calib reads 2x — normalized 3x > 2x
    val mixed = Map("q_a" -> 0.25, "q_b" -> 3.00, "q_c" -> 0.45)
    val cr2 = Bench.calibRatio(Some(0.20), floors.get("q_calib"))
    assert(Bench.floorSuspects(mixed, floors, cr2) == Seq("q_b"),
      "a real regression must survive the normalization")
    // an idle or UNDER-floor calib never deflates: clamp at 1
    assert(Bench.calibRatio(Some(0.05), Some(0.10)) == 1.0)
    assert(Bench.calibRatio(None, Some(0.10)) == 1.0,
      "missing probe/floor must mean no normalization, not a crash")
    assert(Bench.floorSuspects(mixed, floors,
      Bench.calibRatio(Some(0.05), Some(0.10))) ==
      Bench.floorSuspects(mixed, floors))
  }

  test("healSuspects: flagged first pass + clean idle retry stamps the better min and unflags") {
    val floors = Map("q_a" -> 0.10, "q_b" -> 0.50, "q_calib" -> 0.10)
    // first pass: q_b polluted to 5x floor; q_a clean
    val first = Seq("q_a" -> Seq(0.11, 0.12, 0.11), "q_b" -> Seq(2.5, 2.6, 2.5))
    var measured = List.empty[String]
    def retryMeasure(name: String): Double = { measured ::= name; 0.55 }
    val healed = Bench.healSuspects(first, floors, retryMeasure,
      probeIdle = () => true, cooldown = () => fail("idle probe passed — no cooldown needed"))
    // ONLY the flagged query was re-measured, min-of-3
    assert(measured == List("q_b", "q_b", "q_b"), s"re-measured: $measured")
    val mins = healed.map { case (k, ts) => k -> ts.min }.toMap
    assert(mins("q_b") == 0.55, "better of the two mins must be stamped")
    assert(healed.find(_._1 == "q_b").get._2.size == 6,
      "both runs must stay visible in the spread")
    assert(Bench.floorSuspects(mins, floors).isEmpty, "healed record still flagged")
  }

  test("healSuspects: a genuinely-owned slow query keeps its flag after an idle-confirmed retry") {
    val floors = Map("q_b" -> 0.50)
    val first = Seq("q_b" -> Seq(2.5, 2.6, 2.5))
    val healed = Bench.healSuspects(first, floors, _ => 2.4,
      probeIdle = () => true, cooldown = () => ())
    val mins = healed.map { case (k, ts) => k -> ts.min }.toMap
    assert(Bench.floorSuspects(mins, floors) == Seq("q_b"),
      "an idle-confirmed slow query is owned, not load — flag must survive")
    assert(mins("q_b") == 2.4, "the retry min still improves the record")
  }

  test("healSuspects: a machine that never goes idle leaves the record untouched (flags stand)") {
    val floors = Map("q_b" -> 0.50)
    val first = Seq("q_b" -> Seq(2.5, 2.6, 2.5))
    var cooldowns = 0
    val healed = Bench.healSuspects(first, floors,
      _ => fail("must not re-measure on a loaded machine"),
      probeIdle = () => false, cooldown = () => cooldowns += 1,
      maxCooldowns = 4)
    assert(healed == first, "loaded machine: results must be untouched")
    assert(cooldowns == 4, s"expected 4 cooldown rounds, got $cooldowns")
  }

  test("healSuspects: clean first pass does nothing (no probe, no cooldown, no re-measure)") {
    val floors = Map("q_a" -> 0.10)
    val first = Seq("q_a" -> Seq(0.11, 0.12, 0.11))
    val healed = Bench.healSuspects(first, floors,
      _ => fail("no re-measure"), () => fail("no probe"), () => fail("no cooldown"))
    assert(healed == first)
  }

  test("ingest_floor.json parses and carries every IngestScale metric (the pipeline's committed floors)") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("ingest_floor.json")), "UTF-8")
    val floors = Floors.parse(txt)
    for (k <- Seq("build_sec", "marker_skip_sec", "repair_replay_sec",
        "cold_docs_per_sec", "min_warm_docs_per_sec")) {
      assert(floors.contains(k), s"ingest floor $k missing")
      assert(floors(k) > 0.0, s"$k floor ${floors(k)} implausible")
    }
    // structural sanity of the committed record: the marker skip is the
    // no-I/O path and must be orders cheaper than the repair replay
    assert(floors("marker_skip_sec") < floors("repair_replay_sec") / 10,
      "marker skip floor should be far below the repair floor")
    // the cold/warm split exists BECAUSE the first batch runs well
    // under the warm curve — a floor pair where cold >= warm would
    // mean the split measured nothing
    assert(floors("cold_docs_per_sec") < floors("min_warm_docs_per_sec"),
      "cold floor must sit below the warm floor")
    assert(!floors.contains("_comment"))
  }

  test("IngestScale floor flags: time metrics flag high, cold/warm throughput each flag low against their OWN floor") {
    val floors = Map("build_sec" -> 10.0, "repair_replay_sec" -> 4.0,
      "marker_skip_sec" -> 0.001, "cold_docs_per_sec" -> 70.0,
      "min_warm_docs_per_sec" -> 150.0)
    // idle-shaped record: nothing flags — note the cold batch at 75
    // would be 'under half' of a SHARED 150 floor (the dulled-alarm
    // shape); against its own floor it is healthy
    assert(tools.IngestScale.floorSuspects(Map(
      "build_sec" -> 12.0, "repair_replay_sec" -> 5.0,
      "marker_skip_sec" -> 0.004, "cold_docs_per_sec" -> 75.0,
      "min_warm_docs_per_sec" -> 145.0),
      floors).isEmpty)
    // regressions: slow build, slow repair, marker past its 5x band,
    // both throughputs under half their own floors
    assert(tools.IngestScale.floorSuspects(Map(
      "build_sec" -> 21.0, "repair_replay_sec" -> 9.0,
      "marker_skip_sec" -> 0.006, "cold_docs_per_sec" -> 30.0,
      "min_warm_docs_per_sec" -> 70.0),
      floors).toSet == Set("build_sec", "repair_replay_sec",
        "marker_skip_sec", "cold_docs_per_sec", "min_warm_docs_per_sec"))
    // a warm regression flags even while the cold batch is healthy —
    // the alarm the shared floor had dulled
    assert(tools.IngestScale.floorSuspects(Map(
      "build_sec" -> 11.0, "repair_replay_sec" -> 4.2,
      "marker_skip_sec" -> 0.002, "cold_docs_per_sec" -> 72.0,
      "min_warm_docs_per_sec" -> 72.0),
      floors) == Seq("min_warm_docs_per_sec"))
    // no committed floors -> nothing ever flags
    assert(tools.IngestScale.floorSuspects(
      Map("build_sec" -> 99.0), Map.empty).isEmpty)
  }

  test("ann_floor.json parses and carries every AnnScale metric (the ANN maintainer's committed floors)") {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("ann_floor.json")), "UTF-8")
    val floors = Floors.parse(txt)
    for (k <- Seq("build_sec", "rebalance_sec", "replay_skip_sec",
        "cold_vecs_per_sec", "min_warm_vecs_per_sec",
        "probe_p50_sec", "probe_p99_sec",
        "probe_p50_under_rebalance_sec", "probe_p99_under_rebalance_sec",
        "filtered_probe_p50_sec", "filtered_probe_p99_sec")) {
      assert(floors.contains(k), s"ann floor $k missing")
      assert(floors(k) > 0.0, s"$k floor ${floors(k)} implausible")
    }
    assert(floors("cold_vecs_per_sec") < floors("min_warm_vecs_per_sec"),
      "cold floor must sit below the warm floor")
    assert(floors("probe_p50_sec") <= floors("probe_p99_sec"),
      "quiesced p50 must sit at or below p99")
    assert(floors("probe_p50_under_rebalance_sec") <=
      floors("probe_p99_under_rebalance_sec"),
      "under-rebalance p50 must sit at or below p99")
    assert(floors("filtered_probe_p50_sec") <=
      floors("filtered_probe_p99_sec"),
      "filtered p50 must sit at or below p99")
    assert(!floors.contains("_comment"))
  }

  test("AnnScale floor flags: times flag high at 2x, cold/warm vec throughput flag low at half their own floors") {
    val floors = Map("build_sec" -> 5.0, "rebalance_sec" -> 8.0,
      "replay_skip_sec" -> 1.0, "cold_vecs_per_sec" -> 400.0,
      "min_warm_vecs_per_sec" -> 900.0,
      "probe_p99_under_rebalance_sec" -> 0.5)
    assert(tools.AnnScale.floorSuspects(Map(
      "build_sec" -> 6.0, "rebalance_sec" -> 9.0,
      "replay_skip_sec" -> 1.4, "cold_vecs_per_sec" -> 420.0,
      "min_warm_vecs_per_sec" -> 880.0,
      "probe_p99_under_rebalance_sec" -> 0.8), floors).isEmpty)
    assert(tools.AnnScale.floorSuspects(Map(
      "build_sec" -> 11.0, "rebalance_sec" -> 17.0,
      "replay_skip_sec" -> 2.5, "cold_vecs_per_sec" -> 150.0,
      "min_warm_vecs_per_sec" -> 400.0), floors).toSet ==
      Set("build_sec", "rebalance_sec", "replay_skip_sec",
        "cold_vecs_per_sec", "min_warm_vecs_per_sec"))
    // a serving-latency regression UNDER maintenance flags on its own
    // floor even while every build/append metric is healthy — the
    // eager retry must not buy availability with unbounded latency
    assert(tools.AnnScale.floorSuspects(Map(
      "build_sec" -> 5.2, "rebalance_sec" -> 8.1,
      "replay_skip_sec" -> 1.0, "cold_vecs_per_sec" -> 410.0,
      "min_warm_vecs_per_sec" -> 950.0,
      "probe_p99_under_rebalance_sec" -> 1.2), floors) ==
      Seq("probe_p99_under_rebalance_sec"))
    assert(tools.AnnScale.floorSuspects(
      Map("rebalance_sec" -> 99.0), Map.empty).isEmpty)
    // the round-18 filtered serving path flags on its own floors
    assert(tools.AnnScale.floorSuspects(
      Map("filtered_probe_p99_sec" -> 1.3),
      Map("filtered_probe_p99_sec" -> 0.6)) ==
      Seq("filtered_probe_p99_sec"))
    // nearest-rank percentiles: exact order statistics, no interpolation
    assert(tools.AnnScale.pct(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(tools.AnnScale.pct(Seq(3.0, 1.0, 2.0), 0.99) == 3.0)
    assert(tools.AnnScale.pct(Seq(5.0), 0.5) == 5.0)
    assert(tools.AnnScale.pct((1 to 100).map(_.toDouble), 0.99) == 99.0)
  }

  test("robustTimes retries an outlier run and keeps the honest min") {
    // one GC-hit sample among fast ones: retry fires (max > 2x min),
    // at most 2 extra runs, min survives
    var calls = Map.empty[String, Int].withDefaultValue(0)
    val times = Map("q" -> Seq(0.9, 0.1, 0.11, 0.1, 0.1))
    def measure(name: String): Double = {
      val i = calls(name); calls += name -> (i + 1); times(name)(i)
    }
    val out = Bench.robustTimes(Seq("q"), measure)
    assert(out.head._2.min == 0.1)
    assert(out.head._2.size == 5, "expected 3 base runs + 2 retries")
  }
}
