package graft

import org.scalatest.funsuite.AnyFunSuite

/** The byte-regression diff logic (round-11 verdict ask #5) and the
  * committed-record parse it diffs against — pure, so they get a plain
  * unit spec with no Spark session.
  */
class BenchGateSpec extends AnyFunSuite {

  test("byte regression gate: >10% AND >1MB growth flags, everything else passes") {
    val prior = Map(
      "q_a" -> ((100.0, 100.0)), // big query
      "q_b" -> ((0.2, 0.3)),     // tiny exchange
      "q_c" -> ((10.0, 10.0)),
      "q_d" -> ((50.0, 0.0)))
    val cur = Map(
      "q_a" -> ((115.0, 115.0)), // +15% and +30 MB → regression
      "q_b" -> ((2.0, 3.0)),     // +900% and +4.5 MB → regression
      "q_c" -> ((10.5, 10.5)),   // +5% → under the ratio floor
      "q_d" -> ((50.0, 1.05)),   // +2.1% (though +1.05 MB) → ratio saves it
      "q_new" -> ((999.0, 999.0))) // no committed baseline → not a regression
    val got = Bench.byteRegressions(prior, cur)
    assert(got == Seq(
      ("q_a", 200.0, 230.0),
      ("q_b", 0.5, 5.0)))
  }

  test("byte regression gate: absolute floor keeps AQE jitter on tiny exchanges quiet") {
    // +50% but only +0.9 MB — a partition-count wobble, not a plan change
    val got = Bench.byteRegressions(
      Map("q_t" -> ((1.0, 0.8))), Map("q_t" -> ((1.5, 1.2))))
    assert(got.isEmpty)
  }

  test("byte regression gate: empty prior (first round at a new sf) flags nothing") {
    assert(Bench.byteRegressions(Map.empty,
      Map("q_a" -> ((5.0, 5.0)))).isEmpty)
  }

  test("pair regression gate: >10% drift in EITHER direction flags, floors keep small families quiet") {
    val prior = Map(
      "q_grow" -> 500L,  // +20% and +100 pairs → cost drift
      "q_drop" -> 500L,  // −20% and −100 pairs → recall drift
      "q_tiny" -> 15L,   // 15 → 16: +6.7% and tiny absolute → quiet
      "q_small" -> 40L,  // +15% but only +6 pairs → absolute floor saves it
      "q_flat" -> 800L)  // unchanged (counts are deterministic)
    val cur = Map(
      "q_grow" -> 600L, "q_drop" -> 400L, "q_tiny" -> 16L,
      "q_small" -> 46L, "q_flat" -> 800L,
      "q_new" -> 9999L)  // no committed baseline → never flags
    assert(Bench.pairRegressions(prior, cur) == Seq(
      ("q_drop", 500L, 400L), ("q_grow", 500L, 600L)))
  }

  test("suspect pre-flag: >3x committed AND >0.5s absolute, name-sorted") {
    val prior = Map("q_a" -> 1.0, "q_b" -> 0.1, "q_c" -> 2.0, "q_d" -> 5.0)
    val rows = Seq(
      "q_a" -> 4.0,   // 4x and 4s → suspect
      "q_b" -> 0.4,   // 4x but under the absolute floor → quiet
      "q_c" -> 5.0,   // 2.5x → under the ratio → quiet
      "q_d" -> 30.0,  // 6x → suspect
      "q_new" -> 99.0) // no committed baseline → never flags
    assert(Bench.suspectRows(rows, prior) == Seq("q_a", "q_d"))
  }

  test("self-heal min-merge: keeps the min, reports improvements only, slower re-runs change nothing") {
    val rows = Seq("q_a" -> 4.0, "q_b" -> 2.0, "q_c" -> 1.0)
    val (healed, report) = Bench.healMerge(rows,
      Map("q_a" -> 1.1,   // re-run faster → heal to the min
          "q_b" -> 3.0))  // re-run slower (still contended) → keep original
    assert(healed == Seq("q_a" -> 1.1, "q_b" -> 2.0, "q_c" -> 1.0))
    assert(report == Seq(("q_a", 4.0, 1.1)))
    // row order is preserved — the record's query map stays name-stable
    assert(healed.map(_._1) == rows.map(_._1))
  }

  test("stale shuffle dirs: dead pid-stamped and legacy names sweep, live and foreign stay") {
    val live = Set(100L, 200L)
    val names = Seq(
      "graft-shuffle-pid100",   // live run → keep
      "graft-shuffle-pid4242",  // dead run → sweep
      "graft-shuffle",          // legacy un-stamped → always stale
      "graft-shuffle-pidXYZ",   // malformed → not ours, keep
      "spark-0a1b2c",           // foreign Spark dir → NEVER touched
      "somethingelse")
    assert(Verify.staleShuffleDirs(names, live.contains) ==
      Seq("graft-shuffle-pid4242", "graft-shuffle"))
    // a liveness probe that throws must fail SAFE (keep the dir)
    assert(Verify.staleShuffleDirs(Seq("graft-shuffle-pid7"),
      _ => throw new RuntimeException("no /proc")).isEmpty)
  }

  private def committed(name: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(name))

  /** The scale-factor dir a committed record was measured at. */
  private def sfOf(json: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("sf").asText

  test("committed record parse: seconds and shuffle come from their own maps, by field") {
    val json = committed("BENCH_LOCAL_r15.json")
    val (secs, shuf) = Bench.priorRecord(json, sfOf(json))
    assert(secs.size == 204 && shuf.size == 204)
    // pair_counts follows queries in the record and carries the same
    // names: q_containment emitted 256 pairs but ran 1.925 s
    assert(secs("q_containment") == 1.925)
    assert(secs("q_winnow_overlap") == 1.847)
    assert(shuf("q_ann_topk") == ((2.17, 1.1)))
    assert(Bench.priorRecord(json, sfOf(json) + "-other") ==
      ((Map.empty, Map.empty)))
  }

  test("committed pair census parse: only the record for this sf counts") {
    val json = committed("pairs_sf01.json")
    val pairs = Bench.pairCensus(json, sfOf(json))
    assert(pairs.size == 11)
    assert(pairs("q_winnow_overlap") == 980L)
    assert(Bench.pairCensus(json, sfOf(json) + "-other").isEmpty)
  }

  test("pid liveness: own pid is live, an impossible pid is not") {
    assert(Verify.pidAlive(ProcessHandle.current.pid))
    assert(!Verify.pidAlive(0x7ffffff0L))
  }
}
