package graft

import graft.tools.Profile

/** The profiler's measuring function on one small declared query. */
class ProfileSpec extends SparkSpec {

  test("Profile.measure: stages sum to the totals, shuffle is seen, the AQE-final plan has an Exchange") {
    val dir = writeDocs(Seq(
      1L -> "the quick brown fox jumps",
      2L -> "the lazy dog sleeps all day",
      3L -> "a quick brown dog barks",
      4L -> "foxes and dogs are friends"))
    val p = Profile.measure(spark, SparkEntry.queries("q_wordcount"), dir)
    val t = p.totals
    assert(t.jobs >= 1)
    assert(p.stages.nonEmpty)
    // the per-stage rows are exactly what the totals (and Bench) add up
    assert(p.stages.map(_.counts).reduce(_ + _) == t.copy(jobs = 0))
    assert(t.shuffleWriteBytes > 0)
    val plan = p.plan.getOrElse(fail("no final plan captured"))
    assert(plan.toString.contains("isFinalPlan=true"))
    assert(plan.toString.contains("Exchange"))
    val (exchanges, _, scans) = Profile.planCounts(plan)
    assert(exchanges > 0 && scans > 0)
    assert(p.constructS >= 0 && p.executeS >= 0)
  }
}
