package graft

import java.nio.file.{Files, Paths}
import graft.pipeline.Main
import graft.tools.{Profile, StageLedger}

/** The profiler's measuring function on one small declared query, and the
  * phase names its stage lines carry. */
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

  test("StageLedger: every Main.run stage carries its action's phase; the caller's description returns") {
    def res(name: String): String =
      Paths.get(getClass.getResource(s"/parity/$name").toURI).toString
    val out = Files.createTempDirectory("graft_phase").toString
    val sc = spark.sparkContext
    val ledger = new StageLedger(sc)
    sc.setJobDescription("caller")
    try {
      Main.run(spark, res("reviews.json"), res("stopwords.txt"), out, 75)
      val stages = ledger.stages
      assert(stages.nonEmpty)
      assert(stages.forall(_.phase.startsWith("Main.run: ")),
        stages.map(s => s"${s.name} phase='${s.phase}'").mkString("\n"))
      assert(stages.map(_.phase).distinct.sorted == Seq("category counts",
        "chi2 top-k", "chisq write", "wordcount write").map("Main.run: " + _))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally {
      ledger.close()
      sc.setJobDescription(null)
    }
  }
}
