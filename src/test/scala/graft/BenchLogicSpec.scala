package graft

import org.apache.spark.sql.graft.Listeners

import graft.tools.ProbeListener

/** The bench's scoring rules (pure logic) and its timing loop over the
  * shared session: counts that repeat exactly, and no probe left behind.
  */
class BenchLogicSpec extends SparkTestBase {

  test("warmupShaped: strictly-decreasing samples, >=1.5x AND >0.2s first-to-last") {
    // p8_model 3.52 -> 2.16 -> 1.83: plainly still warming up
    assert(Bench.warmupShaped(List(3.52, 2.16, 1.83)))
    // two-sample variant fires too
    assert(Bench.warmupShaped(List(2.0, 1.2)))
    // non-monotone samples: interference noise, not warmup — median/min
    // scoring owns it
    assert(!Bench.warmupShaped(List(3.5, 1.8, 2.2)))
    // shallow decrease (< 1.5x first/last): trend, not warmup
    assert(!Bench.warmupShaped(List(1.9, 1.5, 1.4)))
    // sub-second warmup shapes fire too: a 0.9→0.4 decay earns its
    // steady-state sample
    assert(Bench.warmupShaped(List(0.9, 0.6, 0.4)))
    // …but a 0.25→0.1 decay is jitter-scale (delta <= 0.2 s), not warmup
    assert(!Bench.warmupShaped(List(0.25, 0.15, 0.1)))
    // equal adjacent samples are NOT strictly decreasing
    assert(!Bench.warmupShaped(List(3.0, 3.0, 1.5)))
    // degenerate inputs never fire
    assert(!Bench.warmupShaped(Nil))
    assert(!Bench.warmupShaped(List(1.5)))
    assert(!Bench.warmupShaped(List(2.0, 0.0)))
  }

  test("failed samples never score: needsThirdSample / scoreSamples") {
    // a transient failure returns fast — it must trigger a third run and
    // stay out of the score, not land as a fake min
    assert(Bench.needsThirdSample(List((12.0, true), (0.05, false))))
    assert(Bench.scoreSamples(List((12.0, true), (0.05, false), (11.8, true))) === 11.8)
    // sub-second median stays the policy over successful samples
    assert(Bench.needsThirdSample(List((0.4, true), (0.5, true))))
    assert(Bench.scoreSamples(List((0.5, true), (0.3, true), (0.4, true))) === 0.4)
    // with one failure among three, the median picks the LARGER of the
    // two good samples (conservative — never a fake speedup)
    assert(Bench.scoreSamples(List((0.5, true), (0.03, false), (0.4, true))) === 0.5)
    // >=1s agreeing pair: no third sample, min scores
    assert(!Bench.needsThirdSample(List((2.0, true), (2.2, true))))
    assert(Bench.scoreSamples(List((2.0, true), (2.2, true))) === 2.0)
    // >=1s bad disagreement still earns the third sample
    assert(Bench.needsThirdSample(List((2.0, true), (4.0, true))))
    // every run failed: report the MAX of the failed walls — visibly
    // elevated, adjudicated by the correctness gate not the bench
    assert(Bench.scoreSamples(List((0.04, false), (0.06, false), (0.05, false))) === 0.06)
  }

  test("run times named queries with their costs and detaches its probe") {
    def probes(): Int =
      Listeners.names(spark).count(_.startsWith(classOf[ProbeListener].getName))
    // the helper sees both listeners a probe attaches
    val p = ProbeListener.attach(spark)
    assert(probes() === 2)
    p.detach()
    assert(probes() === 0)
    val sf = "/root/testdata/sf0.001"
    val names = Seq("q1_agg", "a1_stats")
    val first = Bench.run(spark, sf, names)
    val second = Bench.run(spark, sf, names)
    assert(first.map(_._1) === names)
    (first ++ second).foreach { case (n, t) =>
      assert(t.costs.jobs > 0, n)
      assert(t.samples.length >= 2 && t.samples.contains(t.score), n)
    }
    assert(first.map { case (n, t) => n -> t.costs.jobs } ===
      second.map { case (n, t) => n -> t.costs.jobs })
    val e = intercept[IllegalArgumentException](
      Bench.run(spark, sf, Seq("q1_agg", "no_such_query")))
    assert(e.getMessage.contains("unknown query name(s): no_such_query"))
    assert(probes() === 0)
  }
}
