package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.queries.{Q, Registry}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.functions.{lit, raise_error}

/** Pins BenchWarm's per-rep harness: the counted witness each row
  * carries, the listener's lifetime, failure reporting, and the
  * canary block's handling of a failed parallel probe. */
class BenchWarmSpec extends SparkSpec {

  private def q5 = Registry.byName("q5_regional_revenue")
  /** A query whose job fails while the noop sink runs it. */
  private def failsAtRun(msg: String) =
    Q("fails_at_run", (s, _) => s.range(10).select(raise_error(lit(msg))), None)

  test("a rep counts jobs >= 1, stages >= jobs and tasks >= stages") {
    val r = BenchWarm.runRep(spark, q5, sf)
    assert(r.failure.isEmpty, r.failure)
    val t = r.trace
    assert(t.jobs >= 1)
    assert(t.stages >= t.jobs, s"${t.stages} stages < ${t.jobs} jobs")
    assert(t.tasks >= t.stages, s"${t.tasks} tasks < ${t.stages} stages")
    assert(t.jobMs.size == t.jobs, "every started job also ended")
  }

  test("the rep's listener is removed after the rep, failed or not") {
    val ok = BenchWarm.runRep(spark, q5, sf)
    val failed = BenchWarm.runRep(spark, failsAtRun("boom"), sf)
    val counts = Seq(ok, failed).map(r => (r.trace.jobs, r.trace.stages, r.trace.tasks))
    spark.range(100).count()
    ListenerBus.drain(spark.sparkContext)
    assert(Seq(ok, failed).map(r => (r.trace.jobs, r.trace.stages, r.trace.tasks)) == counts,
      "a later job reached a rep's listener")
  }

  test("a query that throws is reported as failed, not timed as fast") {
    val atBuild = BenchWarm.runRep(spark,
      Q("boom_build", (_, _) => throw new IllegalStateException("boom at build"), None), sf)
    assert(atBuild.failure.exists(_.contains("boom at build")), atBuild.failure)
    val atRun = BenchWarm.runRep(spark, failsAtRun("boom at run"), sf)
    assert(atRun.failure.exists(_.contains("boom at run")), atRun.failure)
    assert(atRun.trace.jobs >= 1, "the failing job ran under the rep's listener")
  }

  test("a failed cpuPar probe emits a null cpu_par_index and an unusable rule") {
    assert(BenchWarm.canaryIndex(-1.0, 0.5).isEmpty)
    assert(BenchWarm.canaryIndex(1.0, 0.5).contains(2.0))
    def parse(block: String) =
      new ObjectMapper().readTree("{" + block.trim.stripSuffix(",") + "}")
    val bad = parse(BenchWarm.canaryJson(0.9, -1.0, 0.5, 0.4, 0.5))
    assert(bad.get("cpu_par_index").isNull)
    assert(bad.get("canary").get("cpu_par_sec").isNull)
    assert(!bad.get("normalization").get("usable").asBoolean())
    val good = parse(BenchWarm.canaryJson(0.9, 0.5, 0.5, 0.4, 0.5))
    assert(good.get("cpu_par_index").asDouble() == 1.0)
    assert(good.get("normalization").get("usable").asBoolean())
  }
}
