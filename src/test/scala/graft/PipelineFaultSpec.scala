package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.analyses.Pipeline

/** Fleet fault isolation (the reference's per-site error channel,
  * `sdt_dask/dask_tool/runner.py:54-60`: every site row carries its
  * own stage-error fields and one failing site never takes down the
  * fleet run): inject a fault into one site and assert (a) its
  * SiteReport row records the stage error, (b) every OTHER site's row
  * is byte-identical to the clean run's, and (c) the fleet row count
  * is unchanged. This is the multi-tenant semantics a 100 TB fleet
  * operator depends on most — one bad logger must not perturb, or
  * abort, the other 49,999 sites.
  *
  * Every solver stage is deliberately total on real data (empty /
  * all-NaN / ±Inf / 1-day inputs all degrade gracefully — probed
  * before this spec was written), so the throw path is exercised
  * through the pipeline's explicit chaos seam (`faultInjector`), and
  * graceful degradation under a data-level poison is asserted
  * separately.
  */
class PipelineFaultSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  private lazy val fleet = graft.sources.Synth
    .pvFleet(spark, nSites = 4, nDays = 40, slotsPerDay = 96)
    .select(col("site"), col("ts"), col("power"))

  private lazy val clean = Pipeline.run(spark, fleet, "site", "ts", "power")
    .collect().map(r => r.site -> r).toMap

  test("an injected stage fault lands in that site's error channel; every other site is byte-identical") {
    val faulty = Pipeline.run(spark, fleet, "site", "ts", "power",
      faultInjector = (site, stageName) =>
        if (site == 2L && stageName == "loss")
          throw new IllegalStateException("injected loss-stage fault"))
      .collect().map(r => r.site -> r).toMap

    assert(clean.keySet == faulty.keySet, "the faulted site must not drop from the fleet")
    assert(clean.values.forall(_.errors.isEmpty),
      s"clean fleet must carry no errors: ${clean.values.map(_.errors)}")
    val bad = faulty(2L)
    assert(bad.errors.contains("loss") && bad.errors.contains("injected"),
      s"the faulted site's error channel must name the stage: '${bad.errors}'")
    // the faulted stage falls back to its default, the rest of the
    // site's stages still ran
    assert(bad.lossDegradation.isNaN && !bad.qualityScore.isNaN,
      s"only the faulted stage should degrade: $bad")
    // fault isolation: all healthy sites bit-equal to the clean run
    // (case-class equality compares every field, including the solver
    // outputs — any cross-site perturbation breaks this)
    Seq(0L, 1L, 3L).foreach { s =>
      assert(clean(s) == faulty(s),
        s"site $s perturbed by the faulted site:\nclean  ${clean(s)}\nfaulty ${faulty(s)}")
    }
  }

  test("a data-level poison (2-day site) degrades that site gracefully and perturbs nobody") {
    val t0 = fleet.agg(min(col("ts"))).collect()(0).getTimestamp(0)
    val cutoff = new java.sql.Timestamp(t0.getTime + 2L * 86400 * 1000)
    val poisoned = fleet.filter(col("site") =!= 2L || col("ts") < lit(cutoff))
    val faulty = Pipeline.run(spark, poisoned, "site", "ts", "power")
      .collect().map(r => r.site -> r).toMap
    assert(clean.keySet == faulty.keySet, "the poisoned site must not drop from the fleet")
    val bad = faulty(2L)
    assert(bad.nDays == 2, s"poisoned site should have kept 2 days, got ${bad.nDays}")
    assert(bad.errors.isEmpty, s"a tiny site degrades gracefully, no error: '${bad.errors}'")
    Seq(0L, 1L, 3L).foreach { s =>
      assert(clean(s) == faulty(s),
        s"site $s perturbed by the poisoned site:\nclean  ${clean(s)}\nfaulty ${faulty(s)}")
    }
  }

  test("a fatal fault (interrupt) escapes analyzeSite; a non-fatal one lands in errors") {
    val days = Array.tabulate(40) { i =>
      graft.analyses.DayRow(site = 7L, dayIdx = i.toDouble, energy = 5.0 + math.sin(i / 3.0),
        density = 0.9, dailyMax = 1.0, comHour = 12.0, nObs = 96L, capacity = 1.0,
        smoothness = 0.1)
    }
    def faultAt(e: Exception): String => Unit = name => if (name == "quality") throw e
    val report = Pipeline.analyzeSite(7L, days,
      faultInjector = faultAt(new IllegalStateException("injected quality fault")))
    assert(report.errors.contains("quality") && report.qualityScore.isNaN,
      s"a non-fatal stage fault must be recorded: '${report.errors}'")
    intercept[InterruptedException] {
      Pipeline.analyzeSite(7L, days, faultInjector = faultAt(new InterruptedException("injected")))
    }
  }
}
