package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.analyses.SiteReport

/** The benchmark's own checks, run by perfbench/test_perfbench.py.
  * Prints one PASS/FAIL line per check, then the per-layer metric names
  * as a JSON list on the last line; exits 1 if any check failed.
  */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println((if (ok) "PASS " else "FAIL ") + what)
    if (!ok) failures += 1
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def canonicalHash(): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest").getOrCreate()
    import spark.implicits._
    val tiny = Seq((2L, Some(1.5), "b", Seq(1.0, 2.0)), (1L, None, "a", Seq.empty[Double]))
      .toDF("z_id", "a_val", "m_name", "k_arr")
    val (n, hex) = Canon.hash(Canon.collectSorted(tiny))
    // columns by name (a_val, k_arr, m_name, z_id); doubles as hex
    // literals; rows sorted; each row newline-terminated
    val expected = "0x1.8p0\t[0x1.0p0,0x1.0p1]\tb\t2\n" + "NULL\t[]\ta\t1\n"
    expect(n == 2 && hex == sha256Hex(expected), s"canonical hash of a tiny frame ($hex)")
    expect(s"tiny\t$n\t$hex".matches("[a-z0-9_]+\t[0-9]+\t[0-9a-f]{64}"),
      "a hash line has the HASHES.tsv shape: name, row count, sha-256 hex")
    spark.stop()
  }

  def tailPercentile(): Unit = {
    expect(Stats.tailPercentile(1000).contains(99), "1000 samples: p99")
    expect(Stats.tailPercentile(100).contains(90), "100 samples: p90")
    expect(Stats.tailPercentile(99).contains(75), "99 samples: p75, p90 would leave 9 beyond")
    expect(Stats.tailPercentile(20).contains(50), "20 samples: p50")
    expect(Stats.tailPercentile(19).isEmpty, "19 samples: no percentile leaves 10 beyond")
    val all = (1 to 3000).forall { n =>
      Stats.tailPercentile(n).forall(p => n - math.ceil(n * p / 100.0).toLong >= 10)
    }
    expect(all, "every chosen percentile leaves at least ten samples beyond it")
    expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median interpolates")
  }

  private def report(site: Long, errors: String): SiteReport =
    SiteReport(site, 1095, 10.0, 0.9, 0.5, 100, false, 3, 0, 0, 0, -0.5, -1.0, -2.0, -0.1,
      -0.5, -0.6, -0.4, 100, true, errors)

  def failedChecks(): Unit = {
    val clean = new Tally
    Fleet.checkReports("fleet", 2, Seq(report(0, ""), report(1, "")), clean)
    DocArrivals.checkReplay(1, 5, "ab", 5L, Some("ab"), clean)
    expect(clean.failFrac == 0.0 && clean.attempted == 2, "clean outputs: fail_frac 0")

    val siteError = new Tally
    Fleet.checkReports("fleet", 2, Seq(report(0, ""), report(1, "quality: diverged")), siteError)
    expect(siteError.failFrac == 1.0, "a site error raises fail_frac")

    val missingSite = new Tally
    Fleet.checkReports("fleet", 2, Seq(report(0, "")), missingSite)
    expect(missingSite.failFrac == 1.0, "a missing site report raises fail_frac")

    val tamperedHash = new Tally
    DocArrivals.checkReplay(1, 5, "ab", 5L, Some("tampered"), tamperedHash)
    expect(tamperedHash.failFrac > 0.0, "a tampered expected event-set hash raises fail_frac")

    val wrongCount = new Tally
    DocArrivals.checkReplay(1, 4, "ab", 5L, None, wrongCount)
    expect(wrongCount.failFrac == 1.0, "an event count off the reference raises fail_frac")

    val differs = new Tally
    Fleet.checkSameReports("fleet", Seq(report(0, "")), Seq(report(0, "").copy(capacity = 10.5)), differs)
    expect(differs.failed == 1, "a fleet run that differs from the serial lane fails")
  }

  def main(args: Array[String]): Unit = {
    canonicalHash()
    tailPercentile()
    failedChecks()
    println(Main.PerLayer.map(Json.str).mkString("[", ",", "]"))
    sys.exit(if (failures == 0) 0 else 1)
  }
}
