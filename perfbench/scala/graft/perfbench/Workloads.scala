package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analyses.{DayRow, Pipeline, SiteReport}
import graft.sources.{Synth, Tables}
import graft.streaming.DocStream

/** What one run needs: its seed, its time budget, the tracer and (in
  * the traced run) the Spark and streaming counters.
  */
final class Ctx(
    val seed: Long,
    val seconds: Double,
    val tracer: Tracer,
    val counters: Option[SparkCounters],
    val streamCounters: Option[StreamCounters],
    val work: Path,
    val data: Path)

/** Operations attempted and failed, with the first few failure reasons. */
final class Tally {
  var attempted = 0
  var failed = 0
  val reasons = ArrayBuffer.empty[String]
  def op(ok: Boolean, why: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (reasons.length < 20) reasons += why }
  }
  /** A check that is not an operation of its own: it fails the run but
    * does not add to `attempted`.
    */
  def check(ok: Boolean, why: => String): Unit =
    if (!ok) { failed += 1; if (reasons.length < 20) reasons += why }
  def failFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
}

/** The timed operations of one run and the work rate they give. */
final case class Measured(opSeconds: Seq[Double], itemsPerS: Double)

/** One workload: stage its inputs, warm up untimed, then measure. */
trait Workload {
  def name: String
  def stage(spark: SparkSession, ctx: Ctx): Unit
  def release(spark: SparkSession): Unit
  /** Untimed; an operation it runs is checked like a measured one. */
  def warmup(spark: SparkSession, ctx: Ctx, tally: Tally): Unit
  /** Closed loop: the next operation starts when the previous returns. */
  def measure(spark: SparkSession, ctx: Ctx, tally: Tally): Measured
  /** Traced run only: this workload's per-layer figures. */
  def layers(spark: SparkSession, ctx: Ctx, tally: Tally): Map[String, Double]

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `op` at least `minOps` times, then again while the last run's
    * duration says the next one ends within `seconds`.
    */
  protected def loop(seconds: Double, minOps: Int)(op: => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    while (i < minOps || secs(t0) + last <= seconds) {
      val t = System.nanoTime()
      op
      last = secs(t)
      i += 1
    }
  }
}

object Workloads {
  def all: Seq[Workload] = Seq(
    // few rows per site-day over three years, two sites per core: the
    // per-site solver lane and the relational day-grain layer both weigh
    new Fleet("pv_fleet_hourly", sites = 8, days = 1095, slots = 24),
    new DocArrivals)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** A seeded 3-year daily series with an annual cycle: one site's input
    * to the solver kernels.
    */
  def daySeries(seed: Long, n: Int = 1095): (Array[Double], Array[Double]) = {
    val rng = new scala.util.Random(seed)
    val t = Array.tabulate(n)(_.toDouble)
    val y = t.map(d => 5.0 + 1.5 * math.sin(2 * math.Pi * d / 365.2425) + 0.3 * rng.nextGaussian())
    (y, t)
  }

  /** Median milliseconds of `reps` calls of `f`. */
  def medianMs(reps: Int)(f: => Any): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  /** The solver kernels' cost on one site's day series, in every traced run. */
  def kernelLayers(ctx: Ctx): Map[String, Double] = {
    val (y, t) = daySeries(ctx.seed)
    val sorted = y.sorted
    Map(
      "solvers.qff_ms" -> medianMs(7)(ctx.tracer.span("solvers.quantileFourierFit") {
        graft.solvers.Kernels.quantileFourierFit(y, t, tau = 0.9, harmonics = 2)
      }),
      "solvers.cdf_pwl_ms" -> medianMs(7)(ctx.tracer.span("solvers.cdfPwlFit") {
        graft.solvers.Kernels.cdfPwlFit(sorted, lambdaD2 = 100.0)
      }))
  }
}

/** `Pipeline.run` over a seed-perturbed synthetic fleet. The seed sets
  * each site's capacity scale and noise phase and drops a few days per
  * site; the program sees only the resulting (site, ts, power) rows.
  */
final class Fleet(val name: String, sites: Int, days: Int, slots: Int) extends Workload {
  private var input: DataFrame = _
  private var rows = 0L
  private val DroppedDaysPerSite = 3
  /** Untimed runs before measuring: run times keep falling for the first few. */
  private val WarmRuns = 3

  def stage(spark: SparkSession, ctx: Ctx): Unit = {
    val rng = new scala.util.Random(ctx.seed)
    val scale = Array.fill(sites)(0.8 + 0.4 * rng.nextDouble())
    val phase = Array.fill(sites)(2 * math.Pi * rng.nextDouble())
    val dropped = (0 until sites).flatMap { s =>
      rng.shuffle((0 until days).toVector).take(DroppedDaysPerSite).map(d => s.toLong * days + d)
    }
    val siteIx = col("site").cast("int") + 1
    val power = col("power") * element_at(typedLit(scale.toSeq), siteIx) *
      (lit(1.0) + lit(0.02) * sin(col("slot").cast("double") * 0.37 + col("day").cast("double") * 1.3 +
        element_at(typedLit(phase.toSeq), siteIx)))
    input = Synth.pvFleet(spark, sites, days, slots)
      .filter(!(col("site") * days + col("day")).isin(dropped: _*))
      .select(col("site"), col("ts"), power.as("power"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rows = input.count()
  }

  def release(spark: SparkSession): Unit = if (input != null) input.unpersist(blocking = true)

  private def run(spark: SparkSession): Array[SiteReport] =
    Pipeline.run(spark, input, "site", "ts", "power").collect()

  def warmup(spark: SparkSession, ctx: Ctx, tally: Tally): Unit = (1 to WarmRuns).foreach { i =>
    val t0 = System.nanoTime()
    run(spark)
    System.err.println(f"[perfbench] $name warm-up run $i ${secs(t0)}%.3f s")
  }

  def measure(spark: SparkSession, ctx: Ctx, tally: Tally): Measured = {
    val times = ArrayBuffer.empty[Double]
    loop(ctx.seconds, minOps = 3) {
      System.gc()
      ctx.tracer.nextOp()
      val t0 = System.nanoTime()
      val reports = ctx.tracer.span("analyses.Pipeline.run")(run(spark))
      times += secs(t0)
      System.err.println(f"[perfbench] $name run ${times.length} ${times.last}%.3f s")
      Fleet.checkReports(name, sites, reports, tally)
    }
    Measured(times.toSeq, rows / Stats.median(times.toSeq))
  }

  def layers(spark: SparkSession, ctx: Ctx, tally: Tally): Map[String, Double] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val counters = ctx.counters.get
    ctx.tracer.nextOp()
    System.gc()
    val t0 = System.nanoTime()
    val (dayRows, d) = counters.window(sc) {
      ctx.tracer.span("analyses.dayRows") {
        Pipeline.dayRows(input, "site", "ts", "power")
          .select(col("site"), col("day_idx").as("dayIdx"), col("energy"),
            col("density"), col("daily_max").as("dailyMax"),
            col("com_hour").as("comHour"), col("n_obs").as("nObs"),
            col("capacity"), col("smoothness"))
          .as[DayRow].collect()
      }
    }
    val dayRowsS = secs(t0)
    System.gc()
    val t1 = System.nanoTime()
    val (reports, r) = counters.window(sc)(ctx.tracer.span("analyses.Pipeline.run")(run(spark)))
    val runS = secs(t1)
    Fleet.checkReports(name, sites, reports, tally)
    // the solver lane, single-threaded on the collected day rows
    val siteMs = ArrayBuffer.empty[Double]
    val lane = dayRows.groupBy(_.site).toSeq.sortBy(_._1).map { case (s, ds) =>
      val t = System.nanoTime()
      val rep = ctx.tracer.span("solvers.analyzeSite")(Pipeline.analyzeSite(s, ds.sortBy(_.dayIdx)))
      siteMs += (System.nanoTime() - t) / 1e6
      rep
    }
    Fleet.checkSameReports(name, reports.toSeq, lane, tally)
    Map(
      "analyses.day_rows_s" -> dayRowsS,
      "analyses.day_rows_task_s" -> d.taskS,
      "analyses.day_rows_shuffle_mb" -> d.shuffleMb,
      "analyses.day_rows_spill_mb" -> d.spillMb,
      "analyses.day_rows_gc_s" -> d.gcS,
      "analyses.day_rows_skew" -> d.skew,
      "analyses.run_s" -> runS,
      "analyses.run_jobs" -> r.jobs.toDouble,
      "analyses.run_stages" -> r.stages.toDouble,
      "analyses.run_tasks" -> r.tasks.toDouble,
      "analyses.run_shuffle_mb" -> r.shuffleMb,
      "analyses.run_task_s" -> r.taskS,
      "analyses.run_gc_s" -> r.gcS,
      "solvers.lane_s" -> siteMs.sum / 1e3,
      "solvers.site_ms_p50" -> Stats.median(siteMs.toSeq),
      "solvers.site_ms_max" -> siteMs.max)
  }
}

object Fleet {
  /** One operation: one report per site, none with stage errors. */
  def checkReports(name: String, sites: Int, reports: Seq[SiteReport], tally: Tally): Unit = {
    val bad = reports.filter(_.errors.nonEmpty)
    tally.op(reports.length == sites && reports.map(_.site).toSet == (0L until sites).toSet &&
      bad.isEmpty,
      s"$name: ${reports.length} reports for $sites sites" +
        bad.headOption.map(r => s", site ${r.site} errors: ${r.errors}").getOrElse(""))
  }

  /** The fleet run must equal the single-threaded lane, value for value. */
  def checkSameReports(name: String, run: Seq[SiteReport], lane: Seq[SiteReport], tally: Tally): Unit = {
    def canon(rs: Seq[SiteReport]): Seq[String] =
      rs.sortBy(_.site).map(_.productIterator.map(Canon.fmt).mkString("\t"))
    tally.check(canon(run) == canon(lane),
      s"$name: Pipeline.run reports differ from analyzeSite on the collected day rows")
  }
}

/** Documents arriving one parquet file at a time into the stateful LSH
  * candidate stream. The seed draws which documents take part and in
  * which file each arrives; each file landing triggers one AvailableNow
  * run on a shared checkpoint.
  */
final class DocArrivals extends Workload {
  val name = "doc_stream"
  val Docs = 1000
  val Arrivals = 5
  private val WarmReplays = 1
  private var nDocs = 0L
  private var refEvents = -1L
  private var firstSet: Option[String] = None
  private var replays = 0
  private var staged: Path = _

  def stage(spark: SparkSession, ctx: Ctx): Unit = {
    // the stream's state-store partitions, sized to the state volume
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val docs = Tables.documents(spark, ctx.data.resolve("docs").toString)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val chosen = new scala.util.Random(ctx.seed).shuffle(ids.toVector).take(Docs)
    nDocs = chosen.length
    staged = ctx.work.resolve("staged")
    import spark.implicits._
    val assign = chosen.zipWithIndex.map { case (id, i) => (id, i % Arrivals) }.toDF("doc_id", "arrival")
    // one file per arrival, rows in doc_id order: staged/arrival=<k>/part-*.parquet
    docs.join(broadcast(assign), "doc_id")
      .repartition(Arrivals, col("arrival")).sortWithinPartitions("arrival", "doc_id")
      .write.mode("overwrite").partitionBy("arrival").parquet(staged.toString)
  }

  def release(spark: SparkSession): Unit = ()

  private def partFile(k: Int): Path = {
    val s = Files.list(staged.resolve(s"arrival=$k"))
    try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally s.close()
  }

  /** Land arrival `k`'s file in `src` (copy, then an atomic rename). */
  private def land(src: Path, k: Int): Unit = {
    Files.createDirectories(src)
    val tmp = src.getParent.resolve(s".landing-$k.parquet")
    Files.copy(partFile(k), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, src.resolve(s"arrival-$k.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def fresh(ctx: Ctx, label: String): Path = {
    val d = ctx.work.resolve(label)
    Main.deleteTree(d)
    Files.createDirectories(d)
    d
  }

  /** (count, canonical hash) of the (a_id, b_id, band) events emitted. */
  private def events(out: DataFrame): (Int, String) =
    Canon.hash(Canon.collectSorted(out.select(col("a_id"), col("b_id"), col("band"))))

  /** The reference (every document in a single arrival), then an
    * untimed replay: arrival times fall most over the first one.
    */
  def warmup(spark: SparkSession, ctx: Ctx, tally: Tally): Unit = {
    val d = fresh(ctx, "reference")
    (0 until Arrivals).foreach(k => land(d.resolve("src"), k))
    val out = DocStream.incrementalLshCandidates(spark, d.resolve("src").toString,
      d.resolve("ckpt").toString, d.resolve("out").toString)
    refEvents = events(out)._1
    (1 to WarmReplays).foreach(_ => replay(spark, ctx, tally))
  }

  /** One replay: returns each arrival's seconds from landing to commit. */
  private def replay(spark: SparkSession, ctx: Ctx, tally: Tally): Seq[Double] = {
    val d = fresh(ctx, s"replay-$replays")
    val src = d.resolve("src")
    var out: DataFrame = null
    val lat = (0 until Arrivals).map { k =>
      ctx.tracer.nextOp()
      land(src, k)
      val t0 = System.nanoTime()
      out = ctx.tracer.span("streaming.incrementalLshCandidates") {
        DocStream.incrementalLshCandidates(spark, src.toString,
          d.resolve("ckpt").toString, d.resolve("out").toString)
      }
      secs(t0)
    }
    val (n, hex) = events(out)
    DocArrivals.checkReplay(replays, n, hex, refEvents, firstSet, tally)
    if (firstSet.isEmpty) firstSet = Some(hex)
    System.err.println(f"[perfbench] $name replay $replays ${lat.sum}%.3f s, $n events, arrivals ${lat.map(x => f"$x%.2f").mkString("/")}")
    replays += 1
    Main.deleteTree(d)
    lat
  }

  def measure(spark: SparkSession, ctx: Ctx, tally: Tally): Measured = {
    val arrivals = ArrayBuffer.empty[Double]
    val replayS = ArrayBuffer.empty[Double]
    // three replays at least: fifteen arrivals for the median, so a
    // slow spell over one replay moves it little
    loop(ctx.seconds, minOps = 3) {
      System.gc()
      val lat = replay(spark, ctx, tally)
      arrivals ++= lat
      replayS += lat.sum
    }
    Measured(arrivals.toSeq, nDocs / Stats.median(replayS.toSeq))
  }

  def layers(spark: SparkSession, ctx: Ctx, tally: Tally): Map[String, Double] = {
    val before = ctx.streamCounters.get.all.length
    replay(spark, ctx, tally)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val bs = ctx.streamCounters.get.all.drop(before)
    def dur(k: String) = Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    val docs = spark.read.parquet(staged.toString)
    val t0 = System.nanoTime()
    ctx.tracer.span("functions.bandSigs") {
      docs.select(explode(DocStream.bandSigs(col("text"), 3, 32, 4)).as("bs"))
        .write.format("noop").mode("overwrite").save()
    }
    Map(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.plan_ms" -> dur("queryPlanning"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.state_rows" -> bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_mem_mb" -> bs.lastOption.map(_.stateMemB / 1048576.0).getOrElse(0.0),
      "streaming.state_commit_ms" -> Stats.median(bs.map(_.stateCommitMs.toDouble)),
      "streaming.state_update_ms" -> Stats.median(bs.map(_.stateUpdateMs.toDouble)),
      "functions.band_sigs_s" -> secs(t0))
  }
}

object DocArrivals {
  /** One replay is one operation: its event count must equal the
    * single-arrival reference. Which pairs a full bucket admits depends
    * on arrival order, so only the count is compared with the reference;
    * every replay of one split must emit the identical set.
    */
  def checkReplay(replay: Int, events: Int, hex: String, refEvents: Long, firstSet: Option[String],
      tally: Tally): Unit = {
    tally.op(events == refEvents,
      s"replay $replay: $events (a_id, b_id, band) events, one arrival gave $refEvents")
    tally.check(firstSet.forall(_ == hex), s"replay $replay emitted a different event set")
  }
}
