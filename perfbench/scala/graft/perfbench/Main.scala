package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession

/** The benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  * }}}
  *
  * Prints, as its last stdout line, one JSON object with `attempted`,
  * `failed` and `values` (metric name to number): the end-to-end
  * metrics when `--trace 0`, every per-layer metric when `--trace 1`.
  */
object Main {

  /** Per-layer metrics; a workload that does not reach a layer reports 0. */
  val PerLayer: Seq[String] = Seq(
    "GraftSession.start_s", "sources.stage_s", "trace.op_s_p50", "trace.spans",
    "analyses.day_rows_s", "analyses.day_rows_task_s", "analyses.day_rows_shuffle_mb",
    "analyses.day_rows_spill_mb", "analyses.day_rows_gc_s", "analyses.day_rows_skew",
    "analyses.run_s", "analyses.run_jobs", "analyses.run_stages", "analyses.run_tasks",
    "analyses.run_shuffle_mb", "analyses.run_task_s", "analyses.run_gc_s",
    "solvers.lane_s", "solvers.site_ms_p50", "solvers.site_ms_max",
    "solvers.qff_ms", "solvers.cdf_pwl_ms",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.plan_ms",
    "streaming.latest_offset_ms", "streaming.wal_commit_ms", "streaming.state_rows",
    "streaming.state_mem_mb", "streaming.state_commit_ms", "streaming.state_update_ms",
    "functions.band_sigs_s")

  /** Inputs are staged this many times per run; setup_s takes the median. */
  val StageReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.byName(opts("workload")).getOrElse {
      System.err.println(s"unknown workload ${opts("workload")}; known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val tracer = new Tracer(trace)
    val counters = if (trace) Some(new SparkCounters) else None
    val streamCounters = if (trace) Some(new StreamCounters) else None
    val ctx = new Ctx(opts("seed").toLong, opts("seconds").toDouble, tracer, counters, streamCounters,
      work, Paths.get(opts("data")).toAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = tracer.span("GraftSession.start")(GraftSession.local(cores.toString))
    val startS = (System.nanoTime() - t0) / 1e9
    counters.foreach(spark.sparkContext.addSparkListener)
    streamCounters.foreach(spark.streams.addListener)
    val stageS = (1 to StageReps).map { i =>
      if (i > 1) workload.release(spark)
      val t = System.nanoTime()
      tracer.span("sources.stage")(workload.stage(spark, ctx))
      (System.nanoTime() - t) / 1e9
    }
    val tally = new Tally
    val tw = System.nanoTime()
    tracer.span("warmup")(workload.warmup(spark, ctx, tally))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = startS + Stats.median(stageS) + warmS
    System.err.println(f"[perfbench] setup: session $startS%.2f s, stage ${stageS.map(x => f"$x%.2f").mkString("/")} s, warm-up $warmS%.2f s")

    val m = workload.measure(spark, ctx, tally)
    val opP50 = Stats.median(m.opSeconds)
    val values =
      if (!trace)
        Map("setup_s" -> setupS, "op_s_p50" -> opP50, "items_per_s" -> m.itemsPerS,
          "peak_rss_mb" -> peakRssMb())
      else {
        val layers = workload.layers(spark, ctx, tally) ++ Workloads.kernelLayers(ctx) ++ Map(
          "GraftSession.start_s" -> startS,
          "sources.stage_s" -> Stats.median(stageS),
          "trace.op_s_p50" -> opP50,
          "trace.spans" -> tracer.all.length.toDouble)
        PerLayer.map(_ -> 0.0).toMap ++ layers
      }
    if (trace) Files.writeString(work.resolve("trace.json"), traceJson(workload.name, ctx.seed, tracer, m))
    val ts = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] stop ${(System.nanoTime() - ts) / 1e9}%.2f s")
    tally.reasons.foreach(r => System.err.println(s"[perfbench] check failed: $r"))
    val vs = values.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    println(s"""{"attempted":${tally.attempted},"failed":${tally.failed},"values":${vs.mkString("{", ",", "}")}}""")
  }

  /** Spans, self time per span name, and the timed operations with the
    * highest percentile that has at least ten of them beyond it.
    */
  def traceJson(workload: String, seed: Long, tracer: Tracer, m: Measured): String = {
    val byName = tracer.totals.toSeq.sortBy(-_._2._2).map { case (n, (tot, own)) =>
      s"""${Json.str(n)}:{"total_s":${Json.num(tot)},"self_s":${Json.num(own)}}"""
    }.mkString("{", ",", "}")
    val tail = Stats.tailPercentile(m.opSeconds.length).map { p =>
      s"""{"percentile":$p,"seconds":${Json.num(Stats.quantile(m.opSeconds, p / 100.0))}}"""
    }.getOrElse("null")
    s"""{"workload":${Json.str(workload)},"seed":$seed,""" +
      s""""op_seconds":${m.opSeconds.map(Json.num).mkString("[", ",", "]")},"op_tail":$tail,""" +
      s""""by_name":$byName,"spans":${tracer.toJson}}""" + "\n"
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
