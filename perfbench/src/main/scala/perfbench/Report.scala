package perfbench

import Main.{Rep, median}

/** Turns runs and traces into named metrics: (name, (value, unit)). */
object Report {

  type Metrics = Seq[(String, (Double, String))]

  def num(d: Double): String = f"$d%.4f"

  // ---- end to end (untraced runs) ----

  def endToEnd(setups: Seq[Double], reps: Seq[Rep]): Metrics = Seq(
    "setup_s" -> (median(setups), "s"),
    "run_s" -> (median(reps.map(_.runS)), "s"),
    "superstep_ms" -> (median(reps.map(_.superstepMs)), "ms"),
    "gteps" -> (median(reps.map(_.gteps)), "GTEPS"),
    "peak_storage_mb" -> (median(reps.map(_.peakBytes / 1e6)), "MB"))

  /** The per-algorithm view of the same runs, for the calls a workload
   * makes: time to each result, PageRank GTEPS, the cost of one failure
   * (killed plus resumed run) and the failed-op share. */
  def workloadMetrics(wl: Workload, setups: Seq[Double], reps: Seq[Rep],
      attempted: Int, failed: Int): Metrics = {
    def med(name: String) =
      if (wl.spans.contains(name)) Some(median(reps.flatMap(_.wall(name)))) else None
    val pagerank = if (!wl.spans.contains("algos.pagerank")) Nil else Seq(
      "pagerank_s" -> (med("algos.pagerank").get, "s"),
      "pagerank_gteps" -> (median(reps.flatMap { r =>
        r.spans.find(_.name == "algos.pagerank").map(s =>
          s.iterations.get * r.edges("algos.pagerank") / s.wallS / 1e9)
      }), "GTEPS"))
    val recovered = if (!wl.spans.contains("checkpoint.resumed_run")) Nil else Seq(
      "recovered_wcc_s" -> (median(reps.map(r =>
        r.wall("checkpoint.killed_run").get + r.wall("checkpoint.resumed_run").get)), "s"))
    val algos = Seq("wcc_s" -> "algos.wcc", "lpa_s" -> "algos.lpa",
      "triangles_s" -> "algos.triangles").flatMap { case (k, s) => med(s).map(v => k -> (v, "s")) }
    Seq("setup_s" -> (median(setups), "s"), "run_s" -> (median(reps.map(_.runS)), "s")) ++
      pagerank ++ algos ++ recovered ++ Seq(
      "peak_storage_mb" -> (median(reps.map(_.peakBytes / 1e6)), "MB"),
      "ops_failed_frac" -> (failed.toDouble / attempted, "failed/attempted"),
      "ops_attempted" -> (attempted.toDouble, "count"))
  }

  // ---- per layer (the traced run) ----

  val SpanNames: Seq[String] = Seq(
    "extract.pages_to_edges", "core.renumber_map", "core.graph_build", "algos.pagerank",
    "core.decode", "core.symmetrize", "algos.wcc", "algos.lpa", "algos.triangles",
    "checkpoint.killed_run", "checkpoint.restore", "checkpoint.resumed_run")
  private val Superstep = Set("algos.pagerank", "algos.wcc", "algos.lpa",
    "checkpoint.killed_run", "checkpoint.resumed_run")
  private val JobTimes = Superstep + "algos.triangles"
  private val Skew = Set("algos.pagerank", "algos.lpa")
  private val Output = Set("checkpoint.killed_run", "checkpoint.resumed_run")

  /** (counter, unit) for every counter a span reports. */
  def counters(span: String): Seq[(String, String)] =
    Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "task_s" -> "s", "slot_busy" -> "ratio", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB") ++
      (if (Superstep(span)) Seq("iterations" -> "count", "s_per_iter" -> "s") else Nil) ++
      (if (JobTimes(span)) Seq("job_p50_s" -> "s", "job_tail_s" -> "s") else Nil) ++
      (if (Skew(span)) Seq("task_skew" -> "ratio") else Nil) ++
      (if (Output(span)) Seq("output_mb" -> "MB") else Nil)

  /** Highest percentile of `xs` with at least 10 samples beyond it
   * (nearest rank), as (percentile, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .map(p => (p, math.max(1, math.ceil(p / 100 * s.size).toInt)))
      .find { case (_, rank) => s.size - rank >= 10 }
      .map { case (p, rank) => (p, s(rank - 1)) }
  }

  /** Every per-layer metric. Spans the workload does not open report 0
   * and are named in the notes, with every other absent value. */
  def perLayer(wl: Workload, spans: Seq[Span], layers: LayerListener,
      overhead: Double): (Metrics, Seq[String]) = {
    val notes = Seq.newBuilder[String]
    val ms = SpanNames.flatMap { name =>
      val span = spans.find(_.name == name)
      val c = layers.snapshot(name).getOrElse(new SpanCounters)
      if (span.isEmpty) notes += s"$name: not called by ${wl.name}, all counters 0"
      val wall = span.map(_.wallS).getOrElse(0.0)
      val taskS = c.taskMs / 1e3
      val iters = span.flatMap(_.iterations).getOrElse(0)
      val jobS = c.jobMs.map(_ / 1e3).toSeq
      val tl = tail(jobS)
      if (span.nonEmpty && JobTimes(name) && tl.isEmpty)
        notes += s"$name.job_tail_s: ${jobS.size} jobs, fewer than 20, reported 0"
      tl.foreach { case (p, _) => notes += s"$name.job_tail_s: p$p of ${jobS.size} jobs" }
      val reduce = c.stageShuffleRead.values.filter(_.sum > 0).toSeq
        .sortBy(-_.sum).headOption.map(_.map(_.toDouble).toSeq)
      if (span.nonEmpty && Skew(name) && reduce.isEmpty)
        notes += s"$name.task_skew: no stage read shuffle data, reported 0"
      val values = Map(
        "wall_s" -> wall,
        "jobs" -> c.jobs.toDouble,
        "stages" -> c.stages.toDouble,
        "tasks" -> c.tasks.toDouble,
        "task_s" -> taskS,
        "slot_busy" -> (if (wall > 0) taskS / (Main.cpus * wall) else 0.0),
        "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
        "spill_mb" -> c.spillBytes / 1e6,
        "iterations" -> iters.toDouble,
        "s_per_iter" -> (if (iters > 0) wall / iters else 0.0),
        "job_p50_s" -> (if (jobS.isEmpty) 0.0 else median(jobS)),
        "job_tail_s" -> tl.map(_._2).getOrElse(0.0),
        "task_skew" -> reduce.map(r => r.max / math.max(median(r), 1.0)).getOrElse(0.0),
        "output_mb" -> c.outputBytes / 1e6)
      counters(name).map { case (k, u) => s"$name.$k" -> (values(k), u) }
    }
    (ms :+ ("trace.overhead_s" -> (overhead, "s")), notes.result())
  }

  def traceJson(tr: Tracer, metrics: Metrics, notes: Seq[String]): String = {
    val t0 = tr.spans.map(_.startNs).minOption.getOrElse(0L)
    Json.obj(
      "run_id" -> Json.str(tr.runId),
      "spans" -> Json.arr(tr.spans.map(s => Json.obj(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "start_s" -> Json.num((s.startNs - t0) / 1e9), "end_s" -> Json.num((s.endNs - t0) / 1e9),
        "iterations" -> s.iterations.map(_.toString).getOrElse("null")))),
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) => k -> Json.metric(v, u) }: _*),
      "notes" -> Json.arr(notes.map(Json.str)))
  }
}
