package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/**
 * The link-graph benchmark.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  [--work <dir>] [--size bench|tiny]
 *   perfbench.Main --selftest [--work <dir>]
 *
 * One run: start a session, set the workload up three times (median =
 * `setup_s`), build the reference, run the pipeline once untimed to warm
 * the JVM up, then repeat the timed pipeline while another run fits in
 * `--seconds` and report medians. Every layer call is one op; an op fails if it throws or its
 * output fails the gate. With `--trace 1` one more, traced run follows
 * and the per-layer metrics are printed instead. The last stdout line
 * is the result object.
 */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      selftest: Boolean = false,
      size: Sizes = Sizes.bench,
      work: String = "perfbench/work")

  val Setups = 3
  val CleanerPauseMs = 300L
  val WarmupRuns = 1

  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case Nil => o
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v match {
        case "1" => true
        case "0" => false
        case _ => throw new IllegalArgumentException(s"--trace takes 0 or 1, got $v")
      }), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--size" :: "tiny" :: t => go(o.copy(size = Sizes.tiny), t)
      case "--size" :: "bench" :: t => go(o.copy(size = Sizes.bench), t)
      case "--selftest" :: t => go(o.copy(selftest = true), t)
      case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
    }
    go(Opts(), args.toList)
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      val o = parse(args)
      if (o.selftest) SelfTest.run(o) else { bench(o); 0 }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  def session(): SparkSession = {
    val s = graft.Bench.newSession(cpus.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark's local cores: two, leaving the machine's other cores to the
   * driver, JIT and GC threads, so that a run does not queue its own
   * threads behind each other on a small shared host. */
  def cpus: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One timed pipeline run and what the gate made of it. */
  final case class Rep(
      runS: Double,
      spans: Seq[Span],
      edges: Map[String, Long],
      peakBytes: Long,
      attempted: Int,
      failures: Map[String, Seq[String]]) {
    def failed: Int = failures.count(_._2.nonEmpty)

    private def supersteps = spans.filter(_.iterations.exists(_ > 0))
    def superstepMs: Double =
      supersteps.map(_.wallS).sum * 1e3 / supersteps.map(_.iterations.get).sum
    def gteps: Double =
      supersteps.map(s => s.iterations.get * edges.getOrElse(s.name, 0L).toDouble).sum /
        supersteps.map(_.wallS).sum / 1e9
    def wall(name: String): Option[Double] =
      spans.find(_.name == name).map(_.wallS)
  }

  /**
   * Everything one workload run holds between set-up and the timed runs:
   * the block-manager level after set-up, which every run must return
   * to, and the listener that tracks peak storage.
   */
  final class Runner(spark: SparkSession, storage: StorageListener) {
    private val sc: SparkContext = spark.sparkContext
    private var baseRdds: Set[Int] = persistentIds
    private var baseBytes: Long = cachedBytes

    def persistentIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def cachedBytes: Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    /** Take the current cache state as the level runs return to. */
    def markBaseline(): Unit = { baseRdds = persistentIds; baseBytes = cachedBytes }

    /** Unpersist every RDD cached since the baseline. */
    def dropLeftovers(): Unit =
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseRdds(id)) rdd.unpersist(blocking = true)
      }

    /** Problems with the cache state against the baseline (empty = back
     * at the set-up level). */
    def storageProblems(): Seq[String] = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var ids = persistentIds
      var bytes = cachedBytes
      while ((ids != baseRdds || bytes != baseBytes) && System.nanoTime() < deadline) {
        Thread.sleep(50)
        ids = persistentIds
        bytes = cachedBytes
      }
      (if (ids == baseRdds) Nil else Seq(s"cached RDDs ${ids.toSeq.sorted} != set-up ${baseRdds.toSeq.sorted}")) ++
        (if (bytes == baseBytes) Nil else Seq(s"cached bytes $bytes != set-up $baseBytes"))
    }

    /** One run of the pipeline: time it, check it, then release what it
     * cached. A run that throws fails every op it attempted. */
    def rep(prep: Prepared, tr: Tracer, traced: Boolean, tamper: Tamper = Tamper.none): Rep = {
      // Collect the previous run's garbage, and give the context cleaner
      // a moment to delete the shuffle files that frees, before timing.
      System.gc()
      Thread.sleep(CleanerPauseMs)
      Drain(() => storage.progress)
      storage.resetPeak(persistentIds)
      val t0 = System.nanoTime()
      val out = Try(prep.run(tr, traced))
      val runS = secondsSince(t0)
      Drain(() => storage.progress)
      val peak = storage.peak
      val rep = out match {
        case Success(o) =>
          val failures = Try(o.check(tamper)) match {
            case Success(f) => f
            case Failure(e) => o.ops.map(_ -> Seq(s"check threw $e")).toMap
          }
          o.release()
          Rep(runS, tr.spans, o.edges, peak, o.ops.size, failures)
        case Failure(e) =>
          e.printStackTrace()
          val ops = tr.spans.map(_.name)
          Rep(runS, tr.spans, Map.empty, peak, ops.size, ops.map(_ -> Seq(s"threw $e")).toMap)
      }
      dropLeftovers()
      val leaks = storageProblems()
      if (leaks.isEmpty) rep
      else rep.copy(attempted = rep.attempted + 1, failures = rep.failures + ("cleanup" -> leaks))
    }
  }

  def bench(o: Opts): Unit = {
    require(o.workload.nonEmpty, "--workload is required")
    val wl = Workloads.byName(o.workload)
    val dir = new File(o.work, wl.name)
    Workloads.delete(dir)
    dir.mkdirs()

    val tSession = System.nanoTime()
    val spark = session()
    val sessionS = secondsSince(tSession)
    val sc = spark.sparkContext
    val storage = new StorageListener
    sc.addSparkListener(storage)
    val ctx = Ctx(spark, cpus, dir)
    val runner = new Runner(spark, storage)

    // Set-up, several times; the last one is kept.
    val setups = mutable.ArrayBuffer.empty[Double]
    var prep: Prepared = null
    for (i <- 1 to Setups) {
      if (prep != null) { prep.release(); runner.dropLeftovers() }
      System.gc()
      val t0 = System.nanoTime()
      prep = wl.setup(ctx, o.seed, o.size)
      setups += secondsSince(t0)
    }
    val tRef = System.nanoTime()
    prep.reference()
    val refS = secondsSince(tRef)
    runner.markBaseline()

    // Warm-up: an untimed, checked run of the pipeline on the same input.
    // With the JIT settings run.py passes, the first run after a fresh
    // JVM is ~10% slower than later ones, which then agree within ~2%.
    val tWarm = System.nanoTime()
    val warm = (1 to WarmupRuns).map { i =>
      val r = runner.rep(prep, new Tracer(sc, s"${wl.name}-${o.seed}-warmup$i"), traced = false)
      println(s"perfbench warmup $i run_s=${Report.num(r.runS)}")
      r
    }
    val warmS = secondsSince(tWarm)

    // Timed runs while another one still fits in the time; at least one.
    val reps = mutable.ArrayBuffer.empty[Rep]
    val loops = mutable.ArrayBuffer.empty[Double]
    val tTimed = System.nanoTime()
    while (reps.isEmpty ||
        (secondsSince(tTimed) + median(loops.toSeq) <= o.seconds && reps.last.failed == 0)) {
      val t0 = System.nanoTime()
      val h0 = Host.now()
      val r = runner.rep(prep, new Tracer(sc, s"${wl.name}-${o.seed}-${reps.size}"), traced = false)
      val h1 = Host.now()
      reps += r
      loops += secondsSince(t0)
      println(s"perfbench run ${reps.size} run_s=${Report.num(r.runS)} " +
        s"cpu_s=${Report.num(h1._1 - h0._1)} steal_s=${Report.num(h1._2 - h0._2)} " +
        s"peak_mb=${Report.num(r.peakBytes / 1e6)} " +
        r.spans.map(s => s"${s.name}=${Report.num(s.wallS)}").mkString(" "))
    }
    val timedS = secondsSince(tTimed)

    val traced = if (!o.trace) None else {
      val layers = new LayerListener
      sc.addSparkListener(layers)
      val tr = new Tracer(sc, s"${wl.name}-${o.seed}-traced")
      val rep = runner.rep(prep, tr, traced = true)
      Drain(() => layers.progress)
      sc.removeSparkListener(layers)
      Some((rep, tr, layers))
    }
    prep.release()

    val all = warm ++ reps ++ traced.map(_._1)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    all.flatMap(_.failures).filter(_._2.nonEmpty).foreach { case (op, why) =>
      System.err.println(s"FAILED $op: ${why.mkString("; ")}")
    }

    val e2e = Report.endToEnd(setups.toSeq, reps.toSeq)
    println(s"perfbench ${wl.name} seed=${o.seed} session_s=${Report.num(sessionS)} " +
      s"warmup_s=${Report.num(warmS)} reference_s=${Report.num(refS)} " +
      s"timed_s=${Report.num(timedS)} setups=${setups.map(Report.num).mkString(",")} " +
      s"iterations=${reps.last.spans.flatMap(s => s.iterations.map(i => s"${s.name}:$i")).mkString(",")}")
    println("perfbench report " + Json.obj(
      Report.workloadMetrics(wl, setups.toSeq, reps.toSeq, attempted, failed)
        .map { case (k, (v, u)) => k -> Json.metric(v, u) }: _*))

    val metrics = traced match {
      case None => e2e
      case Some((rep, tr, layers)) =>
        val overhead = rep.runS - median(reps.map(_.runS).toSeq)
        val (perLayer, notes) = Report.perLayer(wl, tr.spans, layers, overhead)
        notes.foreach(n => println(s"perfbench trace note: $n"))
        val file = new File(dir.getParentFile, s"trace-${wl.name}-seed${o.seed}.json")
        Files.write(file.toPath, Report.traceJson(tr, perLayer, notes).getBytes(StandardCharsets.UTF_8))
        println(s"perfbench trace written to ${file.getPath}")
        perLayer
    }
    spark.stop()
    println(Json.obj(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) => k -> Json.metric(v, u) }: _*)))
  }
}

/** Host counters: (this process's CPU seconds, the machine's steal
 * seconds summed over its CPUs). Steal is time the hypervisor ran
 * something else while a CPU of this machine had work. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): (Double, Double) = {
    val steal = Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+")(8).toDouble / 100 finally src.close()
    }.getOrElse(0.0)
    (os.getProcessCpuTime / 1e9, steal)
  }
}

/** Minimal JSON writer. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
  def metric(v: Double, unit: String): String = obj("value" -> num(v), "unit" -> str(unit))
}
