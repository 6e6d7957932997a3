package perfbench

import java.io.File

import scala.collection.mutable

/**
 * Proves the harness on tiny inputs: the listener attributes a known
 * job's tasks and shuffle to its span, every workload passes the gate
 * clean, and each perturbed output is reported as a failed op.
 * Returns the process exit code.
 */
object SelfTest {

  def run(o: Main.Opts): Int = {
    val spark = Main.session()
    val sc = spark.sparkContext
    val storage = new StorageListener
    val layers = new LayerListener
    sc.addSparkListener(storage)
    sc.addSparkListener(layers)
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"perfbench selftest ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) bad += what
    }

    // A span around a known job: range (defaultParallelism tasks)
    // → round-robin exchange into k partitions (k tasks) → one final
    // count task.
    val k = 3
    val tr = new Tracer(sc, "selftest")
    tr.span("selftest.known_job") { spark.range(100000).repartition(k).count() }
    spark.range(1000).count() // untagged: must not land in the span
    expect(Drain(() => layers.progress), "listener bus drains")
    val c = layers.snapshot("selftest.known_job").getOrElse(new SpanCounters)
    val want = sc.defaultParallelism + k + 1
    expect(c.tasks == want, s"known job: ${c.tasks} tasks attributed, want $want")
    expect(c.shuffleWriteBytes > 0, s"known job: shuffle_write_mb = ${c.shuffleWriteBytes / 1e6} > 0")
    expect(c.jobs >= 1 && c.jobMs.size == c.jobs, s"known job: ${c.jobs} jobs, all ended")
    sc.removeSparkListener(layers)

    val runner = new Main.Runner(spark, storage)
    def bumpLong(target: String): Tamper = new Tamper {
      override def longs(op: String, m: Map[Long, Long]): Map[Long, Long] =
        if (op != target || m.isEmpty) m else { val (v, x) = m.minBy(_._1); m.updated(v, x + 1) }
    }
    val bumpRank: Tamper = new Tamper {
      override def ranks(m: Map[String, Double]): Map[String, Double] = {
        val (u, r) = m.minBy(_._1)
        m.updated(u, r + 1e-5)
      }
    }
    val perturbations: Map[String, Seq[(String, Tamper)]] = Map(
      WebPageRank.name -> Seq("algos.pagerank" -> bumpRank),
      WebCommunities.name -> Seq("algos.wcc", "checkpoint.resumed_run", "algos.lpa", "algos.triangles")
        .map(op => op -> bumpLong(op)))

    for (wl <- Workloads.all) {
      val dir = new File(new File(o.work, "selftest"), wl.name)
      Workloads.delete(dir)
      val prep = wl.setup(Ctx(spark, Main.cpus, dir), 1L, Sizes.tiny)
      prep.reference()
      runner.markBaseline()
      for (traced <- Seq(false, true)) {
        val r = runner.rep(prep, new Tracer(sc, s"selftest-${wl.name}"), traced)
        val failures = r.failures.filter(_._2.nonEmpty)
        expect(r.failed == 0 && r.attempted == r.spans.size,
          s"${wl.name} (traced=$traced): ${r.attempted} ops pass the gate clean" +
            (if (failures.isEmpty) "" else s"; failures: $failures"))
      }
      for ((op, t) <- perturbations(wl.name)) {
        val r = runner.rep(prep, new Tracer(sc, s"selftest-${wl.name}"), traced = false, t)
        expect(r.failed == 1 && r.failures.get(op).exists(_.nonEmpty),
          s"${wl.name}: perturbed $op output is a failed op (${r.failures.getOrElse(op, Nil).headOption.getOrElse("not caught")})")
      }
      prep.release()
      runner.dropLeftovers()
      Workloads.delete(dir)
    }
    spark.stop()
    println(s"perfbench selftest ${if (bad.isEmpty) "passed" else s"FAILED: ${bad.size} checks"}")
    if (bad.isEmpty) 0 else 1
  }
}
