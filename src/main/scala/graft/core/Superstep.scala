package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.checkpoint.CheckpointManager
import graft.core.LinkGraph.ID

/**
 * The Pregel-style superstep loop (Malewicz et al., SIGMOD 2010) of the
 * vector-state algorithms: one state frame keyed and hash-partitioned
 * by `id`, replaced whole every superstep. Each superstep
 *
 *   1. builds the next state's plan from the current state (`step`);
 *   2. cuts its lineage, lazily: the first action caches it;
 *   3. runs the algorithm's convergence action on it (`measure`), which
 *      is that first action;
 *   4. commits it to the checkpoint when converged or every `every`
 *      supersteps;
 *   5. releases the previous state — only now, because the measure
 *      action is what read it for the last time.
 *
 * A run with a [[CheckpointManager]] resumes from the latest superstep
 * committed under the same [[fingerprint]], re-partitioned by `id` so
 * the superstep joins stay co-partitioned with the edge table.
 *
 * Callers scope AQE off around their whole run
 * ([[SparkTuning.withoutAqe]]), not just this loop: their setup frames
 * must keep their hash partitioning too.
 */
object Superstep {

  /** Version of the meaning of the algorithms' state rows, folded into
   * every checkpoint fingerprint together with the state schema. Bump it
   * when a state changes meaning under an unchanged schema; a schema
   * change alone already refuses the old checkpoints. Version 2 is the
   * dense SSSP state (every vertex, unreached ones with null distance):
   * checkpoints written before it carry no version and are never
   * resumed. */
  val StateFormat = "state-v2"

  /** Where a run commits its state, and how often. `extras` name the
   * run's inputs besides the edge set (algorithm, sources, config) for
   * the fingerprint. */
  final case class Checkpoint(
      manager: CheckpointManager,
      algoName: String,
      every: Int,
      edges: DataFrame,
      extras: Seq[String])

  /** The final state (still cached; the caller releases it), the last
   * superstep run, and whether `measure` reported convergence. */
  final case class Outcome(state: Lineage.Handle, iterations: Int, converged: Boolean)

  private val explain = sys.env.contains("SPARK_GRAFT_EXPLAIN")

  /** The one checkpoint-compatibility rule: same edge set, same inputs,
   * same state format and schema. */
  def fingerprint(
      cm: CheckpointManager, edges: DataFrame, init: DataFrame,
      extras: Seq[String]): String =
    cm.graphFingerprint(edges, extras :+ StateFormat :+ init.schema.json: _*)

  /**
   * Run supersteps from `init` (or the resumed state) until `measure`
   * reports convergence or `maxIter` supersteps have run in total.
   * `measure` gets the next state and returns (converged, the metrics
   * recorded in the checkpoint manifest). With SPARK_GRAFT_EXPLAIN set,
   * prints the formatted plan of superstep 1.
   */
  def run(
      init: DataFrame,
      partitions: Int,
      maxIter: Int,
      checkpoint: Option[Checkpoint])(
      step: DataFrame => DataFrame)(
      measure: DataFrame => (Boolean, Map[String, Double])): Outcome = {
    val ckpt = checkpoint.map(c => (c, fingerprint(c.manager, c.edges, init, c.extras)))
    val resume = for {
      (c, fp) <- ckpt
      it <- c.manager.latestIteration(c.algoName, fp)
    } yield (it, c.manager.restore(c.algoName, it).repartition(partitions, col(ID)))

    var state = Lineage.materialize(resume.map(_._2).getOrElse(init), eager = false)
    var iter = resume.map(_._1).getOrElse(0)
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      val plan = step(state.df)
      if (iter == 1 && explain) plan.explain("formatted")
      val next = Lineage.materialize(plan, eager = false)
      val (done, metrics) = measure(next.df)
      converged = done
      for ((c, fp) <- ckpt if converged || iter % c.every == 0) {
        c.manager.commit(c.algoName, iter, next.df, metrics, fp)
      }
      state.release()
      state = next
    }
    Outcome(state, iter, converged)
  }
}
