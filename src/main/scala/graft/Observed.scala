package graft

import scala.annotation.tailrec
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit}

/** An eager `localCheckpoint` that also returns one long aggregate of the
  * frame (NULL, as over zero rows, reads 0), computed by the checkpoint's
  * own job as a `Dataset.observe` metric: a loop that needs a count or a
  * sum of what it just checkpointed pays no second job over the blocks —
  * at small scale a Spark job costs tens of milliseconds whatever it
  * computes. The row arrives on the listener bus after the job has ended,
  * so the bounded wait only caps a stalled bus; it never times real work.
  */
object Observed {
  def checkpoint(df: DataFrame, agg: Column): (DataFrame, Long) = {
    val obs = Observation()
    val cp = df.observe(obs, coalesce(agg.cast("long"), lit(0L)).as("v")).localCheckpoint()
    (cp, Await.result(obs.future, 2.minutes).getLong(0))
  }

  /** The round loop of the iterative graph operators (connected
    * components, k-core, k-truss, label propagation). Round r (1-based)
    * is ONE eager [[checkpoint]] of `step(current, r)`, observing `agg`:
    * one action per round (a job, plus one per shuffle stage that AQE
    * materializes first), and the witness costs no second job. The
    * checkpoint truncates the lineage, so the upstream plan (the whole
    * MinHash pipeline) never re-runs per round — without it the loop goes
    * super-linear (463 s vs 33 s at ×50, SCALING.md). The loop stops
    * after `cap` rounds, or at the first round whose witness equals the
    * previous one (`witness` is `start`'s). Returns the last frame and
    * whether it is a fixpoint.
    *
    * An equal witness must mean an equal frame, so that every later round
    * would repeat it. That holds for the row count of a set that only
    * shrinks (k-core's alive set, k-truss's edge set: equal counts, equal
    * sets) and for the sum of labels that only fall (min-label
    * propagation): stopping there returns what an unrolled fixed-round
    * oracle computes. It does NOT hold for PageRank's rank sum, which can
    * stay put while the ranks move; its loop keeps its fixed rounds.
    */
  def fixpoint(start: DataFrame, witness: Long, agg: Column, cap: Int)
      (step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    @tailrec def round(cur: DataFrame, w: Long, r: Int): (DataFrame, Boolean) =
      if (r > cap) (cur, false)
      else {
        val (next, nw) = checkpoint(step(cur, r), agg)
        if (nw == w) (next, true) else round(next, nw, r + 1)
      }
    round(start, witness, 1)
  }

  /** Runs `body` with adaptive query execution off and restores the
    * session's setting after. With lazy checkpoints, the whole chain then
    * executes inside the consumer's ONE action: AdaptiveSparkPlan.doExecute
    * materializes its query stages eagerly at `toRdd`, so under AQE even a
    * lazy localCheckpoint runs its shuffles as separate driver-blocking
    * jobs at build time. The output of such a body wraps checkpoint RDDs,
    * so the toggle cannot leak into the consumer's own execution.
    *
    * MEASURED DECISION (round 15, sf0.1): used by `Graph.triangleCounts`
    * (3.8 → 1.4 s; its joins are large self-joins AQE would not improve)
    * and the connected-components rounds (tiny stages pre-sized by
    * `Corpus.ccWidth`, nothing for AQE to fix). The other round loops keep
    * AQE on: their per-round label/contrib/support joins lose the runtime
    * small-side broadcast conversion and regress outright (kTruss 6.2 →
    * 15.2 s, kCore 5.3 → 9.4 s); kCore re-measured on a 4-core host at
    * sf0.1 after it began stopping at its fixpoint (all `KcIters` rounds
    * still needed) took 8.5–9.4 s lazy AQE-off against ~5–7 s eager.
    */
  def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }
}
