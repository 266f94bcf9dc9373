package graft

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Observation}
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
}
