package graft.operators

import java.util.concurrent.TimeoutException
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.{DurationInt, FiniteDuration}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Reliable-aware lineage-truncating materialization (VERDICT r19 #3).
  *
  * `localCheckpoint` stores blocks on executors: under executor loss /
  * decommissioning the lineage is gone and the job dies — the wrong
  * trade for the cluster regime. The mode is therefore picked by session
  * state, exactly as [[graft.operators.Graphs]]' per-round truncation
  * already does: with `SparkContext.setCheckpointDir` set (the cluster
  * deployment signal) this is a RELIABLE checkpoint; otherwise an
  * executor-local one (the single-host smoke default — no FS round
  * trip). Results are identical either way; only fault tolerance and
  * speed differ.
  *
  * Lifetime note (ADVICE r19): the checkpointed blocks are left to
  * ContextCleaner GC — callers are bounded per-query materializations
  * (edge projections, CC adjacency, loop rounds), so a long-lived
  * session accumulates a bounded number of RDDs per query invocation
  * until the frame is collected; reliable-mode files additionally need
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or a swept
  * checkpoint dir (see the Graphs scaladoc). */
object Materialize {
  def once(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** How long [[observed]] waits for its metric after the checkpoint job
    * ended. The metric is delivered by an asynchronous listener, normally
    * within milliseconds; the bound only keeps a dropped or stalled
    * delivery from blocking the driver loop forever. */
  private[graft] val MetricWait: FiniteDuration = 5.seconds

  /** [[once]] plus one aggregate `metric` over the frame, observed during
    * the checkpoint's own materializing action, so a driver loop's
    * per-round convergence test costs no extra job. If the observed value
    * has not arrived within [[MetricWait]], the metric is evaluated over
    * the checkpointed frame instead (one small job, same value).
    * `arrived` is the seam a test uses to withhold the observed value. */
  private[graft] def observed(df: DataFrame, metric: Column,
      arrived: Observation => Future[Row] = _.future): (DataFrame, Any) = {
    val obs = Observation()
    val ck = once(df.observe(obs, metric.as("m")))
    val value =
      try Await.result(arrived(obs), MetricWait).get(0)
      catch { case _: TimeoutException => ck.agg(metric).head().get(0) }
    (ck, value)
  }
}
