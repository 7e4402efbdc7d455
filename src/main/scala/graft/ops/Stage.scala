package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/**
 * The one stage boundary of `graft.ops`: every lineage cut an operator
 * takes (a per-round cut in an iterative loop, a per-stage cut in a
 * composed pipeline) is taken and released here.
 *
 * A cut materializes its frame eagerly and returns a frame whose plan is
 * a single `LogicalRDD` over the materialized rows, so later plans start
 * from those rows instead of re-embedding the upstream plan. It is a
 * reliable checkpoint when the context has a checkpoint dir (set one on a
 * real cluster: the cut then survives an executor loss) and a
 * `localCheckpoint` otherwise (executor-local blocks: an executor loss
 * fails the query instead of recomputing it).
 *
 * CHECKPOINT LIFECYCLE. A cut that no returned frame reaches any more is
 * released with [[release]] as soon as the cut that replaces it has
 * materialized: a loop drops the previous round's cut, a pipeline the
 * previous stage's. Without that, Spark keeps a local cut's blocks until
 * garbage collection lets the ContextCleaner drop them, and keeps a
 * reliable cut's files until the application exits
 * (`spark.cleaner.referenceTracking.cleanCheckpoints` defaults to
 * false). A cut that a returned frame can still reach is never released
 * here; it lives as long as that frame, and the ContextCleaner drops it
 * once the frame is unreferenced (its files too, if `cleanCheckpoints`
 * is set).
 *
 * OBSERVED METRICS. [[cutObserved]] reads loop-control values (a
 * fixed-point count or checksum) off the cut's own job through a named
 * `observe` and `queryExecution.observedMetrics`, so a round costs one
 * job, not a cut plus a count. Not the `Observation` helper: merely
 * constructing one force-initializes the session's lazy
 * `observationManager`, a non-transient, non-serializable SparkSession
 * field, after which any closure that captures the session (a Spark ML
 * model summary, say) fails as not serializable for the rest of the
 * application.
 */
private[graft] object Stage {

  /** Materializes `df` and cuts its lineage: a reliable checkpoint when
   * the context has a checkpoint dir, else a local one. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** [[cut]] that also computes `metrics` over the cut's rows in the same
   * job, as the observation `name`; returns the cut and the metrics row. */
  def cutObserved(df: DataFrame, name: String, metric: Column,
      metrics: Column*): (DataFrame, Row) = {
    val observed = df.observe(name, metric, metrics: _*)
    val c = cut(observed)
    // the eager cut executed `observed`'s own plan
    (c, observed.queryExecution.observedMetrics(name))
  }

  /** Drops a cut's blocks, and its files if it is a reliable cut. Any
   * later action on `cut`, or on a frame derived from it, fails. */
  def release(cut: DataFrame): Unit = cut.queryExecution.logical match {
    case l: LogicalRDD =>
      l.rdd.unpersist(blocking = false)
      l.rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(cut.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    case other => throw new IllegalArgumentException(
      s"Stage.release takes a frame returned by Stage.cut, got ${other.nodeName}")
  }
}
