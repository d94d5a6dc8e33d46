package org.apache.spark.sql

import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy,
  DataSourceUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter

/**
 * The package-private pieces of Spark that `graft.sources.DriverScan`
 * reads a file scan with on the driver, reached from inside Spark's
 * `sql` package.
 */
object GraftScanBridge {

  /** The source filters a v1 file scan hands its reader: what
    * `FileSourceScanLike.pushedDownFilters` (protected) computes for a
    * scan without metadata columns or subquery filters. */
  def pushedFilters(scan: FileSourceScanExec): Seq[Filter] = {
    val nested = DataSourceUtils.supportNestedPredicatePushdown(scan.relation)
    scan.dataFilters.flatMap(DataSourceStrategy.translateFilter(_, nested))
  }

  /** Attempt ids of driver-side tasks: negative, so they meet no real
    * task's id nor the block manager's non-task id (-1024). */
  private val driverTaskIds = new java.util.concurrent.atomic.AtomicLong(
    Long.MinValue)

  /** Run `body` on this thread as a task would: under `conf`, the
    * session's, registered with the block manager (a reader may read a
    * broadcast), and in a task context whose completion listeners (the
    * readers' closers) run when `body` returns or throws. */
  def asTask[A](conf: SQLConf)(body: => A): A = {
    val id = driverTaskIds.getAndIncrement()
    val blocks = SparkEnv.get.blockManager
    val ctx = new TaskContextImpl(0, 0, 0, id, 0, 1, null,
      new java.util.Properties, null, TaskMetrics.empty, 1)
    blocks.registerTask(id)
    TaskContext.setTaskContext(ctx)
    try {
      val out = try SQLConf.withExistingConf(conf)(body) catch {
        case e: Throwable =>
          try {
            ctx.markTaskFailed(e)
            ctx.markTaskCompleted(Some(e))
          } catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }
      ctx.markTaskCompleted(None)
      out
    } finally {
      TaskContext.unset()
      blocks.releaseAllLocksForTask(id)
    }
  }
}
