package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.orc.{OrcConf, OrcFile, TypeDescription}
import org.apache.orc.impl.OrcTail
import org.apache.orc.mapred.OrcStruct
import org.apache.orc.mapreduce.{OrcInputFormat, OrcMapreduceRecordReader}
import org.apache.spark.{TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.MemoryMode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy,
  DataSourceUtils, PartitionedFile, RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.orc.{OrcColumnarBatchReader,
  OrcDeserializer, OrcFilters, OrcUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

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

  /**
   * The per-file reader of `scan`, a v1 ORC scan: the per-file body of
   * Spark 4.1.2's `OrcFileFormat.buildReaderWithPartitionValues`, in
   * both its batch and its row branch, without the configuration
   * broadcast that function makes before it. Each file is read with its
   * own copy of `hadoopConf` (the relation's, which nothing else
   * mutates) and opened on `tail`, the file's parsed tail; the reader's
   * closer is registered on the calling thread's task context. Returns
   * `ColumnarBatch`es when `scan` reads columnar, rows otherwise.
   */
  def orcReader(scan: FileSourceScanExec, hadoopConf: Configuration)
      : (PartitionedFile, OrcTail) => Iterator[InternalRow] = {
    val rel = scan.relation
    val conf = rel.sparkSession.sessionState.conf
    val (dataSchema, partitionSchema, requiredSchema) =
      (rel.dataSchema, rel.partitionSchema, scan.requiredSchema)
    val resultSchema = StructType(requiredSchema.fields ++ partitionSchema.fields)
    val batches = conf.orcVectorizedReaderEnabled && scan.supportsColumnar
    val filters = if (conf.orcFilterPushDown) pushedFilters(scan) else Nil
    val caseSensitive = conf.caseSensitiveAnalysis
    val capacity = conf.orcVectorizedReaderBatchSize
    val memoryMode =
      if (conf.offHeapColumnVectorEnabled) MemoryMode.OFF_HEAP
      else MemoryMode.ON_HEAP
    OrcConf.IS_SCHEMA_EVOLUTION_CASE_SENSITIVE.setBoolean(hadoopConf,
      caseSensitive)
    (file, tail) => {
      val taskConf = new Configuration(hadoopConf)
      val orcSchema = tail.getSchema
      OrcUtils.requestedColumnIds(caseSensitive, dataSchema, requiredSchema,
          orcSchema, taskConf) match {
        case None => Iterator.empty
        case Some((colIds, canPruneCols)) =>
          if (filters.nonEmpty) {
            val fileSchema = OrcUtils.toCatalystSchema(orcSchema)
            OrcFilters.createFilter(fileSchema, filters).foreach { f =>
              OrcInputFormat.setSearchArgument(taskConf, f,
                fileSchema.fieldNames)
            }
          }
          val resultSchemaString = OrcUtils.orcResultSchemaString(
            canPruneCols, dataSchema, resultSchema, partitionSchema, taskConf)
          taskConf.set(OrcConf.INCLUDE_COLUMNS.getAttribute,
            colIds.filter(_ != -1).sorted.mkString(","))
          val split = new FileSplit(file.toPath, file.start, file.length,
            Array.empty)
          val ctx = new TaskAttemptContextImpl(taskConf, new TaskAttemptID(
            new TaskID(new JobID(), TaskType.MAP, 0), 0))
          def closeWithTask(it: RecordReaderIterator[_]): Unit =
            Option(TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => it.close()))
          if (batches) {
            val reader = new OrcColumnarBatchReader(capacity, memoryMode)
            val it = new RecordReaderIterator(reader)
            closeWithTask(it)
            reader.initialize(split, ctx, tail)
            reader.initBatch(TypeDescription.fromString(resultSchemaString),
              resultSchema.fields,
              colIds ++ Array.fill(partitionSchema.length)(-1),
              Array.fill(requiredSchema.length)(-1) ++
                partitionSchema.indices,
              file.partitionValues)
            it.asInstanceOf[Iterator[InternalRow]]
          } else {
            // OrcInputFormat.createRecordReader, on the parsed tail
            val reader = OrcFile.createReader(file.toPath,
              OrcFile.readerOptions(taskConf)
                .maxLength(OrcConf.MAX_FILE_LENGTH.getLong(taskConf))
                .orcTail(tail))
            val it = new RecordReaderIterator[OrcStruct](
              new OrcMapreduceRecordReader[OrcStruct](reader,
                org.apache.orc.mapred.OrcInputFormat.buildOptions(taskConf,
                  reader, file.start, file.length).useSelected(true)))
            closeWithTask(it)
            val fullSchema = DataTypeUtils.toAttributes(requiredSchema) ++
              DataTypeUtils.toAttributes(partitionSchema)
            val toUnsafe = GenerateUnsafeProjection.generate(fullSchema,
              fullSchema)
            val deserializer = new OrcDeserializer(requiredSchema, colIds)
            if (partitionSchema.isEmpty) {
              it.map(v => toUnsafe(deserializer.deserialize(v)))
            } else {
              val joined = new JoinedRow()
              it.map(v => toUnsafe(joined(deserializer.deserialize(v),
                file.partitionValues)))
            }
          }
      }
    }
  }

  /** Attempt ids of driver-side tasks: negative, so they meet no real
    * task's id. */
  private val driverTaskIds = new java.util.concurrent.atomic.AtomicLong(
    Long.MinValue)

  /** Run `body` on this thread as a task would: under `conf`, the
    * session's, and in a task context whose completion listeners (the
    * readers' closers) run when `body` returns or throws. */
  def asTask[A](conf: SQLConf)(body: => A): A = {
    val ctx = new TaskContextImpl(0, 0, 0, driverTaskIds.getAndIncrement(),
      0, 1, null, new java.util.Properties, null, TaskMetrics.empty, 1)
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
    } finally TaskContext.unset()
  }
}
