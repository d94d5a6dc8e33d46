package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftScanBridge, SparkSession,
  SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruning,
  Expression, PlanExpression, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.{CollectLimitExec, ColumnarRule,
  ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter,
  ProjectExec, SparkPlan, SQLExecution, UnaryExecNode,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.vectorized.ColumnarBatch
import scala.collection.mutable.ArrayBuffer

/**
 * Small collect-shaped ORC scans read on the driver, as the reference
 * reads a split: one thread per file, pull-based, through the file's
 * tail, row index and bloom filters to the row groups its search
 * argument picks (SURVEY.md §3.1). A point or range lookup then starts
 * no Spark job.
 *
 * This physical rule wraps a plan root of the shape "an optional
 * `CollectLimitExec` over projections and filters over a v1 ORC
 * `FileSourceScanExec`" in a [[DriverScanExec]]. Its `doExecute` is the
 * child's, so anything that executes the plan as an RDD (aggregates,
 * joins, writes, caches) keeps the job path. Its `executeCollect` and
 * `executeTake` read the scan's listed files on [[OrcMeta]]'s driver
 * pool, through the per-file body of the relation's ORC reader
 * (`GraftScanBridge.orcReader`) with the scan's pushed filters and the
 * relation's Hadoop configuration, as `FileSourceScanExec.inputRDD`
 * passes them, but with nothing broadcast and each file opened on its
 * tail from [[OrcMeta.tails]]; then they apply the plan's filters and
 * projections on the driver.
 *
 * The driver mode is taken only when the listed files total at most
 * [[limit]] bytes, `ignoreCorruptFiles` and `ignoreMissingFiles` are
 * off, and the plan has no nondeterministic expression (which includes
 * `input_file_name()`), no subquery or dynamic-pruning filter, no
 * `_metadata` column and no bucketed or streaming scan. Otherwise the
 * child's own `executeCollect` runs.
 */
object DriverScan extends Rule[SparkPlan] {

  /** SparkSessionExtensions hook: `.withExtensions(DriverScan.register)`. */
  def register(extensions: SparkSessionExtensions): Unit =
    extensions.injectColumnar(_ => new ColumnarRule {
      override def postColumnarTransitions: Rule[SparkPlan] = DriverScan
    })

  /** The largest listing, in bytes, read on the driver: the largest
    * size at which a sweep on a 4-vCPU host (`local[4]`, 1–16 files of
    * 1.3–42 MB, a bloom-only point lookup and a full collect) found the
    * driver pool faster than the job path in every cell. At 21 MB the
    * job path won 2 of 6 cells. CHANGES.md has the medians. */
  private[graft] val DriverScanMaxBytes = 10600L * 1000

  /** The cut: [[DriverScanMaxBytes]] lowered to
    * `spark.sql.autoBroadcastJoinThreshold`, so `-1` turns the driver
    * mode off, as it does `Acid`'s driver paths. */
  private[graft] def limit(spark: SparkSession): Long =
    math.min(DriverScanMaxBytes,
      spark.sessionState.conf.autoBroadcastJoinThreshold)

  def apply(plan: SparkPlan): SparkPlan = plan match {
    case _ if plan.supportsColumnar => plan
    case CollectLimitExec(n, child, 0) if n >= 0 && eligible(child) =>
      DriverScanExec(plan)
    case _ if eligible(plan) => DriverScanExec(plan)
    case _ => plan
  }

  /** The ORC scan under a chain of projections and filters, with the
    * chain's nodes from the scan up; None for any other plan. */
  private[sources] def chain(p: SparkPlan)
      : Option[(FileSourceScanExec, List[SparkPlan])] = p match {
    case s: FileSourceScanExec => Some((s, Nil))
    case w: WholeStageCodegenExec => chain(w.child)
    case a: InputAdapter => chain(a.child)
    case c: ColumnarToRowExec => chain(c.child)
    case f: FilterExec => chain(f.child).map { case (s, ops) => (s, ops :+ f) }
    case pr: ProjectExec =>
      chain(pr.child).map { case (s, ops) => (s, ops :+ pr) }
    case _ => None
  }

  private def eligible(p: SparkPlan): Boolean = chain(p).exists {
    case (scan, ops) =>
      val rel = scan.relation
      def plain(e: Expression) = e.deterministic && !e.exists {
        case _: PlanExpression[_] | _: DynamicPruning => true
        case _ => false
      }
      rel.fileFormat.isInstanceOf[OrcFileFormat] && scan.stream.isEmpty &&
        !scan.bucketedScan && scan.fileConstantMetadataColumns.isEmpty &&
        // the reader's rows are the scan's output, column for column
        scan.output.map(_.name) ==
          (scan.requiredSchema ++ rel.partitionSchema).map(_.name) &&
        (ops.flatMap(_.expressions) ++ scan.partitionFilters ++
          scan.dataFilters).forall(plain)
  }

  /** The driver-side evaluation of `ops` over rows of `input`: the
    * kept rows as fresh `UnsafeRow`s, or null for a filtered-out row. */
  private def evaluator(input: Seq[Attribute], ops: Seq[SparkPlan])
      : InternalRow => InternalRow = {
    val (steps, out) = ops.foldLeft(
        (Vector.empty[InternalRow => InternalRow], input)) {
      case ((s, in), f: FilterExec) =>
        val p = Predicate.create(f.condition, in)
        p.initialize(0)
        (s :+ ((r: InternalRow) => if (p.eval(r)) r else null), in)
      case ((s, in), pr: ProjectExec) =>
        val proj = UnsafeProjection.create(pr.projectList, in)
        proj.initialize(0)
        (s :+ ((r: InternalRow) => proj(r)), pr.output)
      case (_, op) => throw new IllegalStateException(s"not a chain node: $op")
    }
    val toUnsafe = UnsafeProjection.create(out, out)
    row => {
      var r = row
      val it = steps.iterator
      while (r != null && it.hasNext) r = it.next()(r)
      if (r == null) null else toUnsafe(r).copy()
    }
  }

  /** The rows of `plan` (a chain [[chain]] accepts), at most `max` of
    * them when `max` is not negative, read on the driver; None when the
    * driver mode is not taken. Sets the scan's `numFiles`, `filesSize`
    * and `numOutputRows` metrics as the job path does. */
  private[sources] def rows(plan: SparkPlan, max: Int)
      : Option[Array[InternalRow]] = {
    if (max == 0) return Some(Array.empty)
    val (scan, ops) = chain(plan).get
    val rel = scan.relation
    val spark = rel.sparkSession
    val opts = new FileSourceOptions(CaseInsensitiveMap(rel.options))
    if (opts.ignoreCorruptFiles || opts.ignoreMissingFiles) return None
    // the job path's own listing, which sets numFiles and filesSize
    val listing = scan.selectedPartitions
    if (listing.totalFileSize > limit(spark)) return None
    // zero-length files get no split; the rest in the job path's order
    val files = listing.toPartitionArray.filter(_.length > 0)
      .sortBy(-_.length)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(rel.options)
    val read = GraftScanBridge.orcReader(scan, hadoopConf)
    val conf = spark.sessionState.conf
    def full(n: Int) = max >= 0 && n >= max
    val perFile = OrcMeta.onPool(files.toSeq.map { file => () =>
      GraftScanBridge.asTask(conf) {
        val keep = evaluator(scan.output, ops)
        val kept = ArrayBuffer.empty[InternalRow]
        def offer(r: InternalRow): Unit = {
          val k = keep(r)
          if (k != null) kept += k
        }
        var decoded = 0L
        val it = read(file,
          OrcMeta.tail(OrcMeta.TailKey(file, hadoopConf), hadoopConf))
        while (!full(kept.size) && it.hasNext) (it.next(): Any) match {
          case b: ColumnarBatch =>
            decoded += b.numRows
            val rs = b.rowIterator()
            while (!full(kept.size) && rs.hasNext) offer(rs.next())
          case r: InternalRow =>
            decoded += 1
            offer(r)
        }
        (kept, decoded)
      }
    })
    val numOutputRows = scan.metrics("numOutputRows")
    numOutputRows.add(perFile.map(_._2).sum)
    // what `sendDriverMetrics` (protected) posts, and the row count
    // tasks would have posted
    SQLMetrics.postDriverMetricUpdates(spark.sparkContext,
      spark.sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      scan.driverMetrics.values.toSeq :+ numOutputRows)
    val all = perFile.iterator.flatMap(_._1)
    Some((if (max >= 0) all.take(max) else all).toArray)
  }
}

/** A collect-shaped ORC plan that [[DriverScan]] may read on the
  * driver; see there. */
case class DriverScanExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  /** `n` rows, or all of them when `n` is negative. */
  private def driverRows(n: Int): Option[Array[InternalRow]] = child match {
    case CollectLimitExec(l, scan, _) =>
      DriverScan.rows(scan, if (n < 0) l else math.min(n, l))
    case _ => DriverScan.rows(child, n)
  }

  override def executeCollect(): Array[InternalRow] =
    driverRows(-1).getOrElse(child.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty
    else driverRows(n).getOrElse(child.executeTake(n))

  override protected def withNewChildInternal(c: SparkPlan): DriverScanExec =
    copy(child = c)
}
