package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Literal,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat

/**
 * Unfiltered ORC row counts answered from the files' footers, as the
 * reference answers `COUNT(*)` with `Reader.getNumberOfRows`, without a
 * scan (SURVEY.md §2.6).
 *
 * This planner strategy plans an ungrouped `count(<non-null literal>)`
 * (`.count()`, `agg(count(lit(1)))`, SQL `count(*)`) directly over a
 * v1 ORC relation, through at most an empty projection, as a
 * [[FooterCountExec]] leaf: the sum of the footer row counts of the
 * relation's listed non-empty files, read through [[OrcMeta.perFile]]
 * on the cached tails, on the driver pool at any file count: the count
 * starts no Spark job. Every other shape keeps Spark's plan: filters
 * on data or partition columns, groupings, `count(col)`, `DISTINCT`,
 * `FILTER (WHERE …)`, bucketed and streaming relations, files read
 * with `ignoreCorruptFiles` or `ignoreMissingFiles` (which may drop
 * rows a footer counts), relations whose schema is ORC's ACID event
 * schema (which Spark's batch reader cannot count), and every count
 * when `spark.sql.autoBroadcastJoinThreshold` is `-1`, the switch that
 * also turns off [[DriverScan]] and `Acid`'s driver paths.
 */
object FooterCount extends SparkStrategy {

  /** SparkSessionExtensions hook: `.withExtensions(FooterCount.register)`. */
  def register(extensions: SparkSessionExtensions): Unit =
    extensions.injectPlannerStrategy(_ => FooterCount)

  /** The top-level field names of ORC's ACID event schema
    * (`SchemaEvolution.checkAcidSchema`). */
  private val AcidFields = Seq("operation", "originalTransaction", "bucket",
    "rowId", "currentTransaction", "row").map(_.toLowerCase)

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Aggregate(Nil, Seq(a @ Alias(AggregateExpression(
        Count(Seq(l: Literal)), _, false, None, _), _)), child, _)
        if l.value != null =>
      relation(child).filter(eligible).map(FooterCountExec(a.toAttribute, _))
        .toSeq
    case _ => Nil
  }

  private def relation(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case Project(Nil, child) => relation(child)
    case LogicalRelation(r: HadoopFsRelation, _, _, false, _) => Some(r)
    case _ => None
  }

  private def eligible(rel: HadoopFsRelation): Boolean = {
    val opts = new FileSourceOptions(CaseInsensitiveMap(rel.options))
    rel.fileFormat.isInstanceOf[OrcFileFormat] && rel.bucketSpec.isEmpty &&
      !opts.ignoreCorruptFiles && !opts.ignoreMissingFiles &&
      rel.dataSchema.fieldNames.map(_.toLowerCase).toSeq != AcidFields &&
      rel.sparkSession.sessionState.conf.autoBroadcastJoinThreshold >= 0
  }

  /** The rows the relation's listed files hold, by their footers. Skips
    * zero-length files, as the scan does, and counts no rows of a file
    * whose schema has no columns, as Spark's reader reads none. */
  private[sources] def rows(rel: HadoopFsRelation): Long = {
    val conf = rel.sparkSession.sessionState
      .newHadoopConfWithOptions(rel.options)
    val files = rel.location.listFiles(Nil, Nil).flatMap(_.files)
      .filter(_.getLen > 0).map { f =>
        val p = f.getPath
        p.toString -> OrcMeta.TailKey(p.getFileSystem(conf), f.fileStatus)
      }
    OrcMeta.perFile(files, conf) { (_, r) =>
      Seq(if (r.getSchema.getFieldNames.isEmpty) 0L else r.getNumberOfRows)
    }.sum
  }
}

/** An unfiltered count of an ORC relation, answered from its footers;
  * see [[FooterCount]]. */
case class FooterCountExec(count: Attribute, relation: HadoopFsRelation)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Seq(count)

  override def executeCollect(): Array[InternalRow] = {
    val n = FooterCount.rows(relation)
    Array(UnsafeProjection.create(output, output)(InternalRow(n)).copy())
  }

  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty else executeCollect()

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)
}
