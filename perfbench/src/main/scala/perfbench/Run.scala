package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import scala.collection.mutable
import scala.util.control.NonFatal

/** What a request returned, judged against its expectation. `known`
  * marks a wrong answer that a documented program defect explains: it
  * still fails the operation, but does not make the run's answers
  * `correct: false`. */
final case class Check(ok: Boolean, rows: Long, detail: String = "",
    known: Boolean = false)

object Check {
  def equal(rows: Long, got: Any, want: Any): Check =
    Check(got == want, rows, if (got == want) "" else s"got $got, want $want")
}

/** One timed operation. `failed` covers both a thrown error and a wrong
  * answer; a failed operation is never used as a timing. `wrong` is a
  * wrong answer no documented defect explains. */
final case class Op(req: String, kind: String, startMs: Double, ms: Double,
    failed: Boolean, wrong: Boolean, rows: Long)

/**
 * State of one benchmark run: the session, the tracer, the operations
 * timed so far and, when traced, per-request counters read from the
 * executed plans.
 */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.LinkedHashMap.empty[String, Int]
  private val firstError = mutable.LinkedHashMap.empty[String, String]
  private var reqs = 0
  private val t0Ns = System.nanoTime()

  /** Per-request counters (traced runs only). */
  val counters = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
  private var currentReq = "setup"

  def count(name: String, v: Double): Unit =
    if (tracer.enabled) {
      val m = counters.getOrElseUpdate(currentReq, mutable.HashMap.empty)
      m(name) = m.getOrElse(name, 0.0) + v
    }

  /** Run one operation untimed, as setup's warm-up: its outcome is not
    * recorded. */
  def warmup(kind: String)(body: => Check): Op = {
    reqs += 1
    val req = s"w$reqs"
    currentReq = req
    val start = System.nanoTime()
    val failed =
      try !tracer.request(spark, req, kind)(body).ok
      catch { case NonFatal(_) => true }
    currentReq = "setup"
    Op(req, kind, 0.0, (System.nanoTime() - start) / 1e6, failed, false, 0L)
  }

  /** Time one operation as its caller pays for it, from the first call
    * into the engine until the checked result is in hand. */
  def op(kind: String)(body: => Check): Op = {
    reqs += 1
    val req = s"r$reqs"
    currentReq = req
    val gc0 = if (tracer.enabled) Run.gcMs() else 0L
    val start = System.nanoTime()
    val result =
      try Right(tracer.request(spark, req, kind)(body))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - start) / 1e6
    if (tracer.enabled) count("jvm.gc_ms", (Run.gcMs() - gc0).toDouble)
    currentReq = "setup"
    val o = result match {
      case Right(c) =>
        if (!c.ok) note(kind, s"wrong answer${if (c.known) " (known defect)" else ""}: ${c.detail}")
        Op(req, kind, (start - t0Ns) / 1e6, ms, !c.ok, !c.ok && !c.known, c.rows)
      case Left(e) =>
        note(kind, s"${e.getClass.getName}: ${e.getMessage}")
        Op(req, kind, (start - t0Ns) / 1e6, ms, failed = true, wrong = false, 0L)
    }
    ops += o
    o
  }

  private def note(kind: String, msg: String): Unit = {
    failures(kind) = failures.getOrElse(kind, 0) + 1
    if (!firstError.contains(kind)) {
      firstError(kind) = msg
      System.err.println(s"[perfbench] $kind failed: $msg")
    }
  }

  def firstErrors: Map[String, String] = firstError.toMap

  /** Plan, then run, a query; traced, read the scan's SQL metrics.
    * `tableRows` is the row count of the table the query scans. */
  def collect(df: DataFrame, tableRows: Long): Array[Row] = {
    tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
    val rows = tracer.action("spark.action")(df.collect())
    if (tracer.enabled) {
      val scans = Run.planHelper.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
      def metric(s: FileSourceScanExec, n: String): Double =
        s.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
      count("scan.ops", 1)
      count("scan.files", scans.map(metric(_, "numFiles")).sum)
      count("scan.bytes", scans.map(metric(_, "filesSize")).sum)
      count("scan.rows_read", scans.map(metric(_, "numOutputRows")).sum)
      count("scan.table_rows", tableRows.toDouble)
      count("scan.rows_returned", rows.length.toDouble)
    }
    rows
  }

  /** Run whole rounds of `loop` until `seconds` have passed and at
    * least `minRounds` rounds are done; returns the wall seconds. */
  def timedLoop(seconds: Int, minRounds: Int)(loop: Int => Unit): Double = {
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    var i = 0
    while (i < minRounds || System.nanoTime() < deadline) { loop(i); i += 1 }
    (System.nanoTime() - start) / 1e9
  }
}

object Run {
  private[perfbench] val planHelper = new AdaptiveSparkPlanHelper {}

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Order-independent fingerprint of a set of rows, used to compare a
    * request's rows with the same rows read from the parquet source. */
  def fingerprint(r: Row): Long =
    scala.util.hashing.MurmurHash3.orderedHash(r.toSeq.map(String.valueOf)).toLong
}
