package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One recorded layer call. Times are milliseconds since the run
  * started. `action` marks calls that run Spark jobs,
  * whose uncovered time is the driver gap. */
final case class Span(id: Int, parent: Int, req: String, name: String,
    startMs: Double, endMs: Double, action: Boolean) {
  def durMs: Double = endMs - startMs
}

/** A Spark job of one request, as the listener saw it. */
final case class JobRec(jobId: Int, req: String, startMs: Double,
    endMs: Double, stages: Seq[Int])

/** Per-stage task totals. */
final case class StageRec(tasks: Int, taskMs: Double)

/**
 * Spans around the benchmark's calls into each layer, kept in memory
 * and written out when the run ends. Disabled, every method runs its
 * body and records nothing, so the untraced run pays one branch per
 * call. Job and stage records join a request through the job group,
 * which [[request]] sets to the request id on the calling thread.
 */
final class Tracer(val enabled: Boolean) {
  // span and job times are ms since the tracer was made
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs(): Double = (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val current = new ThreadLocal[String] {
    override def initialValue(): String = "setup"
  }

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobStart = mutable.HashMap.empty[Int, (String, Double, Seq[Int])]
  private val stageAcc = mutable.HashMap.empty[Int, StageRec]

  /** Run `f` as request `req`: its spans carry the id and, traced, its
    * Spark jobs join it through the job group. */
  def request[A](spark: org.apache.spark.sql.SparkSession, req: String,
      kind: String)(f: => A): A = {
    current.set(req)
    if (enabled) spark.sparkContext.setJobGroup(req, kind)
    try span(kind)(f)
    finally {
      if (enabled) spark.sparkContext.clearJobGroup()
      current.set("setup")
    }
  }

  def span[A](name: String)(f: => A): A = record(name, action = false)(f)

  /** A layer call that runs Spark jobs. */
  def action[A](name: String)(f: => A): A = record(name, action = true)(f)

  private def record[A](name: String, action: Boolean)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = spans.synchronized {
        spans += null; spans.size - 1
      }
      stack.set(id :: stack.get)
      val start = nowMs()
      try f
      finally {
        val end = nowMs()
        stack.set(stack.get.tail)
        spans.synchronized {
          spans(id) = Span(id, parent, current.get, name, start, end, action)
        }
      }
    }

  /** Listener that files jobs and task totals under their job group. */
  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("setup")
      jobStart.synchronized {
        jobStart(e.jobId) = (group, e.time - baseMs, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.synchronized {
        jobStart.remove(e.jobId).foreach { case (g, s, st) =>
          jobs += JobRec(e.jobId, g, s, e.time - baseMs, st)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) stageAcc.synchronized {
        val prev = stageAcc.getOrElse(e.stageId, StageRec(0, 0.0))
        stageAcc(e.stageId) = StageRec(prev.tasks + 1,
          prev.taskMs + e.taskMetrics.executorRunTime)
      }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.filter(_ != null).toSeq)
  def allJobs: Seq[JobRec] = jobStart.synchronized(jobs.toSeq)
  def stage(id: Int): Option[StageRec] = stageAcc.synchronized(stageAcc.get(id))

  /** Self time of each span: its duration minus the part covered by its
    * child spans and, for action spans, by the request's jobs. */
  def selfTimes(): Map[Int, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val jobsByReq = allJobs.groupBy(_.req)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val js = if (!s.action) Nil
        else jobsByReq.getOrElse(s.req, Nil).map(j => (j.startMs, j.endMs))
      s.id -> Summary.uncovered(s.startMs, s.endMs, kids ++ js)
    }.toMap
  }

  /** Write every span and job as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val self = selfTimes()
    val lines = allSpans.map { s =>
      Json.obj("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "name" -> s.name, "start_ms" -> s.startMs,
        "dur_ms" -> s.durMs, "self_ms" -> self(s.id), "action" -> s.action)
    } ++ allJobs.map { j =>
      val st = j.stages.flatMap(stage)
      Json.obj("kind" -> "job", "job" -> j.jobId, "req" -> j.req,
        "start_ms" -> j.startMs, "dur_ms" -> (j.endMs - j.startMs),
        "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
        "task_ms" -> st.map(_.taskMs).sum)
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
