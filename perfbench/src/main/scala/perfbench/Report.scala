package perfbench

/** A reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/**
 * Turns one run into its metrics. End-to-end metrics come from the
 * operations as timed; per-layer metrics from the spans, jobs and
 * counters a traced run recorded. Per-layer times are medians per call
 * over the successful timed operations; per-layer counts are means per
 * operation unless named as run totals.
 */
final case class Report(workload: String, seed: Long, seconds: Int,
    traced: Boolean, run: Run, w: Workload, setup: SetupRec,
    sessionS: Double, expectS: Double, warmupS: Double, wallS: Double,
    rssMb: Double) {
  import Summary._

  private val ok = run.ops.filterNot(_.failed)
  private val attempted = run.ops.size
  private val failed = run.ops.count(_.failed)
  private val wrong = run.ops.count(_.wrong)
  private val lat = ok.map(_.ms).toSeq
  require(lat.nonEmpty, s"no operation of $workload succeeded in ${seconds}s: " +
    run.firstErrors.mkString("; "))
  val tail: Tail = Summary.tail(lat)

  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", sessionS + setup.seconds + warmupS, "s"),
    Metric("ops_per_s", ok.size / wallS, "op/s"),
    Metric("latency_p50_ms", median(lat), "ms"),
    Metric("latency_tail_ms", tail.value, "ms"),
    Metric("rows_per_s", w.rowsDelivered / wallS, "row/s"),
    Metric("freshness_p50_ms", median(w.freshnessMs), "ms"),
    Metric("bytes_per_user_byte", ratio(w.bytesWritten.toDouble, w.userBytes.toDouble), "ratio"),
    Metric("peak_rss_mb", rssMb, "MB"))

  def failedRatio: Double = failed.toDouble / math.max(1, attempted)

  lazy val perLayer: Seq[Metric] = {
    val tracer = run.tracer
    val okReq = ok.map(_.req).toSet
    val spans = tracer.allSpans
    val okSpans = spans.filter(s => okReq(s.req))
    def spanMed(name: String, in: Seq[Span] = okSpans): Double = {
      val d = in.filter(_.name == name).map(_.durMs)
      if (d.isEmpty) 0.0 else median(d)
    }
    def opMed(kind: String): Double = {
      val d = ok.filter(_.kind == kind).map(_.ms).toSeq
      if (d.isEmpty) 0.0 else median(d)
    }
    def medOrZero(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    val jobsByReq = tracer.allJobs.groupBy(_.req)
    val spansByReq = okSpans.groupBy(_.req)
    val perOp = ok.toSeq.map { o =>
      val js = jobsByReq.getOrElse(o.req, Nil)
      val stages = js.flatMap(_.stages).distinct.flatMap(tracer.stage)
      val intervals = js.map(j => (j.startMs, j.endMs))
      val mine = spansByReq.getOrElse(o.req, Nil)
      val parents = mine.filter(_.action).map(_.parent).toSet
      // leaf action spans: the innermost calls that run jobs
      val gap = mine.filter(s => s.action && !parents(s.id))
        .map(s => uncovered(s.startMs, s.endMs, intervals)).sum
      (coveredLength(intervals), js.size.toDouble, stages.size.toDouble,
        stages.map(_.taskMs).sum, gap)
    }
    val c = run.counters.filter { case (req, _) => okReq(req) }.values.toSeq
    def counter(name: String) = c.flatMap(_.get(name))
    val scanOps = counter("scan.ops").sum
    def perScan(name: String) = if (scanOps == 0) 0.0 else counter(name).sum / scanOps
    val rowsRead = counter("scan.rows_read").sum
    val tableRows = counter("scan.table_rows").sum
    val evolved = opMed("evolved_point")
    val plain = opMed("ok_point")

    Seq(
      Metric("session.start_ms", sessionS * 1000, "ms"),
      Metric("orcio.open_ms", spanMed("orcio.open"), "ms"),
      Metric("catalyst.plan_ms", spanMed("catalyst.plan"), "ms"),
      Metric("spark.exec_ms", medOrZero(perOp.map(_._1)), "ms"),
      Metric("spark.jobs", mean(perOp.map(_._2)), "count"),
      Metric("spark.stages", mean(perOp.map(_._3)), "count"),
      Metric("spark.task_ms", mean(perOp.map(_._4)), "ms"),
      Metric("driver.gap_ms", medOrZero(perOp.map(_._5)), "ms"),
      Metric("jvm.gc_ms", mean(counter("jvm.gc_ms")), "ms"),
      Metric("scan.files", perScan("scan.files"), "count"),
      Metric("scan.bytes", perScan("scan.bytes"), "bytes"),
      Metric("scan.rows_read", perScan("scan.rows_read"), "count"),
      Metric("scan.read_fraction", if (tableRows == 0) 0.0 else rowsRead / tableRows, "ratio"),
      Metric("scan.rows_read_per_row_returned",
        rowsRead / math.max(1.0, counter("scan.rows_returned").sum), "ratio"),
      Metric("stats.footer_ms", spanMed("stats.footer"), "ms"),
      Metric("orcmeta.footer_ms", spanMed("orcmeta.footer"), "ms"),
      Metric("stats.colstats_failed",
        run.ops.count(o => o.kind == "col_stats" && o.failed).toDouble, "count"),
      Metric("orcmeta.rowindex_failed",
        run.ops.count(o => o.kind == "rowindex" && o.failed).toDouble, "count"),
      Metric("evolution.read_ms", evolved, "ms"),
      Metric("evolution.cost_ratio", if (plain == 0) 0.0 else evolved / plain, "ratio"),
      Metric("orcio.write_ms", spanMed("orcio.write", spans), "ms"),
      Metric("orcio.write_bytes", setup.bytesWritten.toDouble, "bytes"),
      Metric("acid.delta_write_ms", spanMed("acid.delta_write"), "ms"),
      Metric("acid.mor_read_ms", spanMed("acid.mor_read"), "ms"),
      Metric("acid.live_deltas", mean(counter("acid.live_deltas")), "count"),
      Metric("acid.minor_compact_ms", spanMed("acid.minor_compact"), "ms"),
      Metric("acid.major_compact_ms", spanMed("acid.major_compact"), "ms"),
      Metric("acid.compact_bytes", counter("acid.compact_bytes").sum, "bytes"),
      Metric("stream.drain_ms", spanMed("stream.drain"), "ms"),
      Metric("stream.rows", counter("stream.rows").sum, "count"),
      Metric("failed_ratio", failedRatio, "ratio"),
      Metric("trace.latency_p50_ms", median(lat), "ms"))
  }

  private def metricsJson(ms: Seq[Metric]): String =
    Json.value(scala.collection.immutable.ListMap(ms.map(m =>
      m.name -> scala.collection.immutable.ListMap("value" -> m.value, "unit" -> m.unit)): _*))

  /** The result line: every end-to-end metric untraced, every per-layer
    * metric traced. `correct` is false when any answer was wrong that
    * no documented defect explains; every wrong answer counts in
    * `failed`. */
  def lastLine: String = Json.obj("correct" -> (wrong == 0), "attempted" -> attempted,
    "failed" -> failed, "metrics" -> Json.Raw(metricsJson(if (traced) perLayer else endToEnd)))

  /** Tracing overhead: the traced run's median latency over the
    * untraced run's with the same workload and seed, minus one. */
  def tracingOverhead(untraced: java.io.File): Option[Double] =
    if (!untraced.exists()) None
    else {
      val text = new String(java.nio.file.Files.readAllBytes(untraced.toPath), "UTF-8")
      "\"latency_p50_ms\": \\{\"value\": ([0-9.Ee+-]+)".r.findFirstMatchIn(text)
        .map(m => median(lat) / m.group(1).toDouble - 1.0)
    }

  def document(host: Host, inputs: Seq[(String, Any)], overhead: Option[Double]): String =
    Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "loop" -> "closed", "clients" -> 1,
      "host" -> Json.Raw(Json.obj(host.fields: _*)),
      "inputs" -> Json.Raw(Json.obj(inputs: _*)),
      "session_start_s" -> sessionS, "expect_s" -> expectS,
      "build_s" -> setup.seconds, "warmup_s" -> warmupS,
      "wall_s" -> wallS, "attempted" -> attempted, "failed" -> failed,
      "wrong" -> wrong, "failed_ratio" -> failedRatio,
      "failures_by_kind" -> run.failures, "first_errors" -> run.firstErrors,
      "latency_tail_percentile" -> tail.percentile,
      "latency_tail_samples_beyond" -> tail.samplesBeyond,
      "latency_samples" -> lat.size,
      "ops_by_kind" -> ok.groupBy(_.kind).map { case (k, v) =>
        k -> scala.collection.immutable.ListMap("n" -> v.size, "p50_ms" -> median(v.map(_.ms).toSeq)) },
      "end_to_end" -> Json.Raw(metricsJson(endToEnd)),
      "per_layer" -> (if (traced) Json.Raw(metricsJson(perLayer)) else None),
      "tracing_overhead" -> overhead)

  def printHuman(host: Host, inputs: Seq[(String, Any)], overhead: Option[Double]): Unit = {
    println(s"[perfbench] workload=$workload seed=$seed seconds=$seconds traced=$traced " +
      s"loop=closed clients=1")
    println(s"[perfbench] host ${Json.obj(host.fields: _*)}")
    println(s"[perfbench] inputs ${Json.obj(inputs: _*)}")
    println(f"[perfbench] attempted=$attempted failed=$failed wrong=$wrong " +
      f"failed_ratio=$failedRatio%.4f tail=p${tail.percentile}%.1f " +
      s"(${tail.samplesBeyond} samples beyond, ${lat.size} samples)")
    (endToEnd ++ (if (traced) perLayer else Nil)).foreach(m =>
      println(f"[perfbench] ${m.name}%-32s ${m.value}%14.4f ${m.unit}"))
    if (traced) println(overhead.fold(
      "[perfbench] tracing overhead: no untraced run with this workload and seed to compare")(
      o => f"[perfbench] tracing overhead: ${o * 100}%.2f%% on latency_p50_ms"))
  }
}
