package perfbench

import graft.GraftSession

/**
 * One benchmark run: `--workload <lookup|ingest> --seed <n>
 * --seconds <s> --trace <0|1> --work <dir>`.
 *
 * The run starts a session, builds the workload's fixtures once, warms
 * up, then lets one closed-loop client issue whole rounds of operations
 * until `--seconds` have passed and the workload's minimum number of
 * rounds is done. `setup_s` is the session start, plus the build, plus
 * the warm-up. Untraced, the last stdout line carries the end-to-end
 * metrics; traced, the per-layer metrics, and the spans are written
 * under `<work>/results`. Every answer is
 * checked; a failed or wrong operation counts in `failed` and is never
 * used as a timing.
 */
object Main {
  def main(args: Array[String]): Unit = {
    // exit explicitly either way: a thread an engine call left behind
    // must not keep the JVM, and so the benchmark, alive
    val code =
      try { run(args); 0 }
      catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); 1 }
    Console.out.flush()
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace $t")
    }
    val work = new java.io.File(arg("work")).getAbsoluteFile
    if (!Set("lookup", "ingest")(workload)) usage(s"unknown workload $workload")
    require(seconds >= 1, s"--seconds $seconds")

    val host = Host.start()
    val tracer = new Tracer(traced)
    val runDir = new java.io.File(work, s"run_$workload")
    Files.deleteTree(runDir)
    val t0 = System.nanoTime()
    val spark = tracer.span("session.start") {
      GraftSession.builder(s"local[${host.nproc}]")
        .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        .getOrCreate()
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) spark.sparkContext.addSparkListener(tracer.listener)

    val run = new Run(spark, tracer, seed)
    val dataDir = new java.io.File(work, "data")
    dataDir.mkdirs()
    val w: Workload = workload match {
      case "lookup" => new Lookup(run, dataDir)
      case "ingest" => new Ingest(run, dataDir)
    }
    val e0 = System.nanoTime()
    w.expect()
    val expectS = (System.nanoTime() - e0) / 1e9
    val setup = w.build(new java.io.File(runDir, "build"))
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val wallS = run.timedLoop(seconds, w.minRounds)(w.iterate)
    val inputs = w.inputs
    val rssMb = Host.peakRssMb()
    spark.stop()
    val hostEnd = Host.end(host)

    val report = Report(workload, seed, seconds, traced, run, w, setup,
      sessionS, expectS, warmupS, wallS, rssMb)
    val results = new java.io.File(work, "results")
    results.mkdirs()
    val stem = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    val overhead = if (!traced) None else report.tracingOverhead(
      new java.io.File(results, s"$workload-seed$seed-trace0.json"))
    java.nio.file.Files.write(new java.io.File(results, s"$stem.json").toPath,
      report.document(hostEnd, inputs, overhead).getBytes("UTF-8"))
    if (traced) tracer.writeSpans(new java.io.File(results, s"$stem.spans.jsonl").toPath)
    Files.deleteTree(runDir)

    report.printHuman(hostEnd, inputs, overhead)
    println(report.lastLine)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload lookup|ingest " +
      "--seed <n> --seconds <s> --trace 0|1 --work <dir>")
    sys.exit(2)
  }
}

/** Host state recorded beside every result, so a host shift can be told
  * apart from a regression. */
final case class Host(nproc: Int, load1Start: Double, load1End: Double,
    cpuCalibS: Double, heapMaxMb: Double, sparkVersion: String,
    javaVersion: String, cpuTicksStart: (Long, Long), stealPct: Double) {
  def fields: Seq[(String, Any)] = Seq("nproc" -> nproc,
    "load1_start" -> load1Start, "load1_end" -> load1End, "steal_pct" -> stealPct,
    "cpu_calib_s" -> cpuCalibS, "jvm_heap_max_mb" -> heapMaxMb,
    "spark_version" -> sparkVersion, "java_version" -> javaVersion)
}

object Host {
  private def procLines(name: String): Seq[String] = {
    val p = java.nio.file.Paths.get("/proc", name)
    if (!java.nio.file.Files.exists(p)) Nil
    else scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala.toSeq
  }

  /** One-minute load average, or -1 where the host does not say. */
  def load1(): Double =
    procLines("loadavg").headOption.map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** Fixed single-thread xorshift spin, min of three after a discarded
    * JIT pass (the same estimator as `graft.Bench`'s, a sixth of its
    * length). */
  def cpuCalib(): Double = {
    def spin(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L; var i = 0L
      while (i < 44444444L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    spin()
    Seq(spin(), spin(), spin()).min
  }

  /** (steal, total) CPU ticks of the whole machine since boot, or
    * (0, 0) where the host does not say. */
  def cpuTicks(): (Long, Long) = procLines("stat").headOption.map { l =>
    val f = l.trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.getOrElse((0L, 0L))

  def start(): Host = Host(Runtime.getRuntime.availableProcessors(), load1(), -1.0,
    cpuCalib(), Runtime.getRuntime.maxMemory / 1048576.0,
    org.apache.spark.SPARK_VERSION, System.getProperty("java.version"), cpuTicks(), -1.0)

  /** The host at the end of the run, with the share of CPU time the
    * hypervisor gave to other guests (steal) while the run lasted: on a
    * shared machine the largest cause of a slow run. */
  def end(h: Host): Host = {
    val (s1, t1) = cpuTicks()
    val (s0, t0) = h.cpuTicksStart
    h.copy(load1End = load1(),
      stealPct = if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else -1.0)
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = procLines("self/status").find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("peak RSS needs VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
