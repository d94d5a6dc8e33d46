package graft

import graft.sources.{DriverScan, DriverScanExec, OrcIo}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Small collect-shaped ORC scans read on the driver ([[DriverScan]]):
 * they start no Spark job, answer as the job path does, keep the job
 * path wherever the driver mode does not hold, and close every reader.
 */
class DriverScanSpec extends SparkSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** 6,000 rows in 3 files: a long key `k`, a bloom-indexed group `g`,
    * a string `s` that is null on every fifth row, a double `x`. */
  private lazy val table: String = {
    val dir = OrcIo.scratchDir("driver_scan")
    OrcIo.write(spark.range(0, 6000, 1, 3).select(col("id").as("k"),
      (col("id") % 7).as("g"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise(concat(lit("s"), col("id"))).as("s"),
      (col("id") / 4.0).as("x")), s"$dir/t", bloomColumns = Seq("g"))
    s"$dir/t"
  }

  private def read: DataFrame = spark.read.orc(table)

  private def tableBytes: Long = new java.io.File(table).listFiles()
    .filter(_.getName.endsWith(".orc")).map(_.length).sum

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  }.toString).toSeq.sorted

  /** `q` run by `run` on the driver path, which must start no job, and
    * on the job path (the threshold at `-1`), which must start one; the
    * two must give equal rows. Returns the driver path's rows. */
  private def bothPaths(q: => DataFrame,
      run: DataFrame => Array[Row] = _.collect()): Array[Row] = {
    var driver: Array[Row] = null
    var job: Array[Row] = null
    assert(jobsIn("driver") { driver = run(q) } == 0)
    withConf(Threshold -> "-1") {
      assert(jobsIn("job") { job = run(q) } > 0)
    }
    assert(sorted(driver) == sorted(job))
    driver
  }

  /** `q` stays on the job path at the default threshold. */
  private def jobPath(q: => DataFrame): Unit = {
    val df = q
    assert(!df.queryExecution.executedPlan.isInstanceOf[DriverScanExec])
    assert(jobsIn("kept")(df.collect()) > 0)
  }

  test("a small collect and a take start no job; a scan above the cut does") {
    assert(tableBytes > 0L)
    assert(jobsIn("collect")(read.filter(col("k") === 42L).collect()) == 0)
    assert(jobsIn("take")(read.filter(col("g") === 3L).take(4)) == 0)
    assert(read.filter(col("g") === 3L).take(4).length == 4)
    // the cut is on the listed bytes, inclusive
    withConf(Threshold -> tableBytes.toString) {
      assert(jobsIn("at")(read.filter(col("k") === 42L).collect()) == 0)
    }
    withConf(Threshold -> (tableBytes - 1).toString) {
      assert(jobsIn("above")(read.filter(col("k") === 42L).collect()) > 0)
    }
    assert(DriverScan.limit(spark) == math.min(DriverScan.DriverScanMaxBytes,
      spark.sessionState.conf.autoBroadcastJoinThreshold))
  }

  test("point, range and IN filters, nulls and empty results answer as " +
      "the job path does") {
    assert(bothPaths(read.filter(col("k") === 4321L)).length == 1)
    assert(bothPaths(read.filter(col("k").between(1000L, 1200L))
      .select(col("s"), col("k"))).length == 201)
    assert(bothPaths(read.filter(col("k").isin(3L, 999L, 4321L, 99999L)))
      .length == 3)
    assert(bothPaths(read.filter(col("s").isNull && col("k") < 100L))
      .length == 20)
    assert(bothPaths(read.filter(col("g") === 3L && col("s").isNotNull)
      .select(upper(col("s")), col("x") * 2)).length == 685)
    assert(bothPaths(read.filter(col("k") === 123456L)).isEmpty)
    assert(bothPaths(read.filter(col("g") > 99L)).isEmpty)
    assert(bothPaths(read).length == 6000)
  }

  test("readEvolved, readPositional and a _colN file answer as the job " +
      "path does") {
    val evolved = StructType(Seq(StructField("k", LongType),
      StructField("g", StringType), StructField("s", StringType),
      StructField("x", DoubleType), StructField("added", StringType)))
    val ev = bothPaths(OrcIo.readEvolved(spark, table, evolved)
      .filter(col("k") === 42L))
    assert(ev.map(r => (r.getString(1), r.isNullAt(4))).toSeq ==
      Seq(("0", true)))
    val renamed = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType), StructField("c", StringType),
      StructField("d", DoubleType)))
    assert(bothPaths(OrcIo.readPositional(spark, table, renamed)
      .filter(col("a") === 77L)).map(_.getString(2)).toSeq == Seq("s77"))
    val f = OrcFixtures.colN(OrcIo.scratchDir("driver_scan_coln"))
    val named = StructType(Seq(StructField("t", ByteType),
      StructField("si", ShortType), StructField("i", IntegerType),
      StructField("b", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("bo", BooleanType),
      StructField("s", StringType), StructField("ts", TimestampType),
      StructField("dec", DecimalType(4, 2)), StructField("bin", BinaryType)))
    val x = OrcFixtures.colNRows(1234)
    assert(bothPaths(OrcIo.readPositional(spark, f, named)
      .filter(col("b") === x.b)).map(_.getInt(2)).toSeq == Seq(x.i))
    assert(bothPaths(spark.read.orc(f)
      .filter(col("_col2") === OrcFixtures.colNAbsentKey)).isEmpty)
  }

  test("the row reader (vectorized reader off) answers as the job path " +
      "does") {
    withConf("spark.sql.orc.enableVectorizedReader" -> "false") {
      assert(bothPaths(read.filter(col("k") === 4321L)).length == 1)
      assert(bothPaths(read.filter(col("k").between(1000L, 1200L))
        .select(col("s"), col("k"))).length == 201)
      assert(bothPaths(read.filter(col("s").isNull && col("k") < 100L))
        .length == 20)
      assert(bothPaths(read).length == 6000)
      assert(bothPaths(read.limit(5)).length == 5)
      val dir = OrcIo.scratchDir("driver_scan_rows_part")
      OrcIo.write(spark.range(0, 900).select(col("id").as("k"),
        (col("id") % 3).as("p")), s"$dir/t", partitionBy = Seq("p"))
      assert(bothPaths(spark.read.orc(s"$dir/t")
        .filter(col("p") === 1 && col("k") < 100L)).length == 33)
    }
  }

  test("a driver-path lookup broadcasts nothing; the job path does") {
    val sc = spark.sparkContext
    /** Broadcasts made by `body`: the gap between two probe ids. */
    def broadcasts(body: => Any): Long = {
      val before = sc.broadcast(0)
      body
      val after = sc.broadcast(0)
      Seq(before, after).foreach(_.destroy())
      after.id - before.id - 1
    }
    read.filter(col("k") === 42L).collect()
    assert(broadcasts(read.filter(col("k") === 42L).collect()) == 0L)
    assert(broadcasts(read.filter(col("g") === 3L).take(4)) == 0L)
    withConf(Threshold -> "-1") {
      assert(broadcasts(read.filter(col("k") === 42L).collect()) > 0L)
    }
  }

  test("a hive-partitioned directory: the partition column in the filter " +
      "and the projection") {
    val dir = OrcIo.scratchDir("driver_scan_part")
    OrcIo.write(spark.range(0, 900).select(col("id").as("k"),
      (col("id") % 3).as("p")), s"$dir/t", partitionBy = Seq("p"))
    val rows = bothPaths(spark.read.orc(s"$dir/t")
      .filter(col("p") === 1 && col("k") < 100L).select(col("p"), col("k")))
    assert(rows.length == 33 && rows.forall(_.getInt(0) == 1))
  }

  test("limit reads on the driver and closes its readers early; a failure " +
      "closes them too") {
    OrcFixtures.withSessionScheme(spark) {
      val scheme = s"graftfs://$table"
      val (live, opened) = (graft.SessionSchemeFs.live.get,
        graft.SessionSchemeFs.opened.get)
      assert(bothPaths(spark.read.orc(scheme).limit(5)).length == 5)
      assert(bothPaths(spark.read.orc(scheme), _.take(7)).length == 7)
      assert(graft.SessionSchemeFs.opened.get > opened)
      assert(graft.SessionSchemeFs.live.get == live)
      val failing = spark.read.orc(scheme).select(
        when(col("k") === 1500L, raise_error(lit("boom")))
          .otherwise(col("k")).as("k"))
      assert(failing.queryExecution.executedPlan.isInstanceOf[DriverScanExec])
      val e = intercept[Exception](failing.collect())
      assert(e.getMessage.contains("boom"), e.getMessage)
      assert(graft.SessionSchemeFs.live.get == live)
    }
  }

  test("reads through the session's Hadoop configuration") {
    OrcFixtures.withSessionScheme(spark) {
      assert(bothPaths(spark.read.orc(s"graftfs://$table")
        .filter(col("k") === 4321L)).length == 1)
    }
  }

  test("the scan's numFiles, filesSize and numOutputRows match the job " +
      "path's") {
    def metrics(): Map[String, Long] = {
      val df = read.filter(col("g") === 3L).select(col("k"))
      df.collect()
      val scan = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.head
      Seq("numFiles", "filesSize", "numOutputRows")
        .map(m => m -> scan.metrics(m).value).toMap
    }
    val driver = metrics()
    val job = withConf(Threshold -> "-1")(metrics())
    assert(driver == job)
    assert(driver("numFiles") == 3L && driver("filesSize") == tableBytes)
    assert(driver("numOutputRows") > 0L)
  }

  test("input_file_name, _metadata, ignoreCorruptFiles, " +
      "ignoreMissingFiles, parquet and aggregates keep the job path") {
    jobPath(read.filter(col("k") === 42L).select(input_file_name()))
    jobPath(read.filter(col("k") === 42L)
      .select(col("k"), col("_metadata.file_path")))
    jobPath(read.filter(col("k") === 42L).select(col("k"), rand()))
    Seq("ignoreCorruptFiles", "ignoreMissingFiles").foreach { o =>
      withConf(s"spark.sql.files.$o" -> "true") {
        assert(jobsIn(o)(read.filter(col("k") === 42L).collect()) > 0, o)
      }
      assert(jobsIn(s"$o-option")(spark.read.option(o, "true").orc(table)
        .filter(col("k") === 42L).collect()) > 0, o)
    }
    val pq = s"${OrcIo.scratchDir("driver_scan_pq")}/t"
    read.write.parquet(pq)
    jobPath(spark.read.parquet(pq).filter(col("k") === 42L))
    jobPath(read.filter(col("k") < 42L).agg(count(lit(1))))
  }
}
