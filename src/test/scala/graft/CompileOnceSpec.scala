package graft

import graft.functions.KeyParam
import graft.sources.OrcIo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._

/**
 * One compiled filter per query shape ([[graft.functions.KeyParams]]):
 * two reads that differ only in a key share one generated class, and
 * the rows stay those of the literal.
 */
class CompileOnceSpec extends SparkSpec {

  /** 3,000 rows of a long key `k`, a date `d` and a timestamp `t`, one
    * per key, in one ORC file. */
  private lazy val table: String = {
    val dir = OrcIo.scratchDir("compile_once")
    OrcIo.write(spark.range(3000).toDF("k")
      .withColumn("d", date_add(lit(java.time.LocalDate.parse("2020-01-01")),
        col("k").cast("int")))
      .withColumn("t", timestamp_seconds(col("k") * 3600 + 1577836800L))
      .coalesce(1), s"$dir/t")
    s"$dir/t"
  }

  private def read: DataFrame = spark.read.orc(table)

  /** The filter's rows (keys `k`, sorted) over `from` and the number of
    * classes Spark compiled while planning and running it. */
  private def keysAndCompiles(cond: Column, from: => DataFrame = read)
      : (Seq[Long], Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    val keys = from.filter(cond).select(col("k")).collect()
      .map(_.getLong(0)).toSeq.sorted
    (keys, h.getCount - before)
  }

  /** Run `shape` on the first key (which may compile), then on the
    * second: it must compile nothing and return `want`. */
  private def sharesClass[A](shape: A => Column, first: A, second: A,
      want: Seq[Long], from: => DataFrame = read): Unit = {
    keysAndCompiles(shape(first), from)
    val (keys, compiles) = keysAndCompiles(shape(second), from)
    assert(compiles == 0L, s"a new key compiled $compiles classes")
    assert(keys == want)
  }

  test("a second lookup with another key compiles nothing") {
    sharesClass[Long](k => col("k") === k, 123L, 2456L, Seq(2456L))
  }

  test("Long.MinValue, date, timestamp and IN keys share a class") {
    sharesClass[Long](k => col("k") > k, 2990L, Long.MinValue, 0L until 3000L)
    sharesClass[String](d => col("d") === lit(java.time.LocalDate.parse(d)),
      "2020-01-05", "2027-01-01", Seq(2557L))
    sharesClass[String](t => col("t") < lit(java.time.Instant.parse(t)),
      "2020-01-01T05:00:00Z", "2020-01-01T02:30:00Z", Seq(0L, 1L, 2L))
    sharesClass[Seq[Long]](ks => col("k").isin(ks: _*), Seq(1L, 2L, 3L),
      Seq(40L, 7L, 9999L), Seq(7L, 40L))
  }

  test("a lookup read on the driver, and one on the job path, compile " +
      "nothing for a second key") {
    keysAndCompiles(col("k") === 5L)
    var got: (Seq[Long], Long) = null
    assert(jobsIn("driver-key") { got = keysAndCompiles(col("k") === 2999L) }
      == 0)
    assert(got == ((Seq(2999L), 0L)))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      keysAndCompiles(col("k") === 5L)
      assert(jobsIn("job-key") { got = keysAndCompiles(col("k") === 2998L) }
        > 0)
      assert(got == ((Seq(2998L), 0L)))
    }
  }

  test("a filter over a source other than ORC shares a class too") {
    sharesClass[Long](k => col("k") === k, 11L, 4321L, Seq(4321L),
      spark.range(5000).toDF("k"))
  }

  test("interpreted evaluation (NO_CODEGEN) gives the same rows") {
    val conds = Seq(col("k") === 77L, col("k").isin(5L, 6L),
      col("d") < lit(java.time.LocalDate.parse("2020-01-04")))
    val compiled = conds.map(keysAndCompiles(_)._1)
    val keys = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(conds.map(keysAndCompiles(_)._1) == compiled)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(compiled == Seq(Seq(77L), Seq(5L, 6L), Seq(0L, 1L, 2L)))
  }

  test("round(x, 2) > 5 keeps the literal under round") {
    val q = read.filter(round(col("k"), 2) > 5L)
    assert(q.count() == 2994L)
    val cond = q.queryExecution.executedPlan.collect {
      case f: FilterExec => f.condition
    }.head
    val rounds = cond.collect { case r: Round => r }
    assert(rounds.nonEmpty && rounds.forall(_.scale.isInstanceOf[Literal]),
      cond)
    assert(cond.collect { case p: KeyParam => p }.nonEmpty, cond)
    // explain text renders the key as the literal it stands for
    assert(q.queryExecution.executedPlan.toString.contains("> 5)"),
      q.queryExecution.executedPlan)
  }
}
