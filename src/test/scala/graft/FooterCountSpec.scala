package graft

import graft.sources.{FooterCount, FooterCountExec, OrcIo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Unfiltered ORC counts answered from footer row counts
 * ([[FooterCount]]): they start no Spark job, equal the scan's count,
 * and every other count shape keeps Spark's plan.
 */
class FooterCountSpec extends SparkSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** 6,000 rows in 3 files: a long key `k` and a group `g`. */
  private lazy val table: String = {
    val dir = OrcIo.scratchDir("footer_count")
    OrcIo.write(spark.range(0, 6000, 1, 3).select(col("id").as("k"),
      (col("id") % 7).as("g")), s"$dir/t")
    s"$dir/t"
  }

  private def planned(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(_.isInstanceOf[FooterCountExec])

  /** `df.count()`, `agg(count(lit(1)))` and SQL `count(*)` over `df`
    * answer from footers with no job, and equal the scan's count (the
    * threshold at `-1`), which runs a job. Returns the count. */
  private def footerCount(df: => DataFrame): Long = {
    val counted = df.agg(count(lit(1)))
    assert(planned(counted), counted.queryExecution.executedPlan)
    var n, agg, sql = -1L
    assert(jobsIn("footer") {
      n = df.count()
      agg = df.agg(count(lit(1)).as("n")).head().getLong(0)
      df.createOrReplaceTempView("footer_count_view")
      sql = spark.sql("SELECT count(*) FROM footer_count_view").head().getLong(0)
    } == 0)
    val scanned = withConf(Threshold -> "-1") {
      assert(!planned(df.agg(count(lit(1)))))
      var c = -1L
      assert(jobsIn("scan") { c = df.count() } > 0)
      c
    }
    assert(Seq(n, agg, sql) == Seq.fill(3)(scanned))
    n
  }

  /** A count shape that keeps Spark's plan, answering as before. */
  private def keeps(df: DataFrame, want: Long): Unit = {
    assert(FooterCount(df.queryExecution.optimizedPlan).isEmpty)
    assert(!planned(df), df.queryExecution.executedPlan)
    assert(df.collect().map(_.getLong(0)).sum == want)
  }

  test("a plain read, a hive-partitioned directory, zero-length and " +
      "zero-row files count from footers with no job") {
    assert(footerCount(spark.read.orc(table)) == 6000L)
    assert(footerCount(OrcIo.read(spark, table).select(col("k"))) == 6000L)
    val dir = OrcIo.scratchDir("footer_count_part")
    OrcIo.write(spark.range(0, 900).select(col("id").as("k"),
      (col("id") % 3).as("p")), s"$dir/t", partitionBy = Seq("p"))
    assert(footerCount(spark.read.orc(s"$dir/t")) == 900L)
    // a zero-length file, a zero-row file and a struct<> file beside
    // the data files
    val p1 = new java.io.File(s"$dir/t/p=1")
    assert(new java.io.File(p1, "part-zero-length.orc").createNewFile())
    OrcFixtures.emptyFile(s"$p1/part-zero-rows.orc", "struct<k:bigint>")
    OrcFixtures.emptyFile(s"$p1/part-no-columns.orc", "struct<>")
    assert(footerCount(spark.read.orc(s"$dir/t")) == 900L)
    val empty = OrcIo.scratchDir("footer_count_empty")
    OrcFixtures.emptyFile(s"$empty/t/part-0.orc", "struct<a:int,b:string>")
    assert(footerCount(spark.read.orc(s"$empty/t")) == 0L)
  }

  test("readEvolved, readPositional and a _colN file count from footers") {
    val evolved = StructType(Seq(StructField("k", LongType),
      StructField("g", StringType), StructField("added", StringType)))
    assert(footerCount(OrcIo.readEvolved(spark, table, evolved)) == 6000L)
    val renamed = StructType(Seq(StructField("a", LongType),
      StructField("b", LongType)))
    assert(footerCount(OrcIo.readPositional(spark, table, renamed)) == 6000L)
    val f = OrcFixtures.colN(OrcIo.scratchDir("footer_count_coln"))
    assert(footerCount(spark.read.orc(f)) == OrcFixtures.colNRows.size)
  }

  test("a table on a session-only scheme counts from footers") {
    OrcFixtures.withSessionScheme(spark) {
      assert(footerCount(spark.read.orc(s"graftfs://$table")) == 6000L)
    }
  }

  test("a listing above the partition-discovery threshold counts from " +
      "footers") {
    // the setting no longer sends footer reads to a Spark job
    withConf("spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1") {
      assert(footerCount(spark.read.orc(table)) == 6000L)
    }
  }

  test("filters, groupings, count(col), DISTINCT, FILTER, ignore options, " +
      "parquet, ACID deltas, streaming and the -1 threshold keep Spark's " +
      "plan") {
    val df = spark.read.orc(table)
    keeps(df.filter(col("k") < 100L).agg(count(lit(1))), 100L)
    val dir = OrcIo.scratchDir("footer_count_keep")
    OrcIo.write(spark.range(0, 900).select(col("id").as("k"),
      (col("id") % 3).as("p")), s"$dir/part", partitionBy = Seq("p"))
    keeps(spark.read.orc(s"$dir/part").filter(col("p") === 1)
      .agg(count(lit(1))), 300L)
    keeps(df.groupBy(col("g")).count().select(col("count")), 6000L)
    keeps(df.agg(count(col("k"))), 6000L)
    keeps(df.agg(countDistinct(lit(1))), 1L)
    df.createOrReplaceTempView("footer_count_keep_view")
    keeps(spark.sql(
      "SELECT count(*) FILTER (WHERE k < 10) FROM footer_count_keep_view"),
      10L)
    keeps(df.agg(count(lit(null))), 0L)
    Seq("ignoreCorruptFiles", "ignoreMissingFiles").foreach { o =>
      withConf(s"spark.sql.files.$o" -> "true") {
        keeps(spark.read.orc(table).agg(count(lit(1))), 6000L)
      }
      keeps(spark.read.option(o, "true").orc(table).agg(count(lit(1))), 6000L)
    }
    val pq = s"$dir/pq"
    df.write.parquet(pq)
    keeps(spark.read.parquet(pq).agg(count(lit(1))), 6000L)
    withConf(Threshold -> "-1") {
      keeps(df.agg(count(lit(1))), 6000L)
    }
    // ORC's ACID event schema: Spark's batch reader fails to count it
    // (AcidSpec's canary), so the count keeps that plan
    val delta = spark.range(0, 3).select(lit(0).as("operation"),
      col("id").as("originalTransaction"), lit(0).as("bucket"),
      col("id").as("rowId"), lit(1L).as("currentTransaction"),
      struct(col("id").as("id")).as("row"))
    delta.write.orc(s"$dir/delta_1")
    assert(FooterCount(spark.read.orc(s"$dir/delta_1").agg(count(lit(1)))
      .queryExecution.optimizedPlan).isEmpty)
    // a streaming relation of the same files
    val batch = df.agg(count(lit(1))).queryExecution.optimizedPlan
    assert(FooterCount(batch).nonEmpty)
    assert(FooterCount(batch.transform {
      case r: LogicalRelation => r.copy(isStreaming = true)
    }).isEmpty)
  }
}
