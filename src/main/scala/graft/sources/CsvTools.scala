package graft.sources

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * CSV source/sink with malformed-row quarantine — the delimited-text
 * twin of [[JsonTools]]'s JSON lattice: ingest pipelines still meet
 * CSV at every vendor boundary, and the two things that go wrong are
 * always the same (quoting of embedded delimiters, and rows that do
 * not match the declared schema). Spark-first shape: the WRITER is
 * `df.write.csv` (task-parallel, one file per partition), the READER
 * is `spark.read.csv` in PERMISSIVE mode with an explicit schema and
 * a `columnNameOfCorruptRecord` column — bad rows are data, not
 * exceptions, exactly like the JSON quarantine path.
 */
object CsvTools {

  /** Write the customer-derived fixture once per corpus, as a store:
    * a column deliberately full of embedded delimiters and quotes (the
    * writer must quote and double-quote per RFC 4180), plus one extra
    * file of two hand-malformed rows (a non-numeric key and an
    * arity-mismatched row) the reader must quarantine, not crash on. */
  def buildCsvStore(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("csv_store@v1", sfDir) { dir =>
      val out = s"$dir/customer_csv"
      Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey"),
          concat(lit("name,\""), col("c_name"), lit("\" x"))
            .as("tricky"),
          col("c_acctbal"))
        .write.option("header", "true").mode("overwrite").csv(out)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bad = fs.create(
        new org.apache.hadoop.fs.Path(s"$out/part-bad.csv"))
      try bad.write(
        ("c_custkey,tricky,c_acctbal\n" +
          "not_a_number,oops,1.50\n" +
          "1,too,many,columns,here\n").getBytes("UTF-8"))
      finally bad.close()
    } + "/customer_csv"

  /**
   * Correctness-gate query: CSV round trip + quarantine in one
   * aggregate witness. Good rows must recover the key sum, the
   * EXACT DECIMAL balance sum, and the total character mass of the
   * delimiter-laden `tricky` column (any quoting bug pads or trims
   * characters); the two injected malformed rows must land in the
   * corrupt column — counted, never fatal. The oracle predicts all
   * of it from the customer table.
   */
  def csvRoundtripQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val path = buildCsvStore(spark, sfDir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("tricky", StringType),
      StructField("c_acctbal", DoubleType),
      StructField("_corrupt", StringType)))
    val back = spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      // PERMISSIVE parsing is lazy about the corrupt column: cache the
      // parsed frame so the good/bad split reads one consistent pass
      .cache()
    val agg = back.agg(
      sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
      sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_bad"),
      sum(when(col("_corrupt").isNull, col("c_custkey"))).as("sum_key"),
      // decimal-sum then one double cast — the q1 exactness rule
      fr(sum(when(col("_corrupt").isNull,
        col("c_acctbal").cast("decimal(18,2)"))), 2)
        .cast("double").as("sum_acctbal"),
      sum(when(col("_corrupt").isNull, length(col("tricky"))
        .cast("long"))).as("tricky_chars"))
    agg
  }
}
