package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Base tables, generated inside the benchmark's work directory so a run
 * reads nothing outside its checkout. The shapes and value ranges
 * follow TPC-H `lineitem` and `orders` at the row counts of sf0.1. The
 * generator is a fixed hash of the row number: the same version always
 * writes the same rows, and the workload seed never changes them — the
 * seed picks keys, the operation mix and batch contents.
 *
 * The tables are the parquet "sources": every answer the benchmark
 * checks is computed from them without the ORC or ACID path.
 */
object Data {
  val Version = 2
  val LineitemRows = 600000L
  val OrdersRows = 150000L
  val PartKeys = 20000L

  /** lineitem's columns and types, in file order. */
  val LineitemColumns: Seq[(String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Seq("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType)
  }

  private def h(salt: Int, id: Column): Column = xxhash64(lit(salt), id)
  private def pick(salt: Int, id: Column, n: Long): Column =
    pmod(h(salt, id), lit(n))

  /** `rows` lineitem rows; orderkeys span rows / 4 orders, so four
    * lines per order on average, as in TPC-H. */
  def lineitem(spark: SparkSession, rows: Long): DataFrame = {
    val id = col("id")
    val qty = (pick(5, id, 50) + 1).cast("double")
    spark.range(rows).select(
      pick(1, id, rows / 4).as("l_orderkey"),
      pick(2, id, PartKeys).as("l_partkey"),
      pick(3, id, 1000).as("l_suppkey"),
      (pick(4, id, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      ((qty * (pick(6, id, 100000) + 90000)).cast("long") / 100.0)
        .as("l_extendedprice"),
      (pick(7, id, 11) / 100.0).as("l_discount"),
      (pick(8, id, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pick(9, id, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (pick(10, id, 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(pick(11, id, 3650) * 86400 + 694224000L)
        .as("l_shipdate"))
  }

  /** The four `orders` columns the ACID fixture carries. */
  def orders(spark: SparkSession, rows: Long): DataFrame = {
    val id = col("id")
    spark.range(rows).select(
      id.as("o_orderkey"),
      pick(21, id, 15000).as("o_custkey"),
      ((pick(22, id, 49900000) + 100000) / 100.0).as("o_totalprice"),
      element_at(array(IngestModel.Statuses.map(lit): _*),
        (pick(23, id, 3) + 1).cast("int")).as("o_orderstatus"))
  }

  /** Path of a generated parquet table, writing it on first use. The
    * write goes to a temporary name and is renamed into place, so an
    * interrupted run never leaves a partial table behind. */
  def cached(spark: SparkSession, dataDir: java.io.File, name: String,
      gen: => DataFrame): String = {
    val dst = new java.io.File(dataDir, s"v${Version}_$name.parquet")
    if (!new java.io.File(dst, "_SUCCESS").exists()) {
      val tmp = new java.io.File(dataDir, s".tmp_${dst.getName}")
      Files.deleteTree(tmp)
      Files.deleteTree(dst)
      gen.write.parquet(tmp.getPath)
      require(tmp.renameTo(dst), s"rename $tmp -> $dst failed")
    }
    dst.getPath
  }
}

/** Expectations derived from the base tables alone, computed once per
  * work directory beside the tables they describe (Java serialization;
  * the name carries the generator version). */
object Expectations {
  def cached[T <: java.io.Serializable](dataDir: java.io.File, name: String)(
      compute: => T): T = {
    val f = new java.io.File(dataDir, s"v${Data.Version}_$name.expect")
    if (f.exists()) {
      val in = new java.io.ObjectInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(f)))
      try in.readObject().asInstanceOf[T] finally in.close()
    } else {
      val v = compute
      val tmp = new java.io.File(dataDir, s".tmp_${f.getName}")
      val out = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(tmp)))
      try out.writeObject(v) finally out.close()
      require(tmp.renameTo(f), s"rename $tmp -> $f failed")
      v
    }
  }
}

/** Local file helpers for the work directory. */
object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    if (f.exists() && !f.delete())
      throw new java.io.IOException(s"cannot delete $f")
  }

  /** Bytes of the data files under `f`, skipping Hadoop checksum
    * files, which a local filesystem writes beside each file. */
  def dataBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dataBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()
}
