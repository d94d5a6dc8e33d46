package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.common.`type`.HiveDecimal
import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector,
  ColumnVector, DecimalColumnVector, DoubleColumnVector, LongColumnVector,
  TimestampColumnVector}
import org.apache.orc.{OrcFile, TypeDescription}

/**
 * Host-independent twins of the reference example files: each fixture
 * is written here with the bundled orc-core writer, and its expected
 * values are the writer's own input, so the checks do not lean on
 * Spark's reader to say what the file holds.
 */
object OrcFixtures {

  /** Write `n` rows of `schema` to one ORC file of format `version`,
    * replacing any file at `path`; `fill(cols, r, i)` sets batch row
    * `r` of `cols` to input row `i`. With `footerAfter` ≥ 0 the writer
    * also writes an intermediate footer once that many rows are in,
    * and `onFooter` receives the file length it leaves readable. */
  private def writeOrc(path: String, schema: String, n: Int,
      stride: Int, bloomColumns: String = "",
      version: OrcFile.Version = OrcFile.Version.CURRENT,
      footerAfter: Int = -1, onFooter: Long => Unit = _ => ())(
      fill: (Array[ColumnVector], Int, Int) => Unit): String = {
    val opts = OrcFile
      .writerOptions(new org.apache.hadoop.conf.Configuration())
      .setSchema(TypeDescription.fromString(schema))
      .rowIndexStride(stride)
      .bloomFilterColumns(bloomColumns)
      .version(version)
      .overwrite(true)
    val w = OrcFile.createWriter(new Path(path), opts)
    val batch = opts.getSchema.createRowBatch(1024)
    (0 until n).foreach { i =>
      if (i == footerAfter) {
        if (batch.size > 0) w.addRowBatch(batch)
        batch.reset()
        onFooter(w.writeIntermediateFooter())
      }
      fill(batch.cols, batch.size, i)
      batch.size += 1
      if (batch.size == batch.getMaxSize) {
        w.addRowBatch(batch); batch.reset()
      }
    }
    if (batch.size > 0) w.addRowBatch(batch)
    w.close()
    path
  }

  /** `n` rows of `struct<k:bigint>` holding 0 … n−1, replacing any file
    * at `path`. With `flushAfter` ≥ 0 an intermediate footer follows
    * that many rows, and the result is the length it leaves readable
    * (an open file's last flush): read up to it, the file holds
    * `flushAfter` rows. Otherwise the result is −1. */
  def longs(path: String, n: Int, flushAfter: Int = -1): Long = {
    var flushed = -1L
    writeOrc(path, "struct<k:bigint>", n, stride = 10000,
        footerAfter = flushAfter, onFooter = len => flushed = len) {
        (cols, r, i) =>
          cols(0).asInstanceOf[LongColumnVector].vector(r) = i
    }
    flushed
  }

  /** Twin of `orc_split_elim.orc`: 25,000 rows, index stride 5000.
    * `userid` is 100 everywhere except rows 0, 5000, 10000, 15000 and
    * 20000, which hold 2, 13, 29, 70 and 5 — so only the first row
    * group's min admits `userid <= 2`. */
  def splitElim(dir: String): String = {
    val marks = Map(0 -> 2L, 5000 -> 13L, 10000 -> 29L, 15000 -> 70L,
      20000 -> 5L)
    writeOrc(s"$dir/split_elim.orc", "struct<userid:bigint>", 25000,
        stride = 5000) { (cols, r, i) =>
      cols(0).asInstanceOf[LongColumnVector].vector(r) =
        marks.getOrElse(i, 100L)
    }
  }

  /** One input row of [[colN]], in `_col0` … `_col10` order (null `s`
    * is a null `_col7`). */
  case class ColNRow(t: Byte, si: Short, i: Int, b: Long, f: Float,
      d: Double, bo: Boolean, s: String, tsMillis: Long,
      dec: java.math.BigDecimal, bin: Array[Byte])

  val colNRows: IndexedSeq[ColNRow] = (0 until 4000).map { k =>
    ColNRow((k % 256 - 128).toByte, (k * 7 % 30000).toShort,
      // 257 values in [-10000, 66800], every one in each 1000-row group
      (k * 7919 % 257) * 300 - 10000, k * 1000003L, (k % 100) * 0.5f,
      k / 8.0, k % 2 == 0, if (k % 3 == 0) null else s"s$k",
      1500000000000L + k * 3600000L,
      java.math.BigDecimal.valueOf(k % 9999 - 4999, 2), Array(k.toByte))
  }

  /** An int key inside every row group's `_col2` min/max that no row
    * holds: only the bloom filter can prove it absent. */
  val colNAbsentKey = 12345

  /** Twin of `over1k_bloom.orc`: 11 columns named `_col0` … `_col10`
    * (a writer that kept no column names), index stride 1000, a bloom
    * filter on `_col2`, and nulls in `_col7`. `version` picks the file
    * format (0.12 by default; 0.11 twins the format-0.11 demo files). */
  def colN(dir: String,
      version: OrcFile.Version = OrcFile.Version.CURRENT): String =
    writeOrc(s"$dir/colN-${version.getName}.orc",
        "struct<_col0:tinyint,_col1:smallint," +
        "_col2:int,_col3:bigint,_col4:float,_col5:double,_col6:boolean," +
        "_col7:string,_col8:timestamp,_col9:decimal(4,2),_col10:binary>",
        colNRows.size, stride = 1000, bloomColumns = "_col2",
        version = version) {
      (cols, r, i) =>
        val x = colNRows(i)
        def long(c: Int, v: Long): Unit =
          cols(c).asInstanceOf[LongColumnVector].vector(r) = v
        def dbl(c: Int, v: Double): Unit =
          cols(c).asInstanceOf[DoubleColumnVector].vector(r) = v
        long(0, x.t); long(1, x.si); long(2, x.i); long(3, x.b)
        dbl(4, x.f); dbl(5, x.d); long(6, if (x.bo) 1L else 0L)
        val s = cols(7).asInstanceOf[BytesColumnVector]
        if (x.s == null) { s.noNulls = false; s.isNull(r) = true }
        else s.setVal(r, x.s.getBytes("UTF-8"))
        cols(8).asInstanceOf[TimestampColumnVector]
          .set(r, new java.sql.Timestamp(x.tsMillis))
        cols(9).asInstanceOf[DecimalColumnVector]
          .set(r, HiveDecimal.create(x.dec))
        cols(10).asInstanceOf[BytesColumnVector].setVal(r, x.bin)
    }
}
