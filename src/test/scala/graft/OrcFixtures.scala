package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.common.`type`.HiveDecimal
import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector,
  ColumnVector, DecimalColumnVector, DoubleColumnVector, LongColumnVector,
  TimestampColumnVector, UnionColumnVector}
import org.apache.orc.{CompressionKind, OrcFile, TypeDescription}

/**
 * Host-independent twins of the reference example files: each fixture
 * is written here with the bundled orc-core writer, and its expected
 * values are the writer's own input, so the checks do not lean on
 * Spark's reader to say what the file holds.
 */
object OrcFixtures {

  /** Write `n` rows of `schema` to one ORC file of format `version`,
    * replacing any file at `path`; `fill(cols, r, i)` sets batch row
    * `r` of `cols` to input row `i`. `codec` and `stripeSize`, when
    * given, replace the writer's defaults. With `footerAfter` ≥ 0 the writer
    * also writes an intermediate footer once that many rows are in,
    * and `onFooter` receives the file length it leaves readable. */
  private def writeOrc(path: String, schema: String, n: Int,
      stride: Int, bloomColumns: String = "",
      version: OrcFile.Version = OrcFile.Version.CURRENT,
      codec: Option[CompressionKind] = None, stripeSize: Option[Long] = None,
      footerAfter: Int = -1, onFooter: Long => Unit = _ => ())(
      fill: (Array[ColumnVector], Int, Int) => Unit): String = {
    val opts = OrcFile
      .writerOptions(new org.apache.hadoop.conf.Configuration())
      .setSchema(TypeDescription.fromString(schema))
      .rowIndexStride(stride)
      .bloomFilterColumns(bloomColumns)
      .version(version)
      .overwrite(true)
    codec.foreach(opts.compress)
    stripeSize.foreach(opts.stripeSize)
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

  /** A file of `schema` with no rows: the twin of
    * `TestOrcFile.emptyFile.orc`, and of `zero.orc` for `struct<>`. */
  def emptyFile(path: String, schema: String): String =
    writeOrc(path, schema, 0, stride = 10000)((_, _, _) => ())

  /** Twin of `version1999.orc`: a [[longs]] file whose PostScript says
    * it was written by ORC 19.99. The PostScript (the last `psLen`
    * bytes before the final length byte) holds the version as field 4,
    * packed: tag 0x22, length 2, then 0 and 12 for format 0.12. Both
    * 19 and 99 are one-byte varints, so the patch keeps every length. */
  def futureVersionFile(path: String): String = {
    longs(path, 100)
    val p = java.nio.file.Paths.get(path)
    val bytes = java.nio.file.Files.readAllBytes(p)
    val psLen = bytes.last & 0xff
    val ps = bytes.length - 1 - psLen
    val at = (ps until bytes.length - 4).find(i =>
      bytes(i) == 0x22 && bytes(i + 1) == 2 && bytes(i + 2) == 0 &&
        bytes(i + 3) == 12)
    require(at.isDefined, s"no 0.12 version field in $path's PostScript")
    bytes(at.get + 2) = 19
    bytes(at.get + 3) = 99
    java.nio.file.Files.write(p, bytes)
    // the writer's checksum sidecar no longer matches the patched bytes
    java.nio.file.Files.deleteIfExists(
      p.resolveSibling(s".${p.getFileName}.crc"))
    path
  }

  /** The `userid` values of [[splitElim]]: 100 everywhere except rows
    * 0, 5000, 10000, 15000 and 20000, which hold 2, 13, 29, 70 and 5. */
  val splitElimUserids: IndexedSeq[Long] = {
    val marks = Map(0 -> 2L, 5000 -> 13L, 10000 -> 29L, 15000 -> 70L,
      20000 -> 5L)
    (0 until 25000).map(marks.getOrElse(_, 100L))
  }

  /** Twin of `orc_split_elim.orc`: the 25,000 [[splitElimUserids]],
    * index stride 5000, so only the first row group's min admits
    * `userid <= 2`. */
  def splitElim(dir: String): String =
    writeOrc(s"$dir/split_elim.orc", "struct<userid:bigint>",
        splitElimUserids.size, stride = 5000) { (cols, r, i) =>
      cols(0).asInstanceOf[LongColumnVector].vector(r) = splitElimUserids(i)
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

  /** One input row of [[unionFile]]: a timestamp and a union that holds
    * an int (tag 0) or a string (tag 1), or is null. */
  case class UnionRow(ts: java.sql.Timestamp, tag: Int, value: Any)

  val unionRows: IndexedSeq[UnionRow] = (0 until 3000).map { k =>
    val ts = new java.sql.Timestamp(1000000000000L + k * 86400000L)
    ts.setNanos(k * 1001 % 1000000000)
    k % 5 match {
      case 0 => UnionRow(ts, -1, null)
      case 1 | 3 => UnionRow(ts, 0, k * 7 - 3000)
      case 2 => UnionRow(ts, 1, if (k % 3 == 0) null else s"u$k")
      case _ => UnionRow(ts, 1, "é" * (k % 4))
    }
  }

  /** Twin of `TestOrcFile.testUnionAndTimestamp.orc`: a timestamp column
    * and a `uniontype<int,string>` column. Rows with tag −1 hold a null
    * union; a union may also hold a null under a valid tag. */
  def unionFile(dir: String): String =
    writeOrc(s"$dir/union.orc",
        "struct<time:timestamp,union:uniontype<int,string>>",
        unionRows.size, stride = 1000) { (cols, r, i) =>
      val x = unionRows(i)
      cols(0).asInstanceOf[TimestampColumnVector].set(r, x.ts)
      val u = cols(1).asInstanceOf[UnionColumnVector]
      if (x.tag < 0) { u.noNulls = false; u.isNull(r) = true }
      else {
        u.isNull(r) = false
        u.tags(r) = x.tag
        val f = u.fields(x.tag)
        if (x.value == null) { f.noNulls = false; f.isNull(r) = true }
        else {
          f.isNull(r) = false
          x.value match {
            case n: Int => f.asInstanceOf[LongColumnVector].vector(r) = n
            case v: String => f.asInstanceOf[BytesColumnVector]
              .setVal(r, v.getBytes("UTF-8"))
          }
        }
      }
    }

  /** Wall-clock times of [[timestampFile]], 1995 to 2037, with
    * nanoseconds. */
  val timestampWallClocks: IndexedSeq[String] = IndexedSeq(
    "1995-01-01 00:00:00.000000001", "1996-02-29 12:34:56.123456789",
    "1999-12-31 23:59:59.999999999", "2000-03-12 15:00:00.09",
    "2003-06-15 01:02:03.4", "2008-10-01 08:00:00",
    "2014-03-09 01:30:00.5", "2019-11-03 01:30:00.000001",
    "2024-07-04 18:00:00.25", "2029-01-01 00:00:00.000000999",
    "2033-05-18 03:33:20", "2037-12-31 23:59:59.123")

  /** Twin of `TestOrcFile.testTimestamp.orc`: a file whose root type is
    * a bare `timestamp`, written in the writer time zone `zone` (the
    * JVM default while it writes; a DST zone exercises the reader's
    * writer-to-reader zone shift). The rows are
    * [[timestampWallClocks]] then one null. */
  def timestampFile(dir: String, zone: String): String = {
    val prior = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(zone))
    try writeOrc(s"$dir/timestamp.orc", "timestamp",
        timestampWallClocks.size + 1, stride = 1000) { (cols, r, i) =>
      val c = cols(0).asInstanceOf[TimestampColumnVector]
      if (i == timestampWallClocks.size) { c.noNulls = false; c.isNull(r) = true }
      else c.set(r, java.sql.Timestamp.valueOf(timestampWallClocks(i)))
    } finally java.util.TimeZone.setDefault(prior)
  }

  /** The dates of [[datesFile]] `era` (1900 or 2038): one every 11
    * days from the era's first day, with a timestamp at the same day
    * and a varying time. */
  def dateRows(era: Int): IndexedSeq[(java.time.LocalDate, java.sql.Timestamp)] =
    (0 until 5000).map { k =>
      val d = java.time.LocalDate.of(era, 1, 1).plusDays(k * 11L)
      d -> java.sql.Timestamp.valueOf(
        d.atTime(k % 24, k % 60, k % 60, k * 1000 % 1000000000))
    }

  /** Twin of `TestOrcFile.testDate1900.orc` and `testDate2038.orc`:
    * `struct<time:timestamp,date:date>` over [[dateRows]]. */
  def datesFile(dir: String, era: Int): String =
    writeOrc(s"$dir/dates-$era.orc", "struct<time:timestamp,date:date>",
        dateRows(era).size, stride = 1000) { (cols, r, i) =>
      val (d, ts) = dateRows(era)(i)
      cols(0).asInstanceOf[TimestampColumnVector].set(r, ts)
      cols(1).asInstanceOf[LongColumnVector].vector(r) = d.toEpochDay
    }

  /** The `_col0` values of [[decimalFile]]: 6,000 decimals of scale 5,
    * negative and positive, every 7th one null. */
  val decimalValues: IndexedSeq[java.math.BigDecimal] = (0 until 6000).map { k =>
    if (k % 7 == 3) null
    else java.math.BigDecimal.valueOf(k * 7919L % 2000003L - 1000000L, 5)
  }

  /** Twin of `decimal.orc`: one `_col0 decimal(10,5)` column (a writer
    * that kept no column names) over [[decimalValues]]. */
  def decimalFile(dir: String): String =
    writeOrc(s"$dir/decimal.orc", "struct<_col0:decimal(10,5)>",
        decimalValues.size, stride = 1000) { (cols, r, i) =>
      val c = cols(0).asInstanceOf[DecimalColumnVector]
      decimalValues(i) match {
        case null => c.noNulls = false; c.isNull(r) = true
        case v => c.isNull(r) = false; c.set(r, HiveDecimal.create(v))
      }
    }

  /** One input row of [[codecFile]]: a key and a string that is null in
    * the last 2,000 rows (the nulls-at-end shape). */
  def codecRow(k: Int): (Long, String) =
    (k * 7919L - 40000000L, if (k >= 8000) null else s"v${k % 997}")

  /** Twin of the codec matrix files (`TestOrcFile.testSnappy.orc`,
    * `TestVectorOrcFile.testLzo.orc`, `testLz4.orc`,
    * `nulls-at-end-snappy.orc`): 10,000 [[codecRow]]s of
    * `struct<x:bigint,y:string>` compressed with `codec`. */
  def codecFile(dir: String, codec: CompressionKind): String =
    writeOrc(s"$dir/codec-$codec.orc", "struct<x:bigint,y:string>", 10000,
        stride = 1000, codec = Some(codec)) { (cols, r, i) =>
      val (x, y) = codecRow(i)
      cols(0).asInstanceOf[LongColumnVector].vector(r) = x
      val c = cols(1).asInstanceOf[BytesColumnVector]
      if (y == null) { c.noNulls = false; c.isNull(r) = true }
      else { c.isNull(r) = false; c.setVal(r, y.getBytes("UTF-8")) }
    }

  /** One input row of [[projectionFile]]. */
  def projectionRow(k: Int): (Int, String) = (k * 31 % 21000, s"s${k * 17}")

  /** Twin of `TestOrcFile.columnProjection.orc`: 21,000
    * [[projectionRow]]s of `struct<int1:int,string1:string>` in several
    * small stripes, so a projected scan seeks past the other column in
    * each. */
  def projectionFile(dir: String): String =
    writeOrc(s"$dir/projection.orc", "struct<int1:int,string1:string>",
        21000, stride = 1000, stripeSize = Some(16L * 1024)) { (cols, r, i) =>
      val (a, b) = projectionRow(i)
      cols(0).asInstanceOf[LongColumnVector].vector(r) = a
      cols(1).asInstanceOf[BytesColumnVector].setVal(r, b.getBytes("UTF-8"))
    }

  /** The rows of [[noIndexFile]]: 10,000 pseudo-random (int, bit
    * string) pairs from `java.util.Random(24)`, each repeated 5 times. */
  val noIndexRows: IndexedSeq[(Int, String)] = {
    val rand = new java.util.Random(24)
    (0 until 10000).flatMap { _ =>
      val a = rand.nextInt()
      Seq.fill(5)((a, Integer.toBinaryString(rand.nextInt())))
    }
  }

  /** Twin of `TestOrcFile.testWithoutIndex.orc`: [[noIndexRows]] of
    * `struct<int1:int,string1:string>`, snappy, with a 5,000-byte
    * stripe size (so several stripes) and no row index (stride 0). */
  def noIndexFile(dir: String): String =
    writeOrc(s"$dir/no_index.orc", "struct<int1:int,string1:string>",
        noIndexRows.size, stride = 0, codec = Some(CompressionKind.SNAPPY),
        stripeSize = Some(5000L)) { (cols, r, i) =>
      val (a, b) = noIndexRows(i)
      cols(0).asInstanceOf[LongColumnVector].vector(r) = a
      cols(1).asInstanceOf[BytesColumnVector].setVal(r, b.getBytes("UTF-8"))
    }

  /** The rows of [[stripeStatsFile]]: 5,000 of (1, "one"), 5,000 of
    * (2, "two") and 1,000 of (3, "three"). */
  def stripeStatsRow(k: Int): (Int, String) =
    if (k < 5000) (1, "one") else if (k < 10000) (2, "two") else (3, "three")

  /** Twin of `TestOrcFile.testStripeLevelStats.orc`: 11,000
    * [[stripeStatsRow]]s of `struct<int1:int,string1:string>` in stripes
    * cut at the writer's memory checks (a stripe size of 1 KB), so each
    * stripe's statistics cover a different run of values. */
  def stripeStatsFile(dir: String): String =
    writeOrc(s"$dir/stripe_stats.orc", "struct<int1:int,string1:string>",
        11000, stride = 1000, stripeSize = Some(1024L)) { (cols, r, i) =>
      val (a, b) = stripeStatsRow(i)
      cols(0).asInstanceOf[LongColumnVector].vector(r) = a
      cols(1).asInstanceOf[BytesColumnVector].setVal(r, b.getBytes("UTF-8"))
    }

  /** Run `body` with the scheme `graftfs:` (the local file system under
    * another name, [[SessionSchemeFs]]) set only on `spark`'s session
    * conf, which every Hadoop configuration the session builds copies:
    * the SparkContext's Hadoop configuration and a fresh one do not
    * know it, and the FileSystem cache never holds it. */
  def withSessionScheme[A](spark: org.apache.spark.sql.SparkSession)(
      body: => A): A = {
    val keys = Seq("fs.graftfs.impl" -> classOf[SessionSchemeFs].getName,
      "fs.graftfs.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}

/** The local file system under the scheme `graftfs:`, for tests of which
  * Hadoop configuration a reader or writer uses. It counts the input
  * streams it opens and how many of them are still open. */
class SessionSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")

  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val in = super.open(f, bufferSize)
    SessionSchemeFs.opened.incrementAndGet()
    SessionSchemeFs.live.incrementAndGet()
    new org.apache.hadoop.fs.FSDataInputStream(in) {
      private val closed = new java.util.concurrent.atomic.AtomicBoolean()
      override def close(): Unit = {
        if (closed.compareAndSet(false, true))
          SessionSchemeFs.live.decrementAndGet()
        super.close()
      }
    }
  }
}

object SessionSchemeFs {
  /** Input streams opened through the scheme, ever. */
  val opened = new java.util.concurrent.atomic.AtomicInteger()
  /** Input streams opened through the scheme and not yet closed. */
  val live = new java.util.concurrent.atomic.AtomicInteger()
}
