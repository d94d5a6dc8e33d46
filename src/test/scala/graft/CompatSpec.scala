package graft

import org.apache.spark.sql.functions._

/**
 * Golden-file compatibility corpus (SURVEY.md §5.1): the reference
 * repo's `examples` ORC files — every codec, all 18 types, format
 * 0.11 and 0.12, edge files — must be readable by this engine's scan
 * path. The reference cross-validates its Java and C++ readers against
 * these same files; reading them here proves on-disk compatibility
 * with files the reference wrote.
 */
class CompatSpec extends SparkSpec {

  private val dir = "/root/reference/examples"

  private def readable(name: String): Long =
    spark.read.orc(s"$dir/$name").count()

  test("format 0.11 and 0.12 demo files read fully") {
    assert(readable("demo-11-zlib.orc") == 1920800L)
    assert(readable("demo-12-zlib.orc") == 1920800L)
    assert(readable("orc-file-11-format.orc") == 7500L)
  }

  test("format 0.11 and 0.12 twins read fully, and their tails cache") {
    import graft.sources.{OrcIo, OrcMeta}
    import org.apache.orc.OrcFile.Version
    val twins = OrcIo.scratchDir("compat_versions")
    Seq(Version.V_0_11, Version.V_0_12).foreach { v =>
      val f = OrcFixtures.colN(twins, v)
      def footer() = Seq(OrcMeta.fileMeta(spark, f),
        OrcMeta.stripeStats(spark, f)).map(_.collect().map(_.toString).toSeq)
      val loads = OrcMeta.tails.stats.loadCount
      // the count answers from the footer, loading the tail the footer
      // surfaces then share
      assert(spark.read.orc(f).count() == OrcFixtures.colNRows.size.toLong)
      assert(OrcMeta.tails.stats.loadCount == loads + 1, v)
      val miss = footer()
      assert(OrcMeta.tails.stats.loadCount == loads + 1, v)
      assert(footer() == miss, v)
      assert(OrcMeta.tails.stats.loadCount == loads + 1, v)
      assert(OrcMeta.fileMetas(spark, f).map(_.rows) ==
        Seq(OrcFixtures.colNRows.size.toLong), v)
    }
  }

  test("codec matrix files decode (zlib, snappy, lzo, lz4)") {
    assert(readable("TestOrcFile.testSnappy.orc") == 10000L)
    assert(readable("TestVectorOrcFile.testLzo.orc") == 10000L)
    assert(readable("TestVectorOrcFile.testLz4.orc") == 10000L)
    assert(readable("nulls-at-end-snappy.orc") == 70000L)
  }

  test("codec matrix twins decode (snappy, lzo, lz4, zstd)") {
    import org.apache.orc.CompressionKind._
    val twins = graft.sources.OrcIo.scratchDir("compat_codecs")
    val want = (0 until 10000).map(OrcFixtures.codecRow)
    Seq(SNAPPY, LZO, LZ4, ZSTD).foreach { codec =>
      val f = OrcFixtures.codecFile(twins, codec)
      assert(graft.sources.OrcMeta.fileMetas(spark, f).map(_.compression) ==
        Seq(codec.toString), codec)
      val df = spark.read.orc(f)
      assert(df.count() == 10000L, codec)
      assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        want, codec)
    }
  }

  test("decimal file: values and aggregates") {
    val df = spark.read.orc(s"$dir/decimal.orc")
    assert(df.count() == 6000L)
    val s = df.agg(sum(col("_col0"))).head().getDecimal(0)
    assert(s != null)
  }

  test("bloom-filter and split-elimination files scan with filters") {
    val bloom = spark.read.orc(s"$dir/over1k_bloom.orc")
    assert(bloom.count() == 2098L)
    val se = spark.read.orc(s"$dir/orc_split_elim.orc")
    assert(se.count() == 25000L)
    // a pushed filter over the stats-skippable column still answers
    assert(se.filter(col("userid") === 2L).count() > 0)
  }

  test("bloom-filter and split-elimination twins scan with filters") {
    val twins = graft.sources.OrcIo.scratchDir("compat_filters")
    val rows = OrcFixtures.colNRows
    val bloom = spark.read.orc(OrcFixtures.colN(twins))
    assert(bloom.count() == rows.size.toLong)
    val present = rows(1).i
    assert(bloom.filter(col("_col2") === present).count() ==
      rows.count(_.i == present).toLong)
    assert(bloom.filter(col("_col2") === OrcFixtures.colNAbsentKey)
      .count() == 0L)
    val se = spark.read.orc(OrcFixtures.splitElim(twins))
    assert(se.count() == 25000L)
    // a pushed filter over the stats-skippable column still answers
    assert(se.filter(col("userid") === 2L).count() == 1L)
  }

  test("decimal twin: values and aggregates") {
    val want = OrcFixtures.decimalValues
    val df = spark.read.orc(
      OrcFixtures.decimalFile(graft.sources.OrcIo.scratchDir("compat_decimal")))
    val got = df.collect().map(_.getDecimal(0)).toSeq
    assert(got.size == 6000)
    got.zip(want).foreach { case (g, w) =>
      assert(if (w == null) g == null else g.compareTo(w) == 0, s"$g != $w")
    }
    val s = df.agg(sum(col("_col0"))).head().getDecimal(0)
    assert(s.compareTo(want.filter(_ != null)
      .reduce((a, b) => a.add(b))) == 0, s)
  }

  test("pre-1900 / post-2038 dates survive the timestamp path") {
    val d1900 = spark.read.orc(s"$dir/TestOrcFile.testDate1900.orc")
    val d2038 = spark.read.orc(s"$dir/TestOrcFile.testDate2038.orc")
    assert(d1900.count() == 70000L)
    assert(d2038.count() == 212000L)
    // min/max of the date column land in the right centuries
    val mn = d1900.agg(min(col("date"))).head().getDate(0).toString
    assert(mn.startsWith("19") || mn.startsWith("18"), mn)
    val mx = d2038.agg(max(col("date"))).head().getDate(0).toString
    assert(mx >= "2038", mx)
  }

  test("pre-1900 / post-2038 date twins read back their written values") {
    import graft.sources.OrcIo
    val twins = OrcIo.scratchDir("compat_dates")
    Seq(1900, 2038).foreach { era =>
      val want = OrcFixtures.dateRows(era)
      val df = spark.read.orc(OrcFixtures.datesFile(twins, era))
      assert(df.count() == want.size.toLong, era)
      val got = df.collect().map(r =>
        r.getDate(1).toLocalDate -> r.getTimestamp(0)).toSeq
      assert(got == want, era)
      val mm = df.agg(min(col("date")), max(col("date"))).head()
      assert(mm.getDate(0).toLocalDate == want.head._1 &&
        mm.getDate(1).toLocalDate == want.last._1, mm)
    }
    assert(OrcFixtures.dateRows(2038).last._1.getYear > 2038)
  }

  test("union-typed file reads as struct encoding (tag + fields)") {
    // Spark's own ORC reader rejects uniontype schemas; the engine's
    // UnionOrc reader (SURVEY.md §7.4) scans them with the tagged-
    // struct encoding
    val df = graft.sources.UnionOrc.read(spark,
      Seq(s"$dir/TestOrcFile.testUnionAndTimestamp.orc"))
    assert(df.count() == 5077L)
    val st = df.schema("union").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq == Seq("tag", "field0", "field1"),
      st.treeString)
    // only the tagged field may carry a value (the tagged field itself
    // may be null — ORC unions can hold null under a valid tag)
    import org.apache.spark.sql.functions.{col => c}
    val bad = df.filter(c("union").isNotNull &&
      ((c("union.tag") === 0 && c("union.field1").isNotNull) ||
       (c("union.tag") === 1 && c("union.field0").isNotNull))).count()
    assert(bad == 0L, s"$bad rows break the one-field-per-tag invariant")
  }

  test("union-typed twin reads as struct encoding with its written " +
      "values") {
    import org.apache.spark.sql.Row
    val f = OrcFixtures.unionFile(graft.sources.OrcIo.scratchDir("compat_union"))
    val df = graft.sources.UnionOrc.read(spark, Seq(f))
    val st = df.schema("union").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq == Seq("tag", "field0", "field1"),
      st.treeString)
    val want = OrcFixtures.unionRows.map { x =>
      // the DataFrame keeps microseconds
      val ts = new java.sql.Timestamp(x.ts.getTime)
      ts.setNanos(x.ts.getNanos / 1000 * 1000)
      Row(ts, x.tag match {
        case -1 => null
        case 0 => Row(0.toByte, x.value, null)
        case _ => Row(1.toByte, null, x.value)
      })
    }
    assert(df.collect().toSeq == want)
    // the full-fidelity layer keeps the nanoseconds
    assert(graft.sources.UnionOrc.localRows(f, hadoopConf)
      .map(_.getTimestamp(0)).toSeq == OrcFixtures.unionRows.map(_.ts))
  }

  test("edge files: empty reads as 0 rows; future version is refused") {
    assert(readable("TestOrcFile.emptyFile.orc") == 0L)
    // zero.orc has schema struct<> — no columns to infer; the footer
    // still parses through the meta path
    val meta = graft.sources.OrcMeta.fileMeta(spark, s"$dir/zero.orc")
      .head()
    assert(meta.getAs[Long]("rows") == 0L)
    // version1999.orc: written by "ORC 19.99" — the reference's own
    // testFutureOrcFile expects refusal, and so do we
    val e = intercept[Exception](readable("version1999.orc"))
    assert(e.getMessage.contains("future ORC version"), e.getMessage)
  }

  test("edge files, generated: empty reads as 0 rows, a struct<> footer " +
      "parses, a future version is refused") {
    import graft.sources.{OrcIo, OrcMeta}
    // twin of the test above, on files written here
    val twins = OrcIo.scratchDir("compat_edge")
    val empty = OrcFixtures.emptyFile(s"$twins/empty.orc",
      "struct<a:int,b:string>")
    assert(spark.read.orc(empty).count() == 0L)
    assert(spark.read.orc(empty).collect().isEmpty)
    val zero = OrcFixtures.emptyFile(s"$twins/zero.orc", "struct<>")
    assert(OrcMeta.fileMeta(spark, zero).head().getAs[Long]("rows") == 0L)
    val future = OrcFixtures.futureVersionFile(s"$twins/version1999.orc")
    val e = intercept[Exception](spark.read.orc(future).count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(m => String.valueOf(m.getMessage)).toSeq
    assert(messages.exists(_.contains("future ORC version")),
      messages.mkString(" / "))
  }

  test("timestamp file: non-struct root + writer-tz values read back") {
    // §7.4 highest correctness risk. This file's root type is a bare
    // `timestamp` (no struct) — stock Spark cannot even analyze it;
    // the engine's UnionOrc reader handles any root type
    val df = graft.sources.UnionOrc.read(spark,
      Seq(s"$dir/TestOrcFile.testTimestamp.orc"))
    val vals = df.collect().map(_.getTimestamp(0)).filter(_ != null)
    assert(vals.length == 12, s"expected 12 non-null values, got ${vals.length}")
    val years = vals.map(_.toInstant.atZone(java.time.ZoneOffset.UTC)
      .getYear).toSet
    // reference writes timestamps spanning 1995-2037 in this file
    assert(years.contains(2037) && years.exists(_ <= 1996), years)
  }

  test("timestamp twin: non-struct root + writer-tz values read back") {
    import graft.sources.{OrcIo, UnionOrc}
    val f = OrcFixtures.timestampFile(OrcIo.scratchDir("compat_ts"),
      "America/Los_Angeles")
    // stock Spark cannot analyze a bare `timestamp` root; the values
    // read back as the wall-clock times the writer was given
    val want = OrcFixtures.timestampWallClocks.map(java.sql.Timestamp.valueOf)
    assert(UnionOrc.localRows(f, hadoopConf).map(_.getTimestamp(0)).toSeq ==
      want :+ null)
    val df = UnionOrc.read(spark, Seq(f))
    assert(df.schema.fieldNames.toSeq == Seq("value"))
    assert(df.collect().map(_.getTimestamp(0)).toSeq == want.map { t =>
      val us = new java.sql.Timestamp(t.getTime)
      us.setNanos(t.getNanos / 1000 * 1000); us
    } :+ null)
  }

  test("seek/projection files read with column pruning") {
    val df = spark.read.orc(s"$dir/TestOrcFile.columnProjection.orc")
      .select(col("int1"))
    assert(df.count() == 21000L)
  }

  test("seek/projection twin reads with column pruning") {
    val f = OrcFixtures.projectionFile(
      graft.sources.OrcIo.scratchDir("compat_projection"))
    assert(graft.sources.OrcMeta.stripes(spark, f).count() > 1)
    val df = spark.read.orc(f).select(col("int1"))
    assert(df.queryExecution.executedPlan.toString
      .contains("ReadSchema: struct<int1:int>"))
    assert(df.count() == 21000L)
    assert(df.collect().map(_.getInt(0)).toSeq ==
      (0 until 21000).map(OrcFixtures.projectionRow(_)._1))
    // a seek into the middle: the stripes and row groups a pushed
    // filter keeps still return every matching value
    assert(df.filter(col("int1").between(10000, 10009)).collect()
      .map(_.getInt(0)).sorted.toSeq == (10000 to 10009))
  }
}
