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
      assert(spark.read.orc(f).count() == OrcFixtures.colNRows.size.toLong)
      def footer() = Seq(OrcMeta.fileMeta(spark, f),
        OrcMeta.stripeStats(spark, f)).map(_.collect().map(_.toString).toSeq)
      val loads = OrcMeta.tails.stats.loadCount
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

  test("seek/projection files read with column pruning") {
    val df = spark.read.orc(s"$dir/TestOrcFile.columnProjection.orc")
      .select(col("int1"))
    assert(df.count() == 21000L)
  }
}
