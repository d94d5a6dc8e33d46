package graft

import graft.sources.OrcIo
import org.apache.hadoop.hive.ql.io.sarg.{PredicateLeaf, SearchArgument, SearchArgumentFactory}
import org.apache.hadoop.hive.ql.io.sarg.SearchArgument.TruthValue
import org.apache.hadoop.io.Text
import org.apache.orc.TypeDescription
import org.apache.orc.impl.{ColumnStatisticsImpl, RecordReaderImpl}
import org.apache.orc.util.BloomFilter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Predicate-pushdown proof at two layers (reference FIXTURES F4):
 *
 *  1. The SARG truth tables ported from
 *     `TestRecordReaderImpl.java:470-1102` — pins the min/max + bloom
 *     three-valued logic (`RecordReaderImpl.evaluatePredicate`,
 *     `evaluatePredicateMinMax` `RecordReaderImpl.java:487-581`) the
 *     scan relies on for row-group elimination.
 *  2. Scan-metric assertions that row groups are ACTUALLY skipped —
 *     `numOutputRows` of the leaf scan with `spark.sql.orc.filterPushdown`
 *     on vs off, on a written fixture and on the reference's own
 *     `orc_split_elim.orc` / `over1k_bloom.orc`. Pushed-but-not-skipping
 *     is the quiet 100 TB perf regression this spec exists to catch.
 */
class PushdownSpec extends SparkSpec {

  // ---- layer 1: truth tables --------------------------------------------

  private def longStats(min: Long, max: Long,
      withNull: Boolean = true): ColumnStatisticsImpl = {
    val cs = ColumnStatisticsImpl.create(TypeDescription.createLong())
    cs.increment(2) // updateX records min/max only; count is separate
    cs.updateInteger(min, 1); cs.updateInteger(max, 1)
    if (withNull) cs.setNull()
    cs
  }

  private def stringStats(min: String, max: String,
      withNull: Boolean = true): ColumnStatisticsImpl = {
    val cs = ColumnStatisticsImpl.create(TypeDescription.createString())
    cs.increment(2)
    cs.updateString(new Text(min)); cs.updateString(new Text(max))
    if (withNull) cs.setNull()
    cs
  }

  private def leaf(f: SearchArgument.Builder => SearchArgument.Builder)
      : PredicateLeaf =
    f(SearchArgumentFactory.newBuilder().startAnd()).end().build()
      .getLeaves.get(0)

  private def ev(cs: ColumnStatisticsImpl, p: PredicateLeaf,
      bloom: BloomFilter = null): TruthValue =
    RecordReaderImpl.evaluatePredicate(cs, p, bloom)

  private val L = PredicateLeaf.Type.LONG
  private val S = PredicateLeaf.Type.STRING
  private def jl(v: Long): AnyRef = java.lang.Long.valueOf(v)

  test("truth table: EQUALS over long min/max (TestRecordReaderImpl.testEquals)") {
    val p = leaf(_.equals("x", L, jl(15)))
    assert(ev(longStats(20, 30), p) == TruthValue.NO_NULL)
    assert(ev(longStats(15, 30), p) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(10, 30), p) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(10, 15), p) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(0, 10), p) == TruthValue.NO_NULL)
    assert(ev(longStats(15, 15), p) == TruthValue.YES_NULL)
  }

  test("truth table: NULL_SAFE_EQUALS never emits NULL variants") {
    val p = leaf(_.nullSafeEquals("x", L, jl(15)))
    assert(ev(longStats(20, 30), p) == TruthValue.NO)
    assert(ev(longStats(15, 30), p) == TruthValue.YES_NO)
    assert(ev(longStats(10, 30), p) == TruthValue.YES_NO)
    assert(ev(longStats(10, 15), p) == TruthValue.YES_NO)
    assert(ev(longStats(0, 10), p) == TruthValue.NO)
    assert(ev(longStats(15, 15), p) == TruthValue.YES_NO)
  }

  test("truth table: LESS_THAN / LESS_THAN_EQUALS over long min/max") {
    val lt = leaf(_.lessThan("x", L, jl(15)))
    assert(ev(longStats(20, 30), lt) == TruthValue.NO_NULL)
    assert(ev(longStats(15, 30), lt) == TruthValue.NO_NULL)
    assert(ev(longStats(10, 30), lt) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(10, 15), lt) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(0, 10), lt) == TruthValue.YES_NULL)
    val le = leaf(_.lessThanEquals("x", L, jl(15)))
    assert(ev(longStats(20, 30), le) == TruthValue.NO_NULL)
    assert(ev(longStats(15, 30), le) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(10, 30), le) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(10, 15), le) == TruthValue.YES_NULL)
    assert(ev(longStats(0, 10), le) == TruthValue.YES_NULL)
  }

  test("truth table: IN and BETWEEN over long min/max") {
    val in = leaf(_.in("x", L, jl(10), jl(20)))
    assert(ev(longStats(20, 20), in) == TruthValue.YES_NULL)
    assert(ev(longStats(30, 30), in) == TruthValue.NO_NULL)
    assert(ev(longStats(10, 30), in) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(12, 18), in) == TruthValue.NO_NULL)
    val bt = leaf(_.between("x", L, jl(10), jl(20)))
    assert(ev(longStats(0, 5), bt) == TruthValue.NO_NULL)
    assert(ev(longStats(30, 40), bt) == TruthValue.NO_NULL)
    assert(ev(longStats(5, 15), bt) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(15, 25), bt) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(5, 25), bt) == TruthValue.YES_NO_NULL)
    assert(ev(longStats(10, 20), bt) == TruthValue.YES_NULL)
    assert(ev(longStats(12, 18), bt) == TruthValue.YES_NULL)
  }

  test("truth table: IS_NULL keyed to hasNull") {
    val p = leaf(_.isNull("x", L))
    assert(ev(longStats(20, 30), p) == TruthValue.YES_NO)
    assert(ev(longStats(20, 30, withNull = false), p) == TruthValue.NO)
  }

  test("truth table: string stats (testEquals/LessThanWithNullInStats)") {
    val eq = leaf(_.equals("x", S, "c"))
    assert(ev(stringStats("d", "e"), eq) == TruthValue.NO_NULL)
    assert(ev(stringStats("a", "b"), eq) == TruthValue.NO_NULL)
    assert(ev(stringStats("b", "c"), eq) == TruthValue.YES_NO_NULL)
    assert(ev(stringStats("c", "d"), eq) == TruthValue.YES_NO_NULL)
    assert(ev(stringStats("b", "d"), eq) == TruthValue.YES_NO_NULL)
    assert(ev(stringStats("c", "c"), eq) == TruthValue.YES_NULL)
    val lt = leaf(_.lessThan("x", S, "c"))
    assert(ev(stringStats("d", "e"), lt) == TruthValue.NO_NULL)
    assert(ev(stringStats("a", "b"), lt) == TruthValue.YES_NULL)
    assert(ev(stringStats("b", "c"), lt) == TruthValue.YES_NO_NULL)
    assert(ev(stringStats("c", "d"), lt) == TruthValue.NO_NULL)
    assert(ev(stringStats("b", "d"), lt) == TruthValue.YES_NO_NULL)
    assert(ev(stringStats("c", "c"), lt) == TruthValue.NO_NULL)
  }

  test("truth table: literal/stats type coercion (testPredEvalWithIntStats)") {
    // string literal compared against long stats: stats render as strings,
    // "15" > "100" lexicographically → NO
    val sp = leaf(_.nullSafeEquals("x", S, "15"))
    assert(ev(longStats(10, 100, withNull = false), sp) == TruthValue.NO)
    // decimal literal widens cleanly → maybe
    val dp = leaf(_.nullSafeEquals("x", PredicateLeaf.Type.DECIMAL,
      new org.apache.hadoop.hive.serde2.io.HiveDecimalWritable("15")))
    assert(ev(longStats(10, 100, withNull = false), dp) == TruthValue.YES_NO)
  }

  test("truth table: bloom filter consulted after min/max says maybe") {
    val p = leaf(_.equals("x", L, jl(15)))
    val missing = new BloomFilter(1000)
    Seq(10L, 100L).foreach(missing.addLong)
    // min/max alone can't exclude 15; the bloom can
    assert(ev(longStats(10, 100, withNull = false), p, missing)
      == TruthValue.NO)
    val present = new BloomFilter(1000)
    Seq(10L, 15L, 100L).foreach(present.addLong)
    assert(ev(longStats(10, 100, withNull = false), p, present)
      == TruthValue.YES_NO)
    // min/max already NO → bloom must not resurrect it
    assert(ev(longStats(20, 30, withNull = false), p, present)
      == TruthValue.NO)
  }

  // ---- layer 2: actual row-group skipping -------------------------------

  /** Rows the leaf ORC scan emitted (post row-group elimination). */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec found")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  private def withPushdown[A](on: Boolean)(f: => A): A = {
    val key = "spark.sql.orc.filterPushdown"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try f finally spark.conf.set(key, prev)
  }

  private lazy val sortedFixture: String = {
    val d = OrcIo.scratchDir("pushdown_sorted")
    // 100k sorted rows in one file → one stripe, 10 row groups of 10k
    OrcIo.write(spark.range(100000).toDF("id").coalesce(1), s"$d/t")
    s"$d/t"
  }

  test("min/max row-group skipping: point lookup reads one row group") {
    val q = spark.read.orc(sortedFixture).filter(col("id") === 12345L)
    val skipped = withPushdown(on = true) { scanRows(q) }
    assert(skipped == 10000L,
      s"expected exactly one 10k row group, scan emitted $skipped")
    val q2 = spark.read.orc(sortedFixture).filter(col("id") === 12345L)
    val full = withPushdown(on = false) { scanRows(q2) }
    assert(full == 100000L, s"pushdown-off baseline read $full")
  }

  test("min/max row-group skipping: range filter reads exactly its groups") {
    val q = spark.read.orc(sortedFixture)
      .filter(col("id") >= 35000L && col("id") <= 44999L)
    val skipped = withPushdown(on = true) { scanRows(q) }
    assert(skipped == 20000L, // groups [30k,40k) and [40k,50k)
      s"expected two row groups, scan emitted $skipped")
  }

  private lazy val bloomFixtures: (String, String) = {
    val d = OrcIo.scratchDir("pushdown_bloom")
    // v spreads over the full range inside every row group, so min/max
    // can never skip — only the bloom can prove a value absent.
    val df = spark.range(100000).toDF("id")
      .withColumn("v", (col("id") * 7919 % 50000) * 2)
      .coalesce(1)
    OrcIo.write(df, s"$d/bloom", bloomColumns = Seq("v"))
    OrcIo.write(df, s"$d/nobloom")
    (s"$d/bloom", s"$d/nobloom")
  }

  test("bloom skipping: absent key skips what min/max cannot") {
    val (bloom, nobloom) = bloomFixtures
    val absent = 12345L // odd → never generated; inside [0, 99998]
    withPushdown(on = true) {
      // without bloom, every row group straddles the value → full read
      assert(scanRows(
        spark.read.orc(nobloom).filter(col("v") === absent)) == 100000L)
      // with bloom, every row group is proven value-free → zero rows
      assert(scanRows(
        spark.read.orc(bloom).filter(col("v") === absent)) == 0L)
      // positive control: a present value still returns its rows
      val present = spark.read.orc(bloom).filter(col("v") === 15838L)
      assert(present.count() > 0)
    }
  }

  test("reference orc_split_elim.orc: stripe stats eliminate 4 of 5 groups") {
    val f = "/root/reference/examples/orc_split_elim.orc"
    // userid: 2,13,29,70,5 at rows 0,5000,10000,15000,20000 within a
    // userid=100 sea → only the first 5000-row group has min ≤ 2
    val q = spark.read.orc(f).filter(col("userid") <= 2L)
    val skipped = withPushdown(on = true) { scanRows(q) }
    assert(skipped == 5000L, s"expected one 5000-row group, got $skipped")
    val q2 = spark.read.orc(f).filter(col("userid") <= 2L)
    val full = withPushdown(on = false) { scanRows(q2) }
    assert(full == 25000L)
    assert(q.count() == 1L) // the single userid=2 row
  }

  test("orc_split_elim twin, generated fixture: stripe stats eliminate " +
      "4 of 5 groups") {
    val f = OrcFixtures.splitElim(OrcIo.scratchDir("pushdown_split_elim"))
    val q = spark.read.orc(f).filter(col("userid") <= 2L)
    val skipped = withPushdown(on = true) { scanRows(q) }
    assert(skipped == 5000L, s"expected one 5000-row group, got $skipped")
    val q2 = spark.read.orc(f).filter(col("userid") <= 2L)
    val full = withPushdown(on = false) { scanRows(q2) }
    assert(full == 25000L)
    assert(q.count() == 1L) // the single userid=2 row
  }

  test("z-order clustering: non-leading-dim filter skips row groups a linear sort cannot") {
    val d = OrcIo.scratchDir("pushdown_zorder")
    // two INDEPENDENT pseudo-random dims in [0, 1024) — distinct hash
    // inputs; affine maps like id*k % 1024 would make b a bijection of
    // a and let the a-sort partially prune b too
    val df = spark.range(100000).toDF("id")
      .withColumn("a", pmod(hash(col("id")), lit(1024)).cast("long"))
      .withColumn("b",
        pmod(hash(col("id") + 500000), lit(1024)).cast("long"))
    // layout 1: linear sort by a — every row group spans b's full range
    OrcIo.write(df.repartitionByRange(1, col("a"))
      .sortWithinPartitions(col("a")), s"$d/linear", indexStride = 1000)
    // layout 2: z-order on (a, b) — row groups cover small rectangles
    graft.operators.Scale.zorderWrite(df, s"$d/z", "a", "b",
      files = 1, indexStride = 1000)
    withPushdown(on = true) {
      val linear = scanRows(
        spark.read.orc(s"$d/linear").filter(col("b") < 32))
      val z = scanRows(spark.read.orc(s"$d/z").filter(col("b") < 32))
      assert(linear == 100000L,
        s"a-sorted layout cannot prune a b filter, read $linear")
      assert(z <= linear / 3,
        s"z-order should skip most row groups on a b filter, read $z")
      // clustering must not lose rows
      assert(spark.read.orc(s"$d/z").filter(col("b") < 32).count() ==
        df.filter(col("b") < 32).count())
    }
  }

  test("reference over1k_bloom.orc: blooms skip an absent in-range key") {
    val f = "/root/reference/examples/over1k_bloom.orc"
    // _col2 has 257 distinct values in [-10000, 65791]; 12345 is absent
    // but inside every row group's min/max range
    val q = spark.read.orc(f).filter(col("_col2") === 12345)
    val on = withPushdown(on = true) { scanRows(q) }
    val q2 = spark.read.orc(f).filter(col("_col2") === 12345)
    val off = withPushdown(on = false) { scanRows(q2) }
    assert(off == 2098L)
    assert(on == 0L,
      s"bloom should prove 12345 absent from every row group, read $on")
  }

  test("over1k_bloom twin, generated fixture: blooms skip an absent " +
      "in-range key") {
    val f = OrcFixtures.colN(OrcIo.scratchDir("pushdown_colN"))
    val key = OrcFixtures.colNAbsentKey
    val rows = OrcFixtures.colNRows
    assert(!rows.exists(_.i == key))
    assert(rows.grouped(1000).forall(g =>
      g.map(_.i).min < key && key < g.map(_.i).max),
      "the key must sit inside every row group's min/max")
    val q = spark.read.orc(f).filter(col("_col2") === key)
    val on = withPushdown(on = true) { scanRows(q) }
    val q2 = spark.read.orc(f).filter(col("_col2") === key)
    val off = withPushdown(on = false) { scanRows(q2) }
    assert(off == rows.size.toLong)
    assert(on == 0L,
      s"bloom should prove $key absent from every row group, read $on")
    // positive control: a present key still returns its rows
    val present = rows.head.i
    withPushdown(on = true) {
      assert(spark.read.orc(f).filter(col("_col2") === present).count() ==
        rows.count(_.i == present).toLong)
    }
  }
}
