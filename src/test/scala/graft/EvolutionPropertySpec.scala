package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property tests for the schema-evolution cast matrix (SURVEY.md §2.3:
 * `ConvertTreeReaderFactory`'s 48 converters → Catalyst casts), driving
 * randomized values through ORC write→evolved-read round trips.
 */
class EvolutionPropertySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  /** Deterministic stand-in for scalatestplus forAll (that bridge
    * artifact isn't in the offline cache): 5 samples per property from
    * fixed seeds. */
  private def forAll[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 5).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }
  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private def roundTripEvolved(values: Seq[Long], writeType: DataType,
      readType: DataType): Seq[Any] = {
    val dir = graft.sources.OrcIo.scratchDir("prop")
    val df = values.toDF("v").select(col("v").cast(writeType).as("v"))
    graft.sources.OrcIo.write(df, s"$dir/t")
    graft.sources.OrcIo.readEvolved(spark, s"$dir/t",
        StructType(Seq(StructField("v", readType))))
      .collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSeq
  }

  test("integer widening preserves every value (int->long, short->int)") {
    forAll(Gen.listOfN(20, Gen.chooseNum(Int.MinValue.toLong,
        Int.MaxValue.toLong))) { vs =>
      whenever(vs.nonEmpty) {
        val got = roundTripEvolved(vs, IntegerType, LongType)
        assert(got.map(_.asInstanceOf[Long]).sorted == vs.sorted)
      }
    }
  }

  test("long->int downcast: in-range preserved, overflow nulls (try_cast)") {
    forAll(Gen.listOfN(20, Gen.oneOf(
        Gen.chooseNum(Int.MinValue.toLong, Int.MaxValue.toLong),
        Gen.chooseNum(Int.MaxValue.toLong + 1, Long.MaxValue)))) { vs =>
      whenever(vs.nonEmpty) {
        // the engine's downcast-with-null rule, applied after a long read
        val dir = graft.sources.OrcIo.scratchDir("prop_dc")
        graft.sources.OrcIo.write(vs.toDF("v"), s"$dir/t")
        val got = spark.read.orc(s"$dir/t")
          .select(expr("try_cast(v AS INT)").as("v"))
          .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
        val expected = vs.map(v =>
          if (v >= Int.MinValue && v <= Int.MaxValue) Some(v.toInt)
          else None)
        def key(o: Option[Int]) = (o.isEmpty, o.getOrElse(0))
        assert(got.sortBy(key).toList == expected.sortBy(key).toList)
      }
    }
  }

  test("numeric -> string -> numeric round-trips exactly") {
    forAll(Gen.listOfN(20, Gen.chooseNum(Long.MinValue, Long.MaxValue))) {
      vs => whenever(vs.nonEmpty) {
        val got = roundTripEvolved(vs, LongType, StringType)
          .map(_.asInstanceOf[String].toLong)
        assert(got.sorted == vs.sorted)
      }
    }
  }

  test("long -> double is exact for 53-bit-safe values") {
    forAll(Gen.listOfN(20, Gen.chooseNum(-(1L << 53), 1L << 53))) { vs =>
      whenever(vs.nonEmpty) {
        val got = roundTripEvolved(vs, LongType, DoubleType)
          .map(_.asInstanceOf[Double].toLong)
        assert(got.sorted == vs.sorted)
      }
    }
  }

  test("long -> decimal(20,0) is lossless") {
    forAll(Gen.listOfN(20, Gen.chooseNum(Long.MinValue, Long.MaxValue))) {
      vs => whenever(vs.nonEmpty) {
        val got = roundTripEvolved(vs, LongType, DecimalType(20, 0))
          .map(_.asInstanceOf[java.math.BigDecimal].longValueExact())
        assert(got.sorted == vs.sorted)
      }
    }
  }

  test("epoch-day int -> date -> string -> date round-trips") {
    forAll(Gen.listOfN(10, Gen.chooseNum(-20000L, 40000L))) { days =>
      whenever(days.nonEmpty) {
        val df = days.toDF("d")
          .select(date_add(lit("1970-01-01").cast("date"),
            col("d").cast("int")).as("v"))
        val dir = graft.sources.OrcIo.scratchDir("prop_date")
        graft.sources.OrcIo.write(df, s"$dir/t")
        val back = spark.read.orc(s"$dir/t")
          .select(col("v").cast("string").cast("date").as("v"),
            col("v").as("orig"))
          .filter(col("v") =!= col("orig")).count()
        assert(back == 0L)
      }
    }
  }

  test("positional evolution: reader column i maps to file column i") {
    val dir = graft.sources.OrcIo.scratchDir("prop_pos")
    val df = Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("a", "b", "c")
    graft.sources.OrcIo.write(df, s"$dir/t")
    // fully renamed reader schema: by-name matching would null everything;
    // positional matching maps a→x (widened), b→y, c→z
    val readerSchema = StructType(Seq(
      StructField("x", LongType), StructField("y", StringType),
      StructField("z", DoubleType)))
    val pos = graft.sources.OrcIo.readPositional(spark, s"$dir/t",
      readerSchema).orderBy(col("x")).collect()
    assert(pos.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    val byName = graft.sources.OrcIo.readEvolved(spark, s"$dir/t",
      readerSchema).collect()
    assert(byName.forall(r => r.isNullAt(0) && r.isNullAt(1) &&
      r.isNullAt(2)), "by-name read of renamed schema must be all null")
  }

  test("positional evolution on a real pre-HIVE-4243-style (_colN) file") {
    // over1k_bloom.orc has no real column names (_col0.._col10) — the
    // reference reconciles such files positionally
    // (SchemaEvolution.java:97-113)
    val f = "/root/reference/examples/over1k_bloom.orc"
    val named = StructType(Seq(
      StructField("t", ByteType), StructField("si", ShortType),
      StructField("i", IntegerType), StructField("b", LongType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("bo", BooleanType), StructField("s", StringType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(4, 2)),
      StructField("bin", BinaryType)))
    val pos = graft.sources.OrcIo.readPositional(spark, f, named)
    assert(pos.count() == 2098L)
    // cell-level: the renamed positional read must agree with the native
    // _colN read (the file has 1049 genuine nulls in _col7+)
    val native = spark.read.orc(f)
    assert(pos.filter(col("s").isNotNull).count() ==
      native.filter(col("_col7").isNotNull).count())
    assert(pos.agg(min(col("i")), sum(col("b"))).head() ==
      native.agg(min(col("_col2")), sum(col("_col3"))).head())
  }

  test("positional evolution on a generated (_colN) file: every cell " +
      "matches the writer's input") {
    // twin of the test above: the over1k_bloom layout (_col0.._col10,
    // nulls in _col7) written here, checked against what was written
    val f = OrcFixtures.colN(graft.sources.OrcIo.scratchDir("prop_colN"))
    val named = StructType(Seq(
      StructField("t", ByteType), StructField("si", ShortType),
      StructField("i", IntegerType), StructField("b", LongType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("bo", BooleanType), StructField("s", StringType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(4, 2)),
      StructField("bin", BinaryType)))
    val pos = graft.sources.OrcIo.readPositional(spark, f, named)
      .orderBy(col("b")).collect()
    val in = OrcFixtures.colNRows
    assert(pos.length == in.size)
    pos.zip(in).foreach { case (r, x) =>
      assert(r.getByte(0) == x.t && r.getShort(1) == x.si &&
        r.getInt(2) == x.i && r.getLong(3) == x.b &&
        r.getFloat(4) == x.f && r.getDouble(5) == x.d &&
        r.getBoolean(6) == x.bo && r.getString(7) == x.s &&
        r.getTimestamp(8).getTime == x.tsMillis &&
        r.getDecimal(9).compareTo(x.dec) == 0 &&
        r.getAs[Array[Byte]](10).sameElements(x.bin), s"row $r != $x")
    }
    assert(pos.count(_.isNullAt(7)) == in.count(_.s == null))
    assert(in.count(_.s == null) > 0)
  }

  test("CHAR(n)/VARCHAR(n) maxLength semantics round-trip through ORC") {
    import graft.operators.Evolution
    val dir = graft.sources.OrcIo.scratchDir("prop_char")
    val df = Seq("", "a", "ab", "abc", "abcdef", "日本語テスト").toDF("v")
    graft.sources.OrcIo.write(df, s"$dir/t")
    val got = spark.read.orc(s"$dir/t")
      .select(col("v"),
        Evolution.charRead(col("v"), 3).as("c3"),
        Evolution.varcharRead(col("v"), 3).as("vc3"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    // CHAR(3): pad shorter with spaces, truncate longer (char counts)
    assert(got("")._1 == "   ")
    assert(got("a")._1 == "a  ")
    assert(got("ab")._1 == "ab ")
    assert(got("abc")._1 == "abc")
    assert(got("abcdef")._1 == "abc")
    assert(got("日本語テスト")._1 == "日本語")
    // VARCHAR(3): truncate only, no padding
    assert(got("")._2 == "")
    assert(got("a")._2 == "a")
    assert(got("abcdef")._2 == "abc")
    assert(got("日本語テスト")._2 == "日本語")
  }
}
