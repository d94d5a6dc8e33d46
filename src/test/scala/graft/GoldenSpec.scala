package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.orc.CompressionKind.{LZ4, LZO, SNAPPY}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.types._

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

/**
 * Golden content parity: replay the reference's expected row dumps
 * (the `.jsn.gz` files under `examples/expected`, produced by the C++ `orc-contents`
 * printer `ColumnPrinter.cc` and replayed by `TestMatch.cc` /
 * `TestVectorOrcFile.testReadFormat_0_11` `TestVectorOrcFile.java:184`)
 * against a full Spark read of the same files — every cell of every row,
 * not just counts and aggregates.
 *
 * Comparison follows the printer's conventions: binary as unsigned byte
 * arrays, date as "yyyy-MM-dd", timestamp as "yyyy-MM-dd HH:mm:ss." +
 * nanos with trailing zeros trimmed (min one digit), decimal as a JSON
 * number, float printed at 7 significant digits (%.7g) and double at 14
 * (%.14g) — hence relative tolerances instead of text equality. Map
 * entries are compared order-insensitively (the golden preserves writer
 * order; Spark's Scala Map does not).
 */
class GoldenSpec extends SparkSpec {

  private val examples = "/root/reference/examples"
  private val mapper = new ObjectMapper()

  private def goldenRows(name: String): Seq[JsonNode] = {
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(Files.newInputStream(
        Paths.get(s"$examples/expected/$name.jsn.gz"))), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).map(mapper.readTree).toIndexedSeq
    finally in.close()
  }

  private def relEq(a: Double, b: Double, relTol: Double): Boolean =
    (a == b) || math.abs(a - b) <=
      relTol * math.max(math.abs(a), math.abs(b)) + 1e-12

  /** A timestamp as the printer renders it: UTC wall clock, then the
    * nanoseconds with trailing zeros trimmed, at least one digit. */
  private def timestampText(ts: java.sql.Timestamp): String = {
    val secs = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(ts.toInstant)
    val nine = f"${ts.getNanos}%09d".reverse.dropWhile(_ == '0').reverse
    s"$secs.${if (nine.isEmpty) "0" else nine}"
  }

  /** First mismatch description, or None if value matches the golden. */
  private def diff(dt: DataType, v: Any, node: JsonNode,
      path: String): Option[String] = {
    val n = if (node == null) mapper.nullNode() else node
    if (v == null) {
      if (n.isNull) None else Some(s"$path: spark null, golden $n")
    } else if (n.isNull) {
      Some(s"$path: golden null, spark $v")
    } else dt match {
      case BooleanType =>
        if (n.asBoolean == v.asInstanceOf[Boolean]) None
        else Some(s"$path: $v vs $n")
      case ByteType | ShortType | IntegerType | LongType =>
        val lv = v match {
          case b: Byte => b.toLong; case s: Short => s.toLong
          case i: Int => i.toLong; case l: Long => l
        }
        if (n.asLong == lv) None else Some(s"$path: $lv vs $n")
      case FloatType =>
        if (relEq(n.asDouble, v.asInstanceOf[Float].toDouble, 1e-6)) None
        else Some(s"$path: $v vs $n (float %.7g)")
      case DoubleType =>
        if (relEq(n.asDouble, v.asInstanceOf[Double], 1e-13)) None
        else Some(s"$path: $v vs $n (double %.14g)")
      case _: DecimalType =>
        // exact, or within 1 ulp of the printer's 14-significant-digit
        // rendering (orc-file-11-format's decimal1 12345678.6547456 was
        // dumped as 12345678.654745)
        val bd = v.asInstanceOf[java.math.BigDecimal]
        if (bd.compareTo(n.decimalValue) == 0 ||
          relEq(n.asDouble, bd.doubleValue, 1e-13)) None
        else Some(s"$path: $v vs $n (decimal)")
      case StringType =>
        if (n.asText == v.toString) None else Some(s"$path: '$v' vs $n")
      case BinaryType =>
        val bytes = v.asInstanceOf[Array[Byte]]
        val ints = (0 until n.size()).map(n.get(_).asInt)
        if (bytes.length == ints.length &&
          bytes.indices.forall(i => (bytes(i) & 0xFF) == ints(i))) None
        else Some(s"$path: binary ${bytes.mkString(",")} vs $n")
      case DateType =>
        val d = v.asInstanceOf[java.sql.Date].toLocalDate.toString
        if (n.asText == d) None else Some(s"$path: $d vs $n")
      case TimestampType =>
        val rendered = timestampText(v.asInstanceOf[java.sql.Timestamp])
        if (n.asText == rendered) None
        else Some(s"$path: $rendered vs $n")
      case ArrayType(et, _) =>
        val s = v.asInstanceOf[scala.collection.Seq[Any]]
        if (s.size != n.size()) Some(s"$path: list size ${s.size} vs $n")
        else s.indices.view
          .flatMap(i => diff(et, s(i), n.get(i), s"$path[$i]")).headOption
      case MapType(kt, vt, _) =>
        // golden: [{"key": k, "value": v}, ...] in writer order; compare
        // order-insensitively by sorting both sides on a key rendering
        val entries = v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
          .sortBy(_._1.toString)
        val gold = (0 until n.size()).map(n.get)
          .sortBy(e => e.get("key").asText)
        if (entries.size != gold.size)
          Some(s"$path: map size ${entries.size} vs ${gold.size}")
        else entries.indices.view.flatMap { i =>
          diff(kt, entries(i)._1, gold(i).get("key"), s"$path.key$i")
            .orElse(diff(vt, entries(i)._2, gold(i).get("value"),
              s"$path.val$i"))
        }.headOption
      // union encoded as struct<tag, field0, …> vs golden {"tag","value"}
      case StructType(fields) if fields.length >= 2 &&
          fields(0).name == "tag" && fields(1).name == "field0" &&
          n.has("tag") && n.has("value") =>
        val r = v.asInstanceOf[Row]
        val tag = r.getByte(0).toInt
        if (n.get("tag").asInt != tag) Some(s"$path.tag: $tag vs $n")
        else diff(fields(tag + 1).dataType, r.get(tag + 1),
          n.get("value"), s"$path.value")
      case StructType(fields) =>
        val r = v.asInstanceOf[Row]
        fields.zipWithIndex.view.flatMap { case (f, i) =>
          diff(f.dataType, r.get(i), n.get(f.name), s"$path.${f.name}")
        }.headOption
      case other => Some(s"$path: unhandled type $other")
    }
  }

  private def checkGolden(name: String): Unit =
    checkRows(name, spark.read.orc(s"$examples/$name.orc"), goldenRows(name))

  /** Every row of `df`, read in full, against `golden`. Returns the
    * number of rows read. */
  private def checkRows(name: String, df: org.apache.spark.sql.DataFrame,
      golden: Seq[JsonNode]): Long = {
    val rows = df.collect()
    assert(rows.length == golden.length,
      s"$name: ${rows.length} rows read, golden has ${golden.length}")
    val schema = StructType(df.schema.fields)
    rows.indices.foreach { i =>
      diff(schema, rows(i), golden(i), s"$name[$i]")
        .foreach(m => fail(s"golden mismatch: $m"))
    }
    rows.length
  }

  /** A generated twin of the reference file `name`: `file`, written by
    * an [[OrcFixtures]] builder, read in full against `input`, the
    * writer's input rendered as the dump's JSON; and its `count()`,
    * answered from footers with no Spark job, equals the rows read. */
  private def checkTwin(name: String, file: String,
      input: Seq[Seq[(String, Any)]]): Unit = {
    val golden = input.map(dump)
    val df = spark.read.orc(file)
    val read = checkRows(name, df, golden)
    var counted = -1L
    assert(jobsIn(s"twin-$name") { counted = df.count() } == 0)
    assert(counted == read)
  }

  /** A writer's input row as the dump renders it: `fields` in order,
    * binary as unsigned bytes and a union `(tag, value)` as
    * `{"tag", "value"}`. */
  private def dump(fields: Seq[(String, Any)]): JsonNode = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (k, null) => o.putNull(k)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v: java.math.BigDecimal) => o.put(k, v)
      case (k, v: java.sql.Timestamp) => o.put(k, timestampText(v))
      case (k, v: Array[Byte]) =>
        val a = o.putArray(k)
        v.foreach(b => a.add(b & 0xFF))
      case (k, (tag: Int, v)) =>
        o.set[JsonNode](k, dump(Seq("tag" -> tag, "value" -> v)))
      case (k, v) => o.put(k, v.toString)
    }
    o
  }

  private lazy val twins = graft.sources.OrcIo.scratchDir("golden_twins")

  // generated twins of reference files, on any host
  test("golden twin: TestOrcFile.emptyFile (generated, zero rows)") {
    checkTwin("emptyFile", OrcFixtures.emptyFile(s"$twins/empty.orc",
      "struct<boolean1:boolean,byte1:tinyint,short1:smallint,int1:int," +
        "long1:bigint,float1:float,double1:double,bytes1:binary," +
        "string1:string,middle:struct<list:array<struct<int1:int," +
        "string1:string>>>,list:array<struct<int1:int,string1:string>>," +
        "map:map<string,struct<int1:int,string1:string>>>"), Nil)
  }
  Seq(1900, 2038).foreach { era =>
    test(s"golden twin: TestOrcFile.testDate$era (generated)") {
      checkTwin(s"testDate$era", OrcFixtures.datesFile(twins, era),
        OrcFixtures.dateRows(era).map { case (d, ts) =>
          Seq("time" -> ts, "date" -> d) })
    }
  }
  test("golden twin: decimal (generated)") {
    checkTwin("decimal", OrcFixtures.decimalFile(twins),
      OrcFixtures.decimalValues.map(v => Seq("_col0" -> v)))
  }
  test("golden twin: orc_split_elim (generated)") {
    checkTwin("orc_split_elim", OrcFixtures.splitElim(twins),
      OrcFixtures.splitElimUserids.map(v => Seq("userid" -> v)))
  }
  Seq("TestOrcFile.testSnappy" -> SNAPPY, "TestVectorOrcFile.testLzo" -> LZO,
      "TestVectorOrcFile.testLz4" -> LZ4, "nulls-at-end-snappy" -> SNAPPY)
    .foreach { case (name, codec) =>
      test(s"golden twin: $name (generated)") {
        checkTwin(name, OrcFixtures.codecFile(s"$twins/$name", codec),
          (0 until 10000).map(OrcFixtures.codecRow).map { case (x, y) =>
            Seq("x" -> x, "y" -> y) })
      }
    }
  test("golden twin: TestOrcFile.columnProjection (generated)") {
    checkTwin("columnProjection", OrcFixtures.projectionFile(twins),
      (0 until 21000).map(OrcFixtures.projectionRow).map { case (a, b) =>
        Seq("int1" -> a, "string1" -> b) })
  }
  test("golden twin: over1k_bloom (generated)") {
    checkTwin("over1k_bloom", OrcFixtures.colN(twins),
      OrcFixtures.colNRows.map(r => Seq(r.t.toInt, r.si.toInt, r.i, r.b, r.f,
          r.d, r.bo, r.s, new java.sql.Timestamp(r.tsMillis), r.dec, r.bin)
        .zipWithIndex.map { case (v, c) => s"_col$c" -> v }))
  }

  test("golden twin: TestOrcFile.testWithoutIndex (generated)") {
    val f = OrcFixtures.noIndexFile(twins)
    checkTwin("testWithoutIndex", f, OrcFixtures.noIndexRows.map {
      case (a, b) => Seq("int1" -> a, "string1" -> b) })
    // no row index: stride 0, and no stripe carries index streams
    assert(graft.sources.OrcMeta.withReader(f, hadoopConf)(
      _.getRowIndexStride) == 0)
    val stripes = graft.sources.OrcMeta.stripes(spark, f)
      .as[graft.sources.OrcMeta.StripeInfo](Encoders.product).collect()
    assert(stripes.length > 1 && stripes.forall(s =>
      s.indexLength == 0L && s.dataLength > 0L), stripes.toSeq)
  }

  test("golden twin: TestOrcFile.testStripeLevelStats (generated)") {
    val f = OrcFixtures.stripeStatsFile(twins)
    checkTwin("testStripeLevelStats", f, (0 until 11000)
      .map(OrcFixtures.stripeStatsRow).map { case (a, b) =>
        Seq("int1" -> a, "string1" -> b) })
    // each stripe's statistics are those of the rows it holds
    import graft.sources.OrcMeta.{StripeColStats, StripeInfo}
    val stripes = graft.sources.OrcMeta.stripes(spark, f)
      .as[StripeInfo](Encoders.product).collect().sortBy(_.stripe)
    assert(stripes.length >= 3, stripes.toSeq)
    val stats = graft.sources.OrcMeta.stripeStats(spark, f)
      .as[StripeColStats](Encoders.product).collect()
      .map(s => (s.stripe, s.columnId) -> s).toMap
    val firstRows = stripes.map(_.rows).scanLeft(0L)(_ + _)
    stripes.foreach { s =>
      val (ints, strings) = (firstRows(s.stripe) until firstRows(s.stripe + 1))
        .map(k => OrcFixtures.stripeStatsRow(k.toInt)).unzip
      def summary(column: Int) = {
        val c = stats((s.stripe, column))
        (c.count, c.min, c.max)
      }
      assert(summary(1) ==
        (s.rows, ints.min.toString, ints.max.toString), s)
      assert(summary(2) == (s.rows, strings.min, strings.max), s)
    }
  }

  // format 0.11 + the flagship all-types file (VERDICT r1 item 4)
  test("golden: TestOrcFile.test1.orc full content") {
    checkGolden("TestOrcFile.test1")
  }
  test("golden: orc-file-11-format.orc full content (7500 rows)") {
    checkGolden("orc-file-11-format")
  }
  // every codec and stats shape with an expected dump
  test("golden: decimal.orc") { checkGolden("decimal") }
  test("golden: nulls-at-end-snappy.orc") { checkGolden("nulls-at-end-snappy") }
  test("golden: TestOrcFile.testSnappy.orc") { checkGolden("TestOrcFile.testSnappy") }
  test("golden: TestVectorOrcFile.testLzo.orc") { checkGolden("TestVectorOrcFile.testLzo") }
  test("golden: TestVectorOrcFile.testLz4.orc") { checkGolden("TestVectorOrcFile.testLz4") }
  test("golden: TestOrcFile.testDate1900.orc") { checkGolden("TestOrcFile.testDate1900") }
  test("golden: TestOrcFile.testDate2038.orc") { checkGolden("TestOrcFile.testDate2038") }
  test("golden: orc_split_elim.orc") { checkGolden("orc_split_elim") }
  test("golden: orc_split_elim_new.orc") { checkGolden("orc_split_elim_new") }
  test("golden: over1k_bloom.orc") { checkGolden("over1k_bloom") }
  test("golden: TestOrcFile.testWithoutIndex.orc") { checkGolden("TestOrcFile.testWithoutIndex") }
  test("golden: TestOrcFile.testStripeLevelStats.orc") { checkGolden("TestOrcFile.testStripeLevelStats") }
  test("golden: TestOrcFile.testPredicatePushdown.orc") { checkGolden("TestOrcFile.testPredicatePushdown") }
  test("golden: TestOrcFile.columnProjection.orc") { checkGolden("TestOrcFile.columnProjection") }
  test("golden: TestOrcFile.testSeek.orc") { checkGolden("TestOrcFile.testSeek") }
  test("golden: TestOrcFile.testMemoryManagementV11.orc") { checkGolden("TestOrcFile.testMemoryManagementV11") }
  test("golden: TestOrcFile.testMemoryManagementV12.orc") { checkGolden("TestOrcFile.testMemoryManagementV12") }
  test("golden: TestOrcFile.metaData.orc") { checkGolden("TestOrcFile.metaData") }
  test("golden: TestOrcFile.testStringAndBinaryStatistics.orc") {
    checkGolden("TestOrcFile.testStringAndBinaryStatistics")
  }
  test("golden: TestOrcFile.emptyFile.orc (zero rows)") { checkGolden("TestOrcFile.emptyFile") }

  /** The two files stock Spark can't open (bare non-struct root; union
    * type) go through [[graft.sources.UnionOrc]], compared at its
    * full-fidelity layer where timestamps keep nanoseconds. */
  private def checkGoldenUnion(name: String): Unit =
    checkGoldenUnion(name, s"$examples/$name.orc", goldenRows(name))

  private def checkGoldenUnion(name: String, path: String,
      golden: Seq[JsonNode]): Unit = {
    val schema = graft.sources.UnionOrc.schemaOf(path, hadoopConf)
    val rows = graft.sources.UnionOrc.localRows(path, hadoopConf).toIndexedSeq
    assert(rows.length == golden.length,
      s"$name: ${rows.length} rows read, golden has ${golden.length}")
    rows.indices.foreach { i =>
      val mismatch =
        if (schema.length == 1 && schema.head.name == "value" &&
          !golden(i).isObject)
          diff(schema.head.dataType, rows(i).get(0), golden(i), s"$name[$i]")
        else diff(schema, rows(i), golden(i), s"$name[$i]")
      mismatch.foreach(m => fail(s"golden mismatch: $m"))
    }
  }

  test("golden: TestOrcFile.testTimestamp.orc (bare root, nanosecond)") {
    checkGoldenUnion("TestOrcFile.testTimestamp")
  }
  test("golden: TestOrcFile.testUnionAndTimestamp.orc (union type)") {
    checkGoldenUnion("TestOrcFile.testUnionAndTimestamp")
  }

  // generated twins of the two files above, compared at the same layer
  test("golden twin: TestOrcFile.testTimestamp (generated)") {
    val f = OrcFixtures.timestampFile(s"$twins/timestamp",
      "America/Los_Angeles")
    checkGoldenUnion("testTimestamp", f, OrcFixtures.timestampWallClocks
      .map(t => mapper.getNodeFactory.textNode(
        timestampText(java.sql.Timestamp.valueOf(t)))) :+
      mapper.getNodeFactory.nullNode())
  }
  test("golden twin: TestOrcFile.testUnionAndTimestamp (generated)") {
    checkGoldenUnion("testUnionAndTimestamp",
      OrcFixtures.unionFile(s"$twins/union"), OrcFixtures.unionRows.map(r =>
        dump(Seq("time" -> r.ts,
          "union" -> (if (r.tag < 0) null else (r.tag, r.value))))))
  }
}
