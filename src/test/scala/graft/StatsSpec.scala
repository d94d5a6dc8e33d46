package graft

import graft.operators.Stats
import graft.sources.{OrcIo, OrcMeta}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector,
  LongColumnVector}
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private lazy val dir: String = {
    val d = OrcIo.scratchDir("stats_spec")
    OrcIo.write(Tables.load(spark, sfDir, "orders").repartition(3),
      s"$d/orders")
    d
  }

  test("statsOnlyCount answers COUNT(*) from footers, scan-exact") {
    val expected = Tables.load(spark, sfDir, "orders").count()
    assert(Stats.statsOnlyCount(spark, s"$dir/orders") == expected)
  }

  test("statsOnlyCount reads a hive-partitioned table like a scan") {
    val d = OrcIo.scratchDir("stats_partitioned")
    OrcIo.write(spark.range(1000).withColumn("p", col("id") % 3),
      s"$d/t", partitionBy = Seq("p"))
    assert(Stats.statsOnlyCount(spark, s"$d/t") ==
      spark.read.orc(s"$d/t").count())
  }

  test("footer min/max/sum merge across files matches a full scan") {
    val scan = Tables.load(spark, sfDir, "orders")
      .agg(min(col("o_totalprice")), max(col("o_totalprice")),
        sum(col("o_totalprice"))).head()
    val footer = Stats.statsOnlyColumnStats(spark, s"$dir/orders")
      .filter(col("column") === "o_totalprice").head()
    assert(footer.getAs[String]("min_str").toDouble == scan.getDouble(0))
    assert(footer.getAs[String]("max_str").toDouble == scan.getDouble(1))
    assert(math.abs(footer.getAs[Double]("sum_val") - scan.getDouble(2))
      < 1e-6 * math.abs(scan.getDouble(2)))
    // a long column range-split over files: the per-file extremes
    // differ in digit count, so only a numeric merge finds them
    // (as strings, "5000" > "20000")
    val ranged = OrcIo.scratchDir("stats_ranged")
    OrcIo.write(spark.range(1, 20001).toDF("k")
      .repartitionByRange(4, col("k")), s"$ranged/k")
    val k = Stats.statsOnlyColumnStats(spark, s"$ranged/k")
      .filter(col("column") === "k").head()
    assert(k.getAs[String]("min_str") == "1")
    assert(k.getAs[String]("max_str") == "20000")
    assert(k.getAs[Long]("n_values") == 20000L)
    assert(k.getAs[Double]("sum_val") == 20000.0 * 20001 / 2)
    // per-file sums: one undefined sum (long overflow) leaves the merged
    // sum undefined, and exact partials past 2^53 add without rounding
    // once per file; an empty file's min/max sentinels take no part
    def merged[T: org.apache.spark.sql.Encoder](files: Seq[T]*) = {
      val d = OrcIo.scratchDir("stats_sums")
      files.foreach(vs =>
        OrcIo.write(vs.toDF("v").coalesce(1), s"$d/v", mode = "append"))
      Stats.statsOnlyColumnStats(spark, s"$d/v").head()
    }
    val overflow = merged(Seq(Long.MaxValue, 1L), Seq(5L, 7L))
    assert(overflow.isNullAt(overflow.fieldIndex("sum_val")))
    assert(overflow.getAs[String]("min_str") == "1")
    assert(overflow.getAs[String]("max_str") == Long.MaxValue.toString)
    val big = merged(Seq.fill(3)(Seq(1L << 53, 1L)): _*)
    assert(big.getAs[Double]("sum_val") == 27021597764222979.0)
    assert(big.getAs[Double]("sum_val") == 2.702159776422298E16)
    val negative = merged(Seq(-3.5, -1.25), Seq.empty[Double])
    assert(negative.getAs[String]("min_str") == "-3.5")
    assert(negative.getAs[String]("max_str") == "-1.25")
  }

  test("pre-HIVE-8732 writer: footers distrusted, answers come from scan") {
    // orc-file-11-format.orc was written by an ORIGINAL-version writer —
    // before the HIVE-8732 stats fix the reference refuses to trust
    // (OrcFile.java:116-127). The engine must flag it and answer from a
    // real scan, not the footer.
    val old = "/root/reference/examples/orc-file-11-format.orc"
    val meta = graft.sources.OrcMeta.fileMeta(spark, old).head()
    assert(meta.getAs[String]("writerVersion") == "ORIGINAL")
    assert(graft.sources.OrcMeta.columnStats(spark, old)
      .filter(col("statsTrusted")).count() == 0)
    val res = Stats.statsOnlyColumnStats(spark, old)
    val r = res.filter(col("column") === "int1").head()
    assert(!r.getAs[Boolean]("all_from_footer"),
      "untrusted file must not be answered from footers")
    val scan = spark.read.orc(old)
      .agg(count(col("int1")), min(col("int1")), max(col("int1")),
        sum(col("int1"))).head()
    assert(r.getAs[Long]("n_values") == scan.getLong(0))
    assert(r.getAs[String]("min_str").toLong == scan.getInt(1).toLong)
    assert(r.getAs[String]("max_str").toLong == scan.getInt(2).toLong)
    assert(r.getAs[Double]("sum_val") == scan.getLong(3).toDouble)
  }

  test("pre-HIVE-8732 writer, generated fixture: footers distrusted, " +
      "merged with a trusted file's footers") {
    // the same check as above on a file this test writes: an
    // ORIGINAL-version file (orc-core keeps writerVersion protected,
    // hence the subclass) beside a current-version file in one directory
    val d = OrcIo.scratchDir("stats_original")
    def writeOrc(name: String, writer: OrcFile.WriterVersion,
        ints: Seq[Int]): Unit = {
      val opts = new OrcFile.WriterOptions(new java.util.Properties(),
          new org.apache.hadoop.conf.Configuration()) {
        writerVersion(writer)
      }.setSchema(TypeDescription.fromString(
        "struct<int1:int,string1:string>"))
      val w = OrcFile.createWriter(new Path(s"$d/$name"), opts)
      val batch = opts.getSchema.createRowBatch(ints.size)
      ints.zipWithIndex.foreach { case (v, i) =>
        batch.cols(0).asInstanceOf[LongColumnVector].vector(i) = v
        batch.cols(1).asInstanceOf[BytesColumnVector]
          .setVal(i, s"s$v".getBytes("UTF-8"))
      }
      batch.size = ints.size
      w.addRowBatch(batch)
      w.close()
    }
    writeOrc("original.orc", OrcFile.WriterVersion.ORIGINAL,
      (0 until 500).map(i => i * 37 % 1000 - 300))
    writeOrc("current.orc", OrcFile.CURRENT_WRITER,
      (0 until 300).map(i => i * 11 + 900))
    val meta = OrcMeta.fileMeta(spark, d)
      .select(col("file"), col("writerVersion")).as[(String, String)]
      .collect().map { case (f, v) => new Path(f).getName -> v }.toMap
    assert(meta("original.orc") == "ORIGINAL")
    assert(meta("current.orc") != "ORIGINAL")
    assert(OrcMeta.columnStats(spark, d).filter(col("statsTrusted"))
      .select(col("file")).as[String].collect()
      .forall(_.endsWith("current.orc")))
    val r = Stats.statsOnlyColumnStats(spark, d)
      .filter(col("column") === "int1").head()
    assert(!r.getAs[Boolean]("all_from_footer"),
      "untrusted file must not be answered from footers")
    val scan = spark.read.orc(d)
      .agg(count(col("int1")), min(col("int1")), max(col("int1")),
        sum(col("int1"))).head()
    assert(r.getAs[Long]("n_values") == scan.getLong(0))
    assert(r.getAs[String]("min_str").toLong == scan.getInt(1).toLong)
    assert(r.getAs[String]("max_str").toLong == scan.getInt(2).toLong)
    assert(r.getAs[Double]("sum_val") == scan.getLong(3).toDouble)
  }

  test("post-fix writers keep the metadata-only answer path") {
    val res = Stats.statsOnlyColumnStats(spark, s"$dir/orders")
    assert(res.filter(!col("all_from_footer")).count() == 0,
      "fresh files must answer from footers alone")
  }

  test("rawDataSize estimator is positive and scales with rows") {
    val size = Stats.rawDataSize(spark, s"$dir/orders")
    assert(size > 0L)
    val d2 = OrcIo.scratchDir("stats_half")
    OrcIo.write(Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 2 === 0), s"$d2/orders")
    assert(Stats.rawDataSize(spark, s"$d2/orders") < size)
  }

  test("equi-width histogram: buckets partition the table exactly") {
    val h = Stats.histogramQuery(spark, sfDir).collect()
    val li = Tables.load(spark, sfDir, "lineitem")
    assert(h.map(_.getLong(1)).sum == li.count(),
      "bucket counts must sum to the row count — no row lost or doubled")
    // buckets are contiguous, ordered, non-overlapping
    assert(h.map(_.getInt(0)).toSeq == h.map(_.getInt(0)).toSeq.sorted)
    h.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(3) <= b.getDouble(2),
          s"bucket ${a.getInt(0)} max ${a.getDouble(3)} overlaps " +
            s"bucket ${b.getInt(0)} min ${b.getDouble(2)}")
      case _ =>
    }
  }

  test("exact-moment stats agree with built-in corr/covar and run " +
      "in one aggregation pass") {
    val m = Stats.momentsQuery(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(6), r.getDouble(7))))
      .toMap
    val builtin = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(covar_pop(col("l_quantity"), col("l_extendedprice"))
        .as("cv"), corr(col("l_quantity"), col("l_extendedprice"))
        .as("cr")).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    m.foreach { case (flag, (cv, cr)) =>
      assert(math.abs(cv - builtin(flag)._1) < 1e-3,
        s"$flag covar $cv vs builtin ${builtin(flag)._1}")
      assert(math.abs(cr - builtin(flag)._2) < 1e-5,
        s"$flag corr $cr vs builtin ${builtin(flag)._2}")
    }
    // one shuffle only: the power sums are a single partial-agg pass
    val exchanges = Stats.momentsQuery(spark, sfDir)
      .queryExecution.executedPlan.toString
      .linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, // group-agg + final sort
      s"moments query should be one agg pass + sort, saw $exchanges exchanges")
  }

  test("correlation matrix: all pairs agree with built-in corr, " +
      "|corr| <= 1, and the matrix is one aggregation pass") {
    val rows = Stats.corrMatrixQuery(spark, sfDir).collect()
    // 3 flags x C(4,2) pairs
    assert(rows.length == 3 * 6, s"expected 18 rows, got ${rows.length}")
    val names = Map("quantity" -> "l_quantity",
      "extendedprice" -> "l_extendedprice",
      "discount" -> "l_discount", "tax" -> "l_tax")
    val li = Tables.load(spark, sfDir, "lineitem")
    rows.foreach { r =>
      val (flag, cx, cy) =
        (r.getString(0), r.getString(2), r.getString(3))
      val cr = r.getDouble(5)
      assert(cr >= -1.0 && cr <= 1.0, s"$flag $cx/$cy corr $cr")
      val builtin = li.filter(col("l_returnflag") === flag)
        .agg(corr(col(names(cx)), col(names(cy)))).head().getDouble(0)
      assert(math.abs(cr - builtin) < 1e-5,
        s"$flag $cx/$cy corr $cr vs builtin $builtin")
    }
    // adding 3 columns to the profile must NOT add passes: still one
    // partial-agg shuffle (+ the output sort)
    val exchanges = Stats.corrMatrixQuery(spark, sfDir)
      .queryExecution.executedPlan.toString
      .linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2,
      s"corr matrix should stay one agg pass + sort, saw $exchanges")
  }

  test("corrMatrixFast (double serving twin) agrees with the exact " +
      "DECIMAL gate to 6 dp and keeps the one-pass shape") {
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(2),
        r.getString(3)) -> (r.getDouble(4), r.getDouble(5))).toMap
    val exact = keyed(Stats.corrMatrixQuery(spark, sfDir))
    val fast = keyed(Stats.corrMatrixFast(spark, sfDir))
    assert(fast.keySet == exact.keySet)
    exact.foreach { case (k, (cov, cr)) =>
      val (fcov, fcr) = fast(k)
      // both round to 6 dp; double accumulation may land one ulp the
      // other side of a rounding boundary, so compare at the rounding
      // granularity rather than demanding bit equality
      assert(math.abs(fcov - cov) <= 1e-6 * math.max(1.0, math.abs(cov)),
        s"$k covar $fcov vs exact $cov")
      assert(math.abs(fcr - cr) <= 2e-6, s"$k corr $fcr vs exact $cr")
    }
    val exchanges = Stats.corrMatrixFast(spark, sfDir)
      .queryExecution.executedPlan.toString
      .linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2,
      s"fast twin should stay one agg pass + sort, saw $exchanges")
  }

  test("MAD outliers: robust fence flags a small minority per group") {
    val o = graft.operators.Relational.outlierQuery(spark, sfDir)
      .collect()
    assert(o.nonEmpty)
    o.foreach { r =>
      assert(r.getDouble(3) > 0.0, "MAD must be positive on real data")
      val frac = r.getDouble(5)
      assert(frac >= 0.0 && frac < 0.5,
        s"robust fence flagged $frac of group ${r.getString(0)} — " +
          "a majority-outlier result means the fence math is wrong")
    }
  }

  test("encoding advisor: flag columns dictionary-encode, key " +
      "columns direct-encode, and the ratio rule replays") {
    val rows = graft.operators.Stats.encodingAdvisorQuery(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("l_returnflag", "l_linestatus",
      "l_orderkey", "l_extendedprice"))
    rows.values.foreach { r =>
      val (n, ndv) = (r.getLong(1), r.getLong(2))
      assert(ndv <= n && ndv >= 1)
      // the WriterImpl rule: recommend iff ndv/rows <= 0.8
      assert(r.getBoolean(4) == (ndv.toDouble / n <= 0.8))
      assert(r.getLong(5) > 0 && r.getLong(6) > 0)
    }
    // 2-3 distinct flags over thousands of rows: dictionary, and the
    // bit-packed byte estimate must agree it is a large win
    for (c <- Seq("l_returnflag", "l_linestatus")) {
      assert(rows(c).getBoolean(4), s"$c should dictionary-encode")
      assert(rows(c).getLong(6) < rows(c).getLong(5) / 2,
        s"$c: dict bytes not a clear win")
    }
    // near-unique prices: the ratio rule says direct (> 0.8)
    assert(!rows("l_extendedprice").getBoolean(4),
      "l_extendedprice should direct-encode")
    // repeated FK: dictionary under the ratio rule (≈4 rows/order)
    assert(rows("l_orderkey").getBoolean(4),
      "l_orderkey should dictionary-encode")
  }

  test("spearman: rho within [-1,1], scale-invariance vs a direct " +
      "rank computation on one flag") {
    import SparkSpec.spark.implicits._
    // columns: flag, n, sxy_str, rho_sign, rho2_micro
    val rows = graft.operators.Stats.spearmanQuery(spark, sfDir)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val sign = r.getLong(3)
      assert(sign == -1L || sign == 0L || sign == 1L)
      val rho2 = r.getLong(4)
      assert(rho2 >= 0L && rho2 <= 1000000L,
        s"${r.getString(0)}: rho2_micro $rho2 outside [0,1e6]")
    }
    // independent check: brute midranks for flag 'A'
    val li = Tables.load(spark, sfDir, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "A")
      .select("l_quantity", "l_extendedprice")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    def midranks(vs: Array[Double]): Map[Double, Double] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val lo = sorted.indexWhere(_ == v)
        val hi = sorted.lastIndexWhere(_ == v)
        v -> (lo + hi + 2) / 2.0
      }.toMap
    }
    val rx = midranks(li.map(_._1))
    val ry = midranks(li.map(_._2))
    val n = li.length.toDouble
    val xs = li.map(p => rx(p._1)); val ys = li.map(p => ry(p._2))
    val rho = (n * xs.zip(ys).map { case (a, b) => a * b }.sum -
      xs.sum * ys.sum) /
      (math.sqrt(n * xs.map(a => a * a).sum - xs.sum * xs.sum) *
       math.sqrt(n * ys.map(a => a * a).sum - ys.sum * ys.sum))
    val rowA = rows.find(_.getString(0) == "A").get
    // compare on the SQUARES: rho2_micro quantizes ρ² at 1e-6
    // granularity (+ ≤2 micro-steps of staged-division floor), and
    // near ρ = 0 the √ would amplify that into ~1e-2-relative noise
    // on ρ itself — the squared comparison keeps the bound tight
    assert(rowA.getLong(3).toDouble.sign == rho.sign ||
      rowA.getLong(3) == 0L)
    val got2 = rowA.getLong(4).toDouble / 1e6
    assert(math.abs(got2 - rho * rho) < 4e-6,
      s"grid rho² $got2 != brute ${rho * rho}")
  }

  test("pareto: cuts are minimal and ordered, top-10 share replays") {
    val r = graft.operators.Stats.paretoQuery(spark, sfDir).collect()(0)
    val (n, total) = (r.getLong(0), r.getLong(1))
    val (k50, k80) = (r.getLong(2), r.getLong(3))
    assert(n > 0 && total > 0)
    assert(k50 >= 1 && k50 <= k80 && k80 <= n)
    // revenue concentration exists but is not absurd on this corpus
    assert(k80 < n, "80% cut should not need every user")
    assert(r.getLong(4) <= total)
    def r10(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == r10(r.getLong(4).toDouble / total))
  }
}
