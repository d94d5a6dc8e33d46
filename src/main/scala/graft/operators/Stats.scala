package graft.operators

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import graft.sources.{OrcIo, OrcMeta}
import org.apache.orc.TypeDescription
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Statistics engine (SURVEY.md §2.6, M2): COUNT/MIN/MAX/SUM answered
 * from file-footer statistics *without scanning data*, with a scan
 * fallback — the query-side use of the reference's write-side stats
 * (`Reader.getStatistics`, `ColumnStatisticsImpl.java:92-1164`).
 *
 * Scale: a stats-only aggregate over 100 TB touches only footers
 * (O(#files) metadata IOs through [[OrcMeta]]'s tail fan-out and tail
 * cache: on the driver for a small dataset, as one job for a large one)
 * instead of the data itself — the same reason the reference keeps
 * three stat granularities. The merge across files is local, over the
 * #files×#columns footer rows collected once; so are the footer sums
 * of [[statsOnlyCount]] and [[rawDataSize]].
 */
object Stats {

  /**
   * Answer per-column count / min / max / sum for an ORC dataset purely
   * from footer statistics. Null-count derives as a file's row count −
   * colCount (ORC counts only non-null values, `ColumnStatisticsImpl`).
   *
   * Writer-version gated (the reference's HIVE-8732 check,
   * `OrcFile.java:116-127`): files whose writer predates the stats fix
   * have corrupt string max statistics, so their footer rows are
   * REPLACED by a real scan of just those files — trusted files still
   * answer metadata-only, and at 100 TB only the legacy tail of the
   * dataset pays a scan.
   *
   * The one merge across files: min/max by the column's ORC type over
   * the files holding values; `sum_val` null when any such file's sum
   * is undefined (integer overflow). Floating-point sums add as
   * doubles, as the footer stores them; every other sum (integers,
   * decimals, string lengths) adds exactly and casts to double once —
   * a double add of per-file partials rounds once per file past 2^53.
   */
  def statsOnlyColumnStats(spark: SparkSession, orcPath: String): DataFrame = {
    import spark.implicits._
    val footer = OrcMeta.typedColumnStats(spark, orcPath)
    val untrusted = footer.collect { case (s, _) if !s.statsTrusted => s.file }
      .distinct
    val perFile = footer.collect { case (s, _) if s.statsTrusted => s } ++
      (if (untrusted.isEmpty) Nil
       else scannedColumnStats(spark, untrusted.toIndexedSeq)
         .as[OrcMeta.ColStats].collect().toSeq)
    val kind = footer.map { case (s, k) => s.column -> k }.toMap
    val rows = perFile.filter(_.columnId > 0).groupBy(_.column).toSeq
      .sortBy(_._2.map(_.columnId).min).map { case (c, fs) =>
        // min/max merge by the column's type: per-file renderings of a
        // numeric column compared as strings put "77090" above "149999"
        val ord = typedOrdering(kind(c))
        val held = fs.filter(_.count > 0)
        val sums = fs.flatMap(s => Option(s.sum))
        import TypeDescription.Category.{DOUBLE, FLOAT}
        val sum =
          if (sums.isEmpty || held.exists(_.sum == null)) null
          else kind(c) match {
            case FLOAT | DOUBLE => sums.map(_.toDouble).sum
            case _ => sums.map(BigDecimal(_)).sum.toDouble
          }
        Row(c, fs.map(_.count).sum, fs.exists(_.hasNull),
          held.flatMap(s => Option(s.min)).minOption(ord).orNull,
          held.flatMap(s => Option(s.max)).maxOption(ord).orNull,
          sum, fs.forall(_.statsTrusted))
      }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("column", StringType), StructField("n_values", LongType),
      StructField("has_null", BooleanType),
      StructField("min_str", StringType), StructField("max_str", StringType),
      StructField("sum_val", DoubleType),
      StructField("all_from_footer", BooleanType))))
  }

  /** Order of a column's min/max renderings ([[OrcMeta.columnStats]]
    * and [[scannedColumnStats]] render alike) by its ORC type. */
  private def typedOrdering(k: TypeDescription.Category): Ordering[String] = {
    import TypeDescription.Category._
    k match {
      case BYTE | SHORT | INT | LONG | DATE => Ordering.by(_.toLong)
      case FLOAT | DOUBLE => Ordering.by(_.toDouble)
      case DECIMAL => Ordering.by(BigDecimal(_))
      case TIMESTAMP | TIMESTAMP_INSTANT => Ordering.by { v =>
        val t = java.sql.Timestamp.valueOf(v)
        (t.getTime, t.getNanos)
      }
      // UTF-8 byte order, as ORC writes string statistics
      case _ => Ordering.by(UTF8String.fromString)
    }
  }

  /**
   * Scan fallback for untrusted-writer files: recompute per-(file,
   * top-level column) stats in one distributed pass grouped by
   * `input_file_name`, shaped like [[OrcMeta.columnStats]] rows
   * (`statsTrusted` false marks their provenance). Primitive columns
   * get min/max/sum; nested columns count/hasNull only (footer stats
   * for nested types aren't comparable to scan renderings anyway).
   */
  private def scannedColumnStats(spark: SparkSession,
      files: Seq[String]): DataFrame = {
    val df = spark.read.orc(files: _*)
    val aggs = df.schema.fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"`${f.name}`")
      // dates as epoch days, the footer rendering
      val v = if (f.dataType == DateType) unix_date(c) else c
      val isPrim = f.dataType match {
        case _: StructType | _: ArrayType | _: MapType | BinaryType => false
        case _ => true
      }
      Seq(
        count(c).as(s"_cnt_$i"),
        max(c.isNull.cast("int")).cast("boolean").as(s"_nul_$i")) ++
        (if (isPrim) Seq(
          min(v).cast("string").as(s"_min_$i"),
          max(v).cast("string").as(s"_max_$i"),
          (f.dataType match {
            // try_sum: null on long overflow — the same "sum not
            // defined" contract as ORC footer stats (isSumDefined).
            case _: NumericType => try_sum(c).cast("string")
            case _ => lit(null).cast("string")
          }).as(s"_sum_$i"))
        else Seq(lit(null).cast("string").as(s"_min_$i"),
          lit(null).cast("string").as(s"_max_$i"),
          lit(null).cast("string").as(s"_sum_$i")))
    }
    val perFile = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      struct(lit(i + 1).as("columnId"), lit(f.name).as("column"),
        col(s"_cnt_$i").as("count"), col(s"_nul_$i").as("hasNull"),
        col(s"_min_$i").as("min"), col(s"_max_$i").as("max"),
        col(s"_sum_$i").as("sum"))
    }
    perFile.select(col("file"), explode(array(cols.toIndexedSeq: _*)).as("c"))
      .select(col("file"), col("c.columnId"), col("c.column"),
        col("c.count"), col("c.hasNull"), col("c.min"), col("c.max"),
        col("c.sum"), lit(false).as("statsTrusted"))
  }

  /**
   * Correctness-gate query: write 3 lineitem columns to ORC, answer
   * MIN/MAX/SUM/COUNT from footers only ([[statsOnlyColumnStats]]),
   * and emit one row per column. The oracle computes the same from a
   * full scan of the parquet source — footer answers must be
   * scan-exact. Fractional columns take the 2 dp floor-form; the
   * integral sum is cast to double once, never round-tripped through
   * ×100 (the floor-form at scale 2 loses ulps beyond 2^53·1e-2).
   */
  def statsOnlyQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    val dir = OrcIo.scratchDir("orc_stats")
    // Multiple files: repartition(4) so the merge across footers is real.
    OrcIo.write(src.repartition(4), s"$dir/li", compression = "snappy")
    val fractional = src.schema.fields.collect {
      case StructField(n, FloatType | DoubleType | _: DecimalType, _, _) => n
    }
    statsOnlyColumnStats(spark, s"$dir/li")
      .select(col("column").as("col_name"), col("n_values"),
        fr(col("min_str").cast("double"), 2).as("min_val"),
        fr(col("max_str").cast("double"), 2).as("max_val"),
        when(col("column").isin(fractional.toIndexedSeq: _*),
          fr(col("sum_val"), 2)).otherwise(col("sum_val")).as("sum_val"))
      .orderBy(col("col_name"))
  }

  /** COUNT(*) from footers alone (`Reader.getNumberOfRows`), summed
    * on the driver: one footer pass, no aggregate job. */
  def statsOnlyCount(spark: SparkSession, orcPath: String): Long =
    OrcMeta.fileMetas(spark, orcPath).map(_.rows).sum

  /**
   * Scan-side per-column statistics profile of a parquet table — the
   * engine's `orc-statistics` for arbitrary sources, SQL-oracle-able.
   * One output row per profiled column.
   */
  def columnProfileQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    def profile(c: String): DataFrame =
      li.agg(
        lit(c).as("col_name"),
        count(col(c)).as("n_values"),
        sum(when(col(c).isNull, 1).otherwise(0)).as("n_nulls"),
        fr(min(col(c)).cast("double"), 2).as("min_val"),
        fr(max(col(c)).cast("double"), 2).as("max_val"),
        // sum in DECIMAL (the q1/q5 rule): order-free and exact at any
        // scale, then one final double cast before the display round
        fr(sum(col(c).cast("decimal(28,8)")).cast("double"), 2)
          .as("sum_val"))
        .select(col("col_name"), col("n_values"), col("n_nulls"),
          col("min_val"), col("max_val"), col("sum_val"))
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(profile).reduce(_.unionAll(_)).orderBy(col("col_name"))
  }

  /**
   * rawDataSize estimator (`ReaderImpl.getRawDataSize`,
   * `WriterImpl.java:2686-2734`): the CBO sizeInBytes analogue, from
   * footers only.
   */
  def rawDataSize(spark: SparkSession, orcPath: String): Long =
    OrcMeta.fileMetas(spark, orcPath).map(_.rawDataSize).sum

  /**
   * Exact second-moment statistics per group: mean / stddev /
   * covariance / Pearson correlation of (quantity, price) — the
   * profiling behind CBO cardinality guesses and feature-drift
   * monitors. Built-in `corr`/`covar_pop` accumulate co-moments in
   * DOUBLE with order-dependent merges, so they can NEVER hash-gate
   * across engines; this formulation instead reduces each group to
   * exact DECIMAL power sums (Σx, Σy, Σx², Σxy, Σy² — each term is
   * the same product double on both engines, the q1 cast precedent,
   * and the sums are order-free), then computes every statistic from
   * those sums with one shared double expression tree. One map-side-
   * partial aggregation pass; the shuffle carries five decimals + a
   * count per group.
   */
  def momentsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // 5 exact decimal accumulators per row dominate the narrow scan —
    // fan the map side out when the scan is under-split
    val li = Scale.fanOut(Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y")))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(28,8)"))
    val agg = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("x")).as("sx"),
        dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("y") * col("y")).as("syy"))
    val n = col("n_rows").cast("double")
    def d(c: String) = col(c).cast("double")
    agg.select(col("l_returnflag"), col("n_rows"),
        fr(d("sx") / n, 4).as("mean_x"),
        fr(d("sy") / n, 4).as("mean_y"),
        fr(sqrt((d("sxx") - d("sx") * d("sx") / n) / n), 4)
          .as("stddev_x"),
        fr(sqrt((d("syy") - d("sy") * d("sy") / n) / n), 4)
          .as("stddev_y"),
        fr((d("sxy") - d("sx") * d("sy") / n) / n, 4).as("covar"),
        fr((n * d("sxy") - d("sx") * d("sy")) /
          (sqrt(n * d("sxx") - d("sx") * d("sx")) *
            sqrt(n * d("syy") - d("sy") * d("sy"))), 6).as("corr"))
      .orderBy(col("l_returnflag"))
  }

  /**
   * Full pairwise Pearson correlation matrix per group — the feature-
   * screening profile run before model training (drop one of every
   * collinear feature pair) and the drift monitor that catches a
   * relationship change even when every marginal stays put. Extends
   * [[momentsQuery]]'s exact-DECIMAL-power-sum rule from one column
   * pair to all k·(k−1)/2 pairs of k columns, still in ONE
   * map-side-partial aggregation pass: the shuffle carries
   * k + k·(k+1)/2 decimals + a count per group (15 values for k = 4
   * here), then every covariance/correlation derives from those sums
   * with one shared double expression tree, `inline`-exploded to
   * long-form (col_x, col_y) rows on the driver-sized agg result.
   *
   * Scale shape (100 TB): the data is scanned once no matter how many
   * columns are profiled — adding a column to the matrix adds
   * O(k) decimal accumulators, not a pass. The built-in `corr`
   * aggregate would need k² separate accumulators with order-dependent
   * DOUBLE merges (never hash-gateable across engines, the
   * [[momentsQuery]] argument) and Spark would still evaluate them in
   * one pass — but the power-sum formulation additionally makes every
   * pair's statistic exact and oracle-replayable.
   */
  private def corrMatrixWith(spark: SparkSession, sfDir: String,
      dsum: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val cols = Seq("quantity" -> "l_quantity",
      "extendedprice" -> "l_extendedprice",
      "discount" -> "l_discount", "tax" -> "l_tax")
    // 14 exact decimal accumulators per row dominate the narrow scan —
    // fan the map side out when the scan is under-split (no-op on any
    // real multi-file corpus)
    val li = Scale.fanOut(Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag") +:
        cols.map { case (nm, c) => col(c).as(nm) }: _*))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i)._1, cols(j)._1)
    val aggs =
      cols.map { case (nm, _) => dsum(col(nm)).as(s"s_$nm") } ++
      cols.map { case (nm, _) =>
        dsum(col(nm) * col(nm)).as(s"s_${nm}_$nm") } ++
      pairs.map { case (a, b) => dsum(col(a) * col(b)).as(s"s_${a}_$b") }
    val agg = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val n = col("n_rows").cast("double")
    def d(c: String) = col(c).cast("double")
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        // + 0.0 normalizes −0.0 (both engines, the skewReport rule)
        (fr((d(s"s_${a}_$b") - d(s"s_$a") * d(s"s_$b") / n) / n, 6) +
          lit(0.0)).as("covar"),
        (fr((n * d(s"s_${a}_$b") - d(s"s_$a") * d(s"s_$b")) /
          (sqrt(n * d(s"s_${a}_$a") - d(s"s_$a") * d(s"s_$a")) *
           sqrt(n * d(s"s_${b}_$b") - d(s"s_$b") * d(s"s_$b"))), 6) +
          lit(0.0)).as("corr"))
    }
    agg.select(col("l_returnflag"), col("n_rows"),
        inline(array(rows: _*)))
      .orderBy(col("l_returnflag"), col("col_x"), col("col_y"))
  }

  /**
   * Serving-path twin of [[corrMatrixQuery]]: identical one-scan /
   * one-tiny-shuffle shape, but the 14 power sums accumulate in DOUBLE
   * instead of DECIMAL(28,8). Order-dependent floating-point merges
   * mean the low bits vary with partitioning, so this twin is
   * spec-pinned against the exact gate (6 dp agreement, StatsSpec)
   * rather than hash-gated — it is the cheap statistic a 100 TB
   * profile sweep would actually run, at roughly the cost of a plain
   * SUM per column pair.
   */
  def corrMatrixFast(spark: SparkSession, sfDir: String): DataFrame =
    corrMatrixWith(spark, sfDir, c => sum(c))

  def corrMatrixQuery(spark: SparkSession, sfDir: String): DataFrame =
    corrMatrixWith(spark, sfDir, c => sum(c.cast("decimal(28,8)")))

  /**
   * Equi-width histogram of a numeric column — the profiling operator
   * behind optimizer NDV/selectivity guesses and data-quality drift
   * views. Two scan-shaped passes: a one-row (min, max) aggregate
   * broadcast back onto the scan, then one groupBy over ≤ `buckets`
   * keys — the [[Sampling.domainMixQuery]] shape; no sort, no wide
   * shuffle, scales to any corpus. The deliberate contrast is the
   * equi-DEPTH twin: exact deciles need the full sort of
   * `q_percentiles`, whose documented scale path is the GK sketch
   * (`q_approx_percentiles`).
   *
   * Exactness: bucket = least(floor((x−min)/width), buckets−1) in
   * DOUBLE with the identical expression tree in the oracle; money
   * sums use the q1/q5 DECIMAL rule.
   */
  def histogramQuery(spark: SparkSession, sfDir: String,
      buckets: Int = 10): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_extendedprice").as("x"))
    val mm = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    li.crossJoin(broadcast(mm))
      .withColumn("bucket", least(
        floor((col("x") - col("lo")) /
          ((col("hi") - col("lo")) / lit(buckets.toDouble))),
        lit(buckets - 1L)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        fr(min(col("x")), 2).as("bucket_min"),
        fr(max(col("x")), 2).as("bucket_max"),
        // round while still DECIMAL (exact), cast once for display —
        // the q1 ordering, mirrored verbatim in the oracle
        round(sum(col("x").cast("decimal(28,8)")), 2).cast("double")
          .as("bucket_sum"))
      .orderBy(col("bucket"))
  }

  /**
   * Join-key skew diagnostics: per-key row counts, frequency share,
   * skew factor (count / mean-per-key), and the salt factor a
   * [[Scale.saltedJoin]] of that key would need (⌈skew⌉) — the report
   * run BEFORE a big join to decide between plain shuffle, AQE skew
   * split, and explicit salting. Top keys by count (ties to key id)
   * so the hot tail is what the operator surfaces.
   *
   * Scale shape: one partial-agg'd groupBy on the key (counts only —
   * the 8-byte key is the entire shuffle payload), a 1-row global agg
   * broadcast back, and a TakeOrdered top-N — no global sort, no
   * second pass over the data.
   */
  def skewReport(df: DataFrame, key: String, topN: Int = 10)
      : DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(
      sum(col("n_rows")).as("n_total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .select(col(key), col("n_rows"),
        (fr(col("n_rows").cast("double") /
          col("n_total").cast("double"), 6) + lit(0.0)).as("share"),
        (fr(col("n_rows").cast("double") * col("n_keys").cast("double")
          / col("n_total").cast("double"), 4) + lit(0.0))
          .as("skew_factor"),
        ceil(col("n_rows").cast("double") * col("n_keys").cast("double")
          / col("n_total").cast("double")).cast("int").as("salt_rec"))
      .orderBy(col("n_rows").desc, col(key))
      .limit(topN)
  }

  /** Correctness gate: hottest 10 user_ids in the events stream. */
  def skewReportQuery(spark: SparkSession, sfDir: String): DataFrame =
    skewReport(graft.Tables.load(spark, sfDir, "events"), "user_id")
      .orderBy(col("n_rows").desc, col("user_id"))

  /**
   * Spearman rank correlation between quantity and price per return
   * flag — the monotone-association complement to [[corrMatrixQuery]]'s
   * Pearson (outlier-immune, nonlinearity-tolerant; the screen that
   * catches "correlated but not linearly" before anyone fits a line).
   *
   * Computed WITHOUT ranking rows: tie-averaged midranks come from
   * the VALUE GRID (2·midrank = 2·cumBefore + cnt + 1, an integer),
   * each row joins its two grid ranks, and ρ is Pearson over the
   * 2×-scaled integer ranks — the scale cancels. Every sum is exact
   * DECIMAL (cast before multiply: 2r can reach 2·10⁹ at extreme
   * row counts and the product would overflow BIGINT).
   *
   * Hashed-column discipline (round 12): no doubles, no sqrt. With
   * nm = n·sxy − sx·sy, dx = n·sxx − sx², dy = n·syy − sy² (exact
   * DECIMAL(38,0)), the gate emits sign(nm) and ρ² in micro-units
   * via STAGED integer division: t1 = ⌊10⁶·|nm|/dx⌋, rho2_micro =
   * ⌊t1·|nm|/dy⌋ ≈ ⌊10⁶·nm²/(dx·dy)⌋ — staging keeps every
   * intermediate under the 38-digit cap (nm² alone would overflow),
   * and since both stages are exact integer ops on non-negative
   * dividends, every engine computes the identical value. The big
   * rank-sum witness sxy travels as a digit string.
   *
   * Shape at 100 TB: two map-side-partial grid builds, two
   * equi-joins of rows to grid ranks, one grouped sum pass — no
   * row-level sort anywhere, which is the whole point: rank
   * correlation served scan-shaped. The grid prefix sums ride
   * [[Prefix.running]]'s two-phase distributed scan, NOT a per-flag
   * window: the quantity grid is 50 rows, but the PRICE grid is
   * near-unique (583k distinct in 600k rows at sf0.1) — a
   * `Window.partitionBy(flag)` there is three corpus-sized
   * single-task sorts wearing a partition key as a disguise.
   */
  def spearmanQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.CacheBin.TrackOps
    // tracked: li feeds BOTH rank grids and the final rank join — the
    // unpinned form scans + fans out lineitem three times (r18)
    val li = Scale.fanOut(graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y")))
      .tracked()
    def rankGrid(c: String) = {
      val g = li.groupBy(col("flag"), col(c))
        .agg(count(lit(1)).as("cnt"))
      Prefix.running(g, Seq("flag"), Seq(col(c)),
          Seq(Prefix.Running(col("cnt"), "sum", "cum")))
        .select(col("flag"), col(c),
          (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1)
            .as(s"r2_$c"))
    }
    val ranked = li
      .join(rankGrid("x"), Seq("flag", "x"))
      .join(rankGrid("y"), Seq("flag", "y"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val sums = ranked.groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("r2_x"))).cast("decimal(38,0)").as("sx"),
        sum(dec(col("r2_y"))).cast("decimal(38,0)").as("sy"),
        sum(dec(col("r2_x")) * dec(col("r2_x")))
          .cast("decimal(38,0)").as("sxx"),
        sum(dec(col("r2_y")) * dec(col("r2_y")))
          .cast("decimal(38,0)").as("syy"),
        sum(dec(col("r2_x")) * dec(col("r2_y")))
          .cast("decimal(38,0)").as("sxy"))
    sums
      .withColumn("nm",
        expr("CAST(n AS DECIMAL(19,0)) * sxy - sx * sy"))
      .withColumn("dx",
        expr("CAST(n AS DECIMAL(19,0)) * sxx - sx * sx"))
      .withColumn("dy",
        expr("CAST(n AS DECIMAL(19,0)) * syy - sy * sy"))
      .withColumn("rho_sign",
        when(col("nm") > 0, 1L).when(col("nm") < 0, -1L).otherwise(0L))
      .withColumn("rho2_micro",
        when(col("dx") > 0 && col("dy") > 0,
          expr("CAST(((abs(nm) * 1000000) div dx) * abs(nm) div dy " +
            "AS BIGINT)")))
      .select(col("flag"), col("n"),
        col("sxy").cast("string").as("sxy_str"),
        col("rho_sign"), col("rho2_micro"))
      .orderBy(col("flag"))
  }

  /**
   * Pareto concentration cut: how many top customers carry 80% (and
   * 50%) of purchase revenue — the 80/20 readout behind account
   * prioritization and the skew screen for revenue-weighted
   * sampling. All decisions are exact integer comparisons on cent
   * sums (5·cum ≥ 4·total for the 80% cut), never float shares.
   *
   * Shape at 100 TB: one groupBy(user) cent-sum pass; the ordered
   * walk is a [[Prefix.running]] two-phase distributed prefix
   * sum + prefix count over (cents desc, user_id) — a plain
   * `Window.orderBy` here has NO partition key at all, i.e. one task
   * sorts every user. Output is one row.
   */
  def paretoQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
    val users = ev.groupBy(col("user_id"))
      .agg(sum(fr(col("value") * 100, 0).cast("long")).as("cents"))
    val walked = Prefix.running(users, Seq(),
      Seq(col("cents").desc, col("user_id")),
      Seq(Prefix.Running(col("cents"), "sum", "cum"),
        Prefix.Running(lit(1L), "cnt", "k")))
    // the global totals are the LAST running values — read them off
    // the cached prefix frame (struct-max keyed on the running count,
    // so no monotonicity assumption on cum) instead of re-running the
    // corpus-sized per-user groupBy
    val tot = walked
      .agg(max(struct(col("k"), col("cum"))).as("_last"))
      .select(col("_last.k").as("n_users"),
        col("_last.cum").as("total_cents"))
    walked.crossJoin(broadcast(tot))
      .agg(first(col("n_users")).as("n_users"),
        first(col("total_cents")).as("total_cents"),
        min(when(col("cum") * 2 >= col("total_cents"), col("k")))
          .as("k50"),
        min(when(col("cum") * 5 >= col("total_cents") * 4, col("k")))
          .as("k80"),
        max(when(col("k") === 10, col("cum"))).as("top10_cents"))
      .withColumn("top10_share",
        fr(col("top10_cents").cast("double") /
          col("total_cents").cast("double"), 10))
  }

  /**
   * Dictionary-encoding advisor: the reference writer's per-column
   * dictionary decision, re-expressed as a statistics query over the
   * table. ORC's `StringTreeWriter` keeps a dictionary while writing
   * and falls back to direct encoding when
   * ratio = distinct/nonNull > 0.8
   * (`WriterImpl.java:1227-1233` `checkDictionaryEncoding`, threshold
   * from `OrcConf.java:93-95` `orc.dictionary.key.threshold` = 0.8);
   * this query computes the same ratio — plus the byte-level payoff
   * estimate the heuristic approximates: direct = Σ len(value);
   * dict = Σ len(distinct) + the bit-packed index
   * (rows · ⌈log₂ ndv⌉ bits, the RLE-v2 floor; the bit width comes
   * from `length(bin(ndv−1))` so no float log can flap a
   * power-of-two boundary) — for candidate columns BEFORE a 100 TB
   * rewrite, which is how a warehouse decides encodings offline
   * rather than per-writer. The two signals can disagree (the ratio
   * rule also prices dictionary CPU/heap, not just bytes); the
   * advisor reports both.
   *
   * One narrow stack pass over the scan + a two-level distinct per
   * column; all outputs exact integers except the one ratio division.
   */
  def encodingAdvisorQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val li = Scale.fanOut(graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_orderkey"), col("l_extendedprice")))
    val stacked = li.selectExpr(
      """stack(4,
        |  'l_returnflag', l_returnflag,
        |  'l_linestatus', l_linestatus,
        |  'l_orderkey', CAST(l_orderkey AS STRING),
        |  'l_extendedprice', CAST(l_extendedprice AS STRING)
        |) AS (col_name, v)""".stripMargin)
      .filter(col("v").isNotNull)
    // one pass over the 4x-stacked rows: group to per-value counts
    // first, then BOTH the direct-encoding and dictionary statistics
    // fall out of the same value-grid — the previous direct/distinct
    // branch pair evaluated the stack kernel twice
    val stats = stacked.groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(col("cnt") * length(col("v")).cast("long"))
          .as("direct_bytes"),
        count(lit(1)).as("ndv"),
        sum(length(col("v")).cast("long")).as("dict_entry_bytes"))
    stats
      .select(col("col_name"), col("n_rows"), col("ndv"),
        fr(col("ndv").cast("double") / col("n_rows").cast("double"),
          6).as("ratio"),
        (col("ndv").cast("double") / col("n_rows").cast("double")
          <= lit(0.8)).as("dict_recommended"),
        col("direct_bytes"),
        (col("dict_entry_bytes") +
          expr("(n_rows * length(bin(greatest(ndv - 1, 1))) + 7) div 8"))
          .as("dict_bytes_est"))
      .orderBy(col("col_name"))
  }
}
