package graft.operators

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import graft.sources.OrcMeta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.CacheBin.TrackOps

/**
 * Scale techniques the 100 TB deployment leans on, expressed as
 * first-class operators: bucketed co-located joins (no shuffle),
 * salted joins (bounded skew), sketch aggregates (approximate
 * distinct), and session windows (gaps-and-islands).
 *
 * The reference's analogues: bucket files + `OrcKey` shuffle
 * comparability (`mapred/OrcKey.java:37-89`) for co-location, and the
 * `bucket` field of the ACID event key for bounded skew
 * (SURVEY.md §2.10).
 */
object Scale {

  /**
   * Map-side parallelization guard for heavy per-row kernels: when the
   * scan yields FEWER partitions than the cluster has cores (a single
   * small file / one parquet row group — the testbed shape; Spark
   * cannot split inside a row group), fan the rows out so the kernel
   * runs wide; when the input is already wide (any real multi-file
   * corpus — at 100 TB, thousands of row groups), this is a NO-OP, so
   * the guard never adds a corpus-scale shuffle in production. Use
   * only where per-row work dominates scan cost (decimal power sums,
   * edit distances, tokenization) — for plain column aggregates the
   * extra exchange costs more than the map ever did.
   */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df
    else df.repartition(cores)
  }

  /**
   * Write both sides bucketed by the join key, then join the bucketed
   * tables: Spark aligns bucket layouts and elides the shuffle — the
   * co-located-join layout a 100 TB fact/fact join is stored for.
   */
  def bucketedJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
      key: String, buckets: Int, lName: String, rName: String,
      format: String = "orc"): DataFrame = {
    left.write.mode("overwrite").format(format)
      .bucketBy(buckets, key).sortBy(key).saveAsTable(lName)
    right.write.mode("overwrite").format(format)
      .bucketBy(buckets, key).sortBy(key).saveAsTable(rName)
    spark.table(lName).join(spark.table(rName), key)
  }

  /**
   * Salted join for skewed keys: explode the small side `salt` ways,
   * scatter the large side's hot keys across the same salt range. The
   * shuffle then spreads each hot key over `salt` partitions. (AQE's
   * skew-join split handles this adaptively; the explicit form is for
   * layouts AQE can't see, e.g. pre-partitioned writes.)
   */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      salt: Int): DataFrame = {
    val saltedLarge = large.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(salt)))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLarge.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Correctness gate for [[saltedJoin]]: per-brand quantity totals
    * through the salted plan must hash-equal the plain-join oracle —
    * salting only spreads rows, it must never lose, duplicate, or
    * misroute one. Quantity sums ride DECIMAL (the q5 rule) so the
    * distributed order never shows. */
  def saltedJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey").as("k"), col("l_quantity"))
    val part = Tables.load(spark, sfDir, "part")
      .select(col("p_partkey").as("k"), col("p_brand"))
    saltedJoin(li, part, "k", salt = 8)
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_quantity").cast("decimal(28,8)")), 2)
          .cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("p_brand"))
  }

  /**
   * Per-group top-k via the custom bounded-heap aggregate
   * ([[graft.functions.TopKAgg]], SURVEY §2.11): keeps k (ord, id)
   * pairs per group with map-side partial aggregation, so the shuffle
   * carries ≤ k pairs per (partition, group) instead of every row —
   * unlike the window row_number formulation, which sorts each group's
   * full row set. Order: ord DESC, id ASC tiebreak (a total order, so
   * the window oracle reproduces it exactly).
   */
  def topKAggQuery(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(call_function("graft_topk", col("l_extendedprice"),
        col("l_orderkey"), lit(k)).as("_tk"))
      .select(col("l_returnflag"),
        posexplode(col("_tk")).as(Seq("pos", "e")))
      .select(col("l_returnflag"),
        (col("pos") + 1).cast("int").as("rank"),
        fr(col("e.ord"), 2).as("price"),
        col("e.id").as("l_orderkey"))
      .orderBy(col("l_returnflag"), col("rank"))

  /**
   * Approximate percentiles (Greenwald-Khanna sketch): the 100 TB path
   * the exact [[Relational.percentileQuery]] gate verifies — bounded
   * memory per group (accuracy 10000 → ~0.01% rank error) where the
   * exact aggregate buffers every value. The sketch values themselves
   * are engine-specific, so the HASH-GATED output carries the exact
   * percentiles plus `within_rank_eps`: each GK estimate must lie
   * between the exact percentiles at q ± 0.002 (20× the sketch's rank
   * guarantee — an error-BOUND check the DuckDB oracle replays as
   * TRUE, so any sketch regression past the bound breaks the hash).
   * ScaleSpec additionally bounds the raw estimates against the exact
   * gate.
   */
  /** Stage boundary between an expensive per-row kernel and a global
    * orderBy (r19): range-sort SAMPLING executes the sort's child once
    * just to pick partition boundaries, so an unstaged kernel→orderBy
    * plan runs the whole kernel TWICE per action (measured: the
    * q_audio_energy sampling job re-decoded every WAV — ~half the
    * query's per-run cost; same shape in the tokenizer gates, whose
    * per-doc segmentation kernels are the dominant cost). One hash
    * exchange on the sort's leading key materializes the kernel output
    * as its own AQE query stage, so the sampler reads shuffle files
    * instead of re-running the kernel; the kernel stays in EVERY timed
    * run (deliberately an exchange, not a CacheBin pin — pinning would
    * shift the kernel out of the bench's warm-billed pass, and the
    * kernel IS the operator under test). The exchange width follows
    * spark.sql.shuffle.partitions (scale-adaptive), and the shuffled
    * rows are the kernel's narrow OUTPUT columns. Queries whose kernel
    * already feeds an exchange (groupBy, shuffle join) don't need it —
    * their sampler reads that stage's shuffle files already. */
  def stageForSort(df: DataFrame, key: String): DataFrame =
    df.repartition(col(key))

  def approxPercentileQuery(spark: SparkSession, sfDir: String): DataFrame = {
    // deliberately NOT fanned out: the per-row GK update is cheaper
    // than merging 32 ten-thousand-entry sketch buffers at the final
    // agg (measured 2.5 s -> 3.1 s with fanOut)
    val gk = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, " +
          "array(0.25D, 0.5D, 0.75D, 0.95D), 10000)").as("_aps"),
        count(lit(1)).as("n_rows"))
    // target + band ranks as distributed order statistics over the
    // value grid (r19, [[Prefix.exactPercentiles]] — bit-exact to the
    // former 12-fraction `percentile` aggregate, whose single buffer
    // still held every distinct value of the group in one task); the
    // 3-row exact frame broadcast-joins back onto the sketch results
    val bands = Seq(
      0.25 -> "_e1", 0.5 -> "_e2", 0.75 -> "_e3", 0.95 -> "_e4",
      0.248 -> "_b25lo", 0.252 -> "_b25hi", 0.498 -> "_b50lo",
      0.502 -> "_b50hi", 0.748 -> "_b75lo", 0.752 -> "_b75hi",
      0.948 -> "_b95lo", 0.952 -> "_b95hi")
    val exact = Prefix.exactPercentiles(
      Tables.load(spark, sfDir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice")),
      "l_returnflag", "l_extendedprice", bands)
    gk.join(broadcast(exact), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        fr(col("_e1"), 2).as("p25"),
        fr(col("_e2"), 2).as("p50"),
        fr(col("_e3"), 2).as("p75"),
        fr(col("_e4"), 2).as("p95"),
        col("n_rows"),
        (Seq(("_b25lo", "_b25hi"), ("_b50lo", "_b50hi"),
          ("_b75lo", "_b75hi"), ("_b95lo", "_b95hi")).zipWithIndex.map {
          case ((lo, hi), i) =>
            element_at(col("_aps"), i + 1) >= col(lo) &&
              element_at(col("_aps"), i + 1) <= col(hi)
        }).reduce(_ && _).as("within_rank_eps"))
      .orderBy(col("l_returnflag"))
  }

  /** Approximate distinct (HLL++): the sketch aggregate a 100 TB
    * pipeline uses instead of exact countDistinct. rsd 0.01 → ~1%
    * error with constant memory per group. The estimate is
    * engine-specific, so the HASH-GATED output carries the exact
    * count plus `within_3rsd` = |est/exact − 1| ≤ 3·rsd — the oracle
    * emits TRUE, so an estimator drifting past its own bound breaks
    * the hash (the error-bound upgrade from a rows-only gate). */
  def approxDistinctQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "lineitem")
      // two-level aggregation instead of countDistinct-next-to-HLL in
      // one agg: the latter plans an Expand that multiplies every input
      // row (measured 29 s vs sub-second at sf0.1). HLL is
      // duplicate-insensitive, so sketching the pre-deduped rows gives
      // the IDENTICAL estimate; exact count and n_rows fall out of the
      // same two-level shape (the first shuffle is map-side partial on
      // (flag, orderkey); the second is 3 rows).
      .groupBy(col("l_returnflag"), col("l_orderkey"))
      .agg(count(lit(1)).as("_cnt"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("exact_orders"),
        sum(col("_cnt")).as("n_rows"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("_est"))
      .select(col("l_returnflag"), col("exact_orders"), col("n_rows"),
        (abs(col("_est").cast("double") / col("exact_orders") - 1.0)
          <= 0.03).as("within_3rsd"))
      .orderBy(col("l_returnflag"))

  /**
   * KMV (theta-style) distinct sketches with SET OPERATIONS: distinct
   * counts for two key populations plus their union and intersection,
   * estimated from k-minimum-values samples — the overlap-analysis
   * pass (corpus-version intersection, cross-source key overlap) that
   * HLL cannot answer. Exact twins ride alongside as the audit
   * harness (the q_heavy_hitters pairing). The sketch hash is the top
   * 60 md5 bits, so the oracle replays sketch contents AND estimates
   * exactly — sketches here are hash-gated, not just bound-checked.
   *
   * Scale shape: three ≤k-long mergeable buffers (partial aggregation;
   * the shuffle is ≤ k longs per partition) + the exact twins' keyed
   * distincts; at 100 TB you drop the twins and keep the sketches.
   */
  def kmvSketchQuery(spark: SparkSession, sfDir: String,
      k: Int = 256): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    def side(f: String) = li.filter(col("l_returnflag") === f)
      .select(col("l_orderkey").cast("string").as("key"))
    val a = side("A")
    val nS = side("N")
    val kmv = (c: org.apache.spark.sql.Column) =>
      call_function("graft_kmv", c, lit(k))
    val est = (sk: org.apache.spark.sql.Column) =>
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18) /
          element_at(sk, k).cast("double"))
    val skA = a.agg(kmv(col("key")).as("sk_a"))
    val skN = nS.agg(kmv(col("key")).as("sk_n"))
    val skU = a.unionAll(nS).agg(kmv(col("key")).as("sk_u"))
    val exA = a.agg(count_distinct(col("key")).as("ex_a"))
    val exN = nS.agg(count_distinct(col("key")).as("ex_n"))
    val exU = a.unionAll(nS).agg(count_distinct(col("key")).as("ex_union"))
    val exI = a.distinct().join(nS.distinct(), Seq("key"))
      .agg(count(lit(1)).as("ex_inter"))
    val rho = size(filter(col("sk_u"), h =>
      array_contains(col("sk_a"), h) && array_contains(col("sk_n"), h)))
    skA.crossJoin(skN).crossJoin(skU)
      .crossJoin(broadcast(exA)).crossJoin(broadcast(exN))
      .crossJoin(broadcast(exU)).crossJoin(broadcast(exI))
      .select(
        col("ex_a"),
        (fr(est(col("sk_a")), 4) + lit(0.0)).as("est_a"),
        col("ex_n"),
        (fr(est(col("sk_n")), 4) + lit(0.0)).as("est_n"),
        col("ex_union"),
        (fr(est(col("sk_u")), 4) + lit(0.0)).as("est_union"),
        col("ex_inter"),
        (fr(rho.cast("double") / lit(k.toDouble) * est(col("sk_u")), 4)
          + lit(0.0)).as("est_inter"))
  }

  /**
   * Range (interval) join via time-axis binning — the join shape Spark
   * has no native operator for: `events.ts BETWEEN w.lo AND w.hi`
   * planned naively becomes a BroadcastNestedLoopJoin (every event
   * tested against every window). Binning makes it an EQUI-join: each
   * ±15-minute incident window covers at most two 30-minute bins, so
   * the window side explodes into ≤ 2 (bin, window) rows, the event
   * side maps to its single bin, and the hash join on `bin` + an exact
   * containment filter reproduces the inequality join at
   * O(|events| + |windows| · binsPerWindow) — the standard interval-
   * join layout at 100 TB. PlanSpec-style assert: no nested-loop or
   * cartesian operator anywhere in the plan.
   *
   * Incidents here are every 20th error event; the query reports the
   * activity surrounding each (count + value sum of events within
   * ±15 min).
   */
  def rangeJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val binMs = 30 * 60 * 1000L
    val ev = Tables.load(spark, sfDir, "events")
    val windows = ev
      .filter(col("event_type") === "error" && col("event_id") % 20 === 0)
      .select(col("event_id").as("incident_id"),
        (col("ts") - expr("INTERVAL 15 MINUTES")).as("lo"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("hi"))
    val wBinned = windows.withColumn("bin",
      explode(sequence(floor(unix_millis(col("lo")) / binMs),
        floor(unix_millis(col("hi")) / binMs))))
    val eBinned = ev.select(col("ts"), col("value"),
      floor(unix_millis(col("ts")) / binMs).as("bin"))
    eBinned.join(wBinned, Seq("bin"))
      .filter(col("ts") >= col("lo") && col("ts") <= col("hi"))
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"),
        fr(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("incident_id"))
  }

  /**
   * Count-min heavy hitters: sketch the corpus token stream with
   * [[graft.functions.CmsAgg]] (fixed 8 KB buffer, element-wise-add
   * merge — shuffles 1024 longs per partition instead of the token
   * stream), then probe the sketch for candidate terms. The exact
   * per-term counts alongside are the AUDIT twin (the
   * q_percentiles / q_approx_percentiles pairing): the sketch is the
   * 100 TB path, the exact group-by is the gate harness.
   *
   * The row hashes are md5 bytes 0..3, so the oracle recomputes the
   * ESTIMATE itself (counter[j][b] = Σ counts of terms whose md5 byte
   * j is b) — the estimate is hash-gated exactly, not just
   * bound-checked. `over_n = est − exact ≥ 0` is the CMS one-sided
   * guarantee (spec-pinned; the oracle gate would catch any drift).
   */
  def heavyHittersQuery(spark: SparkSession, sfDir: String,
      k: Int = 10): DataFrame = {
    val terms = Tables.load(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
    val sketch = terms.agg(
      call_function("graft_cms", col("term")).as("sk"))
    val exact = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term"))
      .limit(k)
    def mdByte(c: org.apache.spark.sql.Column, j: Int) =
      conv(substring(md5(c), 2 * j + 1, 2), 16, 10).cast("int")
    val est = (0 until graft.functions.CmsAgg.Depth).map { j =>
      element_at(col("sk"),
        mdByte(col("term"), j) + j * graft.functions.CmsAgg.Width + 1)
    }
    exact.crossJoin(broadcast(sketch))
      .withColumn("est_n", est.reduce((a, b) => least(a, b)))
      .select(col("term"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("over_n"))
      .orderBy(col("exact_n").desc, col("term"))
  }

  /**
   * As-of join (temporal "latest record at or before t"): for each left
   * row, the right row with the greatest timestamp ≤ the left
   * timestamp, per key. Spark has no native as-of join; the scalable
   * form is NOT a pairwise range join (quadratic per key) but a
   * union → single per-key sort → `last(_, ignoreNulls)` running value:
   * one shuffle on the key, linear in rows — the standard streaming-
   * backfill layout at 100 TB.
   *
   * Right rows must be unique per (key, t); pre-dedupe ties (the
   * matching SQL ASOF JOIN leaves tie choice unspecified).
   */
  def asOfJoin(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      rightPayload: Seq[String]): DataFrame = {
    val l = left.withColumn("_k", col(leftKey))
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
    val payload = struct(rightPayload.map(col): _*)
    val r = right.select(
      col(rightKey).as("_k"), col(rightTime).as("_t"),
      lit(0).as("_side"), payload.as("_payload"))
    val lAligned = l.withColumn("_payload",
      lit(null).cast(r.schema("_payload").dataType))
    val unioned = lAligned.select(
      (left.columns.map(col) :+ col("_k") :+ col("_t") :+ col("_side")
        :+ col("_payload")): _*)
      .unionByName(r.select(
        (left.columns.map(c => lit(null).cast(left.schema(c).dataType)
          .as(c)) :+ col("_k") :+ col("_t") :+ col("_side")
          :+ col("_payload")): _*))
    // right rows (_side 0) sort before left rows at equal _t → "≤"
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_match", last(col("_payload"), ignoreNulls = true)
        .over(w))
      .filter(col("_side") === 1 && col("_match").isNotNull)
      .select(left.columns.map(col) :+ col("_match"): _*)
  }

  /**
   * Correctness-gate query: each event joined to the user's latest
   * order at or before the event time (orders deduped to one per
   * (custkey, orderdate) so the oracle's ASOF JOIN tie choice is
   * unique).
   */
  def asOfJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"))
    val orders = Dedup.keepFirst(
      Tables.load(spark, sfDir, "orders"),
      Seq("o_custkey", "o_orderdate"), col("o_orderkey").desc)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))
    asOfJoin(events, orders, "user_id", "ts", "o_custkey", "o_orderdate",
      Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("_match.o_orderkey").as("o_orderkey"),
        col("_match.o_totalprice").as("o_totalprice"))
      .orderBy(col("event_id"))
  }

  /**
   * Z-value (Morton code) of two non-negative int keys: bit-interleave
   * the low `bits` bits of each. A pure O(bits) expression tree —
   * constant in data size, fully codegen'd.
   */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 21): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(
          shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  /**
   * Z-order clustered write: range-partition + sort by the interleaved
   * key so every file (and every ORC row group within it) covers a
   * small rectangle in (a, b) space. Min/max stats then prune scans
   * filtered on EITHER dimension — a linear sort only prunes its
   * leading column. This is the layout step a 100 TB table pays once so
   * that every subsequent multi-dimension selective scan skips ~all of
   * it; ScaleSpec proves the skip with scan metrics.
   *
   * The z-expression is passed straight to repartitionByRange/
   * sortWithinPartitions, so the written schema is unchanged.
   */
  def zorderWrite(df: DataFrame, path: String, aCol: String, bCol: String,
      files: Int, indexStride: Int = graft.sources.OrcIo.DefaultIndexStride)
      : Unit = {
    val z = zValue(col(aCol), col(bCol))
    graft.sources.OrcIo.write(
      df.repartitionByRange(files, z).sortWithinPartitions(z),
      path, indexStride = indexStride)
  }

  /** Correctness gate for [[zorderWrite]]: cluster lineitem on
    * (l_orderkey, l_partkey), re-read with a rectangle filter on both
    * dimensions. Clustering must not change content — the oracle
    * replays the filter on the unclustered source. */
  def zorderQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.OrcIo.scratchDir("zorder_q")
    zorderWrite(Tables.load(spark, sfDir, "lineitem"),
      s"$dir/li_z", "l_orderkey", "l_partkey", files = 8)
    graft.sources.OrcIo.read(spark, s"$dir/li_z")
      .filter(col("l_orderkey") < 1000 && col("l_partkey") < 200)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        fr(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /**
   * Session windows via gaps-and-islands: a new session starts when the
   * gap to the previous event of the same user exceeds `gapMinutes`.
   * Pure window functions (two passes over one user-partitioned sort),
   * SQL-expressible so the oracle replays it exactly.
   */
  def sessionWindowQuery(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"),
      col("event_id"))
    Tables.load(spark, sfDir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // millisecond arithmetic on both engines (unix_timestamp would
      // truncate to seconds and disagree with the oracle on boundaries)
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts"))
            > gapMinutes * 60000L, 1).otherwise(0))
      .withColumn("session_no",
        sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        fr(sum(col("value")), 2).as("sum_value"),
        min(col("ts")).as("session_start"))
      .select(col("user_id"), col("session_no"), col("n_events"),
        col("sum_value"), col("session_start"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /**
   * Time-series gap filling: regularize an irregular per-group series
   * onto a dense time spine (one row per `step` between each group's
   * first and last observation) and forward-fill the value columns
   * across the introduced gaps (last-observation-carried-forward).
   * This is the standard pre-step before any rolling-window
   * computation — a rolling mean over a series with silently missing
   * hours is wrong in a way no test on dense data catches.
   *
   * Shape at 100 TB: the spine is generated from a per-group
   * (min, max) aggregate — two timestamps per group, never a
   * driver-side range — and exploded in parallel; the left join and
   * the forward-fill window both hash-partition on the same group
   * key, so the whole thing is ONE shuffle of the (small) aggregated
   * series, not the raw events.
   */
  def gapFill(obs: DataFrame, group: String, time: String,
      step: String, fills: Seq[String]): DataFrame = {
    val bounds = obs.groupBy(col(group))
      .agg(min(col(time)).as("_t0"), max(col(time)).as("_t1"))
    val spine = bounds.select(col(group),
      explode(expr(s"sequence(_t0, _t1, interval $step)")).as(time))
    val joined = spine.join(obs, Seq(group, time), "left")
    val w = Window.partitionBy(col(group)).orderBy(col(time))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fills.foldLeft(joined) { (d, c) =>
      d.withColumn(s"${c}_ff", last(col(c), ignoreNulls = true).over(w))
    }
  }

  /**
   * Linear-interpolation fill: like [[gapFill]] but gap rows take the
   * time-weighted blend of the surrounding observations instead of a
   * carry-forward — the right regularization for continuous signals
   * (rates, gauges) where LOCF introduces step artifacts. Observed
   * rows pass through unchanged; every gap row has both neighbours by
   * construction (the spine spans first..last observation per group).
   *
   * Same scale shape as [[gapFill]]: the spine comes from a two-value
   * per-group aggregate, and both directional windows hash-partition
   * on the group key — one shuffle of the aggregated series.
   */
  def interpFill(obs: DataFrame, group: String, time: String,
      step: String, valueCol: String): DataFrame = {
    val bounds = obs.groupBy(col(group))
      .agg(min(col(time)).as("_t0"), max(col(time)).as("_t1"))
    val spine = bounds.select(col(group),
      explode(expr(s"sequence(_t0, _t1, interval $step)")).as(time))
    val joined = spine.join(obs, Seq(group, time), "left")
    val wp = Window.partitionBy(col(group)).orderBy(col(time))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col(group)).orderBy(col(time))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    val obsT = when(v.isNotNull, col(time))
    val withNbr = joined
      .withColumn("_pv", last(v, ignoreNulls = true).over(wp))
      .withColumn("_pt", last(obsT, ignoreNulls = true).over(wp))
      .withColumn("_nv", first(v, ignoreNulls = true).over(wn))
      .withColumn("_nt", first(obsT, ignoreNulls = true).over(wn))
    // integer-millisecond time deltas; the blend is one left-assoc
    // double expression rounded to 4 dp (+0.0 kills -0.0) in both
    // engines — observed rows short-circuit so 0/0 never evaluates
    val frac = (unix_millis(col(time)) - unix_millis(col("_pt")))
      .cast("double") /
      (unix_millis(col("_nt")) - unix_millis(col("_pt"))).cast("double")
    withNbr
      .withColumn(s"${valueCol}_interp",
        when(v.isNotNull,
          graft.functions.VectorOps.foldRound(v, 4) + lit(0.0))
          .otherwise(
            graft.functions.VectorOps.foldRound(
              col("_pv") + (col("_nv") - col("_pv")) * frac, 4) +
              lit(0.0)))
      .drop("_pv", "_pt", "_nv", "_nt")
  }

  /** Correctness gate for [[interpFill]]: same sparsified hourly
    * series as [[gapFillQuery]]; the oracle replays the spine, both
    * IGNORE NULLS directional scans, and the epoch-ms time-weighted
    * blend. */
  def interpFillQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.load(spark, sfDir, "events")
      .filter(col("value") > 18.0)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(28,8)")), 2)
          .cast("double").as("v_obs"))
    interpFill(hourly, "event_type", "hour_start", "1 hour", "v_obs")
      .select(col("event_type"), col("hour_start"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("v_obs"), col("v_obs_interp"),
        col("n_events").isNull.as("is_gap"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** Correctness gate for [[gapFill]]: hourly DECIMAL-summed value of
    * high-value events (`value > 18` sparsifies the series so real
    * gaps exist at every SF); the oracle rebuilds the spine with
    * `generate_series` and replays the IGNORE NULLS carry-forward.
    * `n_events` zero-fills, `sum_value` carries forward, `is_gap`
    * marks synthesized rows. */
  def gapFillQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.load(spark, sfDir, "events")
      .filter(col("value") > 18.0)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(28,8)")), 2)
          .cast("double").as("sum_value"))
    gapFill(hourly, "event_type", "hour_start", "1 hour",
      Seq("sum_value"))
      .select(col("event_type"), col("hour_start"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sum_value_ff"),
        col("n_events").isNull.as("is_gap"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /**
   * Rolling-window anomaly detection: each hour's event count is
   * z-scored against the TRAILING 24 fully-observed hours (frame
   * `[-24, -1]` — the current row never contaminates its own
   * baseline). The ops-monitoring primitive: traffic spikes, error
   * bursts, dead sources.
   *
   * Cross-engine exactness: the window sums are INTEGER (count and
   * count², exact in any order); every double step after —
   * `num = 24·Σn² − (Σn)²` (still integer), `var = num/576`, `sd`,
   * `z = (24n − Σn)/(24·sd)` — is the same left-assoc scalar
   * expression in both engines, then rounded before the anomaly gate
   * (|z| ≥ 3 on the ROUNDED value) so the boolean can't straddle an
   * ulp. Flat baselines (num = 0) yield null z, never a div-by-zero.
   *
   * Shape at 100 TB: the raw stream reduces to (group, hour) counts
   * map-side; the window sorts only the tiny aggregated series, one
   * shuffle on the group key. Pair with [[gapFill]] upstream when the
   * series has holes — a row-frame over a gappy series silently spans
   * unequal wall-clock intervals.
   */
  def rollingAnomalyQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val hourly = Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
      .rowsBetween(-24, -1)
    val stats = hourly
      .withColumn("win_n", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("win_n") === 24)
    val num = lit(24L) * col("s2") - col("s1") * col("s1")
    val sd = sqrt(num.cast("double") / lit(576.0))
    val z = (lit(24L) * col("n") - col("s1")).cast("double") /
      (lit(24.0) * sd)
    stats
      .withColumn("mean_24h",
        fr(col("s1").cast("double") / lit(24.0), 4) + lit(0.0))
      .withColumn("z",
        when(num > 0L, fr(z, 4) + lit(0.0)))
      .withColumn("is_anomaly",
        when(num > 0L, abs(fr(z, 4) + lit(0.0)) >= 3.0))
      .select(col("event_type"), col("hour_start"), col("n"),
        col("mean_24h"), col("z"), col("is_anomaly"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /**
   * Seasonal-profile anomaly detection — the calendar-aware
   * complement of [[rollingAnomalyQuery]]: instead of a trailing
   * window, each (event_type, hour-of-day) gets a SEASONAL baseline
   * (mean/sd over every day's observation of that clock hour), and an
   * hour is anomalous when it sits ≥ 3 z-scores from its own hour's
   * profile — the decomposition that catches "3 AM traffic at 3 PM
   * levels", which a trailing window normalizes away.
   *
   * Shape at 100 TB: the profile is a (types × 24)-row broadcast
   * built from one map-side-partial aggregation of the hourly counts;
   * scoring is a broadcast join + codegen projection — no window over
   * the series at all (strictly cheaper than the trailing-window
   * twin). Integer power sums, one double sqrt, the
   * [[rollingAnomalyQuery]] rounding discipline.
   */
  def seasonalAnomalyQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val hourly = Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hod", hour(col("hour_start")).cast("long"))
    val profile = hourly.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("m"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
    val num = col("m") * col("s2") - col("s1") * col("s1")
    val sd = sqrt(num.cast("double")) / col("m").cast("double")
    val z = (col("m") * col("n") - col("s1")).cast("double") /
      (col("m").cast("double") * sd)
    hourly.join(broadcast(profile), Seq("event_type", "hod"))
      .withColumn("mean_hod",
        fr(col("s1").cast("double") / col("m").cast("double"), 4) +
          lit(0.0))
      .withColumn("z", when(num > 0L, fr(z, 4) + lit(0.0)))
      .withColumn("is_anomaly",
        when(num > 0L, abs(fr(z, 4) + lit(0.0)) >= 3.0))
      .select(col("event_type"), col("hour_start"), col("hod"), col("n"),
        col("mean_hod"), col("z"), col("is_anomaly"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /**
   * CUSUM change-point detection (Page, Biometrika 1954) over daily
   * event-type counts — the DRIFT-LOCALIZATION complement to the
   * anomaly pair: [[rollingAnomalyQuery]] flags spikes against a
   * trailing window, [[seasonalAnomalyQuery]] against the clock-hour
   * profile, CUSUM accumulates small persistent shifts until the
   * one-sided statistic S⁺ crosses the decision interval — the
   * "ingest volume quietly drifted 1σ for a week" detector neither
   * spike rule can see.
   *
   * The recursion S⁺_t = max(0, S⁺_{t−1} + z_t − k) is not a window
   * aggregate, but its closed form is: with C_t = Σ_{j≤t}(z_j − k)
   * and C_0 = 0, S⁺_t = C_t − min(0, min_{j≤t} C_j) — a running sum
   * and a running min, both plain prefix windows. Shape at 100 TB:
   * the stream folds map-side to (type, day) cells; every window is
   * PER TYPE over day-count-sized frames (the [[Behavior.markovQuery]]
   * partitioned-window discipline — never a corpus sort).
   *
   * Hashed-column discipline (round 12): every hashed value is an
   * EXACT INTEGER. The z-score quantizes via integer square root:
   * with num = m·n − s1 and den = m·s2 − s1² (exact BIGINTs),
   * zr_micro = sign(num)·isqrt(⌊10¹²·num²/den⌋) = sign·⌊10⁶·|z|⌋.
   * isqrt computes k₀ = ⌊√(double v)⌋ — hardware-IEEE sqrt, exact
   * for v < 2⁵³ — then corrects ±2 steps with exact integer square
   * comparisons, so the result is the true integer square root in
   * any engine regardless of the float path. All prefix arithmetic
   * (C_t, running min, S⁺) then runs on BIGINT micro-units; the
   * alarm threshold 4 becomes 4·10⁶.
   */
  def cusumQuery(spark: SparkSession, sfDir: String): DataFrame =
    cusumOver(Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** The [[cusumQuery]] statistic over an explicit
    * (event_type, day, n) frame — spec entry point for injected-shift
    * series. */
  private[graft] def cusumOver(daily: DataFrame): DataFrame = {
    val prof = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // |z| ≤ √m so zr_micro ≤ 10⁶·√m and every BIGINT prefix sum over
    // an m-day horizon stays far inside 2⁶³; v = ⌊10¹²·num²/den⌋ is
    // the only quantity needing DECIMAL(38,0) headroom
    val scored = daily.join(broadcast(prof), Seq("event_type"))
      .withColumn("zden",
        col("m") * col("s2") - col("s1") * col("s1"))
      .withColumn("znum", col("m") * col("n") - col("s1"))
      .withColumn("v",
        expr("CAST((CAST(znum AS DECIMAL(19,0)) * znum * 1000000000000)" +
          " div zden AS BIGINT)"))
      // integer sqrt: hardware-IEEE k0, then exact ±2-step correction
      .withColumn("k0",
        greatest(floor(sqrt(col("v").cast("double"))).cast("long") - 2,
          lit(0L)))
      .withColumn("zmag", col("k0") +
        when((col("k0") + 1) * (col("k0") + 1) <= col("v"), 1L).otherwise(0L) +
        when((col("k0") + 2) * (col("k0") + 2) <= col("v"), 1L).otherwise(0L) +
        when((col("k0") + 3) * (col("k0") + 3) <= col("v"), 1L).otherwise(0L) +
        when((col("k0") + 4) * (col("k0") + 4) <= col("v"), 1L).otherwise(0L))
      .withColumn("zr_micro",
        when(col("zden") > 0,
          when(col("znum") >= 0, col("zmag")).otherwise(-col("zmag"))))
      .withColumn("cc", sum(col("zr_micro") - lit(500000L)).over(w))
      .withColumn("cmin", min(col("cc")).over(w))
    scored
      .withColumn("s_plus", col("cc") - least(col("cmin"), lit(0L)))
      .select(col("event_type"), col("day"), col("n"), col("zr_micro"),
        col("s_plus"), (col("s_plus") > 4000000L).as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /**
   * Runtime bloom-filter join (semijoin reduction): the dimension
   * side's join-key set folds into one 8 KB
   * [[graft.functions.BloomAgg]] sketch (OR-merged partials,
   * broadcast as a single row) that pre-filters the fact side BEFORE
   * the join's exchange — bloom-negative fact rows provably have no
   * match (no false negatives) and never enter the shuffle; the
   * bloom-positive slice (matches + bounded false positives) pays the
   * exact join, which removes the false positives, so the result is
   * row-for-row the plain join. This is the explicit form of the
   * runtime-filter trick every warehouse leans on at 100 TB: a
   * 20%-selective dimension shrinks the fact shuffle ~5× for an 8 KB
   * broadcast. Production sizes the filter at ~10 bits/key (sharded
   * per-partition blooms OR-merge the same way); the mechanics —
   * build, broadcast, probe, exact-verify — are identical at any m.
   * The join is hinted merge so the plan is the true at-scale shape
   * (dim too big to broadcast-hash-join) and the pre-filter's work
   * reduction is real, not shadowed by a broadcast join.
   */
  def bloomFilteredJoin(fact: DataFrame, dim: DataFrame, key: String)
      : DataFrame = {
    val bloom = dim.agg(
      call_function("graft_bloom", col(key).cast("string")).as("_bloom"))
    fact.crossJoin(broadcast(bloom))
      .filter(call_function("graft_bloom_might", col("_bloom"),
        col(key).cast("string")))
      .drop("_bloom")
      .join(dim.hint("merge"), Seq(key))
  }

  /** Correctness gate for [[bloomFilteredJoin]]: urgent-priority
    * orders (≈20% selective) join the lineitem fact through the bloom
    * pre-filter; per-month item counts and revenue must hash-equal
    * the PLAIN-join oracle — the sketch may only prune work, never
    * change the result. Revenue rides DECIMAL (the q5 rule). */
  def bloomJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    val urgent = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
    bloomFilteredJoin(li, urgent, "l_orderkey")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,8)")), 2).cast("double").as("revenue"))
      .orderBy(col("month"))
  }

  /**
   * Small-file compaction planner (the planning half of OPTIMIZE /
   * lakehouse table maintenance): given a file inventory (one row per
   * part with its byte size), assign each part to an output bin so
   * every rewritten file lands near `targetBytes`. Compaction never
   * crosses `groupCols` (partition boundaries). The assignment is
   * sorted-fill: parts ordered (bytes DESC, part key) within the
   * group, exclusive prefix sum, `bin = prefix div targetBytes` —
   * deterministic, one window over METADATA (a 100 TB table at 1 GB
   * files is ~10⁵ inventory rows, so the planner's cost is nil
   * regardless of data scale), and oversized parts (> target) land
   * alone in their own bins because descending order fills them first.
   * The execution half is the existing rewrite machinery
   * ([[graft.operators.Acid]] compaction / `OrcIo.concat`).
   */
  def compactionPlan(parts: DataFrame, groupCols: Seq[String],
      orderCol: String, bytesCol: String, targetBytes: Long): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(bytesCol).desc, col(orderCol))
    val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val planned = parts
      .withColumn("_pre",
        sum(col(bytesCol)).over(wcum) - col(bytesCol))
      .withColumn("bin", expr(s"_pre div ${targetBytes}L"))
      .drop("_pre")
    val wb = Window.partitionBy((groupCols.map(col) :+ col("bin")): _*)
    planned
      .withColumn("bin_parts", count(lit(1)).over(wb))
      .withColumn("bin_bytes", sum(col(bytesCol)).over(wb))
  }

  /** Correctness gate for [[compactionPlan]]: the inventory is the
    * per-(event_type, day) partition listing of `events` with an
    * integer byte-size proxy (32 + both string lengths per row —
    * exact in any order), target 16 KiB; the oracle replays the
    * descending sorted-fill and both bin rollups. */
  def compactionPlanQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(lit(32L) + length(col("event_type")) +
        length(col("props"))).cast("bigint").as("bytes"))
    compactionPlan(parts, Seq("event_type"), "day", "bytes",
      targetBytes = 16384L)
      .select(col("event_type"), col("day"), col("bytes"), col("bin"),
        col("bin_parts"), col("bin_bytes"))
      .orderBy(col("event_type"), col("day"))
  }

  /**
   * Compaction plan EXECUTOR — the missing half of OPTIMIZE
   * ([[compactionPlan]] plans, this rewrites). Per planned bin:
   *
   *  - if every input file shares (schema, compression), take the
   *    raw stripe-append path ([[graft.sources.OrcIo.concat]] —
   *    reference parity `WriterImpl.java:2889` appendStripe): bytes
   *    are copied stripe-wise without decode, footer statistics and
   *    user metadata carried over;
   *  - otherwise a distributed rewrite ([[graft.sources.OrcIo.write]]
   *    of the unioned scan) — the codec-converting path.
   *
   * Outputs land under `outDir/bin=<n>/` (hive layout, so the
   * compacted table reads back with partition discovery). Returns the
   * driver-side manifest (bin, mode, n_in, out_files) — metadata-
   * sized by the same argument as the planner (a 100 TB table at 1 GB
   * parts is ~10⁵ inventory rows). The layout probe per file reads
   * ONLY the ORC tail. At cluster scale the rewrite bins are each a
   * distributed job already; append bins are driver-bound by concat's
   * single-writer contract (documented there) and would parallelize
   * across bins via a task pool — bin count, not bin size, bounds
   * that loop.
   */
  def compactionExec(spark: SparkSession, planned: DataFrame,
      fileCol: String, binCol: String, outDir: String)
      : Seq[(Long, String, Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val groups = planned.select(col(binCol).cast("long"), col(fileCol))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSeq.sorted).toMap
    def layout(f: String): (String, String) =
      OrcMeta.withReader(f, conf)(r =>
        (r.getSchema.toString, r.getCompressionKind.name()))
    // bins write to disjoint bin=N directories — independent,
    // overlapped (results keep bin order via the pre-sorted seq)
    Acid.inParallel(groups.toSeq.sortBy(_._1)
      .map { case (bin, files) => () =>
        val binDir = s"$outDir/bin=$bin"
        val uniform = files.map(layout).distinct.size == 1
        val mode =
          if (uniform) {
            val fs = new org.apache.hadoop.fs.Path(binDir)
              .getFileSystem(conf)
            fs.mkdirs(new org.apache.hadoop.fs.Path(binDir))
            graft.sources.OrcIo.concat(spark, files,
              s"$binDir/part-00000.orc")
            "append"
          } else {
            graft.sources.OrcIo.write(
              spark.read.orc(files: _*).coalesce(1), binDir)
            "rewrite"
          }
        (bin, mode, files.size.toLong,
          OrcMeta.dataFiles(spark, binDir).size.toLong)
      })
  }

  /**
   * Correctness gate for [[compactionExec]]: 12 real ORC input parts
   * (orders bucketed by `o_orderkey % 12`; buckets ≥ 8 written zlib,
   * the rest snappy), planned by [[compactionPlan]] over DETERMINISTIC
   * size proxies (1000 + bucket — distinct at every SF, so the
   * sorted-fill lands the same bins everywhere: {11,10,9} zlib-uniform
   * → stripe-append, {8,7,6,5} mixed-codec → rewrite, {4,3,2} and
   * {1,0} snappy-uniform → stripe-append; both executor paths are
   * exercised at every scale). The gate hashes, per bin: the planned
   * part count, the mode, the output file count (= 1, file count
   * matches the plan), and the read-back row count + exact modular
   * key checksums (sum of key % 1000003 — int64-safe at any SF on
   * both engines, where a raw key sum would wrap in Spark but not in
   * DuckDB's HUGEINT) from the ACTUAL rewritten bytes — conservation
   * through the executor, replayed by the oracle from the source
   * table. Real byte sizes stay out of the hash (they are
   * writer-version-dependent); content does not.
   */
  def compactionExecQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val dir = graft.sources.OrcIo.scratchDir("compact_exec")
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .withColumn("bucket", pmod(col("o_orderkey"), lit(12L)))
    // 12 independent single-file fixture writes — overlapped (each is
    // one tiny coalesced job whose wall was mostly driver gap)
    Acid.inParallel((0L until 12L).map { b => () =>
      graft.sources.OrcIo.write(
        orders.filter(col("bucket") === b).drop("bucket").coalesce(1),
        s"$dir/in/p$b",
        compression = if (b >= 8L) "zlib" else "snappy")
    })
    def partFile(b: Long): String =
      OrcMeta.dataFiles(spark, s"$dir/in/p$b").head
    val inv = (0L until 12L)
      .map(b => (b, partFile(b), 1000L + b)).toDF("pkey", "file", "psize")
    val plan = compactionPlan(inv, Seq(), "pkey", "psize",
      targetBytes = 3030L)
    val manifest = compactionExec(spark, plan, "file", "bin",
        s"$dir/out")
      .toDF("bin", "mode", "n_parts", "out_files")
    // checksums sum key % 1000003, not the raw keys (ADVICE r13):
    // Spark's non-ANSI BIGINT sum wraps silently while DuckDB sums in
    // HUGEINT, so raw sum(o_orderkey) ~ 2n² diverges cross-engine
    // near sf1000; with each term < 2^20 the modular sum stays exact
    // in int64 on both engines at any SF
    val back = spark.read.orc(s"$dir/out")
      .groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("out_rows"),
        sum(pmod(col("o_orderkey"), lit(1000003L))).as("out_sum_key"),
        sum(pmod(col("o_custkey"), lit(1000003L))).as("out_sum_cust"))
    manifest.join(back, Seq("bin"))
      .select(col("bin"), col("n_parts"), col("mode"), col("out_files"),
        col("out_rows"), col("out_sum_key"), col("out_sum_cust"))
      .orderBy(col("bin"))
  }

  /**
   * Join-size estimation by correlated (key-hash) sampling (Vengerov
   * et al., VLDB 2015): sample the JOIN KEY domain — keep a row iff
   * md5(key) lands under p·2²⁴ — so both sides keep exactly the same
   * keys, every sampled key contributes its FULL f_A(k)·f_B(k) pair
   * mass, and scaled sample-join count / p is an unbiased estimate of
   * |A ⋈ B|. This is the planner statistic uniform row sampling
   * cannot give (independent row samples hit the same key on both
   * sides with probability p², not p) — the input to broadcast-vs-
   * shuffle and skew-mitigation decisions before a 100 TB join runs.
   *
   * Here: lineitem ⋈ orders on orderkey at p = 1/16, with the exact
   * join count as the audit twin (gate-scale only; production keeps
   * the p-cost sample pass and drops the twin). Determinism: the md5
   * sample is replayed by the oracle, so estimate AND error hash-gate
   * exactly.
   */
  def joinCardEstQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val inv = 16L  // 1/p
    val cut = (1L << 24) / inv
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").cast("string").as("key"))
    val ord = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").cast("string").as("key"))
    val sampLi = li.filter(Sampling.hashBucket24(col("key")) < cut)
    val sampOrd = ord.filter(Sampling.hashBucket24(col("key")) < cut)
    val nA = li.agg(count(lit(1)).as("n_a"))
    val nB = ord.agg(count(lit(1)).as("n_b"))
    val sA = sampLi.agg(count(lit(1)).as("sample_a"))
    val sB = sampOrd.agg(count(lit(1)).as("sample_b"))
    val jS = sampLi.join(sampOrd, Seq("key"))
      .agg(count(lit(1)).as("j_sample"))
    val jX = li.join(ord, Seq("key"))
      .agg(count(lit(1)).as("j_exact"))
    nA.crossJoin(broadcast(nB)).crossJoin(broadcast(sA))
      .crossJoin(broadcast(sB)).crossJoin(broadcast(jS))
      .crossJoin(broadcast(jX))
      .select(col("n_a"), col("n_b"), col("sample_a"), col("sample_b"),
        col("j_sample"), (col("j_sample") * inv).as("j_est"),
        col("j_exact"),
        fr(abs((col("j_sample") * inv - col("j_exact"))
            .cast("double")) / col("j_exact").cast("double"), 6)
          .as("rel_err"))
  }

  /**
   * Audience overlap by EXACT bitmap set algebra
   * ([[graft.functions.BitmapAgg]]): per event-type user bitmaps, then
   * pairwise reach, intersection, union, and Jaccard — plus the total
   * corpus reach ROLLED UP from the per-type bitmaps themselves (an
   * exploded-word `bit_or`, no rescan of the stream), which is the
   * capability `count_distinct` fundamentally lacks: its per-group
   * results don't compose, so every rollup level costs another full
   * pass.
   *
   * Shape at 100 TB: one map-side-partial groupBy builds k bitmaps
   * (buffer ∝ id-domain/8 bytes, not rows); every set operation after
   * that runs on k·words longs. Counts are popcounts —
   * `bit_count` over the words, summed — and all outputs are exact
   * integers the oracle recomputes from raw DISTINCT sets.
   */
  def bitmapAudienceQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    // dictionary-encode ids first — the aggregate's contract, not an
    // optimization: raw ids can live anywhere in the 64-bit space
    // (the sf1 ScaleUp corpus shifts them past 9e9), while bitmap
    // positions must be dense. The dictionary build is a one-time
    // domain-sized pass (production assigns dense ids at ingest or
    // from a stable id service); the rank rides the Prefix.running
    // two-phase distributed scan — the user frame grows with the
    // corpus, so a global row_number window would sort every distinct
    // user in ONE task.
    val dict = graft.operators.Prefix.running(
        ev.select(col("user_id")).distinct(),
        Seq(), Seq(col("user_id")),
        Seq(graft.operators.Prefix.Running(lit(1L), "cnt", "_rn")))
      .select(col("user_id"), (col("_rn") - 1).as("uid"))
    val bms = ev.join(dict, Seq("user_id"))
      .groupBy(col("event_type"))
      .agg(call_function("graft_bitmap", col("uid")).as("bm"))
    def popcount(c: org.apache.spark.sql.Column) =
      aggregate(transform(c, w => bit_count(w).cast("long")),
        lit(0L), (acc, x) => acc + x)
    // total reach rolled up FROM THE BITMAPS: word-position bit_or
    val total = bms
      .select(posexplode(col("bm")).as(Seq("pos", "word")))
      .groupBy(col("pos"))
      .agg(bit_or(col("word")).as("word"))
      .agg(sum(bit_count(col("word")).cast("long")).as("total_users"))
    val a = bms.select(col("event_type").as("item_a"),
      col("bm").as("bm_a"))
    val b = bms.select(col("event_type").as("item_b"),
      col("bm").as("bm_b"))
    a.join(b, col("item_a") < col("item_b"))
      .select(col("item_a"), col("item_b"),
        popcount(col("bm_a")).as("users_a"),
        popcount(col("bm_b")).as("users_b"),
        popcount(zip_with(col("bm_a"), col("bm_b"), (x, y) =>
          coalesce(x, lit(0L)).bitwiseAND(coalesce(y, lit(0L)))))
          .as("inter"))
      .withColumn("uni",
        col("users_a") + col("users_b") - col("inter"))
      .withColumn("jaccard",
        fr(col("inter").cast("double") / col("uni").cast("double"),
          10))
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("users_a"),
        col("users_b"), col("inter"), col("uni"), col("jaccard"),
        col("total_users"))
      .orderBy(col("item_a"), col("item_b"))
  }

  /**
   * SLO error-budget burn rate (the Google SRE workbook multiwindow
   * alert): per hour, the error rate against a 5% budget at two
   * horizons — the hour itself (fast burn) and its trailing day
   * (sustained burn) — alerting only when BOTH burn, which is what
   * kills the flappy single-window page. All alert decisions are
   * exact integer cross-multiplications (20·err_h > 2·tot_h ⟺
   * burn_1h > 2); the burn columns are one rounded division each.
   *
   * Shape at 100 TB: one map-side-partial groupBy to the hour grid;
   * the trailing-day totals come from a 24-offset explosion of the
   * HOUR GRID (q_stickiness device) — domain-sized, no re-scan.
   */
  def sloBurnQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    val hours = ev
      .select(expr("unix_millis(ts) div 3600000").as("h"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("tot_h"), sum(col("is_err")).as("err_h"))
    val daily = hours
      .select(explode(sequence(col("h"), col("h") + 23)).as("wh"),
        col("tot_h"), col("err_h"))
      .groupBy(col("wh").as("h"))
      .agg(sum(col("tot_h")).as("tot_d"), sum(col("err_h")).as("err_d"))
    hours.join(daily, Seq("h"))
      .select(timestamp_millis(col("h") * 3600000L).as("hour_start"),
        col("tot_h"), col("err_h"),
        fr(col("err_h").cast("double") * 20 /
          col("tot_h").cast("double"), 10).as("burn_1h"),
        fr(col("err_d").cast("double") * 20 /
          col("tot_d").cast("double"), 10).as("burn_1d"),
        (col("err_h") * 20 > col("tot_h") * 2 &&
          col("err_d") * 20 > col("tot_d")).as("alert"))
      .orderBy(col("hour_start"))
  }

  /**
   * Concurrency curve by interval sweep: reconstruct 30-minute-gap
   * user sessions, convert each to a +1 (start) / −1 (end) sweep
   * event, and running-sum the ordered sweep — the classic
   * O(n log n) "how many sessions are open at once" operator behind
   * capacity planning and license-seat accounting; the naive
   * point-in-interval join is quadratic and the one shape this sweep
   * exists to avoid. Reported per hour: the maximum concurrency
   * observed at any sweep point in that hour.
   *
   * Determinism: at equal timestamps starts process BEFORE ends
   * (delta DESC in the sweep order), then (user, session) breaks
   * remaining ties — a one-event session still registers concurrency
   * 1. Everything is exact integer arithmetic. Shuffles carry
   * (ts, ±1) pairs; the ordered running sum IS implemented as
   * per-partition sums + a partition-offset merge
   * ([[Prefix.running]]) — a plain global window would pull every
   * sweep event of the corpus into one task.
   */
  def concurrencyQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = ev
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L,
          1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
    val sweep = sessions
      .select(col("s_start").as("ts"), lit(1L).as("delta"),
        col("user_id"), col("session_no"))
      .unionAll(sessions.select(col("s_end").as("ts"),
        lit(-1L).as("delta"), col("user_id"), col("session_no")))
    Prefix.running(sweep, Seq(),
        Seq(col("ts"), col("delta").desc, col("user_id"),
          col("session_no")),
        Seq(Prefix.Running(col("delta"), "sum", "conc")))
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(max(col("conc")).as("max_concurrent"),
        sum(when(col("delta") === 1, 1L).otherwise(0L))
          .as("sessions_started"))
      .orderBy(col("hour_start"))
  }

  /**
   * Data-layout advisor: simulate three physical sort orders for the
   * event table — hash-scattered (the shuffle-write default),
   * user-clustered, time-clustered —
   * slice each into 16 equal files, and measure how well each layout
   * SKIPS for time-range queries: per-file ts min/max, the count of
   * overlapping file-range pairs, and the mean file-span fraction of
   * the global time span. This is the input to the "ORDER BY what?"
   * layout decision (Z-order's 1-D little sibling — [[q_zorder]]
   * handles the 2-D case): a time-clustered layout's spans tile the
   * axis (overlap ≈ 0, span ≈ 1/16) so a range probe touches ~1 file,
   * while hash/user order gives every file ≈ the full span and
   * every probe reads everything. (The table's natural insertion
   * order is ALREADY time-clustered — an append-only log — which is
   * itself the advisor's other lesson: don't re-sort what arrives
   * sorted.)
   *
   * Shape at 100 TB: the gate-scale simulation sorts the table per
   * candidate (exact-twin discipline); production computes the same
   * metrics from FILE-LEVEL min/max statistics already in the
   * catalog — a metadata-sized frame — or from a key-hash sample
   * (the q_join_cardest device).
   */
  def layoutAdvisorQuery(spark: SparkSession, sfDir: String,
      nFiles: Int = 16): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ms"))
    // the file id is ntile over the simulated sort order, but the
    // frame is the whole event stream — so the rank rides the
    // Prefix.running two-phase distributed scan and ntile is its
    // closed-form bucket function, never a global window (which would
    // sort the corpus in ONE task, three times over)
    val nRows = ev.count()
    def layout(name: String, ord: Seq[org.apache.spark.sql.Column]) =
      Prefix.running(ev, Seq(), ord,
          Seq(Prefix.Running(lit(1L), "cnt", "_rn")))
        .withColumn("file",
          Prefix.ntileFromRank(col("_rn"), lit(nRows), nFiles))
        .groupBy(col("file"))
        .agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
        .withColumn("layout", lit(name))
    // 3 layouts × nFiles rows — pinned because the frame feeds both
    // sides of the overlap self-join plus the final rollup, and each
    // evaluation would otherwise re-run a full distributed-rank
    // pipeline over the events frame
    val files =
      layout("by_hash",
        Seq(md5(col("event_id").cast("string")), col("event_id")))
        .unionAll(layout("by_user", Seq(col("user_id"), col("event_id"))))
        .unionAll(layout("by_ts", Seq(col("ms"), col("event_id"))))
        .tracked()
    val span = ev.agg(min(col("ms")).as("g0"), max(col("ms")).as("g1"))
    val overlaps = files.as("a")
      .join(files.as("b"),
        col("a.layout") === col("b.layout") &&
          col("a.file") < col("b.file") &&
          col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .groupBy(col("a.layout").as("layout"))
      .agg(count(lit(1)).as("overlap_pairs"))
    files.crossJoin(broadcast(span))
      .groupBy(col("layout"))
      // mean span fraction as ONE exact-integer division: Σ(hi−lo)
      // is BIGINT, so no float summation order can flap the hash
      .agg(count(lit(1)).as("n_files"),
        fr(sum(col("hi") - col("lo")).cast("double") /
          (count(lit(1)) * (first(col("g1")) - first(col("g0"))))
            .cast("double"), 10)
          .as("avg_span_frac"))
      .join(overlaps, Seq("layout"), "left")
      .select(col("layout"), col("n_files"),
        coalesce(col("overlap_pairs"), lit(0L)).as("overlap_pairs"),
        col("avg_span_frac"))
      .orderBy(col("layout"))
  }
}
