package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/**
 * Streaming ingest (SURVEY.md §2.10 / W8).
 *
 * The reference supports readers consuming a file while a writer is
 * still appending: `writeIntermediateFooter` flushes a valid footer
 * mid-file and a `_flush_length` side file advertises the readable
 * prefix (`WriterImpl.java:2867-2880`, `OrcAcidUtils.java:40-60`).
 * The idiomatic Spark replacement is Structured Streaming's
 * file-per-micro-batch sink with the `_spark_metadata` commit log:
 * readers see exactly the committed batches — same contract
 * (readable-prefix visibility), engine-managed.
 *
 * Scale: each micro-batch writes partition-parallel files; the commit
 * log bounds driver state. Watermarks bound the windowed-agg state
 * store, so unbounded streams run in bounded memory per executor.
 */
object StreamingIngest {

  /** One-time Structured Streaming engine warm-up (r18, run from
    * Bench's UNTIMED fixture phase): a 2-row file stream through a
    * stateful aggregate + parquet sink. The first streaming query in
    * a JVM pays engine init — incremental-planner classes, state-store
    * provider setup, sink/commit-log codegen — which the sweep
    * otherwise bills entirely to the alphabetically-first q_stream_*
    * gate, exactly the JVM/codegen spin-up the q1_agg warm-up already
    * removes for batch queries. */
  def warmUpStreaming(spark: SparkSession): Unit = {
    import spark.implicits._
    val dir = graft.sources.OrcIo.scratchDir("stream_warmup")
    Seq((1L, 1L), (2L, 1L)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val streamSession = spark.newSession()
    streamSession.conf.set("spark.sql.shuffle.partitions", "2")
    val q = streamSession.readStream.schema(schema).parquet(s"$dir/in")
      .dropDuplicates("k") // stateful: initializes the state store path
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Micro-batch ORC ingest: append `df`-shaped streaming rows to
    * `outDir` as ORC files with a commit log (the W8 analogue). */
  def orcSink(events: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .format("orc")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .option("compression", "zlib")
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .start()

  /** Watermarked hourly rollup of an event stream — the engine-side
    * continuous analogue of q_events_hourly. 10-minute watermark bounds
    * state; late rows beyond it are dropped deterministically. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.VectorOps.foldRound(sum(col("value")), 2)
          .as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /**
   * Streaming exact dedup: drop events whose dedup key was already seen
   * within the watermark horizon — the streaming face of
   * [[graft.operators.Dedup.exactQuery]]. State is bounded by the
   * watermark (keys older than the horizon are evicted), so unbounded
   * streams dedup in bounded memory — the reason a 100 TB/day ingest
   * can dedup at all.
   */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  case class SessionInput(user_id: Long, ts: java.sql.Timestamp,
      value: Double)
  case class SessionState(nEvents: Long, sumValue: Double,
      startMs: Long, lastMs: Long)
  case class SessionOut(user_id: Long, n_events: Long, sum_value: Double,
      duration_sec: Double)

  /**
   * Custom stateful sessionization via mapGroupsWithState: a session
   * closes after `gapSec` of inactivity (processing-time timeout).
   * Demonstrates the KeyValueGroupedDataset state API the engine offers
   * for stream logic the built-in windows can't express.
   */
  def sessionize(events: Dataset[SessionInput], gapSec: Int = 1800,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](timeout) {
        (userId: Long, rows: Iterator[SessionInput],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(userId, s.nEvents, s.sumValue,
              (s.lastMs - s.startMs) / 1000.0)
          } else {
            val evs = rows.toSeq
            val prev = state.getOption.getOrElse(
              SessionState(0L, 0.0, Long.MaxValue, Long.MinValue))
            val ms = evs.map(_.ts.getTime)
            val next = SessionState(
              prev.nEvents + evs.size,
              prev.sumValue + evs.map(_.value).sum,
              math.min(prev.startMs, ms.min),
              math.max(prev.lastMs, ms.max))
            state.update(next)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(gapSec * 1000L)
            SessionOut(userId, next.nEvents, next.sumValue,
              (next.lastMs - next.startMs) / 1000.0)
          }
      }
  }

  case class SessEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)
  // session_start keeps the first event's full (µs) timestamp; gap
  // arithmetic is on epoch millis, matching the batch query's
  // unix_millis semantics
  // startUs (µs) orders sessions/events exactly (batch min(ts) is µs);
  // lastMs stays millisecond-granular because the gap arithmetic is
  // epoch-ms on both engine and oracle
  case class OpenSession(nEvents: Long, sumValue: Double,
      startTs: java.sql.Timestamp, startUs: Long, lastMs: Long)
  // nextNo survives session finalization (numbering tombstone) so a
  // user's later sessions keep batch-equivalent numbers
  case class SessState(nextNo: Long, open: List[OpenSession])
  case class SessRow(user_id: Long, session_no: Long, n_events: Long,
      sum_value: Double, session_start: java.sql.Timestamp)

  /**
   * Event-time streaming sessionization via flatMapGroupsWithState:
   * the production face of [[sessionize]] — 30-minute event-time gap,
   * finalized ONLY by the watermark (EventTimeTimeout), never eagerly:
   * a session is emitted when the watermark strictly passes its
   * end + gap, exactly the contract of the built-in windowed
   * aggregates in append mode. Until then it stays in state, so
   * within-watermark late events merge into (or bridge) open sessions
   * instead of being mis-assigned; events older than the watermark
   * are dropped deterministically.
   *
   * State per user is its open-session list (sessions not yet
   * watermark-finalizable — bounded by the watermark horizon, not
   * stream length) plus a session counter. The counter outlives
   * finalized sessions while any state exists and is garbage-collected
   * one extra gap after the last session closes, so numbering matches
   * the batch query ([[graft.operators.Scale.sessionWindowQuery]])
   * for any user active within that horizon.
   */
  def sessionizeEventTime(events: Dataset[SessEvent], gapMin: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[SessRow] = {
    import events.sparkSession.implicits._
    val gapMs = gapMin * 60000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessEvent],
            state: GroupState[SessState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(SessState(1L, Nil))
          def micros(t: java.sql.Timestamp): Long =
            t.getTime * 1000 + (t.getNanos / 1000) % 1000
          // fold the batch's events into the open sessions: merge the
          // (sorted, non-adjacent) open list with the sorted in-batch
          // events, joining anything within the gap — a late event can
          // bridge two previously separate open sessions
          val evs = rows.toArray
            .filter(_.ts.getTime >= wm) // beyond-watermark: dropped
            .sortBy(e => (micros(e.ts), e.event_id))
          val units = (prev.open.map(Left(_)) ++ evs.map(Right(_)))
            .sortBy {
              case Left(s) => (s.startUs, Long.MinValue)
              case Right(e) => (micros(e.ts), e.event_id)
            }
          val merged = units.foldLeft(List.empty[OpenSession]) {
            case (acc, u) =>
              val (ne, sum, ts, sUs, lMs) = u match {
                case Left(s) => (s.nEvents, s.sumValue, s.startTs,
                  s.startUs, s.lastMs)
                case Right(e) => (1L, e.value, e.ts,
                  micros(e.ts), e.ts.getTime)
              }
              acc match {
                case head :: tail if sUs / 1000 - head.lastMs <= gapMs =>
                  OpenSession(head.nEvents + ne, head.sumValue + sum,
                    head.startTs, head.startUs,
                    math.max(head.lastMs, lMs)) :: tail
                case _ =>
                  OpenSession(ne, sum, ts, sUs, lMs) :: acc
              }
          }.reverse
          // finalize the prefix the watermark strictly passed (sessions
          // are gap-separated, so closable ones are always a prefix)
          val (closed, stillOpen) = merged.span(_.lastMs + gapMs < wm)
          val out = closed.zipWithIndex.map { case (s, i) =>
            SessRow(userId, prev.nextNo + i, s.nEvents, s.sumValue,
              s.startTs)
          }
          val nextNo = prev.nextNo + closed.size
          if (stillOpen.nonEmpty) {
            state.update(SessState(nextNo, stillOpen))
            // fires when the earliest open session becomes finalizable
            state.setTimeoutTimestamp(
              math.max(stillOpen.head.lastMs + gapMs, wm + 1))
          } else if (state.exists || closed.nonEmpty) {
            // numbering tombstone: keep the counter one extra gap so a
            // quickly-returning user continues numbering, then GC
            if (prev.open.isEmpty && evs.isEmpty) {
              state.remove() // the GC timeout itself fired
            } else {
              state.update(SessState(nextNo, Nil))
              state.setTimeoutTimestamp(math.max(wm + gapMs, wm + 1))
            }
          }
          out.iterator
      }
  }

  case class FunnelEv(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  // µs sentinels: Long.MinValue = stage not reached. buf holds events
  // still inside the watermark horizon as (µs, type); lastMs drives the
  // quiet-user timeout.
  case class FunnelSt(tView: Long, tClick: Long, tPurchase: Long,
      buf: List[(Long, String)], lastMs: Long)
  case class FunnelOut(user_id: Long, funnel_stage: Int,
      t_view: Option[java.sql.Timestamp],
      t_click: Option[java.sql.Timestamp],
      t_purchase: Option[java.sql.Timestamp])

  /**
   * Streaming ordered funnel (view → click → purchase, each stage's
   * first event strictly after the previous stage's) — the real-time
   * face of [[graft.operators.Relational.funnelQuery]].
   *
   * The staged-minima recursion is order-sensitive, so correctness
   * under late (within-watermark) arrivals comes from the same split
   * the sessionizer uses: events at or beyond the watermark stay in a
   * per-user BUFFER (bounded by the horizon); only the prefix the
   * watermark has passed — which the watermark contract guarantees
   * complete — is folded, in timestamp order, into the finalized
   * stage minima. A user's funnel row is emitted exactly once, via
   * EventTimeTimeout, when the watermark strictly passes their last
   * event + `quietMin` — so the emitted set is deterministic on a
   * drained replay and the oracle can encode the boundary.
   */
  def funnelStream(events: Dataset[FunnelEv], quietMin: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val quietMs = quietMin * 60000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[FunnelEv],
            state: GroupState[FunnelSt]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(
            FunnelSt(Long.MinValue, Long.MinValue, Long.MinValue,
              Nil, Long.MinValue))
          val incoming = rows.toArray
            .filter(_.ts.getTime >= wm)
            .map(e => (micros(e.ts), e.event_type))
          val buf = (prev.buf ++ incoming).sortBy(_._1)
          // fold the complete (< watermark) prefix into the minima
          val (ready, still) = buf.partition(_._1 / 1000 < wm)
          var (tv, tc, tp) = (prev.tView, prev.tClick, prev.tPurchase)
          ready.foreach { case (us, ty) =>
            if (ty == "view" && tv == Long.MinValue) tv = us
            else if (ty == "click" && tv != Long.MinValue && us > tv &&
              tc == Long.MinValue) tc = us
            else if (ty == "purchase" && tc != Long.MinValue && us > tc &&
              tp == Long.MinValue) tp = us
          }
          val lastMs = math.max(prev.lastMs,
            if (buf.nonEmpty) buf.map(_._1 / 1000).max else Long.MinValue)
          if (state.hasTimedOut && still.isEmpty) {
            state.remove()
            def ts(us: Long): Option[java.sql.Timestamp] =
              if (us == Long.MinValue) None
              else {
                val t = new java.sql.Timestamp(us / 1000)
                t.setNanos(((us % 1000000) * 1000).toInt)
                Some(t)
              }
            val stage = Seq(tv, tc, tp).count(_ != Long.MinValue)
            Iterator.single(
              FunnelOut(userId, stage, ts(tv), ts(tc), ts(tp)))
          } else {
            state.update(FunnelSt(tv, tc, tp, still, lastMs))
            state.setTimeoutTimestamp(
              math.max(lastMs + quietMs, wm + 1))
            Iterator.empty
          }
      }
  }

  /** Drained-replay gate for [[funnelStream]]: the emitted set is the
    * users whose last event + 30 min the final watermark strictly
    * passed, each with their batch-funnel stage (the oracle encodes
    * both). */
  def replayFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = eventStream(spark, sfDir)
    val typed = src.select(col("user_id"), col("ts"), col("event_type"))
      .as[FunnelEv]
    val out = runToParquet(funnelStream(typed).toDF(), "stream_funnel")
    spark.read.parquet(out)
  }

  /** The one stream source: a cloned session (so its 4 shuffle
    * partitions never leak into the caller's) reading files of
    * `schema`. Callers pick the format and `maxFilesPerTrigger`. */
  private def streamReader(spark: SparkSession, schema: StructType)
      : DataStreamReader = {
    val streamSession = spark.newSession()
    streamSession.conf.set("spark.sql.shuffle.partitions", "4")
    streamSession.readStream.schema(schema)
  }

  /** File stream over the staged events: the static events table
    * copied once per corpus as a handful of parquet files, a store
    * (checkpoint/output dirs stay fresh per replay — only the
    * immutable input staging is shared). Its schema is a store too,
    * so a replay never re-reads a footer. */
  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    def events = Tables.load(spark, sfDir, "events")
    val stage = graft.StoreCatalog.pathStore("stream_events@v1", sfDir) {
      d => events.coalesce(4).write.mode("overwrite").parquet(s"$d/in")
    }
    streamReader(spark,
      graft.StoreCatalog.modelStore("stream_events_schema@v1", sfDir)(
        events.schema))
      .parquet(s"$stage/in")
  }

  private def runToParquet(df: DataFrame, tag: String): String = {
    val dir = graft.sources.OrcIo.scratchDir(tag)
    val q = df.writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()
    q.awaitTermination()
    s"$dir/out"
  }

  /** Drained-replay gate for [[sessionizeEventTime]]: stream the
    * static events table, sessionize, and return the emitted sessions.
    * The emitted set is deterministic: exactly the sessions whose
    * end + 30 min the final watermark (max event time − 10 min)
    * strictly passed — always a per-user prefix in time order, so
    * numbering matches the batch query. */
  def replaySessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stream = eventStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[SessEvent]
    spark.read.parquet(
      runToParquet(sessionizeEventTime(stream).toDF(), "stream_sess"))
  }

  /** Drained-replay gate for [[dedupStream]]: dedup on (user_id,
    * event_type) — a key with real duplicates in the corpus. Only the
    * key columns are emitted: WHICH physical row survives depends on
    * intra-batch encounter order (nondeterministic under shuffle), but
    * the emitted KEY SET is exactly the distinct keys — the semantics
    * the gate pins. */
  def replayDedup(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(runToParquet(
      dedupStream(eventStream(spark, sfDir), Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type")), "stream_dedup"))

  /**
   * Stream-static enrichment: join the event stream against a
   * broadcast dimension table — the standard "decorate the stream with
   * reference data" pattern. The static side is planned per
   * micro-batch (a broadcast hash join inside each batch), so no
   * stream state at all is needed; append mode works without a
   * watermark because no aggregation happens.
   */
  def streamEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim),
      col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"), col("value"))

  /** Drained-replay gate for [[streamEnrich]]: stateless inner join ⇒
    * replay equals the batch join row-for-row. */
  def replayEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventStream(spark, sfDir)
    val dim = graft.Tables.load(stream.sparkSession, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    spark.read.parquet(
      runToParquet(streamEnrich(stream, dim), "stream_enrich"))
  }

  /**
   * Streaming SCD2 enrichment — [[streamEnrich]] upgraded to the
   * point-in-time rule: each event joins the dimension version valid
   * AT ITS OWN EVENT TIME (`valid_from <= ts < valid_to`, null-open),
   * the leakage-free decoration a feature stream needs (joining
   * `is_current` would stamp yesterday's events with today's
   * attributes). Still stateless: the static side broadcasts per
   * micro-batch, the interval predicate rides the broadcast hash
   * join, no watermark or state store involved — so late events are
   * decorated CORRECTLY anyway (their own ts picks their version),
   * which no current-state lookup can do.
   */
  def streamScd2(events: DataFrame, dim: DataFrame): DataFrame =
    // ONE definition of the interval predicate: the batch lookup's —
    // a boundary-semantics change there must reach this path too
    // (the gate asserts the two agree row-for-row)
    graft.operators.Versioning.scd2Lookup(events, dim,
      "cust_id", "dim_key", "ts")

  /** Drained-replay gate for [[streamScd2]]: stateless ⇒ the drained
    * replay aggregates to exactly the batch interval join
    * (q_scd2_lookup's oracle, shared verbatim). */
  def replayScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventStream(spark, sfDir)
      .select(pmod(col("user_id"), lit(100L)).as("cust_id"),
        col("ts"), col("event_id"))
    val dim = graft.operators.Versioning
      .syntheticScdDim(stream.sparkSession)
      .withColumnRenamed("cust_id", "dim_key")
    val out = runToParquet(streamScd2(stream, dim)
      .select(col("version_no"), col("segment"), col("dim_key"),
        col("ts")), "stream_scd2")
    spark.read.parquet(out)
      .groupBy(col("version_no"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("dim_key")).as("n_keys"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .orderBy(col("version_no"), col("segment"))
  }

  /** Versioned robots ruleset for [[streamCompliance]]: (host,
    * prefix, allow, era_from, era_to) — rule VALIDITY WINDOWS are the
    * SCD2 dimension of the compliance filter. The fixture's three
    * eras cut the events month at Jan 11 / Jan 21 and exercise: a
    * host-wide disallow LIFTED at era 2 (the late "robots.txt was
    * misparsed" correction), a longest-match re-allow ADDED in era 3,
    * a temporary era-2-only disallow, and a standing exact tie
    * (→ allow). */
  private val complianceRules: Seq[(String, String, Boolean, Int, Int)] =
    Seq(
      ("site1.com", "/private/", false, 1, 3),
      ("site1.com", "/private/blog", true, 3, 3),
      ("site3.com", "/", false, 1, 1),
      ("site2.org", "/blog/", false, 2, 2),
      ("site4.com", "/p", false, 1, 3),
      ("site4.com", "/p", true, 1, 3))

  /**
   * Streaming compliance classification — the [[streamScd2]] pattern
   * applied to [[graft.operators.Curation.complianceFilter]]: each
   * fetched document classifies under the robots rules VALID AT ITS
   * OWN EVENT TIME, not the current ruleset. Joining "the rules as
   * of now" would rewrite history in both directions: an early-era
   * fetch of a host whose disallow was later lifted must stay
   * blocked (it was crawled against that robots.txt), and a fetch
   * after a re-allow must not inherit the old block — the same
   * leakage argument as the SCD2 feature join, applied to legal
   * state. Late-arriving events classify correctly by construction:
   * their own timestamp picks their rule era.
   *
   * Stateless: the versioned ruleset is MODEL material (rule corpora
   * are thousands of rows — the centroid-literal convention), so the
   * longest-match verdict is a pure projection — filter the literal
   * rule array on (host, prefix, validity), take the max
   * (length, allow, prefix) struct — and needs no stream state, no
   * watermark, and no per-event shuffle; at 100 TB/day of fetch
   * events the classification rides the ingest scan. The
   * aggregation-free projection is what makes append-mode streaming
   * legal here (an in-stream longest-match groupBy would demand
   * watermarked state for no benefit).
   */
  def streamCompliance(events: DataFrame): DataFrame = {
    val id = col("event_id")
    val host = concat(lit("site"), (col("user_id") % 5).cast("string"),
      when(col("user_id") % 2 === 0, lit(".com")).otherwise(lit(".org")))
    val path = concat(
      when(id % 4 === 0, lit("/private/blog/p"))
        .when(id % 4 === 1, lit("/private/p"))
        .when(id % 4 === 2, lit("/public/p"))
        .otherwise(lit("/blog/p")),
      (id % 9).cast("string"))
    val era = when(col("ts") <
        lit("2024-01-11 00:00:00").cast("timestamp"), 1)
      .when(col("ts") <
        lit("2024-01-21 00:00:00").cast("timestamp"), 2)
      .otherwise(3)
    val decorated = events.select(id.as("event_id"), host.as("host"),
      path.as("path"), era.as("era"))
    val rules = typedLit(complianceRules)
    val matches = filter(rules, r =>
      r.getField("_1") === col("host") &&
        col("path").startsWith(r.getField("_2")) &&
        col("era") >= r.getField("_4") && col("era") <= r.getField("_5"))
    val best = array_max(transform(matches, r =>
      struct(length(r.getField("_2")).as("l"), r.getField("_3").as("a"),
        r.getField("_2").as("p"))))
    decorated
      .withColumn("_best", best)
      .select(col("event_id"), col("host"), col("path"), col("era"),
        coalesce(col("_best.p"), lit("-")).as("robots_rule"),
        coalesce(col("_best.a"), lit(true)).as("robots_ok"))
  }

  /** Drained-replay gate for [[streamCompliance]]: stateless ⇒ the
    * replay aggregates to exactly the batch classification; the gate
    * groups by (era, host, winning rule, verdict) so any era
    * boundary, longest-match, or tie regression shifts a count. */
  def replayCompliance(spark: SparkSession, sfDir: String): DataFrame = {
    val out = runToParquet(streamCompliance(eventStream(spark, sfDir)),
      "stream_compliance")
    spark.read.parquet(out)
      .groupBy(col("era"), col("host"), col("robots_rule"),
        col("robots_ok"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("era"), col("host"), col("robots_rule"),
        col("robots_ok"))
  }

  /**
   * Stream-stream interval join (click→purchase attribution): for
   * every click, the same user's purchases within the following hour.
   * Both sides carry watermarks, so Spark bounds the join state — a
   * click's buffered row is evicted once the watermark passes
   * click_ts + 1 h, which is what lets two unbounded streams join in
   * bounded memory. Inner-join semantics: results are exactly the
   * batch interval join over all non-late data.
   */
  def streamAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("purchase_value"), col("click_ts"), col("purchase_ts"))
  }

  /** Drained-replay gate for [[streamAttribution]]: all events arrive
    * within the watermark, so the emitted pairs equal the batch
    * interval join. */
  def replayAttribution(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(runToParquet(
      streamAttribution(eventStream(spark, sfDir)), "stream_attr"))

  /**
   * LEFT OUTER stream-stream interval join: [[streamAttribution]] plus
   * the unconverted clicks — the funnel-analysis shape ("which clicks
   * never purchased inside the hour"). Outer semantics on two streams
   * are only possible BECAUSE the state is watermark-bounded: a click
   * emits null-extended exactly when the watermark passes
   * click_ts + 1 h (its match window provably closed — no purchase can
   * still arrive), which is also the moment its buffered row is
   * evicted. Clicks whose window the final watermark never passed are
   * still open at drain end and are NOT emitted — the oracle encodes
   * that boundary explicitly.
   */
  def streamAttributionOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("purchase_value"), col("click_ts"), col("purchase_ts"))
  }

  /** Drained-replay gate for [[streamAttributionOuter]]: matched pairs
    * equal the batch interval join; null-extended rows are exactly the
    * unmatched clicks whose 1 h window closed before the final global
    * watermark (min of the two sides' max event time, − 10 min). */
  def replayAttributionOuter(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(runToParquet(
      streamAttributionOuter(eventStream(spark, sfDir)), "stream_attr_o"))

  /**
   * Watermarked per-window count-min sketch of the event-type stream:
   * the streaming face of [[graft.operators.Scale.heavyHittersQuery]].
   * Per-window state is the FIXED 8 KB counter matrix of
   * [[graft.functions.CmsAgg]] regardless of key cardinality — the
   * layout that lets a 100 TB/day stream track per-window key
   * frequencies in bounded memory where an exact per-key windowed
   * count would grow state with the key universe. The watermark closes
   * windows deterministically (append mode), and the sketch merges
   * across micro-batches by element-wise add — order-insensitive, so
   * the drained replay equals the batch sketch.
   */
  def windowedCms(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(call_function("graft_cms", col("event_type")).as("sk"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour_start"), col("sk"),
        col("n_events"))

  /** Drained-replay gate for [[windowedCms]]: stream the static events
    * table, sketch per closed window, then probe every event type
    * against each window's sketch. The md5-byte hash family makes the
    * per-window ESTIMATES oracle-replayable (the q_heavy_hitters
    * gate, composed with the q_stream_ingest window-close rule). */
  def replayWindowedCms(spark: SparkSession, sfDir: String): DataFrame = {
    val out = runToParquet(windowedCms(eventStream(spark, sfDir)),
      "stream_cms")
    val sketches = spark.read.parquet(out)
    val types = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type")).distinct()
    def mdByte(c: org.apache.spark.sql.Column, j: Int) =
      conv(substring(md5(c), 2 * j + 1, 2), 16, 10).cast("int")
    val est = (0 until graft.functions.CmsAgg.Depth).map { j =>
      element_at(col("sk"),
        mdByte(col("event_type"), j) + j * graft.functions.CmsAgg.Width + 1)
    }.reduce((a, b) => least(a, b))
    sketches.crossJoin(broadcast(types))
      .withColumn("est_n", est)
      .select(col("hour_start"), col("event_type"), col("est_n"),
        col("n_events"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /**
   * Sliding-window rate limiter: flag (user, window) pairs whose
   * event count crosses the burst threshold inside a 6-hour window
   * sliding every 3 hours — the streaming abuse/bot-throttle pass
   * (the per-key complement of [[windowedCms]]'s per-window sketch).
   * Sliding windows mean every event lands in exactly
   * windowDuration/slide = 2 open windows, so a burst is caught at
   * most one slide late regardless of phase. Watermark-bounded state:
   * a window's count is dropped the moment the 10-minute watermark
   * passes its end — state is O(users × 2 windows), never history.
   */
  def rateLimit(events: DataFrame, threshold: Int = 3): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > threshold)
      .select(col("w.start").as("win_start"), col("user_id"), col("n"))

  /** Drained-replay gate for [[rateLimit]]: stream the static events
    * table and emit the flagged (window, user) pairs of every CLOSED
    * window (the q_stream_ingest window-close rule over both slide
    * phases). */
  def replayRateLimit(spark: SparkSession, sfDir: String): DataFrame = {
    val out = runToParquet(rateLimit(eventStream(spark, sfDir)),
      "stream_rate")
    spark.read.parquet(out)
      .orderBy(col("win_start"), col("user_id"))
  }

  /**
   * Streaming EXACT windowed distinct: unique users per (1-hour
   * window, event type) — the audience/reach counter. Exactness in a
   * stream needs two watermark-bounded stages: a keyed windowed
   * aggregation whose state holds each (window, type, user) key only
   * until the watermark passes its window, then a chained
   * window-on-window count of the emitted distinct keys — the
   * streaming twin of the batch two-level distinct in
   * [[graft.operators.Scale.approxDistinctQuery]].
   * State is O(active windows × types × users-seen-this-hour), never
   * history; at 100 TB/day you swap stage 1 for the HLL sketch and
   * keep the identical plan shape.
   */
  def windowedDistinct(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      // stage 1: collapse to (window, type, user) — watermark-bounded
      // keyed state, emitted when the window closes
      .groupBy(window(col("ts"), "1 hour"), col("event_type"),
        col("user_id"))
      .agg(count(lit(1)).as("_n"))
      // stage 2: window-on-window chained aggregation (the multiple-
      // stateful-operator pipeline) counts the surviving distinct keys
      .groupBy(window(col("window"), "1 hour").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_users"))

  /** Drained-replay gate for [[windowedDistinct]]: emitted rows are
    * exactly the CLOSED windows' per-type distinct user counts (the
    * q_stream_ingest window-close rule), which the oracle recomputes
    * as a batch DISTINCT. */
  def replayWindowedDistinct(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val out = runToParquet(windowedDistinct(eventStream(spark, sfDir)),
      "stream_distinct")
    spark.read.parquet(out)
      .orderBy(col("hour_start"), col("event_type"))
  }

  /**
   * Watermark-lateness audit: for candidate watermark delays, how
   * many events WOULD be dropped — the tuning readout behind every
   * `withWatermark` choice in this file (a delay is a data-loss
   * budget; choosing one without measuring arrival lateness is a
   * guess). Lateness of an event = running max of event time over
   * ARRIVAL order (event_id) minus its own event time — exactly the
   * quantity Spark's watermark compares against.
   *
   * Shape at 100 TB: the running max is a
   * [[graft.operators.Prefix.running]] two-phase distributed
   * prefix-max over arrival order (per-partition local maxima + an
   * earlier-partitions offset merge — an unpartitioned window here
   * would drag the whole stream into one task); the four delay
   * candidates fold into ONE conditional-sum aggregate over the
   * lateness column. All counts exact; rates are one division each.
   */
  def latenessAuditQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val late = graft.operators.Prefix.running(
        ev.select(col("event_id"), unix_millis(col("ts")).as("ms")),
        Seq(), Seq(col("event_id")),
        Seq(graft.operators.Prefix.Running(col("ms"), "max", "run_max")))
      .select((col("run_max") - col("ms")).as("late_ms"))
    val delays = Seq(1L, 5L, 10L, 30L)
    val aggCols = Seq(max(col("late_ms")).as("max_late_ms")) ++
      delays.map(d =>
        sum(when(col("late_ms") > d * 60000L, 1L).otherwise(0L))
          .as(s"drop_$d"))
    late.agg(count(lit(1)).as("total"), aggCols: _*)
      // un-pivot the one-row wide aggregate relationally (stack) —
      // no collect, the 4-candidate readout stays a projection
      .selectExpr(
        "stack(4, CAST(1 AS BIGINT), drop_1, CAST(5 AS BIGINT), " +
          "drop_5, CAST(10 AS BIGINT), drop_10, CAST(30 AS BIGINT), " +
          "drop_30) AS (delay_min, dropped)",
        "total", "max_late_ms")
      .withColumn("drop_rate",
        graft.functions.VectorOps.foldRound(
          col("dropped").cast("double") / col("total").cast("double"),
          10))
      .orderBy(col("delay_min"))
  }

  /**
   * Streaming windowed top-k: per closed hour window, the 3 busiest
   * event types. The STREAM maintains exact per-(window, type) counts
   * (watermark-bounded state, the one shape that is append-streamable);
   * the RANKING is a view over the drained counts — rank-at-read is
   * the honest production layout, because a rank changes with every
   * arrival and therefore cannot be emitted append-only before its
   * window closes. Ties break by event type.
   */
  def windowedTopK(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"))

  /** Drained-replay gate for [[windowedTopK]]: rank the closed
    * windows' counts and keep the top 3 per window. */
  def replayWindowedTopK(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val out = runToParquet(windowedTopK(eventStream(spark, sfDir)),
      "stream_topk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_start"))
      .orderBy(col("n").desc, col("event_type"))
    spark.read.parquet(out)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select(col("hour_start"), col("rank"), col("event_type"),
        col("n"))
      .orderBy(col("hour_start"), col("rank"))
  }

  /** W8 restart contract probe: run the hourly rollup to ONE fixed
    * sink/checkpoint twice over the unchanged staged source and
    * return (rows after run 1, rows after run 2). Exactly-once file
    * sinks + the commit log mean the second AvailableNow drain must
    * find nothing new — the restart-idempotence every production
    * stream depends on after a crash or redeploy. */
  def restartDelta(spark: SparkSession, sfDir: String): (Long, Long) = {
    val dir = graft.sources.OrcIo.scratchDir("stream_restart")
    def runOnce(): Unit = {
      val q = hourlyRollup(eventStream(spark, sfDir)).writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .outputMode(OutputMode.Append())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(s"$dir/out").count()
    runOnce()
    val n2 = spark.read.parquet(s"$dir/out").count()
    (n1, n2)
  }

  /**
   * Batch-replay harness: runs the streaming pipeline over the static
   * events table via a file stream with AvailableNow, writes ORC, and
   * returns the re-read result. Exercises the full W8 path (stream
   * source → transform → ORC sink → commit-log read-back) in one call.
   */
  def replayIngest(spark: SparkSession, sfDir: String): DataFrame = {
    // the staged input is shared across replays ([[stagedEvents]]: few
    // large files — file-listing and per-file batch overheads dominate
    // at replay scale); the 4-partition state sizing lives in the
    // cloned session ([[eventStream]]) so concurrently-planning batch
    // queries never see it
    val stage = graft.sources.OrcIo.scratchDir("stream_ingest")
    val q = orcSink(hourlyRollup(eventStream(spark, sfDir)),
      s"$stage/out", s"$stage/ckpt")
    q.awaitTermination()
    spark.read.orc(s"$stage/out")
  }

  /**
   * Streaming tail of a MOR table's delta directories — the PUSH
   * counterpart of [[graft.operators.Acid.changesBetween]]: a file
   * stream over `tableDir/delta_*` surfaces each newly landed delta's
   * events as a micro-batch, so incremental consumers SUBSCRIBE to
   * changes instead of polling batch CDC windows. The stream is
   * append-only raw events (consumers fold/resolve downstream — the
   * same contract as the reference's delta files themselves); the
   * ACID stats sidecars are skipped automatically (underscore-prefixed
   * paths, the file-source convention). Delta discovery is the file
   * source's listing — the same directory-name metadata batch CDC
   * prunes on, so a landed `delta_N` becomes one micro-batch without
   * any table-sized rescan.
   */
  def streamDeltas(spark: SparkSession, tableDir: String): DataFrame = {
    val first = graft.operators.Acid.layout(spark, tableDir).deltas
      .headOption.getOrElse(throw new IllegalArgumentException(
        s"no delta_* directory under $tableDir to derive the event " +
          "schema from"))
    streamReader(spark, spark.read.orc(s"$tableDir/${first.name}").schema)
      .orc(s"$tableDir/delta_*")
  }

  /** Drained-replay gate for [[streamDeltas]] over the deterministic
    * CDC fixture: every event of every delta must arrive exactly once
    * — the oracle predicts the full event set (op, key, txn, payload
    * price) from orders math. */
  def replayStreamDeltas(spark: SparkSession, sfDir: String): DataFrame = {
    val tableDir = graft.operators.Acid.cdcFixture(spark, sfDir)
    // sink the FULL event frame: a projected stream would column-prune
    // the ORC delta scan, and ACID-schema files remap column ids under
    // pruning (the checkAcidSchema AIOOBE — see Acid.tally);
    // the gate projection happens on the parquet read-back instead
    val out = runToParquet(streamDeltas(spark, tableDir), "stream_deltas")
    spark.read.parquet(out)
      .select(col("rowId").as("row_id"), col("operation"),
        col("currentTransaction").as("change_txn"),
        col("row.o_totalprice").as("price"))
      .orderBy(col("row_id"), col("change_txn"))
  }

  case class CusumEv(event_type: String, ts: java.sql.Timestamp)
  /** Per-type monitor state: burn-in progress (`burnSeen`, total `m`),
    * the scaled-CUSUM recursion (`c`, `cMin` = min(0, running min of
    * c)), and the day-count buffer for days the watermark has not yet
    * finalized (bounded by the watermark horizon, not stream length). */
  case class CusumSt(burnSeen: Int, m: Long, c: Long, cMin: Long,
      open: Map[Long, Long])
  case class CusumRow(event_type: String, day: Long, x: Long,
      phase: String, s_plus: Option[Long], alarmed: Option[Boolean])

  /**
   * Streaming CUSUM drift monitor per event type — the real-time face
   * of the batch detector ([[graft.operators.Scale.cusumQuery]]): the
   * batch pass centers on the WHOLE series' mean, which no stream can
   * know, so the streaming contract is the standard one (Page 1954,
   * production form): the first `burnDays` FINALIZED days fix the
   * reference total M, and every later finalized day feeds the
   * scaled recursion S⁺_d = max(0, S⁺_{d−1} + (x_d·W − M)) — exact
   * integers throughout (counts scaled by W clear the mean's
   * denominator), via the same C − min(0, runmin C) closed form the
   * batch gate uses. Alarm when S⁺ > M·W/2 — a sustained excess of
   * half the burn-in daily mean over a full burn-in width.
   *
   * Day boundaries are event-time epoch-days; a day finalizes ONLY
   * when the watermark passes its end — the sessionizer's discipline:
   * late events within the horizon still land in their day's buffered
   * count, days finalize strictly in order (the recursion demands
   * it), and the emitted set on a drained replay is exactly the
   * per-type day prefix the final watermark passed — the boundary the
   * oracle encodes.
   *
   * Shape at 100 TB: state per type is one open-day map bounded by
   * the watermark horizon plus four counters; the stream folds to
   * per-(type, day) increments inside the shuffle — nothing grows
   * with history.
   */
  def cusumStream(events: Dataset[CusumEv], burnDays: Int = 7,
      watermarkDelay: String = "10 minutes"): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    val w = burnDays.toLong
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumSt, CusumRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, rows: Iterator[CusumEv],
            state: GroupState[CusumSt]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(
            CusumSt(0, 0L, 0L, 0L, Map.empty))
          // fold the batch into per-day buffered counts (events older
          // than the watermark are dropped deterministically)
          val open = rows.foldLeft(prev.open) { (acc, e) =>
            val ms = e.ts.getTime
            if (ms < wm) acc
            else {
              val d = ms / dayMs
              acc.updated(d, acc.getOrElse(d, 0L) + 1L)
            }
          }
          // finalize, in day order, every buffered day whose end the
          // watermark has passed — the recursion consumes a prefix
          val (done, still) = open.partition {
            case (d, _) => (d + 1) * dayMs <= wm
          }
          var (burnSeen, m, c, cMin) =
            (prev.burnSeen, prev.m, prev.c, prev.cMin)
          val out = done.toSeq.sortBy(_._1).map { case (d, x) =>
            if (burnSeen < burnDays) {
              burnSeen += 1; m += x
              CusumRow(etype, d, x, "burnin", None, None)
            } else {
              c += x * w - m
              cMin = math.min(cMin, c)
              val s = c - cMin
              CusumRow(etype, d, x, "monitor", Some(s),
                Some(s > m * w / 2))
            }
          }
          if (still.nonEmpty) {
            state.update(CusumSt(burnSeen, m, c, cMin, still))
            // fire when the earliest open day becomes finalizable
            state.setTimeoutTimestamp(
              math.max((still.keys.min + 1) * dayMs, wm + 1))
          } else if (state.exists) {
            state.remove()
          }
          out.iterator
      }
  }

  /** Drained-replay gate for [[cusumStream]]: the emitted set is the
    * per-type prefix of days whose end the final watermark
    * (max event time − 10 min) passed; the first 7 finalized days per
    * type are the burn-in, the rest carry the exact scaled S⁺ and the
    * M·W/2 alarm line. */
  def replayCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stream = eventStream(spark, sfDir)
      .select(col("event_type"), col("ts")).as[CusumEv]
    spark.read.parquet(
      runToParquet(cusumStream(stream).toDF(), "stream_cusum"))
      .orderBy(col("event_type"), col("day"))
  }

  /**
   * STREAMING near-dup ingest — [[graft.operators.Dedup.minhashAppendQuery]]'s
   * frozen-banding append folded into the Structured Streaming path:
   * batch documents (doc_id mod 4 = 3) arrive as a file stream in
   * several micro-batches, each doc signs and bands under the SAME
   * frozen 16×4 banding, and candidates emit two ways:
   *
   *  - new-vs-old: a stateless stream-static join against the
   *    STANDING postings store (the index side's banded signatures) —
   *    per micro-batch a broadcast hash join, no state at all;
   *  - new-vs-new: a stateful per-bucket membership
   *    (`flatMapGroupsWithState` keyed on (band, band_hash)) — each
   *    arrival pairs with every doc already seen in its bucket across
   *    ALL prior micro-batches, then joins the state. State is
   *    bounded by bucket occupancy (near-dup clusters), the exact
   *    analogue of the standing postings a 100 TB streaming dedup
   *    keeps per band bucket.
   *
   * The emitted PAIR SET is deterministic regardless of intra-batch
   * arrival order (every arrival pairs with all prior members AND all
   * same-batch peers, a<b normalized, distinct on read-back), so the
   * gate can prove stream ≡ batch: the drained union of both paths
   * must equal the batch append gate's incremental candidate set
   * exactly — the same inc_eq_full theorem, now across the streaming
   * execution path.
   *
   * STATE IS BOUNDED: hot per-bucket membership holds at most
   * `maxPerBucket` members; overflow EVICTS oldest-first into the
   * standing postings store (periodic compaction), and evicted
   * members keep pairing with later arrivals through the
   * stream-static path, which re-reads the store each micro-batch.
   * Total state is therefore ∝ active buckets × cap for the life of
   * the stream — never ∝ stream length. The eviction trigger is
   * bucket capacity (deterministic, hence gate-testable); a
   * wall-clock TTL plugs into the same compaction path via
   * `GroupStateTimeout` without changing the pair-set theorem: a pair
   * (a, b) emits from state if a is still hot when b arrives, from
   * the store otherwise — exactly one of the two, since eviction
   * removes a from state in the same transition that publishes it.
   */
  /**
   * The bounded-state streaming near-dup core: one stateful pass over
   * banded arrivals. Per micro-batch, inside `foreachBatch`:
   *  1. state pairs (new-vs-new, from `flatMapGroupsWithState`) and
   *     stream-static pairs (arrival ⨝ postings store AS OF the
   *     batch start) append to the pairs sink;
   *  2. THEN this batch's capacity evictions append to the postings
   *     store — visible to every later batch's static read.
   * The state transition pairs each arrival with all hot members and
   * same-batch peers FIRST, then evicts oldest-first down to
   * `maxPerBucket` — so an evicted member has already met everything
   * in its hot window and meets everything later via the store.
   *
   * @return the pairs output directory (doc_a < doc_b, duplicates
   *         possible across bands — caller distincts)
   */
  def nearDupStreamRun(bandedStream: DataFrame, postingsPath: String,
      maxPerBucket: Int, tag: String): String = {
    val ss = bandedStream.sparkSession
    import ss.implicits._
    require(maxPerBucket >= 1, s"maxPerBucket $maxPerBucket < 1")
    val dir = graft.sources.OrcIo.scratchDir(tag)
    val pairsOut = s"$dir/pairs"
    // kinds: 0 = state pair (a, b); 1 = eviction (a = member);
    //        2 = arrival (a = doc) — the stream-static probe input
    val stateful = bandedStream
      .select(col("band"), col("band_hash"), col("doc_id"))
      .as[(Int, Int, Long)]
      .groupByKey { case (b, h, _) => (b, h) }
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (Int, Int), it: Iterator[(Int, Int, Long)],
         state: GroupState[Seq[Long]]) =>
          val seen = state.getOption.getOrElse(Seq.empty)
          val arrivals = it.map(_._3).toSeq
          val crossPrior = for (a <- arrivals; m <- seen if a != m)
            yield (math.min(a, m), math.max(a, m))
          val withinBatch = for {
            i <- arrivals.indices
            j <- (i + 1) until arrivals.length
            if arrivals(i) != arrivals(j)
          } yield (math.min(arrivals(i), arrivals(j)),
            math.max(arrivals(i), arrivals(j)))
          val updated = seen ++ arrivals
          val overflow = math.max(0, updated.length - maxPerBucket)
          val (evicted, kept) = updated.splitAt(overflow)
          if (kept.isEmpty) state.remove() else state.update(kept)
          val pairRows = (crossPrior ++ withinBatch)
            .map { case (a, b) => (0, a, b, key._1, key._2) }
          val evictRows = evicted.map(d => (1, d, 0L, key._1, key._2))
          val arriveRows = arrivals.map(d => (2, d, 0L, key._1, key._2))
          (pairRows ++ evictRows ++ arriveRows).iterator
      }
      .toDF("kind", "a", "b", "band", "band_hash")
    val q = stateful.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist()
        try {
          val statePairs = b.filter(col("kind") === 0)
            .select(col("a").as("doc_a"), col("b").as("doc_b"))
          val arrivals = b.filter(col("kind") === 2)
            .select(col("band"), col("band_hash"), col("a").as("doc_id"))
          // store AS OF batch start: initial index + prior evictions
          val store = spark.read.parquet(postingsPath)
          val vsStore = arrivals
            .join(broadcast(store), Seq("band", "band_hash"))
            .filter(col("doc_id") =!= col("hit"))
            .select(least(col("doc_id"), col("hit")).as("doc_a"),
              greatest(col("doc_id"), col("hit")).as("doc_b"))
          statePairs.unionByName(vsStore)
            .write.mode("append").parquet(pairsOut)
          // compaction LAST: this batch's evictions join only from
          // the NEXT batch on (in-batch pairing already covered them)
          b.filter(col("kind") === 1)
            .select(col("band"), col("band_hash"), col("a").as("hit"))
            .write.mode("append").parquet(postingsPath)
        } finally b.unpersist()
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    pairsOut
  }

  def replayNearDup(spark: SparkSession, sfDir: String,
      maxPerBucket: Int = 64): DataFrame = {
    import graft.operators.Dedup
    val isNew = pmod(col("doc_id"), lit(4L)) === 3L
    // stage the batch docs as 4 files -> 4 micro-batches (real
    // cross-batch state, not a single-drain degenerate run)
    val stage = graft.sources.OrcIo.scratchDir("stream_neardup_src")
    graft.Tables.load(spark, sfDir, "documents")
      .filter(isNew).select(col("doc_id"), col("text"))
      .repartition(4).write.mode("overwrite").parquet(s"$stage/in")
    val src = streamReader(spark, spark.read.parquet(s"$stage/in").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$stage/in")
    val bandedStream = Dedup.bandedSig(
      src.select(col("doc_id"), Dedup.minhashSignature(
        array_distinct(Dedup.hashedShingles(col("text")))).as("sig")))
    // sign the WHOLE corpus once: the postings store (!isNew) and the
    // batch reference (all docs) are both slices of the same banded
    // signature frame — unpinned, the minhash/shingle kernel ran twice
    // over the corpus (r18; the stream side still signs its own
    // arrivals — that path is the operator under test)
    val allB = graft.operators.CacheBin.track(Dedup.bandedSig(
      graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), Dedup.minhashSignature(
          array_distinct(Dedup.hashedShingles(col("text")))).as("sig"))))
    // standing postings store (built by the batch session, read by
    // the stream per micro-batch — the compaction target)
    val postingsDir = graft.sources.OrcIo.scratchDir("stream_neardup_idx")
    allB.filter(!isNew)
      .select(col("band"), col("band_hash"), col("doc_id").as("hit"))
      .write.mode("overwrite").parquet(s"$postingsDir/postings")
    val pairsDir = nearDupStreamRun(bandedStream,
      s"$postingsDir/postings", maxPerBucket, "stream_neardup_out")
    val streamed = spark.read.parquet(pairsDir).distinct()
    // batch reference: the append gate's incremental candidate set,
    // reconstructed with the same frozen banding
    val batchInc = allB
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(allB.select(col("band"), col("band_hash"),
        col("doc_id").as("doc_b")), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .filter(pmod(col("doc_a"), lit(4L)) === 3L ||
        pmod(col("doc_b"), lit(4L)) === 3L)
    val mismatch = streamed.withColumn("_s", lit(1))
      .join(batchInc.withColumn("_b", lit(1)),
        Seq("doc_a", "doc_b"), "full_outer")
      .filter(col("_s").isNull || col("_b").isNull)
      .agg(count(lit(1)).as("n_mismatch"))
    val props = streamed.agg(
      count(lit(1)).as("n_pairs"),
      coalesce(min(pmod(col("doc_a"), lit(4L)) === 3L ||
        pmod(col("doc_b"), lit(4L)) === 3L), lit(true)).as("no_old_old"))
    val counts = graft.Tables.load(spark, sfDir, "documents").agg(
      sum(when(isNew, 1L).otherwise(0L)).as("n_batch"))
    counts.crossJoin(broadcast(props)).crossJoin(broadcast(mismatch))
      .select(col("n_batch"),
        (col("n_pairs") >= 1L).as("found_any"),
        col("no_old_old"),
        (col("n_mismatch") === 0L).as("stream_eq_batch"))
  }
  // ------------------------------------------ streaming index append

  /**
   * Streaming inverted-index append (r18 growth): the
   * minhash→stream_neardup doctrine applied to postings, completing
   * serve / append / STREAM for the retrieval family. The base
   * segment is built offline over the non-delta corpus; the delta
   * slice (doc_id mod 4 = 3, the corpus-wide append convention)
   * arrives through Structured Streaming — staged as 4 files, one
   * micro-batch each — and every micro-batch lands as ONE MORE index
   * segment via the exact writer the batch path uses
   * ([[graft.operators.Retrieval.writeIndexSegment]]): postings /
   * dfs / block-max metadata / stats are all segment-additive, so no
   * committed byte is ever rewritten and the serve aggregates
   * df/n_docs/sum_dl across however many segments the stream left
   * behind. The oracle recomputes BM25 from the FULL corpus, so a
   * pass proves stream-append ≡ rebuild end-to-end — and the result
   * is independent of how the stream happened to batch the deltas.
   *
   * At 100 TB this is the live-index shape: bounded per-batch work
   * (one segment write, no state store needed — segments ARE the
   * state), serving continuously consistent with a full rebuild.
   */
  def indexStreamQuery(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("scan", "filter", "agg"),
      k: Int = 20): DataFrame =
    graft.operators.Retrieval.indexServeOver(spark,
      indexStreamDir(spark, sfDir), terms, k)

  /** The stream-built segment directory for a corpus (spec hook +
    * the shared store behind [[indexStreamQuery]]). */
  private[graft] def indexStreamDir(spark: SparkSession,
      sfDir: String): String = {
    import graft.operators.Retrieval
    graft.StoreCatalog.pathStore("index_stream@v1", sfDir) { d =>
      val docs = Tables.load(spark, sfDir, "documents")
      val isNew = pmod(col("doc_id"), lit(4L)) === 3L
      Retrieval.writeIndexSegment(docs.filter(!isNew), d, "overwrite")
      val stage = s"$d/in"
      docs.filter(isNew).select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(stage)
      val q = streamReader(spark, spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Retrieval.writeIndexSegment(batch, d, "append")
          ()
        }
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }
}
