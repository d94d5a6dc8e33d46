package graft.operators

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Corpus snapshot versioning: diff two corpus versions into
 * added / removed / changed document sets — the audit step between
 * crawl refreshes or curation re-runs (what changed since the corpus
 * the last model trained on?).
 *
 * Scale shape: each side reduces to (doc_id, md5) BEFORE the full-outer
 * join, so the one shuffle carries 40-byte digest rows, never document
 * text — at 100 TB per side the join input is ~0.04% of the corpus.
 * Unchanged documents (the overwhelming bulk) are dropped immediately
 * after the join, so the output is proportional to the churn, not the
 * corpus.
 */
object Versioning {

  /** Diff two (doc_id, text) corpus versions. Emits one row per
    * added / removed / changed doc_id with both content digests
    * (null where the side is absent); unchanged docs are omitted. */
  def snapshotDiff(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    val o = oldCorpus.select(col("doc_id"), md5(col("text")).as("old_md5"))
    val n = newCorpus.select(col("doc_id"), md5(col("text")).as("new_md5"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") =!= col("new_md5"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"), col("old_md5"), col("new_md5"))
  }

  /** Correctness gate: v2 of the documents table is derived
    * deterministically (docs with doc_id % 17 == 0 removed, % 13 == 0
    * edited, one new doc per % 29 == 0 at doc_id + 1000000), and the
    * oracle rebuilds the same v2 in SQL and replays the diff. */
  def corpusDiffQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val v1 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    snapshotDiff(v1, deriveV2(v1)).orderBy(col("doc_id"), col("status"))
  }

  /**
   * Cross-snapshot URL-level dedup — the crawl-refresh pass that
   * collapses every fetch of the SAME canonical page across snapshot
   * generations to one kept record: [[Curation.syntheticUrl]] +
   * [[Curation.normalizeUrl]] provide the canonical key (scheme/host
   * case, default ports, duplicate slashes, tracking params,
   * fragments all collapse), the [[corpusDiffQuery]] fixtures provide
   * the two snapshots (v1 = the documents table, v2 = the derived
   * refresh: removals, edits, additions), and the content digests of
   * the diff machinery detect whether a URL's content CHANGED across
   * its fetches.
   *
   * Keep rule: newest snapshot wins, ties to the smallest doc_id —
   * one `max_by` over a struct ordering, deterministic (no window
   * sort; per-URL aggregation state is O(1), so a hot URL with
   * millions of fetches costs nothing extra).
   *
   * Shape at 100 TB: text reduces to (snap, doc_id, url_norm,
   * 16-char digest) BEFORE the one shuffle on url_norm — document
   * text never moves; output is one row per canonical URL.
   */
  def urlSnapDedupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val v1 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val snaps = v1.withColumn("snap", lit(1))
      .unionByName(deriveV2(v1).withColumn("snap", lit(2)))
    val keyed = snaps.select(col("snap"), col("doc_id"),
      Curation.normalizeUrl(
        Curation.syntheticUrl(col("doc_id"))).as("url_norm"),
      substring(md5(col("text")), 1, 16).as("dg"))
    keyed.groupBy(col("url_norm"))
      .agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("snap")).as("n_snaps"),
        (count_distinct(col("dg")) > 1).as("content_changed"),
        max_by(
          struct(col("snap").as("kept_snap"), col("doc_id").as("kept_doc")),
          struct(col("snap"), (-col("doc_id")).as("nd"))).as("kept"))
      .select(col("url_norm"), col("n_rows"), col("n_snaps"),
        col("kept.kept_snap").as("kept_snap"),
        col("kept.kept_doc").as("kept_doc"),
        (col("n_rows") - 1).as("n_dropped"),
        col("content_changed"))
      .orderBy(col("url_norm"))
  }

  // ----------------------------------------------------- dataset publish

  /**
   * Publish a corpus as an immutable sharded dataset: deterministic
   * shard assignment (`doc_id mod nShards` — reproducible across
   * re-publishes, the [[Curation.sequencePack]] rule), one
   * `partitionBy` write. Returns the published path.
   *
   * Scale shape: the write is the only data movement; shards scale out
   * with the corpus (raise `nShards`, not per-task memory).
   */
  def publishCorpus(docs: DataFrame, dir: String, nShards: Int): String = {
    docs
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(dir)
    dir
  }

  /**
   * Integrity manifest of a published dataset: per-shard row count,
   * token count, id range, and an ORDER-FREE content digest — the
   * `sum` (in DECIMAL(38,0), overflow-free at any corpus size) of each
   * doc's 60-bit md5 prefix. Commutative aggregation means shard-
   * internal file ordering never affects the digest, so a consumer
   * re-computes the manifest after transfer and compares row-for-row:
   * any lost, duplicated, or corrupted document changes its shard's
   * line. One narrow projection + one tiny shuffle (nShards rows).
   */
  def manifest(published: DataFrame): DataFrame =
    published
      .select(col("shard").cast("bigint").as("shard"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("decimal(38,0)").as("dg"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("id_min"),
        max(col("doc_id")).as("id_max"),
        // fixed-width STRING, not DECIMAL(38,0): the ~20-digit sum exceeds
        // both int64 and exact-float64 range, so any downstream numeric
        // canonicalization (Decimal vs float vs string) could flip a
        // comparison hash while the value is identical. A zero-padded
        // string is representation-proof. Width 26, not 20: lpad
        // TRUNCATES when the value outgrows the width (measured: the sum
        // is already 20 digits at sf1, so 20 would silently drop digits
        // by sf10; 26 holds ~10^8 docs/shard × the 60-bit max).
        lpad(sum(col("dg")).cast("string"), 26, "0").as("digest_sum"))
      .orderBy(col("shard"))

  /** Correctness gate: publish the documents table into 8 shards, read
    * the published files back, manifest them. The oracle recomputes
    * the same manifest from the source table — equality proves the
    * publish round-trip lost and changed nothing. The published corpus
    * is a store (publishing is the offline half; the gate reads the
    * manifest OF THE WRITTEN FILES, so the hash match proves what
    * landed on disk, not what was about to be written). */
  def publishManifestQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.StoreCatalog.pathStore("publish@v1", sfDir) { d =>
      publishCorpus(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")), s"$d/corpus", nShards = 8)
    }
    manifest(spark.read.parquet(s"$dir/corpus"))
  }

  /** v2 of the documents corpus, derived deterministically from v1
    * (÷17 removed, ÷13 edited, ÷29 re-added at +1000000) — shared by
    * the diff gate and the incremental-refresh gate so the two can
    * never drift. */
  private[graft] def deriveV2(v1: DataFrame): DataFrame = {
    val kept = v1.filter(col("doc_id") % 17 =!= 0)
    kept
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(v1.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
  }

  /**
   * Incremental corpus refresh: update a curated corpus to version 2
   * while recomputing ONLY the churn — the pattern that makes a
   * 100 TB refresh affordable (churn is typically a few percent).
   * [[snapshotDiff]] reduces both versions to digests (one digest-only
   * shuffle); removed/changed rows are anti-joined out of the standing
   * curated-v1 store (the previous refresh's output); the per-doc
   * transform ([[TextAnalysis.qualityOver]]) runs only over
   * changed+added documents. The gate proves the
   * incremental result EQUALS a full recompute of v2 — the oracle
   * curates v2 from scratch, so any stale, lost, or double row breaks
   * the hash.
   */
  def incrementalCurateQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val v1 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val v2 = deriveV2(v1)
    val store = graft.StoreCatalog.pathStore("curate_v1@v1", sfDir) { d =>
      graft.operators.TextAnalysis.qualityOver(v1)
        .write.mode("overwrite").parquet(s"$d/store")
    }
    val curated = spark.read.parquet(s"$store/store")
    val diff = snapshotDiff(v1, v2).select(col("doc_id"), col("status"))
    val dead = diff.filter(col("status").isin("removed", "changed"))
      .select(col("doc_id"))
    val fresh = diff.filter(col("status").isin("added", "changed"))
      .select(col("doc_id"))
    val recomputed = graft.operators.TextAnalysis.qualityOver(
      v2.join(fresh, Seq("doc_id")))
    curated.join(dead, Seq("doc_id"), "left_anti")
      .unionByName(recomputed)
      .orderBy(col("doc_id"))
  }

  /**
   * Takedown / right-to-erasure propagation: remove every document
   * matching `takedown` (a GDPR request, a DMCA notice, an opt-out
   * domain) from a STANDING curated keeper store — incrementally, and
   * with correct keeper RE-ELECTION. Deleting a source's rows is not
   * just row removal in a deduplicated artifact: where the removed doc
   * was the elected keeper of a duplicate group with surviving copies,
   * the next-priority copy must be PROMOTED, or content with legal
   * surviving copies silently vanishes from the corpus.
   *
   * Scale shape (100 TB): untouched keepers (the overwhelming bulk)
   * pass through without transformation; the re-election runs only
   * over surviving copies of the LOST digests (left-semi join on the
   * digest — work ∝ takedown size × duplication rate, not corpus
   * size). The gate proves incremental == from-scratch: the oracle
   * re-runs the whole election over `documents` minus the takedown
   * set, so a stale keeper, a missed promotion, or a double keeper
   * all break the hash.
   */
  def takedownPropagate(docs: DataFrame, keepers: DataFrame,
      takedown: org.apache.spark.sql.Column): DataFrame = {
    val lost = keepers.filter(takedown).select(col("text_md5"))
    val reElected = Dedup.priorityKeepers(
      docs.filter(!takedown)
        .withColumn("_d", md5(col("text")))
        .join(lost.withColumnRenamed("text_md5", "_d"), Seq("_d"),
          "left_semi")
        .drop("_d"))
    keepers.filter(!takedown).unionByName(reElected)
  }

  /** Correctness gate: the raw corpus has no exact duplicates, so
    * duplicate groups are synthesized SQL-replayably (the
    * q_dedup_lines precedent) — every doc_id % 5 == 0 doc gets a
    * low-priority mirror copy at doc_id + 1000000 under `src99`. The
    * takedown is an id-list request (`doc_id % 3 == 0`, a DMCA-style
    * enumeration); originals at id ≡ 0 (mod 15) are erased while
    * their mirror (id + 1000000 ≡ 1 mod 3) survives, forcing real
    * keeper promotions. Oracle = the full election over the
    * synthesized corpus minus the takedown set. The keepers are a
    * store: the curated artifact the previous pipeline run left
    * behind. */
  def takedownQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val docs = base.unionByName(
      base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("src99").as("source"), col("text")))
    val dir = graft.StoreCatalog.pathStore("keepers@v1", sfDir) { d =>
      Dedup.priorityKeepers(docs)
        .write.mode("overwrite").parquet(s"$d/store")
    }
    takedownPropagate(docs, spark.read.parquet(s"$dir/store"),
      col("doc_id") % 3 === 0)
      .orderBy(col("doc_id"))
  }

  /**
   * Slowly-changing-dimension Type 2 merge (Kimball): apply one batch
   * of attribute updates, all effective at `updDate`, to a versioned
   * dimension carrying (`valid_from`, `valid_to`, `is_current`).
   * Rows whose attributes actually changed are CLOSED (`valid_to` =
   * `updDate`, `is_current` = false) and re-inserted as the new
   * current version; no-op updates (same attributes) and untouched
   * keys pass through; unseen keys insert as brand-new current rows;
   * closed history is never rewritten. Attribute comparison is
   * null-safe (`<=>`), so a null→value flip counts as a change.
   *
   * Scale shape (100 TB dim): ONE shuffle join of current rows vs the
   * update batch on the key (history rows never join anything — they
   * are unioned through untouched), and the new-key anti-join reuses
   * the same hash partitioning; output ∝ dim + churn. No window, no
   * sort, no driver collect — this is the nightly dimension merge a
   * warehouse runs forever.
   */
  def scdMerge(dim: DataFrame, updates: DataFrame, key: String,
      attrs: Seq[String], updDate: String): DataFrame = {
    val cur = dim.filter(col("is_current"))
    val hist = dim.filter(!col("is_current"))
    val uNew = updates.select(
      (col(key) +: col(updDate) +:
        attrs.map(a => col(a).as(s"${a}_new"))): _*)
    val j = cur.join(uNew, Seq(key), "left")
    val same = attrs.map(a => col(a) <=> col(s"${a}_new"))
      .reduce(_ && _)
    val changed = j.filter(col(updDate).isNotNull && !same)
    val dimCols = (col(key) +: attrs.map(col)) ++
      Seq(col("valid_from"), col("valid_to"), col("is_current"))
    val closed = changed.select(
      ((col(key) +: attrs.map(col)) ++ Seq(col("valid_from"),
        col(updDate).as("valid_to"), lit(false).as("is_current"))): _*)
    val fresh = changed.select(
      ((col(key) +: attrs.map(a => col(s"${a}_new").as(a))) ++
        Seq(col(updDate).as("valid_from"),
          lit(null).cast("date").as("valid_to"),
          lit(true).as("is_current"))): _*)
    val untouched = j.filter(col(updDate).isNull || same)
      .select(dimCols: _*)
    val inserts = uNew.join(cur.select(col(key)), Seq(key), "left_anti")
      .select(
        ((col(key) +: attrs.map(a => col(s"${a}_new").as(a))) ++
          Seq(col(updDate).as("valid_from"),
            lit(null).cast("date").as("valid_to"),
            lit(true).as("is_current"))): _*)
    hist.select(dimCols: _*)
      .unionByName(closed).unionByName(fresh)
      .unionByName(untouched).unionByName(inserts)
  }

  /** Correctness gate for [[scdMerge]]: the customer table seeds the
    * dimension (all current since 2020-01-01); the update batch is id
    * math — ÷7 keys move segment (+100.00 balance, a change), ÷11
    * keys (not ÷7) send identical attributes (a no-op the merge must
    * NOT version), ÷19 keys arrive as brand-new customers at
    * key + 1000000. The oracle rebuilds the merged dimension with
    * CASE/UNION ALL arithmetic — a missed close, a phantom version,
    * or a versioned no-op all break the hash. */
  def scdMergeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.load(spark, sfDir, "customer")
    val dim = c.select(col("c_custkey"), col("c_mktsegment"),
      col("c_acctbal"),
      lit(java.sql.Date.valueOf("2020-01-01")).as("valid_from"),
      lit(null).cast("date").as("valid_to"),
      lit(true).as("is_current"))
    val upd = java.sql.Date.valueOf("2024-06-01")
    val changes = c.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"),
        (col("c_acctbal") + 100.0).as("c_acctbal"))
    val noops = c.filter(col("c_custkey") % 11 === 0 &&
        col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val arrivals = c.filter(col("c_custkey") % 19 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        lit("NEWCOMER").as("c_mktsegment"), lit(0.0).as("c_acctbal"))
    val updates = changes.unionByName(noops).unionByName(arrivals)
      .withColumn("upd_date", lit(upd))
    scdMerge(dim, updates, "c_custkey",
      Seq("c_mktsegment", "c_acctbal"), "upd_date")
      .orderBy(col("c_custkey"), col("valid_from"), col("is_current"))
  }

  /**
   * SCD2 point-in-time LOOKUP — the consumption half of [[scdMerge]]
   * (the merge maintains the versioned dimension; this joins a fact
   * stream to the attribute version that was valid WHEN EACH EVENT
   * HAPPENED — the join every leakage-free feature pipeline needs,
   * where joining `is_current` would leak future attributes into
   * past training examples).
   *
   * Match rule: key equality AND `valid_from <= ts < valid_to`
   * (null `valid_to` = open version). A correctly maintained SCD2
   * dimension makes the intervals per key disjoint and covering, so
   * every fact matches exactly once — the gate counts per version
   * and the totals must conserve.
   *
   * Scale shape (100 TB facts): the dimension broadcasts (dims are
   * versions × keys — small by definition); the range predicate
   * rides the broadcast hash join on the key, so facts NEVER shuffle
   * and the plan is scan → broadcast-join → partial agg. No window,
   * no sort.
   */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, key: String,
      dimKey: String, ts: String): DataFrame =
    facts.join(broadcast(dim),
      facts(key) === dim(dimKey) &&
        dim("valid_from") <= facts(ts) &&
        (dim("valid_to").isNull || facts(ts) < dim("valid_to")))

  /** Correctness gate for [[scd2Lookup]]: a synthetic 100-key
    * dimension with three versions straddling the event stream's
    * January span (boundaries at Jan 10 / Jan 20), segment a
    * deterministic function of (key, version). Hashes per-version
    * per-segment event counts, distinct keys, and window bounds; the
    * per-version totals must sum to the full stream (exactly-one
    * match), which the oracle enforces by replaying the same
    * interval join. */
  /** The synthetic 100-key × 3-version dimension shared by the batch
    * and streaming SCD2 lookup gates (boundaries straddle the event
    * stream's January span). */
  private[graft] def syntheticScdDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val versions = Seq(
      (1L, "2023-12-01 00:00:00", "2024-01-10 00:00:00"),
      (2L, "2024-01-10 00:00:00", "2024-01-20 00:00:00"),
      (3L, "2024-01-20 00:00:00", null))
      .toDF("version_no", "from_s", "to_s")
    spark.range(100).select(col("id").as("cust_id"))
      .crossJoin(versions)
      .select(col("cust_id"), col("version_no"),
        to_timestamp(col("from_s")).as("valid_from"),
        to_timestamp(col("to_s")).as("valid_to"),
        concat(lit("seg"),
          pmod(col("cust_id") + col("version_no"), lit(5L)))
          .as("segment"))
  }

  def scd2LookupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = syntheticScdDim(spark)
    val facts = Tables.load(spark, sfDir, "events")
      .select(pmod(col("user_id"), lit(100L)).as("cust_id"),
        col("ts"), col("event_id"))
    scd2Lookup(facts, dim.withColumnRenamed("cust_id", "dim_key"),
        "cust_id", "dim_key", "ts")
      .groupBy(col("version_no"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("dim_key")).as("n_keys"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .orderBy(col("version_no"), col("segment"))
  }

  /**
   * CDC change-log compaction (latest-wins upsert): reduce an
   * insert/update/delete event log to the live table it describes —
   * per key, the highest-sequence record wins; a winning delete
   * removes the key. This is the "merge the change stream into the
   * snapshot" operation every lakehouse table format performs on
   * read or compaction, and the batch twin of a streaming upsert
   * sink.
   *
   * Sequence numbers must be unique per key (a CDC stream's LSN/binlog
   * position is); the winner is picked with `max_by` over the full
   * record struct, so compaction is ONE map-side-partial aggregation
   * on the key — no window, no sort, no join. At 100 TB the log
   * shuffles once on the key and the output is one row per live key;
   * combine with a date-partitioned log to compact only fresh
   * partitions.
   */
  def cdcCompact(log: DataFrame, key: String, seq: String,
      op: String): DataFrame = {
    val payload = log.columns.filterNot(_ == key)
    val last = log.groupBy(col(key))
      .agg(max_by(struct(payload.map(col): _*), col(seq)).as("_w"))
    payload.foldLeft(last)((d, c) => d.withColumn(c, col(s"_w.$c")))
      .drop("_w")
      .filter(col(op) =!= "D")
  }

  /** Correctness gate for [[cdcCompact]]: a three-wave change log
    * synthesized from orders — every key inserts at seq 1; ÷5 keys
    * update (status `U`, price +10.00) at seq 2; ÷10 keys delete at
    * seq 3 (so every deleted key ALSO has an update the delete must
    * beat). The oracle rebuilds the live table arithmetically: keys
    * ÷10 vanish, ÷5 survivors carry the updated payload, everything
    * else keeps its insert image. */
  def cdcUpsertQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val ins = o.select(col("o_orderkey"), lit(1L).as("seq"),
      lit("I").as("op"), col("o_orderstatus"), col("o_totalprice"))
    val upd = o.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(10.0)).as("o_totalprice"))
    val del = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"))
    cdcCompact(ins.unionByName(upd).unionByName(del),
      "o_orderkey", "seq", "op")
      .select(col("o_orderkey"), col("op"), col("o_orderstatus"),
        (fr(col("o_totalprice"), 2) + lit(0.0)).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /**
   * Corpus drift diagnostics: per-source KL divergence of the source's
   * hashed-unigram (64-bucket, add-one-smoothed) token distribution
   * from the whole-corpus mixture — the statistical QA twin of
   * [[snapshotDiff]] (that one asks WHICH documents changed; this one
   * asks whether a domain's LANGUAGE drifted from the blend, the check
   * run before each training refresh).
   *
   * Shape at 100 TB: per-doc bucket counts are ONE native kernel pass;
   * everything after is arithmetic on (source × 64) partial-aggregated
   * rows — the corpus text never shuffles. The per-source sum runs in
   * fixed bucket order (sort_array ∘ collect_list, the q_importance
   * dot-product pattern), so the oracle replays it IEEE-exactly.
   */
  def corpusDriftQuery(spark: SparkSession, sfDir: String,
      dims: Int = 64): DataFrame =
    driftOver(Tables.load(spark, sfDir, "documents"), dims)

  /** The drift transform itself, over any (source, text) frame. */
  def driftOver(docs: DataFrame, dims: Int = 64): DataFrame = {
    val nDocs = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val perBucket = docs
      .select(col("source"),
        posexplode(call_function("graft_bucket_counts",
          col("text"), lit(dims))).as(Seq("bucket", "c")))
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("c")).as("sc"))
    val srcTot = perBucket.groupBy(col("source"))
      .agg(sum(col("sc")).as("st"))
    val corpBucket = perBucket.groupBy(col("bucket"))
      .agg(sum(col("sc")).as("cc"))
    val corpTot = corpBucket.agg(sum(col("cc")).as("ct"))
    val d = dims.toDouble
    val p = (col("sc") + 1.0) / (col("st") + d)
    val q = (col("cc") + 1.0) / (col("ct") + d)
    val terms = perBucket
      .join(srcTot, Seq("source"))
      .join(broadcast(corpBucket), Seq("bucket"))
      .crossJoin(broadcast(corpTot))
      .withColumn("term", p * log(p / q))
    terms.groupBy(col("source"))
      .agg(
        sort_array(collect_list(struct(col("bucket"), col("term"))))
          .as("pairs"),
        max(col("st")).as("st"))
      .join(broadcast(nDocs), Seq("source"))
      .withColumn("kl", aggregate(
        transform(col("pairs"), x => x.getField("term")),
        lit(0.0), (acc, x) => acc + x))
      .select(col("source"), col("n_docs"),
        col("st").cast("long").as("n_tok"),
        (fr(col("kl"), 6) + lit(0.0)).as("kl"))
      .orderBy(col("source"))
  }

  /**
   * Merkle integrity manifest of the corpus (Merkle, CRYPTO '87 — the
   * content-addressed tree behind git/IPFS/Dat): leaf = md5(text) per
   * document, interior node = md5 of its children's hashes
   * concatenated in doc-id order (chunks of 64 ids), per-source root
   * = md5 of the chunk hashes in chunk order, corpus root = md5 of
   * the source roots in source order. A reader verifies any single
   * document against the published corpus root with log-fanout
   * hashes, and two corpus versions diff down to the changed chunk
   * without comparing text — the tamper-evident complement to
   * [[publishManifest]]'s size/count digests.
   *
   * Shape at 100 TB: only 32-char digests ever shuffle (text is
   * hashed in the scan projection); the chunk aggregation is
   * map-side-partial on (source, chunk) with ≤ 64·32 B per group,
   * then per-source and corpus folds run on frames sized by the
   * chunk/source counts. Chunking keys on doc_id div 64 — not on
   * rank — so a single inserted document perturbs ONE chunk, not
   * every chunk after it (the property that makes incremental
   * re-verification churn-proportional).
   */
  def merkleQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val leaves = Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        expr("doc_id div 64").as("chunk"),
        md5(col("text")).as("leaf"))
    def orderedConcat(idCol: String, hashCol: String) =
      array_join(transform(
        array_sort(collect_list(struct(col(idCol), col(hashCol)))),
        x => x.getField(hashCol)), "")
    val chunks = leaves.groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        md5(orderedConcat("doc_id", "leaf")).as("node"))
    val roots = chunks.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        md5(orderedConcat("chunk", "node")).as("root"))
    val corpus = roots.groupBy(lit(1).as("one"))
      .agg(md5(orderedConcat("source", "root")).as("corpus_root"))
    roots.withColumn("one", lit(1))
      .join(broadcast(corpus), Seq("one"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("root"), col("corpus_root"))
      .orderBy(col("source"))
  }

  /**
   * Cross-run dataset diff — the experiment-tracking ledger between
   * two pipeline runs: "did run B train on what run A trained on,
   * and where exactly did it change?" Both versions reduce to the
   * [[merkleQuery]] chunk grid (doc_id div 64 chunking, so a change
   * perturbs its own chunk only), the grids full-outer join on
   * (source, chunk), and the per-source ledger row reports document
   * and token deltas, both Merkle roots, and HOW MANY chunks differ
   * — the churn-proportional locator an incremental re-verification
   * or a reproducibility audit starts from.
   *
   * The gate's version-2 run is a simulated curation pass (drop
   * doc_id ≡ 0 mod 13 — a takedown/filter sweep); production diffs
   * two real manifests the same way. Exactness: counts and token
   * sums are BIGINTs, roots are md5 chains over sorted digest
   * concatenations — no floats anywhere.
   *
   * Shape at 100 TB: identical to [[merkleQuery]] twice — only
   * 32-char digests and counts shuffle, the join frames are
   * chunk-count-sized, and the ledger is one row per source.
   */
  def runDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    def grid(docs: DataFrame) = {
      val leaves = docs.select(col("source"), col("doc_id"),
        expr("doc_id div 64").as("chunk"),
        md5(col("text")).as("leaf"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      leaves.groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("leaf")))),
            x => x.getField("leaf")), "")).as("node"))
    }
    def roots(chunks: DataFrame) = chunks.groupBy(col("source"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("chunk"), col("node")))),
        x => x.getField("node")), "")).as("root"))
    val g1 = grid(v1)
    val g2 = grid(v2)
    val joined = g1.select(col("source"), col("chunk"),
        col("n_docs").as("d1"), col("n_tokens").as("t1"),
        col("node").as("node1"))
      .join(g2.select(col("source"), col("chunk"),
        col("n_docs").as("d2"), col("n_tokens").as("t2"),
        col("node").as("node2")), Seq("source", "chunk"), "full_outer")
    val perSource = joined.groupBy(col("source"))
      .agg(sum(coalesce(col("d1"), lit(0L))).as("n_docs_v1"),
        sum(coalesce(col("d2"), lit(0L))).as("n_docs_v2"),
        sum(coalesce(col("t1"), lit(0L))).as("n_tokens_v1"),
        sum(coalesce(col("t2"), lit(0L))).as("n_tokens_v2"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("node1").isNull || col("node2").isNull ||
          col("node1") =!= col("node2"), 1L).otherwise(0L))
          .as("chunks_changed"))
    perSource
      .join(roots(g1).select(col("source"), col("root").as("root_v1")),
        Seq("source"), "left")
      .join(roots(g2).select(col("source"), col("root").as("root_v2")),
        Seq("source"), "left")
      .withColumn("changed",
        col("root_v1").isNull || col("root_v2").isNull ||
          col("root_v1") =!= col("root_v2"))
      .orderBy(col("source"))
  }

  /** Correctness gate: diff the corpus against a simulated curation
    * run that removed doc_id ≡ 0 (mod 13). */
  def runDiffQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"), col("text"))
    runDiff(docs, docs.filter(col("doc_id") % 13 =!= 0))
  }
}
