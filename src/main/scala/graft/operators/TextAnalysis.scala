package graft.operators

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.CacheBin.TrackOps

/**
 * Text-analysis operators for large-scale training-data pipelines
 * (north star in BASELINE.json): token counting, quality scoring,
 * language ID, document fingerprinting — all single-pass, codegen'd
 * column expressions over the `documents` table. No shuffle at all:
 * each is embarrassingly parallel over 100 TB of documents.
 */
object TextAnalysis {

  /** Whitespace tokens of the `text` column. */
  def tokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    split(c, " ")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /**
   * Token statistics: whitespace token count, a word-regex token count
   * (BPE-ish `[a-z0-9]+` segmentation), char count, average token
   * length. Ratios are exact integer-over-integer doubles, so the
   * oracle compares bit-for-bit.
   */
  def tokenStatsQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_text"),
        size(tokens(col("text"))).as("n_tokens"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
          .as("n_word_tokens"),
        (length(col("text")).cast("double") /
          size(tokens(col("text"))).cast("double")).as("avg_token_len"))
      .orderBy(col("doc_id"))

  /** One-pass native token statistics struct (n_tok, n_stop, n_short,
    * n_distinct) — see [[graft.functions.VectorKernels.TokenStats]].
    * The HOF formulation (two filter lambdas + array_distinct over a
    * materialized split) evaluated interpreted, per token. */
  def tokenStats(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_token_stats", text, typedLit(stopwords))

  /**
   * Quality scoring: stopword ratio, short-token ratio, repetition
   * (distinct/total tokens), and a deterministic combined score —
   * the heuristics C4/Gopher-style pipelines apply before training.
   * Ratios are exact integer-over-integer doubles (identical to the
   * SQL formulation the oracle replays).
   */
  def qualityQuery(spark: SparkSession, sfDir: String): DataFrame =
    qualityOver(Tables.load(spark, sfDir, "documents"))
      .orderBy(col("doc_id"))

  /** The quality transform itself over any (doc_id, text) frame — a
    * pure per-document projection, reused by the incremental-refresh
    * composition ([[Versioning.incrementalCurateQuery]]). */
  def qualityOver(docs: DataFrame): DataFrame = {
    val nTok = col("_ts.n_tok").cast("double")
    val nStop = col("_ts.n_stop").cast("double")
    val nShort = col("_ts.n_short").cast("double")
    val nDistinct = col("_ts.n_distinct").cast("double")
    docs
      .withColumn("_ts", tokenStats(col("text")))
      .select(
        col("doc_id"),
        (nStop / nTok).as("stopword_ratio"),
        (nShort / nTok).as("short_ratio"),
        (nDistinct / nTok).as("distinct_ratio"),
        ((nStop / nTok) * 0.25 + (nDistinct / nTok) * 0.5 +
          (lit(1.0) - nShort / nTok) * 0.25).as("quality_score"))
  }

  /**
   * Distinct-n diversity profile — per-source distinct-unigram/
   * bigram/trigram ratios (Li et al. 2016's distinct-n, corpus-level):
   * the repetitiveness readout that separates template/boilerplate
   * sources from natural prose BEFORE they enter the mix (a source
   * whose distinct-2 ratio collapses is generating from a template),
   * and the same metric later grades generation diversity. Exact
   * integer counts; the ratio rides micro-units through BIGINT `div`
   * (cross-engine-safe — pure integer operands).
   *
   * Shape at 100 TB: one scan per n explodes grams ALREADY keyed by
   * source, and the distinct count is a map-side-partial
   * (source, gram) reduce — no corpus-wide distinct, no text
   * shuffle beyond the gram digests.
   */
  def distinctNQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("text"))
    def grams(n: Int) =
      if (n == 1) explode(split(col("text"), " "))
      else explode(call_function("graft_ngrams", col("text"), lit(n)))
    (1 to 3).map { n =>
      docs.select(col("source"), grams(n).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total"),
          countDistinct(col("g")).as("uniq"))
        .select(col("source"), lit(n).as("n"), col("total"),
          col("uniq"),
          expr("(uniq * 1000000) div total").as("distinct_micro"))
    }.reduce(_ unionByName _)
      .orderBy(col("source"), col("n"))
  }

  /**
   * Language ID by stopword-set voting: count hits from per-language
   * indicator word sets, pick the max (ties broken by language code) —
   * the classic n-gram/stopword heuristic, expressible in pure SQL so
   * the oracle can replay it. Falls back to 'und' when nothing matches.
   */
  def langIdQuery(spark: SparkSession, sfDir: String): DataFrame =
    langIdOver(Tables.load(spark, sfDir, "documents"))
      .orderBy(col("doc_id"))

  /** The language-ID transform itself, over any frame with
    * (doc_id, lang, text). The per-language indicator hits come from
    * ONE native tokenize+probe pass
    * ([[graft.functions.VectorKernels.CountInSets]]) instead of one
    * interpreted filter lambda per language. */
  def langIdOver(docs: DataFrame): DataFrame = {
    val indicator: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "und", "das"),
      "en" -> Seq("the", "and", "of"),
      "es" -> Seq("el", "los", "que"),
      "fr" -> Seq("le", "les", "est"))
    val votes = call_function("graft_count_in_sets", col("text"),
      typedLit(indicator.map(_._2)))
    val scores = indicator.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(votes, i + 1)
    }
    // greatest-score-wins with lexicographic tiebreak: fold over languages
    val (bestLang, _) = scores.tail.foldLeft(
      (lit(scores.head._1), scores.head._2)) {
      case ((accLang, accScore), (lang, score)) =>
        (when(score > accScore, lit(lang)).otherwise(accLang),
          when(score > accScore, score).otherwise(accScore))
    }
    val anyHit = scores.map(_._2).reduce(_ + _) > 0
    docs.select(col("doc_id"), col("lang").as("lang_declared"),
      when(anyHit, bestLang).otherwise(lit("und")).as("lang_predicted"))
  }

  /**
   * Document fingerprints: md5 content hash (cross-engine-stable) plus
   * a 64-bit polynomial rolling hash over the token stream (the
   * shingling primitive), computed with `aggregate` so it stays inside
   * codegen. base/mod chosen from Rabin-Karp convention.
   */
  def fingerprintQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        md5(col("text")).as("md5_hex"),
        rollingHash(col("text")).as("rolling_hash"))
      .orderBy(col("doc_id"))

  /**
   * Corpus-level top-k bigram frequencies: explode bigrams → one
   * hash-shuffle count → global top-k. The vocabulary-statistics pass
   * every tokenizer-training pipeline runs; at 100 TB the partial
   * (map-side) count reduces each partition to its distinct bigrams
   * before the shuffle.
   */
  def ngramFrequencyQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val bigrams = call_function("graft_ngrams", col("text"), lit(2))
    Tables.load(spark, sfDir, "documents")
      .select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  /**
   * Per-document top-k TF-IDF terms — the salience/keyword pass of a
   * corpus-analysis pipeline. Score = tf · N / df, a pure rational
   * (no log) so both engines compute bit-identical doubles and the
   * rank order is deterministic (ties broken by term).
   *
   * Shape at 100 TB: one explode + two partial-aggregated shuffles
   * (tf by (doc,term), df folded FROM tf by term — never a second scan
   * of the corpus), N carried as a broadcast 1-row frame (no driver
   * collect), and the per-doc top-k is a window over the tf table,
   * whose size is bounded by distinct terms per doc, not corpus size.
   */
  def tfidfQuery(spark: SparkSession, sfDir: String,
      topK: Int = 3): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", (col("tf") * col("n_docs")).cast("double") /
        col("df").cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        fr(col("tfidf"), 4).as("tfidf"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Feature-hash embedding of the text (hashing trick, unit-norm
    * 64-dim): the deterministic text vectorizer that feeds the
    * [[Similarity]] operators when no learned encoder is available.
    * One native pass per row ([[graft.functions.VectorKernels.FeatureHash]]). */
  def featureHash(text: org.apache.spark.sql.Column, dims: Int = 64)
      : org.apache.spark.sql.Column =
    call_function("graft_feature_hash", text, lit(dims))

  /**
   * Correctness gate for [[featureHash]]: per-doc sparsity, argmax
   * bucket, peak weight, and first component of the hashed embedding —
   * each derivable by the SQL oracle from the same md5-bucket
   * definition. The vector production is the native kernel; the gate
   * scalars use array functions over the (64-element) result.
   */
  def featureHashQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .withColumn("_v", featureHash(col("text")))
      .select(col("doc_id"),
        size(filter(col("_v"), x => x =!= 0.0)).as("nnz"),
        (array_position(col("_v"), array_max(col("_v"))) - 1)
          .cast("int").as("top_bucket"),
        fr(array_max(col("_v")), 6).as("top_weight"),
        fr(element_at(col("_v"), 1), 6).as("c0"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints (the MOSS algorithm) of the text — the
    * substring-granularity overlap primitive: any shared run of
    * ≥ w+k-1 words between two documents is guaranteed a shared
    * fingerprint, at ~1/w the storage of full shingling. One native
    * codegen'd pass ([[graft.functions.VectorKernels.Winnow]]); hash =
    * first 32 md5 bits of each word k-gram, so the SQL oracle replays
    * the selection exactly. */
  def winnow(text: org.apache.spark.sql.Column, k: Int = 3, w: Int = 4)
      : org.apache.spark.sql.Column =
    call_function("graft_winnow", text, lit(k), lit(w))

  /**
   * Correctness gate for [[winnow]]: per-doc fingerprint-set summary
   * (gram count, fingerprint count, min/max/sum of selected hashes) —
   * each derivable by the oracle from the same md5-based definition.
   * The compression ratio n_fp/n_grams ≈ 2/(w+1) is the winnowing
   * density guarantee; WinnowSpec pins the shared-substring property.
   */
  def winnowQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = winnow(col("text"))
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        greatest(size(tokens(col("text"))) - lit(2), lit(1)).as("n_grams"),
        size(fp).as("n_fp"),
        element_at(fp, 1).as("fp_min"),
        element_at(fp, size(fp)).as("fp_max"),
        aggregate(fp, lit(0L), (acc, x) => acc + x).as("fp_sum"))
      .orderBy(col("doc_id"))
  }

  /**
   * Winnowing-based contamination: substring-granularity overlap
   * between a training corpus and an evaluation set — the MOSS use
   * case at pipeline scale. Where [[Curation.contamination]] asks "any
   * shared n-gram?", this asks "how much fingerprint mass is shared?",
   * with the winnowing guarantee that any shared run of ≥ w+k-1 words
   * is caught, at ~1/w the index size of full shingling.
   *
   * Scale shape mirrors contamination: the eval side reduces to its
   * distinct fingerprints (tiny — benchmarks are small, and winnowing
   * compresses them further) and is broadcast; the 100 TB training
   * side is one narrow kernel scan + explode, no shuffle of its text.
   */
  def winnowContamination(train: DataFrame, evalSet: DataFrame,
      k: Int = 3, w: Int = 4): DataFrame = {
    val evalFp = evalSet
      .select(explode(winnow(col("text"), k, w)).as("fp")).distinct()
    train
      .select(col("doc_id"), winnow(col("text"), k, w).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fp"),
        explode(col("fps")).as("fp"))
      .join(broadcast(evalFp), Seq("fp"))
      .groupBy(col("doc_id"))
      // n_fp is constant per doc (first() is deterministic here)
      .agg(first(col("n_fp")).as("n_fp"), count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_fp"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_fp").cast("double"))
          .as("shared_frac"))
  }

  /** Correctness gate: same eval split as q_contamination (doc_id %
    * 50 == 0); k=2/w=2 so the guarantee window (w+k-1 = 3 words) is
    * short enough that the synthetic corpus actually overlaps. */
  def winnowContamQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    winnowContamination(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), k = 2, w = 2)
      .orderBy(col("doc_id"))
  }

  /**
   * Hashed char-n-gram language ID (fastText/CLD shape) — the
   * model-based upgrade over the 4-language stopword vote in
   * [[langIdOver]]: char TRIGRAMS of a fixed document prefix hash
   * into `dims` md5 buckets (the [[featureHash]] trick), a
   * multinomial naive-Bayes model fits per-language bucket
   * log-probabilities (add-one smoothing) plus a doc-count log-prior
   * on a DETERMINISTIC train slice (`doc_id % trainMod == 0`, the
   * q_lm_ppl fit discipline — the oracle refits the identical model
   * in SQL), and every document scores argmax_l [ log P(l) +
   * Σ_g log P(bucket(g)|l) ], ties to the lexicographically smallest
   * language. Documents whose prefix has no trigram predict 'und'.
   *
   * Exactness: each log term floors at 10 dp and sums as DECIMAL
   * (order-free — the q_lm_ppl rule), the final score transports as
   * a digit string, and the argmax orders by (DECIMAL score desc,
   * lang asc) — bit-deterministic on both engines.
   *
   * Shape at 100 TB: the prefix cap bounds per-doc work (≤
   * prefixLen−2 trigrams); the model is a (langs × dims) broadcast
   * (~320 rows); scoring is one narrow explode + broadcast join +
   * map-side partial DECIMAL sum; the per-doc argmax window is
   * bounded by the language count. No corpus-side text ever
   * shuffles.
   */
  def langId2Over(docs: DataFrame, dims: Int = 64, prefixLen: Int = 96,
      trainMod: Long = 10L): DataFrame = {
    val (model, prior) = langId2Fit(docs, dims, prefixLen, trainMod)
    langId2ScoreOver(docs, model, prior, dims, prefixLen)
  }

  /** Hashed-trigram bucket counts shared by fit and score: (doc_id,
    * lang, bucket, cnt) per OCCUPIED bucket of the document prefix —
    * the `graft_tri_buckets` kernel computes all trigram md5 buckets
    * in one codegen'd pass (the interpreted transform+substring
    * lambda it replaces was O(L²) per row), and posexplode turns the
    * counts array into (bucket, cnt) rows, ≤ dims per doc. */
  private def langId2Tri(docs: DataFrame, dims: Int,
      prefixLen: Int): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, prefixLen).as("pref"))
      .filter(length(col("pref")) >= 3)
      .select(col("doc_id"), col("lang"), posexplode(
        org.apache.spark.sql.functions.call_function(
          "graft_tri_buckets", col("pref"), lit(dims))))
      .filter(col("col") > 0)
      .select(col("doc_id"), col("lang"),
        col("pos").cast("long").as("b"), col("col").as("cnt"))

  /** The FIT half of [[langId2Over]]: (model, prior) frames — the
    * (langs × dims) bucket log-probabilities and the per-language
    * doc-count log-prior, both from the deterministic train slice. */
  def langId2Fit(docs: DataFrame, dims: Int = 64, prefixLen: Int = 96,
      trainMod: Long = 10L): (DataFrame, DataFrame) = {
    val train = langId2Tri(docs, dims, prefixLen)
      .filter(col("doc_id") % trainMod === 0)
    val cnt = train.groupBy(col("lang"), col("b"))
      .agg(sum(col("cnt")).as("c"))
    val tot = train.groupBy(col("lang")).agg(sum(col("cnt")).as("tot"))
    // full (lang × bucket) grid so unseen buckets score the smoothed
    // floor instead of dropping out of the sum
    val model = tot
      .select(col("lang"), col("tot"),
        explode(sequence(lit(0L), lit(dims - 1L))).as("b"))
      .join(cnt, Seq("lang", "b"), "left")
      .select(col("lang").as("cand"), col("b"),
        fr(log((coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
          (col("tot").cast("double") + dims.toDouble)), 10)
          .cast("decimal(20,10)").as("lp"))
    val trainDocs = docs.filter(col("doc_id") % trainMod === 0)
    val prior = trainDocs.groupBy(col("lang"))
      .agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(trainDocs.agg(count(lit(1)).as("n"))))
      .select(col("lang").as("cand"),
        fr(log(col("nd").cast("double") / col("n").cast("double")), 10)
          .cast("decimal(20,10)").as("prior_lp"))
    (model, prior)
  }

  /** The SCORE half of [[langId2Over]]: classify `docs` against an
    * already-fitted (model, prior) — the serving path a standing
    * model store exercises.
    *
    * Scoring runs in EXACT INTEGER SPACE: every lp/prior is a
    * 10-dp-floored DECIMAL, so lp·10¹⁰ is an exact long; the model
    * collapses to one scaled-long weight vector per candidate
    * (model-sized driver collect, ~langs×dims values), each document
    * scores with `graft_dot_long` over its trigram-count array, and
    * the final rescale back to DECIMAL(25,10) is bit-identical to the
    * decimal-sum formulation the oracle replays. Per-doc work: one
    * kernel pass + |langs| long dots — no trigram explode, no
    * (docs × langs × buckets) aggregate. */
  def langId2ScoreOver(docs: DataFrame, model: DataFrame,
      prior: DataFrame, dims: Int = 64, prefixLen: Int = 96)
      : DataFrame = {
    import org.apache.spark.sql.functions.{call_function, typedLit}
    def scaled(d: java.math.BigDecimal): Long =
      d.movePointRight(10).longValueExact()
    val prScaled = prior.collect()
      .map(r => r.getAs[String]("cand") ->
        scaled(r.getAs[java.math.BigDecimal]("prior_lp"))).toMap
    val lpRows = model.collect()
    val cands = prScaled.keys.toSeq.sorted
    val lpScaled: Map[String, Array[Long]] = cands.map { c =>
      val arr = new Array[Long](dims)
      lpRows.foreach { r =>
        if (r.getAs[String]("cand") == c)
          arr(r.getAs[Long]("b").toInt) =
            scaled(r.getAs[java.math.BigDecimal]("lp"))
      }
      c -> arr
    }.toMap
    val base = docs
      .select(col("doc_id"),
        substring(col("text"), 1, prefixLen).as("pref"))
      .filter(length(col("pref")) >= 3)
      .select(col("doc_id"), call_function(
        "graft_tri_buckets", col("pref"), lit(dims)).as("cnts"))
      .withColumn("n_tri",
        aggregate(col("cnts"), lit(0L), (acc, x) => acc + x))
      .filter(col("n_tri") > 0)
    val perCand = cands.map { c =>
      struct(lit(c).as("cand"),
        (call_function("graft_dot_long", col("cnts"),
          typedLit(lpScaled(c).toSeq)) + lit(prScaled(c))).as("sl"))
    }
    val scored = base
      .select(col("doc_id"), col("n_tri"),
        explode(array(perCand: _*)).as("sc"))
      .select(col("doc_id"), col("sc.cand").as("cand"),
        (col("sc.sl").cast("decimal(25,0)") *
          lit(new java.math.BigDecimal("1E-10")))
          .cast("decimal(25,10)").as("score"),
        col("n_tri"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand"))
    val best = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cand"),
        col("score").cast("string").as("score"), col("n_tri"))
    docs.select(col("doc_id"), col("lang").as("lang_declared"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang_declared"),
        coalesce(col("cand"), lit("und")).as("lang_pred"),
        col("score"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy(col("doc_id"))
  }

  /** Standing NB model store per corpus (the [[Similarity]] PQ-base
    * doctrine): fit once offline, serve every scoring pass from the
    * parquet artifact — at 100 TB the language-ID model is trained
    * rarely and applied to every ingest batch, so the gate should
    * measure SCORING, not the refit. */
  def buildLangId2Model(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("langid2@v1", sfDir) { d =>
      val (model, prior) =
        langId2Fit(Tables.load(spark, sfDir, "documents"))
      model.write.mode("overwrite").parquet(s"$d/model")
      prior.write.mode("overwrite").parquet(s"$d/prior")
    }

  /** [[langId2Over]] wired to the documents table, serving from the
    * standing model store (hash-identical to an inline fit: the
    * stored frames carry the same DECIMAL log-probabilities). */
  def langId2Query(spark: SparkSession, sfDir: String): DataFrame = {
    val d = buildLangId2Model(spark, sfDir)
    langId2ScoreOver(Tables.load(spark, sfDir, "documents"),
      spark.read.parquet(s"$d/model"), spark.read.parquet(s"$d/prior"))
  }

  /** 64-bit polynomial rolling hash of a string's code points:
    * h = Σ cp_i·B^(n-1-i) mod M, sequential, overflow-free (M < 2^31 so
    * h·B + cp fits a long). Native codegen'd kernel
    * ([[graft.functions.VectorKernels.RollingHash]]) — the HOF form
    * (`aggregate(transform(split(c,''), ascii), ...)`) evaluates a
    * boxed interpreted lambda per character and dominated
    * q_fingerprint's cost at sf0.1. */
  def rollingHash(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_rolling_hash", c)

  /**
   * Bigram-LM perplexity scoring — the CCNet/KenLM-style quality
   * filter: fit a smoothed bigram language model on a trusted
   * reference slice of the corpus, then score EVERY document by its
   * mean per-bigram log-probability under that model (low perplexity
   * = close to the reference distribution; high = boilerplate, spam,
   * wrong language). This is the model-based twin of the heuristic
   * [[qualityQuery]] gates — the step crawl pipelines run between
   * dedup and training.
   *
   * Scale design (100 TB): the corpus side never shuffles text — the
   * bigram explode is narrow, both model joins are broadcast, and the
   * final groupBy ships only (doc_id, decimal partial-sum) pairs via
   * map-side partial aggregation. The model is bounded by
   * construction: bigrams below `minCount` are pruned (they score as
   * unseen), so the broadcast is vocabulary-sized, not corpus-sized;
   * at the extreme the reference slice is itself a deterministic
   * hash-sample ([[Sampling]]).
   *
   * Exactness: each per-position ln() term is rounded to 10 dp and
   * summed as DECIMAL — order-free, so the single-threaded oracle sum
   * matches the distributed one bit-for-bit (the q1/q5 decimal rule
   * applied in log-space). P(w2|w1) = (c2 + a) / (c1 + a*V) with c1 a
   * bigram-CONTEXT count (unsmoothed probs sum to 1 over the vocab).
   */
  def lmScoreOver(docs: DataFrame,
      refFilter: org.apache.spark.sql.Column, minCount: Int = 2,
      alpha: Double = 0.1): DataFrame = {
    val bg = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2)," +
          " i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // tracked (r19): the reference slice feeds every model-table
    // broadcast build — unpinned, each build re-ran the doc scan +
    // bigram explode (3 kernel passes here, 4 in [[knScoreOver]])
    val ref = bg.filter(refFilter).tracked()
    val c2 = ref.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2")).filter(col("c2") >= minCount)
    val c1 = ref.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = ref.agg(countDistinct(col("w2")).as("v"))
    bg.join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("term", fr(log(
        (coalesce(col("c2"), lit(0L)).cast("double") + lit(alpha)) /
          (coalesce(col("c1"), lit(0L)).cast("double") +
            lit(alpha) * col("v").cast("double"))), 10)
        .cast("decimal(20,10)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term")).as("sum_lp"), count(lit(1)).as("n_bigrams"))
      .withColumn("avg_logp", fr(
        col("sum_lp").cast("double") / col("n_bigrams").cast("double"),
        6))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logp"),
        fr(exp(-col("avg_logp")), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** [[lmScoreOver]] wired to the documents table; reference slice =
    * every 5th document (deterministic, oracle-replayable). */
  def lmScoreQuery(spark: SparkSession, sfDir: String): DataFrame =
    lmScoreOver(Tables.load(spark, sfDir, "documents"),
      col("doc_id") % 5 === 0)

  /**
   * Interpolated Kneser–Ney bigram scoring (Kneser & Ney, ICASSP 1995;
   * the Chen & Goodman 1998 interpolated form) — the upgrade over the
   * add-α model in [[lmScoreOver]] that every serious LM-perplexity
   * quality filter uses: instead of smoothing toward raw unigram
   * frequency, the backoff mass goes to the CONTINUATION probability
   * (how many distinct contexts a word follows), which stops
   * high-frequency-but-context-bound words ("Francisco") from leaking
   * probability into novel contexts.
   *
   *   P(w2|w1) = (max(c(w1,w2) − D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1·)
   *   Pcont(w2) = (N1+(·w2) + α) / (N1+(··) + α·V)
   *
   * with discount D = 0.75 and an add-α floor on the continuation
   * distribution so unseen words stay scoreable; an unseen CONTEXT
   * backs off to Pcont entirely. Bigrams below `minCount` are pruned
   * from the count table (they score through the backoff term), but
   * the continuation/context statistics are computed on the UNPRUNED
   * reference so the pruning changes only which bigrams take the
   * discounted-count path.
   *
   * Scale shape = [[lmScoreOver]] exactly: corpus text never shuffles,
   * all four model tables (pruned bigram counts; per-context c(w1·)
   * and N1+(w1·); per-word N1+(·w2); one scalar row) are
   * vocabulary-bounded broadcasts, scoring is a codegen projection,
   * and the per-doc reduction ships (doc_id, DECIMAL partial-sum)
   * pairs map-side. Log terms round to 10 dp and sum as DECIMAL —
   * order-free, oracle-exact.
   */
  def knScoreOver(docs: DataFrame,
      refFilter: org.apache.spark.sql.Column, minCount: Int = 2,
      discount: Double = 0.75, alpha: Double = 0.1): DataFrame = {
    val bg = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2)," +
          " i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // tracked (r19): four model-table broadcast builds read the
    // reference slice — see the [[lmScoreOver]] pin
    val ref = bg.filter(refFilter).tracked()
    val c2 = ref.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2")).filter(col("c2") >= minCount)
    // per-context: total count AND distinct-continuation fan-out
    val ctx = ref.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"),
        countDistinct(col("w2")).as("n1fwd"))
    // per-word continuation: distinct contexts the word follows
    val cont = ref.groupBy(col("w2"))
      .agg(countDistinct(col("w1")).as("n1back"))
    val scalars = ref.agg(
      countDistinct(col("w1"), col("w2")).as("n1tot"),
      countDistinct(col("w2")).as("v"))
    val pcont = (coalesce(col("n1back"), lit(0L)).cast("double") +
        lit(alpha)) /
      (col("n1tot").cast("double") + lit(alpha) * col("v").cast("double"))
    val p = when(col("c1").isNotNull,
      (greatest(coalesce(col("c2"), lit(0L)).cast("double") -
          lit(discount), lit(0.0)) +
        lit(discount) * col("n1fwd").cast("double") * pcont) /
        col("c1").cast("double"))
      .otherwise(pcont)
    bg.join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(cont), Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .withColumn("term", fr(log(p), 10).cast("decimal(20,10)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term")).as("sum_lp"), count(lit(1)).as("n_bigrams"))
      .withColumn("avg_logp", fr(
        col("sum_lp").cast("double") / col("n_bigrams").cast("double"),
        6))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logp"),
        fr(exp(-col("avg_logp")), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** [[knScoreOver]] wired to the documents table; reference slice =
    * every 5th document (the [[lmScoreQuery]] convention). */
  def knScoreQuery(spark: SparkSession, sfDir: String): DataFrame =
    knScoreOver(Tables.load(spark, sfDir, "documents"),
      col("doc_id") % 5 === 0)

  /**
   * Pointwise mutual information over adjacent token pairs (Church &
   * Hanks 1990): PMI(w1,w2) = ln(c(w1,w2)·N / (c_L(w1)·c_R(w2)))
   * over the bigram stream (c_L/c_R = left/right position counts,
   * N = total bigrams) — the collocation miner behind phrase
   * detection and tokenizer-seed selection. A `minCount` floor keeps
   * the PMI estimator out of its low-count pathology (hapax pairs
   * score arbitrarily high).
   *
   * Scale shape: one narrow bigram explode feeding three map-side-
   * partial (key, count) aggregations — position-count tables are
   * vocabulary-sized broadcasts, N is a one-row broadcast, and the
   * top-k is a bounded-heap TakeOrdered. Corpus text never shuffles.
   * All count products stay in exact BIGINT (≤ N² < 2⁶³) before ONE
   * double division, so the ln argument is the identical double on
   * both engines.
   */
  def pmiQuery(spark: SparkSession, sfDir: String,
      minCount: Int = 5, k: Int = 25): DataFrame =
    pmiOver(Tables.load(spark, sfDir, "documents"), minCount, k)

  /**
   * Token-frequency concentration: the Gini coefficient of the
   * vocabulary's count distribution plus the head-share (fraction of
   * all tokens covered by the top 1% of types) — the corpus-health
   * diagnostic behind "is this crawl all boilerplate" (natural text
   * is Zipfian; G near 0 means suspicious uniformity, head-share near
   * 1 means a few templates dominate).
   *
   * Gini via the rank formula G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over
   * counts sorted ascending. The sort is VOCABULARY-sized, not
   * corpus-sized — one (token, count) map-side-partial shuffle
   * reduces the corpus, and the rank window runs over the count
   * table; Σ i·xᵢ stays in exact BIGINT, one double expression at the
   * end. Ties share arbitrary ranks without affecting the sum
   * (equal x under any rank permutation), row_number tie-break pinned
   * for determinism anyway.
   */
  def giniQuery(spark: SparkSession, sfDir: String): DataFrame =
    giniOver(Tables.load(spark, sfDir, "documents"))

  /**
   * Zipf-law fit: OLS slope of ln(freq) on ln(rank) over the
   * frequency-ranked vocabulary (types with count ≥ 2 — hapax mass
   * bends the tail) — natural language sits near slope −1; a corpus
   * of templates or mangled text does not. The companion diagnostic
   * to [[giniQuery]]: Gini says HOW concentrated, the Zipf slope says
   * whether the concentration follows the power law real text obeys.
   *
   * Shape: vocabulary-sized rank window; each per-type (x, y, xy, x²)
   * term rounds to 10 dp and sums as DECIMAL (the q_lm_ppl order-free
   * rule), so the OLS closed form runs on identical sums in both
   * engines.
   */
  /**
   * Vocabulary growth curve (the empirical side of Heaps' law): as
   * arrival batches land, how many token TYPES are new, and how does
   * the cumulative vocabulary grow against cumulative tokens? The
   * token-level twin of [[graft.operators.Dedup.noveltyCurveQuery]]
   * (document-level): a corpus whose type curve flattens early is
   * repetitive however novel its documents look, and the curve sets
   * honest expectations for tokenizer vocab sizing on the next 10×
   * of data. The Heaps exponent FIT stays out of the hashed frame
   * (it needs logs); the exact curve lets any consumer fit it.
   *
   * Exactness: all counts integer; a type's owner batch is
   * min(batch) over its occurrences (the novelty-curve keeper rule).
   * Shape at 100 TB: the explode folds map-side to (term, min-batch)
   * and (batch, token-count) partials — only terms and batch ids
   * shuffle; the cumulative walk rides [[Prefix.running]] over the
   * batches-sized grid, never a global window.
   */
  def vocabGrowthQuery(spark: SparkSession, sfDir: String,
      batchSize: Long = 50L): DataFrame = {
    val tok = Tables.load(spark, sfDir, "documents")
      .select(expr(s"doc_id div $batchSize").as("batch"),
        explode(tokens(col("text"))).as("term"))
    val perBatch = tok.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = tok.groupBy(col("term"))
      .agg(min(col("batch")).as("batch"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("new_types"))
    val grid = perBatch.join(newTypes, Seq("batch"), "left")
      .select(col("batch"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    graft.operators.Prefix.running(grid, Seq(), Seq(col("batch")),
        Seq(graft.operators.Prefix.Running(col("new_types"), "sum",
          "cum_types"),
          graft.operators.Prefix.Running(col("n_tokens"), "sum",
            "cum_tokens")))
      .select(col("batch"), col("n_tokens"), col("new_types"),
        col("cum_types"), col("cum_tokens"))
      .orderBy(col("batch"))
  }

  def zipfQuery(spark: SparkSession, sfDir: String): DataFrame =
    zipfOver(Tables.load(spark, sfDir, "documents"))

  /** [[zipfQuery]] over an explicit documents frame. */
  def zipfOver(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    // vocabulary-sized but corpus-derived frame: distributed rank,
    // same device as [[giniOver]]
    val ranked = graft.operators.Prefix.running(counts, Seq(),
      Seq(col("c").desc, col("term")),
      Seq(graft.operators.Prefix.Running(lit(1L), "cnt", "r")))
    val terms = ranked.select(
      fr(log(col("r").cast("double")), 10)
        .cast("decimal(24,10)").as("x"),
      fr(log(col("c").cast("double")), 10)
        .cast("decimal(24,10)").as("y"),
      fr(log(col("r").cast("double")) *
        log(col("c").cast("double")), 10)
        .cast("decimal(24,10)").as("xy"),
      fr(log(col("r").cast("double")) *
        log(col("r").cast("double")), 10)
        .cast("decimal(24,10)").as("xx"))
    terms.agg(count(lit(1)).as("n_types"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"))
      .select(col("n_types"),
        fr((col("n_types").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_types").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 4)
          .as("zipf_slope"),
        fr((col("sy").cast("double") -
          ((col("n_types").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_types").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))) *
          col("sx").cast("double")) /
          col("n_types").cast("double"), 4).as("zipf_intercept"))
  }

  /** [[giniQuery]] over an explicit documents frame (spec entry). */
  def giniOver(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    // the rank frame is the vocabulary — corpus-derived and unbounded
    // (Heaps' law: ~1e8 types at web scale), so the rank rides the
    // Prefix.running two-phase distributed scan, never a global window
    val ranked = graft.operators.Prefix.running(counts, Seq(),
      Seq(col("c"), col("term")),
      Seq(graft.operators.Prefix.Running(lit(1L), "cnt", "i")))
    val n = ranked.agg(
      count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
      sum(col("i") * col("c")).as("sum_ix"))
    val head = ranked.crossJoin(broadcast(n.select(
        col("n_types").as("nt"))))
      .filter(col("i").cast("double") > col("nt").cast("double") * 0.99)
      .agg(sum(col("c")).as("head_tokens"))
    n.crossJoin(broadcast(head))
      .select(col("n_types"), col("n_tokens"),
        fr(lit(2.0) * col("sum_ix").cast("double") /
          (col("n_types").cast("double") * col("n_tokens").cast("double"))
          - (col("n_types") + 1).cast("double") /
            col("n_types").cast("double"), 6).as("gini"),
        fr(col("head_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("head_share"))
  }

  /** [[pmiQuery]] over an explicit documents frame (spec entry). */
  def pmiOver(docs: DataFrame, minCount: Int = 5, k: Int = 25)
      : DataFrame = {
    val bg = docs
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2)," +
          " i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2")).filter(col("c2") >= minCount)
    val cl = bg.groupBy(col("w1")).agg(count(lit(1)).as("cl"))
    val cr = bg.groupBy(col("w2")).agg(count(lit(1)).as("cr"))
    val n = bg.agg(count(lit(1)).as("n"))
    c2.join(broadcast(cl), Seq("w1"))
      .join(broadcast(cr), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c2"),
        fr(log((col("c2") * col("n")).cast("double") /
          (col("cl") * col("cr")).cast("double")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Fit a frequency vocabulary: top-`size` tokens by corpus count,
    * ties to the lexicographically smaller token. The aggregation is
    * one (token, count) map-side-partial shuffle; the global top-V
    * rides TakeOrderedAndProject (per-partition heaps, no full sort),
    * so the fit scales to any corpus while only V strings ever reach
    * the driver. */
  def fitVocab(docs: DataFrame, textCol: String, size: Int): Vector[String] =
    docs.select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok"))
      .limit(size).select(col("tok"))
      .collect().map(_.getString(0)).toVector

  /** The documents vocabulary (top 256) as a store — the BPE-merges
    * pattern: the vocab is offline model material, fitted once per
    * corpus and folded into the serving projection as a literal. Also
    * the Bench fixture hook. */
  def buildVocab(spark: SparkSession, sfDir: String): Vector[String] =
    graft.StoreCatalog.modelStore("vocab_256@v1", sfDir)(
      fitVocab(Tables.load(spark, sfDir, "documents"), "text", 256))

  /**
   * Out-of-vocabulary rate: per-document token coverage against a
   * fitted top-V frequency vocabulary — the tokenizer-coverage /
   * domain-shift metric a pipeline tracks when pointing an existing
   * tokenizer at a new corpus (high OOV = the vocab doesn't fit the
   * data).
   *
   * Serving is a pure narrow projection: the fitted vocab folds into
   * ONE codegen'd [[graft.functions.VectorKernels.CountInSets]] probe
   * (hash lookup per token), so the scoring pass is a zero-shuffle
   * scan at any corpus size.
   */
  def oovRateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val vocab = buildVocab(spark, sfDir)
    val nIn = element_at(
      call_function("graft_count_in_sets", col("text"),
        typedLit(Seq(vocab))), 1).cast("bigint")
    docs
      .withColumn("_ts", tokenStats(col("text")))
      .withColumn("n_tokens", col("_ts.n_tok").cast("bigint"))
      .withColumn("n_oov", col("n_tokens") - nIn)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        fr(col("n_oov").cast("double") /
          col("n_tokens").cast("double"), 6).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /**
   * Per-cohort distribution shift: KL(P_lang ‖ P_en) between add-1
   * smoothed unigram distributions over the shared vocabulary — the
   * quantified version of [[graft.operators.Sampling]]'s DSIR
   * importance idea: which language cohorts' token distributions sit
   * farthest from the reference corpus (domain-shift triage before
   * mixing, tokenizer-fit checks per cohort). KL(en ‖ en) = 0 rides
   * along as the built-in sanity row.
   *
   * Formulation: Σ over the UNION vocabulary (unseen terms carry the
   * smoothing floor 1/(n_L + V) — dropping them underestimates
   * divergence), realized as a (langs × vocab) frame: VOCABULARY-
   * sized, never corpus-sized, the [[giniQuery]] reduction discipline.
   * Exactness: p and q are single double divisions of exact BIGINTs;
   * each p·ln(p/q) term rounds to 6 dp and DECIMAL-sums order-free
   * (ln's last ulp is libm-dependent — the 6 dp headroom rule).
   */
  def klDivQuery(spark: SparkSession, sfDir: String): DataFrame =
    klDivOver(Tables.load(spark, sfDir, "documents"))

  /**
   * Per-cohort distribution shift, HASH-GATE form (round 12): total
   * variation distance TV(P_lang, P_en) = ½·Σ|p − q| over the SAME
   * add-1 smoothed (langs × union-vocab) grid as [[klDivQuery]] —
   * the same triage ranking (TV and KL are consistent orderings on
   * these cohort shifts), but an EXACT RATIONAL: with a = cl+1,
   * A = n_L + V, b = ce+1, B = n_en + V,
   *   S = Σ_terms |a·B − b·A|   (exact DECIMAL(38,0) sum)
   *   D = A·B                   (per-lang constant)
   *   tv_micro = ⌊10⁶·S/(2D)⌋   (one integer division)
   * so no engine ever evaluates ln — the per-term transcendental is
   * what made the KL frame structurally un-hashable cross-engine
   * (driver-red through two rounds while value-identical locally).
   * KL itself stays available via [[klDivQuery]], spec-gated in
   * Scala. S and D travel as digit strings beside the quantized
   * ratio.
   *
   * Shape at 100 TB: identical to [[klDivQuery]] — one tokenize +
   * count pass folds the corpus map-side; everything after is
   * vocabulary-sized.
   */
  def langTvQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val tok = docs.select(col("lang"),
      explode(tokens(col("text"))).as("term"))
    val counts = tok.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val vocab = counts.select(col("term")).distinct()
    val vSize = vocab.count()
    val en = counts.filter(col("lang") === "en")
      .select(col("term").as("en_term"), col("c").as("c_en"))
    val enTotal = totals.filter(col("lang") === "en")
      .select(col("n").as("n_en"))
    val grid = totals.select(col("lang"), col("n")).crossJoin(vocab)
      .join(counts, Seq("lang", "term"), "left")
      .join(broadcast(en), col("term") === col("en_term"), "left")
      .crossJoin(broadcast(enTotal))
      .withColumn("bigA", col("n") + lit(vSize))
      .withColumn("bigB", col("n_en") + lit(vSize))
      .withColumn("tvnum", abs(
        (coalesce(col("c"), lit(0L)) + 1).cast("decimal(19,0)") *
          col("bigB").cast("decimal(19,0)") -
        (coalesce(col("c_en"), lit(0L)) + 1).cast("decimal(19,0)") *
          col("bigA").cast("decimal(19,0)")))
    grid
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_tokens"),
        sum(col("tvnum")).cast("decimal(38,0)").as("s"),
        (first(col("bigA")).cast("decimal(19,0)") *
          first(col("bigB")).cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("d"))
      .select(col("lang"), col("n_tokens"),
        col("s").cast("string").as("s_str"),
        col("d").cast("string").as("d_str"),
        expr("CAST((s * 500000) div d AS BIGINT)").as("tv_micro"))
      .orderBy(col("lang"))
  }

  /** [[klDivQuery]] over an explicit documents frame (spec entry). */
  def klDivOver(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("lang"),
      explode(tokens(col("text"))).as("term"))
    val counts = tok.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val vocab = counts.select(col("term")).distinct()
    val vSize = vocab.count()
    val en = counts.filter(col("lang") === "en")
      .select(col("term").as("en_term"), col("c").as("c_en"))
    val enTotal = totals.filter(col("lang") === "en")
      .select(col("n").as("n_en"))
    val grid = totals.select(col("lang"), col("n")).crossJoin(vocab)
      .join(counts, Seq("lang", "term"), "left")
      .join(broadcast(en), col("term") === col("en_term"), "left")
      .crossJoin(broadcast(enTotal))
    val p = (coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
      (col("n") + lit(vSize)).cast("double")
    val q = (coalesce(col("c_en"), lit(0L)) + lit(1L)).cast("double") /
      (col("n_en") + lit(vSize)).cast("double")
    grid
      .select(col("lang"), col("n"),
        fr(p * log(p / q), 6).cast("decimal(20,6)").as("t"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_tokens"),
        sum(col("t")).cast("decimal(38,6)").as("kl_nats"))
      .orderBy(col("lang"))
  }

  /**
   * Term burstiness: the Fano factor (variance-to-mean ratio of the
   * per-document count, zeros included) per vocabulary term with
   * df ≥ minDf — Church & Gale's (1995) dispersion diagnostic:
   * content words BURST (Fano ≫ 1: absent almost everywhere, heavy
   * where present) while function words and template boilerplate
   * spread near-Poisson (Fano ≈ 1). The lexical complement to
   * [[giniQuery]]'s corpus-level concentration: WHICH terms carry
   * topical signal vs glue.
   *
   * Exactness: Fano = (N·Σc² − (Σc)²) / (N·Σc) over exact BIGINTs —
   * zeros contribute nothing to either power sum, so the per-term
   * (df, Σc, Σc²) triple from docs CONTAINING the term plus the
   * corpus doc count N is sufficient: ONE double division at the
   * end. One (doc, term) count pass + one vocabulary-sized
   * map-side-partial agg; corpus text never shuffles.
   */
  def burstinessQuery(spark: SparkSession, sfDir: String,
      minDf: Int = 5): DataFrame =
    burstinessOver(Tables.load(spark, sfDir, "documents"), minDf)

  /** [[burstinessQuery]] over an explicit documents frame. */
  def burstinessOver(docs: DataFrame, minDf: Int): DataFrame = {
    val nDocs = docs.count()
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"), col("s1").as("total"),
        fr((lit(nDocs) * col("s2") - col("s1") * col("s1"))
          .cast("double") /
          (lit(nDocs) * col("s1")).cast("double"), 10).as("fano"))
      .orderBy(col("term"))
  }

  /**
   * Flesch–Kincaid readability (Kincaid et al. 1975): per-document
   * grade level and reading-ease score from exact word, sentence, and
   * heuristic syllable counts — the classic quality-filter feature
   * (pretraining mixes routinely clamp on readability bands; C4-style
   * cleaners drop the unreadable tail).
   *
   * Counting rules, identical in both engines: words are `[a-z]+`
   * runs of the lowercased text; sentences are `[.!?]+` runs
   * (min 1); syllables per word are `[aeiouy]+` vowel groups minus a
   * silent trailing `e` (when more than one group), min 1. FK grade
   * = 0.39·(W/S) + 11.8·(Syl/W) − 15.59; ease = 206.835 − 1.015·(W/S)
   * − 84.6·(Syl/W) — both one double expression on three exact
   * BIGINTs, rounded 4 dp.
   *
   * Shape at 100 TB: pure codegen'd projection over the scan — the
   * per-word loop is a lambda over the in-row token array, no
   * explode, no shuffle, output row count = input row count.
   */
  def readabilityQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val words = expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    val syll = expr(
      """aggregate(
        |  transform(regexp_extract_all(lower(text), '[a-z]+', 0), w ->
        |    greatest(1L, size(regexp_extract_all(w, '[aeiouy]+', 0)) -
        |      (CASE WHEN w LIKE '%e'
        |            AND size(regexp_extract_all(w, '[aeiouy]+', 0)) > 1
        |            THEN 1 ELSE 0 END))),
        |  0L, (acc, x) -> acc + x)""".stripMargin)
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        greatest(lit(1L), size(words).cast("long")).as("n_words"),
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)"))
            .cast("long")).as("n_sentences"),
        syll.as("n_syllables"))
      .withColumn("fk_grade",
        fr(lit(0.39) *
          (col("n_words").cast("double") /
            col("n_sentences").cast("double")) +
          lit(11.8) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")) - lit(15.59), 4))
      .withColumn("flesch",
        fr(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")), 4))
      .orderBy(col("doc_id"))
  }

  // RAKE stopword list (fixed, mirrored verbatim in the SQL oracle):
  // phrase delimiters alongside punctuation.
  private[graft] val rakeStops = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "were", "be", "for", "on", "with", "as", "by", "at", "it",
    "this", "that", "from", "but", "not", "i")

  /**
   * RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
   * are maximal stopword/punctuation-free word runs; each word scores
   * deg(w)/freq(w) where freq counts occurrences and deg sums the
   * lengths of the phrases it appears in (co-occurrence degree); a
   * phrase scores the sum of its word scores. Corpus-level top-30 —
   * the cheap unsupervised keyword miner used for corpus topic
   * profiling and search-facet seeding.
   *
   * Determinism: deg and freq are exact BIGINTs; each word score is
   * the exact integer ⌊10⁶·deg/freq⌋, summed per phrase as BIGINT
   * (order-free, no doubles); top-30 is totally ordered by
   * (score_micro desc, phrase).
   *
   * Shape at 100 TB: phrase extraction is a codegen'd regex
   * projection; word stats reduce map-side to the vocabulary; the
   * phrase-score join moves (word, score) pairs keyed by word — the
   * corpus text never shuffles, and the final top-k is a bounded
   * TakeOrdered.
   */
  def rakeQuery(spark: SparkSession, sfDir: String,
      k: Int = 30): DataFrame = {
    // Stopword segmentation WITHOUT a \b regex (round 12: the
    // word-boundary pass was one of the constructs under driver-
    // divergence suspicion, and regex engines disagree across
    // versions far more readily than list membership): tokenize on
    // the [^a-z]+ collapse, map each token through an exact IN-list
    // (stopword → '|'), rejoin, and split phrases on '|'. Pure
    // string equality — no regex decides a phrase boundary.
    val toks = split(regexp_replace(lower(col("text")), "[^a-z]+", " "),
      " ")
    val marked = transform(toks, t =>
      when(t.isInCollection(rakeStops), lit("|")).otherwise(t))
    val segmented = array_join(marked, " ")
    val phrases = Tables.load(spark, sfDir, "documents")
      .select(explode(split(segmented, "\\|")).as("seg"))
      .select(expr("regexp_extract_all(seg, '[a-z]+', 0)").as("ws"))
      .filter(size(col("ws")) > 0)
      .select(array_join(col("ws"), " ").as("phrase"),
        col("ws"), size(col("ws")).cast("long").as("plen"))
    // word score deg/freq as an exact integer quantization: the gate
    // defines wscore_micro = ⌊10⁶·deg/freq⌋ and phrase score as the
    // BIGINT sum of its words' micros — no doubles anywhere
    val wordStats = phrases
      .select(explode(col("ws")).as("word"), col("plen"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore_micro",
        expr("CAST((deg * 1000000) div freq AS BIGINT)"))
    // score one representative instance per DISTINCT phrase (equal
    // word multisets ⇒ equal scores; occurrences carried as a count)
    val distinctPhrase = phrases
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occur"),
        first(col("ws")).as("ws"))
    distinctPhrase
      .select(col("phrase"), col("n_occur"),
        explode(col("ws")).as("word"))
      .join(wordStats.select(col("word"), col("wscore_micro")),
        Seq("word"))
      .groupBy(col("phrase"), col("n_occur"))
      .agg(sum(col("wscore_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(k)
  }
}
