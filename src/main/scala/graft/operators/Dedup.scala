package graft.operators

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.CacheBin.TrackOps

/**
 * Deduplication operator family for training-data pipelines (north
 * star): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
 * embedding-cosine near-dup.
 *
 * Scale design (100 TB):
 *  - Exact dedup is one hash-shuffle on a 16-byte digest, never on the
 *    document text itself.
 *  - Pairwise methods NEVER do an all-pairs cross join. Candidates come
 *    from blocking/banding (LSH bands, simhash chunks, label blocks):
 *    shuffle on the bucket key, pairs generated per bucket, exact
 *    verification only on candidates. Bucket-key cardinality scales
 *    with data, so AQE handles skewed buckets.
 *  - Signatures (minhash arrays, packed simhash longs) are computed in
 *    a single codegen'd projection pass — the expensive text scan
 *    happens once.
 */
object Dedup {

  /**
   * Exact dedup: keep the lowest doc_id per identical text. Grouping on
   * md5(text) instead of text keeps shuffle rows small regardless of
   * document size (the digest stands in for the value, like the
   * reference's dictionary keys, `StringRedBlackTree.java`).
   */
  def exactQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("n_copies"))
      .orderBy(col("keep_doc_id"))

  /**
   * Cross-source priority dedup: when the same content appears in
   * several sources, keep the copy from the HIGHEST-priority source
   * (lowest source number here — e.g. prefer the curated wiki dump
   * over its crawl duplicates), ties to the lowest doc_id. The
   * provenance-aware variant of [[exactQuery]] every multi-source
   * merge runs. One digest-keyed window — text reduces to its md5
   * before the shuffle, so only (digest, prio, ids) rows move.
   */
  def priorityDedupQuery(spark: SparkSession, sfDir: String): DataFrame =
    priorityKeepers(Tables.load(spark, sfDir, "documents"))
      .orderBy(col("doc_id"))

  /** The keeper election itself, over any (doc_id, source, text)
    * frame — shared by [[priorityDedupQuery]] and the takedown
    * re-election ([[Versioning.takedownPropagate]]) so the two can
    * never drift. */
  def priorityKeepers(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("text_md5"))
      .orderBy(col("prio"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        regexp_extract(col("source"), "(\\d+)", 1).cast("int").as("prio"),
        md5(col("text")).as("text_md5"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("text_md5"))
  }

  /** Distinct word-3-gram shingles of the text column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
  }

  /** 64-bit-hashed shingle set: set operations (intersect, minhash) over
    * 8-byte longs instead of ~30-char strings — ~4x smaller shuffle rows
    * and cheap equality. 64-bit collisions are negligible at any corpus
    * size that fits a pair-block (p ≈ n²/2⁶⁵), so |A∩B| over hashes
    * equals |A∩B| over the strings and Jaccard values are unchanged.
    * One native codegen'd pass
    * ([[graft.functions.VectorKernels.ShingleHashes]]): the equivalent
    * `transform(shingles(text), xxhash64)` evaluates ~1ms of interpreted
    * higher-order lambdas per document — it was the dominant cost of
    * every shingle-based query, not the joins. */
  def hashedShingles(text: Column, n: Int = 3): Column =
    call_function("graft_shingles", text, lit(n))

  /**
   * Exact n-gram Jaccard near-dup: candidates blocked by (lang,
   * length-bucket) — near-dups have near-identical length — then exact
   * shingle-set Jaccard ≥ 0.5 on candidates only. The blocking key is
   * part of the operator's definition (the oracle applies the same
   * rule), and bounds pair counts per block at any scale.
   *
   * `maxShingleDf` is likewise part of the definition: shingles shared
   * by more than that many documents (boilerplate headers, license
   * blurbs) carry no near-dup signal but drive the inverted-index
   * self-join quadratic — cost is Σ_shingle df², so ONE shingle in 10⁶
   * docs is 10¹² candidate pairs. Jaccard is computed over the
   * DF-capped shingle sets on both the engine and the oracle side.
   */
  def ngramJaccardQuery(spark: SparkSession, sfDir: String,
      maxShingleDf: Int = 1000): DataFrame =
    ngramJaccard(Tables.load(spark, sfDir, "documents"), maxShingleDf)

  /** Core of [[ngramJaccardQuery]] over any (doc_id, lang, text) frame.
    * `minJaccard` is the emission threshold: 0.5 for the near-dup
    * operator itself, lower for candidate generation feeding a
    * downstream verifier ([[editDistVerify]]). */
  def ngramJaccard(documents: DataFrame, maxShingleDf: Int,
      minJaccard: Double = 0.5): DataFrame = {
    // Inverted-index formulation: explode shingles, count co-occurrences
    // per candidate pair, then |A∩B| = co-count and |A∪B| = |A|+|B|−∩.
    // Scales as Σ_shingle (docs sharing it)² — pairwise array_intersect
    // over every blocked pair scales as pairs × |shingles| and is ~15x
    // slower at sf0.1 (and unboundedly worse at 100 TB). Pairs that
    // share no shingle never materialize at all.
    val docs = documents
      .select(col("doc_id"), col("lang"),
        floor(length(col("text")) / 100).as("len_bucket"),
        hashedShingles(col("text")).as("sh"))
    val ex = docs.select(col("doc_id"), col("lang"), col("len_bucket"),
      explode(col("sh")).as("s"))
    // Hot-shingle cap: the anti-join side only holds shingles with
    // df > cap (tiny — AQE broadcasts it); ∩ and ∪ then use the same
    // DF-capped universe.
    val hot = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select(col("s"))
    val kept = ex.join(hot, Seq("s"), "left_anti")
    // per-doc kept-set sizes: a partial-aggregated groupBy whose output
    // is one row per doc — attached to the (small) PAIR table below,
    // never windowed over the full inverted index (that would shuffle
    // the whole index by doc_id a second time)
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = kept.select(col("s"), col("lang"), col("len_bucket"),
      col("doc_id").as("doc_a"))
    val b = kept.select(col("s"), col("lang"), col("len_bucket"),
      col("doc_id").as("doc_b"))
    a.join(b, Seq("s", "lang", "len_bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(n.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /**
   * LSH parameter planning — pick (bands b, rows r) for a MinHash
   * banding scheme before running it at corpus scale: the candidate
   * probability S-curve is P(cand | s) = 1 − (1 − s^r)^b, and the
   * right (b, r) is the one whose curve is steep AT the dedup
   * threshold — low false-candidate mass below it (pair-generation
   * cost) and low miss mass above it (lost duplicates). The planner
   * evaluates every (b, r) factorization of the signature budget
   * k = b·r on a fixed similarity grid and scores: P at threshold,
   * the curve's inflection s* = (1/b)^(1/r) (where half the bands
   * fire), miss probability at s = threshold + 0.1, and
   * false-candidate probability at s = threshold − 0.2. The committed
   * production config (16×4 in [[minhashLshQuery]]) is one row of
   * this table — the plan justifies it instead of folklore.
   *
   * Pure closed-form arithmetic over the enumerated factorizations
   * (k = 64 → 7 rows) at the three decision points — metadata-sized
   * at any corpus scale, the planner costs nothing. All
   * probabilities are 6 dp floor-form; `pow` on these clean operands
   * is IEEE-identical cross-engine (the q_adamic_adar3 literal-table
   * spirit: factorizations are enumerated, the inflection is the
   * closed form (1/b)^(1/r), nothing is root-found).
   */
  def lshPlanQuery(spark: SparkSession, sfDir: String,
      k: Int = 64, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val factorizations = (1 to k).filter(k % _ == 0)
      .map(r => (k / r, r))
    val grid = factorizations.toDF("bands", "rows_per_band")
    def pCand(s: Column, b: Column, r: Column): Column =
      lit(1.0) - pow(lit(1.0) - pow(s, r.cast("double")),
        b.cast("double"))
    val fr6 = (c: Column) =>
      graft.functions.VectorOps.foldRound(c, 6)
    grid.select(col("bands"), col("rows_per_band"),
      fr6(pow(lit(1.0) / col("bands").cast("double"),
        lit(1.0) / col("rows_per_band").cast("double")))
        .as("s_inflection"),
      fr6(pCand(lit(threshold), col("bands"), col("rows_per_band")))
        .as("p_at_threshold"),
      // miss = (1 - s^r)^b written DIRECTLY (not 1 - pCand): the
      // algebraic twin differs in final ulps through the 1-(1-x)
      // round-trip, and the oracle carries this form
      fr6(pow(lit(1.0) - pow(lit(threshold + 0.1),
        col("rows_per_band").cast("double")),
        col("bands").cast("double"))).as("p_miss_above"),
      fr6(pCand(lit(threshold - 0.2), col("bands"),
        col("rows_per_band"))).as("p_false_below"))
      .orderBy(col("bands"))
  }

  /**
   * Containment detection — ASYMMETRIC set similarity over the same
   * DF-capped shingle universe as [[ngramJaccard]]: a document A is
   * contained in B when |A∩B| / |A| clears the threshold, regardless
   * of how much MORE B holds. This is the quote/subset miner
   * symmetric Jaccard is structurally blind to (a 20-word quote
   * inside a 500-word article has J ≈ 0.04 but containment 1.0), and
   * the reason production dedup (The Stack, RefinedWeb) runs a
   * containment pass beside the near-dup pass.
   *
   * Two deliberate deviations from the near-dup definition, both
   * part of the operator's contract: NO length-bucket blocking
   * (containment pairs have UNEQUAL lengths by nature — the length
   * block would delete exactly the signal), and the direction column
   * (the SMALLER shingle set is the contained side; equal sizes fall
   * back to the lower doc_id). Language blocking and the hot-shingle
   * DF cap stay — the cap is still what bounds the inverted-index
   * self-join at scale, and with it the pair explosion is ≤ df²/2
   * per shingle exactly as in the Jaccard miner.
   */
  def containmentQuery(spark: SparkSession, sfDir: String,
      maxShingleDf: Int = 1000, minContainment: Double = 0.8)
      : DataFrame = {
    // the gate corpus augments documents with in-engine QUOTE docs —
    // the 26-word prefix of every mod-50 doc at id + 10^9 — so the
    // containment-without-near-dup case (quote ⊂ article, J << 0.5)
    // is exercised at every SF; the construction is pure string
    // expressions, replayed verbatim by the oracle
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val quotes = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 26)).as("text"))
    containmentOver(docs.unionByName(quotes), maxShingleDf,
      minContainment)
  }

  /** Core of [[containmentQuery]] over any (doc_id, lang, text)
    * frame. */
  private[graft] def containmentOver(documents: DataFrame,
      maxShingleDf: Int, minContainment: Double): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("lang"),
        hashedShingles(col("text")).as("sh"))
    // tracked: same multi-consumer shape as the xling variant — ex
    // feeds census + kept, kept feeds sizes + both pair sides
    val ex = docs.select(col("doc_id"), col("lang"),
      explode(col("sh")).as("s")).tracked()
    val hot = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select(col("s"))
    val kept = ex.join(hot, Seq("s"), "left_anti").tracked()
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = kept.select(col("s"), col("lang"), col("doc_id").as("doc_a"))
    val b = kept.select(col("s"), col("lang"), col("doc_id").as("doc_b"))
    a.join(b, Seq("s", "lang"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(n.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      .withColumn("containment",
        graft.functions.VectorOps.foldRound(
          col("inter").cast("double") /
            least(col("n_a"), col("n_b")).cast("double"), 6))
      .filter(col("containment") >= minContainment)
      .select(
        when(col("n_a") <= col("n_b"), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_doc"),
        when(col("n_a") <= col("n_b"), col("doc_b"))
          .otherwise(col("doc_a")).as("container_doc"),
        col("inter"),
        least(col("n_a"), col("n_b")).as("n_contained"),
        greatest(col("n_a"), col("n_b")).as("n_container"),
        col("containment"),
        graft.functions.VectorOps.foldRound(
          col("inter").cast("double") /
            (col("n_a") + col("n_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("contained_doc"), col("container_doc"))
  }

  /**
   * CROSS-LINGUAL containment mining — [[containmentQuery]]'s
   * asymmetric-overlap pattern applied ACROSS language boundaries:
   * the same DF-capped shingle inverted index, but pairs are kept
   * only when the two documents declare DIFFERENT languages — the
   * translated-quote / copied-boilerplate miner a multilingual crawl
   * runs beside the in-language pass (a quote translated with shared
   * named entities, code blocks, or citations retains exactly the
   * shingles a same-language block would discard). The operator's
   * contract is asymmetric overlap over any SHARED token space: on
   * this corpus the vocabulary is shared outright; a production
   * multilingual pipeline substitutes a cross-lingual shingle space
   * (lemmatized, transliterated, or semantically hashed n-grams) and
   * the plan is unchanged.
   *
   * Scale: dropping the language block widens the inverted-index
   * join, but the hot-shingle DF cap is still what bounds it (≤ df²/2
   * pairs per shingle) — the cap, not the block, is the scale story,
   * exactly as in the in-language miner.
   */
  def containmentXlingQuery(spark: SparkSession, sfDir: String,
      maxShingleDf: Int = 1000, minContainment: Double = 0.8)
      : DataFrame = {
    // gate fixture: pseudo-TRANSLATIONS — the 26-word prefix of every
    // mod-50 doc re-declared under lang 'xl' at id + 2·10⁹ — so the
    // cross-language quote⊂article case exists at every SF
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val translated = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000000L).as("doc_id"), lit("xl").as("lang"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 26)).as("text"))
    val corpus = docs.unionByName(translated)
    val sh = corpus.select(col("doc_id"), col("lang"),
      hashedShingles(col("text")).as("sh"))
    // tracked: ex feeds the hot-shingle census AND the kept side, and
    // kept feeds three consumers (per-doc sizes + both pair sides) —
    // unpinned, the shingle kernel re-runs for every reference
    val ex = sh.select(col("doc_id"), col("lang"),
      explode(col("sh")).as("s")).tracked()
    val hot = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select(col("s"))
    val kept = ex.join(hot, Seq("s"), "left_anti").tracked()
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val langs = corpus.select(col("doc_id"), col("lang"))
    val a = kept.select(col("s"), col("doc_id").as("doc_a"),
      col("lang").as("lang_a"))
    val b = kept.select(col("s"), col("doc_id").as("doc_b"),
      col("lang").as("lang_b"))
    a.join(b, Seq("s"))
      .filter(col("doc_a") < col("doc_b") &&
        col("lang_a") =!= col("lang_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(n.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      .withColumn("containment",
        graft.functions.VectorOps.foldRound(
          col("inter").cast("double") /
            least(col("n_a"), col("n_b")).cast("double"), 6))
      .filter(col("containment") >= minContainment)
      .select(
        when(col("n_a") <= col("n_b"), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_doc"),
        when(col("n_a") <= col("n_b"), col("doc_b"))
          .otherwise(col("doc_a")).as("container_doc"),
        col("inter"),
        least(col("n_a"), col("n_b")).as("n_contained"),
        greatest(col("n_a"), col("n_b")).as("n_container"),
        col("containment"))
      .join(langs.select(col("doc_id").as("contained_doc"),
        col("lang").as("contained_lang")), Seq("contained_doc"))
      .join(langs.select(col("doc_id").as("container_doc"),
        col("lang").as("container_lang")), Seq("container_doc"))
      .select(col("contained_doc"), col("container_doc"),
        col("contained_lang"), col("container_lang"), col("inter"),
        col("n_contained"), col("n_container"), col("containment"))
      .orderBy(col("contained_doc"), col("container_doc"))
  }

  /**
   * Edit-distance verification of near-dup candidates — the
   * candidates-then-verify pattern every production dedup pipeline
   * uses: candidate pairs come from the CHEAP set-similarity stage
   * (shingle Jaccard at a loose threshold), and only those pairs pay
   * the quadratic Levenshtein. The comparison runs on a fixed-length
   * prefix, so per-pair cost is a constant O(prefixLen²) independent
   * of document size.
   *
   * Scale shape: verification cost is linear in CANDIDATE PAIRS, not
   * corpus size; the pair table (tiny) joins back to the corpus for
   * its two prefix columns — AQE broadcasts the pair side, so the
   * 100 TB corpus is never shuffled.
   */
  def editDistVerify(documents: DataFrame, minJaccard: Double = 0.3,
      prefixLen: Int = 400): DataFrame = {
    // The emitted pair table (post-threshold near-dup candidates) is
    // orders of magnitude smaller than the corpus, so it broadcasts and
    // the corpus is scanned once, never shuffled, for the prefix attach.
    val pairs = broadcast(
      ngramJaccard(documents, maxShingleDf = 1000, minJaccard))
    val prefixes = documents
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("p"))
    pairs
      .join(prefixes.select(col("doc_id").as("doc_a"), col("p").as("pa")),
        Seq("doc_a"))
      .join(prefixes.select(col("doc_id").as("doc_b"), col("p").as("pb")),
        Seq("doc_b"))
      .withColumn("lev", levenshtein(col("pa"), col("pb")))
      .withColumn("edit_sim", lit(1.0) - col("lev").cast("double") /
        greatest(length(col("pa")), length(col("pb"))).cast("double"))
      .select(col("doc_a"), col("doc_b"), fr(col("jaccard"), 4)
        .as("jaccard"), col("lev"), fr(col("edit_sim"), 4).as("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Correctness gate for [[editDistVerify]] (DuckDB has the same
    * `levenshtein`, so the verification is exactly oracle-replayable —
    * unlike the banded MinHash/SimHash candidate generators). */
  def editDistQuery(spark: SparkSession, sfDir: String): DataFrame =
    editDistVerify(Tables.load(spark, sfDir, "documents"))

  /**
   * MinHash signature: k minimums over splitmix64(shingle ^ seed_j) —
   * the standard unbiased Jaccard estimator. One native codegen'd pass
   * ([[graft.functions.VectorKernels.MinHashSignature]]), no shuffle.
   */
  def minhashSignature(hashedShingleCol: Column, k: Int = 64): Column =
    call_function("graft_minhash", hashedShingleCol, lit(k))

  /**
   * MinHash + LSH banding dedup (the 100 TB path): signatures → band
   * hashes → bucket self-join per band → distinct candidate pairs →
   * exact Jaccard verification on candidates only. bands×rows = 16×4
   * targets the ~0.5 similarity threshold (s-curve (1/16)^(1/4)≈0.5).
   *
   * Not SQL-oracle-able (murmur3 seeds differ per engine) — verified
   * in DedupSpec against the exact-Jaccard ground truth instead.
   */
  def minhashLshQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = 16
    val rows = 4
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        minhashSignature(hashedShingles(col("text"))).as("sig"))
    val banded = docs.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          hash(slice(col("sig"), b * rows + 1, lit(rows))).as("band_hash"))))
        .as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band"), col("bb.band_hash"))
    val l = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val cand = l.join(r, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
    cand
      .withColumn("est_jaccard",
        call_function("graft_sig_agree", col("sig_a"), col("sig_b"))
          .cast("double") / size(col("sig_a")))
      .filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /**
   * SimHash near-dup: 64-bit signature = sign bits of the
   * token-frequency-weighted hash-bit sums; candidates from 4×16-bit
   * chunk banding (hamming ≤ 3 ⇒ at least one chunk equal); verified by
   * exact hamming distance. Engine-internal hashes ⇒ spec-verified, not
   * SQL-oracle-able.
   */
  def simhashQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), simhash64(col("text")).as("sig"))
    val withChunks = docs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(ci =>
        struct(lit(ci).as("chunk"),
          shiftright(col("sig"), 16 * ci).bitwiseAND(lit(0xFFFFL))
            .as("chunk_val"))): _*)).as("cc"))
    val l = withChunks.select(col("cc.chunk").as("chunk"),
      col("cc.chunk_val").as("chunk_val"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = withChunks.select(col("cc.chunk").as("chunk"),
      col("cc.chunk_val").as("chunk_val"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        VectorOps.hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /**
   * Oracle-predictable gate over [[minhashLshQuery]] (the
   * q_approx_distinct bound-check pattern): the candidate list rides
   * on engine-internal murmur3 signatures, but every emitted
   * candidate must (a) estimate the exact shingle-set Jaccard within
   * 0.25 (64 hashes ⇒ σ≈0.06; measured max error 0.12 at
   * sf0.01/sf0.1) and (b) be genuinely similar (exact ≥ 0.4 when the
   * est-filter is 0.5). Exact Jaccard is computed in-engine on the
   * SAME shingle arrays; the oracle emits the expected TRUEs.
   */
  def minhashGateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_distinct(hashedShingles(col("text"))).as("sh"))
    minhashLshQuery(spark, sfDir)
      .join(docs.select(col("doc_id").as("doc_a"),
        col("sh").as("sh_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"),
        col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("exact",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .agg(
        min(abs(col("est_jaccard") - col("exact")) <= 0.25).as("est_ok"),
        min(col("exact") >= 0.4).as("sim_ok"))
  }

  /**
   * Incremental MinHash-LSH index APPEND — the frozen-state append
   * doctrine ([[Similarity.annAppendQuery]] / `q_pq_append`) applied
   * to the NEAR-DUP index: a batch of NEW documents signs and bands
   * under the SAME frozen banding as the standing index (16×4, the
   * [[minhashLshQuery]] production config — MinHash seeds and band
   * boundaries are fixed constants, so unlike the IVF/PQ stores there
   * is no fitted state to refit and no existing signature can EVER
   * change). Candidate pairs come from probing the batch's band
   * hashes against the union store, so the work is new-vs-old plus
   * new-vs-new — never old-vs-old — and ingest cost is ∝ batch, not
   * ∝ index. That is what makes daily near-dup ingest on a 100 TB
   * corpus a batch-sized job: the standing index persists only
   * (band, band_hash, doc_id) postings plus one signature row per
   * doc; the batch shuffles 20-byte postings, and document text never
   * moves at all.
   *
   * Gate (one row; the [[minhashGateQuery]] bound-check pattern —
   * band hashes are engine-internal murmur3, invariants are
   * oracle-predictable): exact index/batch counts (doc_id mod 4 = 3
   * plays the batch); `no_old_old` (every incremental candidate
   * touches the batch — construction); `inc_eq_full` (the incremental
   * candidate set EQUALS the full-recompute banding restricted to
   * pairs touching the batch — the frozen-banding append theorem,
   * checked by exact set comparison in-engine); `est_ok` / `sim_ok`
   * (the standing 64-hash estimator bounds on the candidates);
   * `found_any` (≥ 1 candidate crossed the split — a fixture
   * assumption like q_ann_append's counterfactuals: the corpus's
   * near-dup clusters span consecutive doc_ids, so some pair always
   * straddles the mod-4 cut; verified at sf0.001/0.01/0.1/sf1).
   */
  /** The FROZEN 16×4 banding of a (doc_id, sig) frame — fixed seeds,
    * no fitted state, so any two banded frames (batch append, the
    * streaming ingest gate) produce comparable bucket keys forever.
    * Shared by [[minhashAppendQuery]] and
    * [[graft.streaming.StreamingIngest.replayNearDup]]. */
  private[graft] def bandedSig(d: DataFrame, bands: Int = 16,
      rows: Int = 4): DataFrame = d.select(col("doc_id"),
    explode(transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        hash(slice(col("sig"), b * rows + 1, lit(rows)))
          .as("band_hash")))).as("bb"))
    .select(col("doc_id"), col("bb.band").as("band"),
      col("bb.band_hash").as("band_hash"))

  def minhashAppendQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val isNew = pmod(col("doc_id"), lit(4L)) === 3L
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_distinct(hashedShingles(col("text"))).as("sh"))
      .withColumn("sig", minhashSignature(col("sh")))
      .tracked()
    def banded(d: DataFrame): DataFrame = bandedSig(d)
    val batB = banded(docs.filter(isNew))
    val store = banded(docs.filter(!isNew)).unionByName(batB)
    val candInc = batB
      .select(col("band"), col("band_hash"), col("doc_id").as("probe"))
      .join(store.select(col("band"), col("band_hash"),
        col("doc_id").as("hit")), Seq("band", "band_hash"))
      .filter(col("probe") =!= col("hit"))
      .select(least(col("probe"), col("hit")).as("doc_a"),
        greatest(col("probe"), col("hit")).as("doc_b"))
      .distinct()
    val allB = banded(docs)
    val candFull = allB
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(allB.select(col("band"), col("band_hash"),
        col("doc_id").as("doc_b")), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .filter(pmod(col("doc_a"), lit(4L)) === 3L ||
        pmod(col("doc_b"), lit(4L)) === 3L)
    val mismatch = candInc.withColumn("_i", lit(1))
      .join(candFull.withColumn("_f", lit(1)),
        Seq("doc_a", "doc_b"), "full_outer")
      .filter(col("_i").isNull || col("_f").isNull)
      .agg(count(lit(1)).as("n_mismatch"))
    val verified = candInc
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est",
        call_function("graft_sig_agree", col("sig_a"), col("sig_b"))
          .cast("double") / size(col("sig_a")))
      .withColumn("exact",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .agg(count(lit(1)).as("n_cand"),
        coalesce(min(abs(col("est") - col("exact")) <= 0.25), lit(true))
          .as("est_ok"),
        coalesce(min(!(col("est") >= 0.5) || col("exact") >= 0.4),
          lit(true)).as("sim_ok"),
        coalesce(min(pmod(col("doc_a"), lit(4L)) === 3L ||
          pmod(col("doc_b"), lit(4L)) === 3L), lit(true))
          .as("no_old_old"))
    val counts = docs.agg(
      sum(when(isNew, 0L).otherwise(1L)).as("n_index"),
      sum(when(isNew, 1L).otherwise(0L)).as("n_batch"))
    counts.crossJoin(broadcast(verified)).crossJoin(broadcast(mismatch))
      .select(col("n_index"), col("n_batch"),
        (col("n_cand") >= 1L).as("found_any"),
        col("no_old_old"),
        (col("n_mismatch") === 0L).as("inc_eq_full"),
        col("est_ok"), col("sim_ok"))
  }

  /**
   * Oracle-predictable gate over [[simhashQuery]]: the pigeonhole
   * guarantee — any pair within hamming ≤ 3 of 64 bits differs in at
   * most 3 of the 4 16-bit chunks, so chunk banding finds it — makes
   * banding LOSSLESS, and the gate proves it by comparing the banded
   * result against the exhaustive all-pairs hamming scan in-engine
   * (completeness AND precision). The oracle emits the TRUEs the
   * theorem predicts.
   */
  def simhashGateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), simhash64(col("text")).as("sig"))
    val banded = simhashQuery(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val exhaustive = sigs.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a"))
      .crossJoin(sigs.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b")))
      .filter(col("doc_a") < col("doc_b"))
      .filter(VectorOps.hamming(col("sig_a"), col("sig_b")) <= 3)
      .select(col("doc_a"), col("doc_b"))
    val missed = exhaustive.join(banded, Seq("doc_a", "doc_b"),
      "left_anti").agg(count(lit(1)).as("n_missed"))
    val spurious = banded.join(exhaustive, Seq("doc_a", "doc_b"),
      "left_anti").agg(count(lit(1)).as("n_spurious"))
    missed.crossJoin(broadcast(spurious))
      .select((col("n_missed") === 0).as("complete_ok"),
        (col("n_spurious") === 0).as("precision_ok"))
  }

  /** 64-bit SimHash of whitespace tokens: per-bit ±1 votes weighted by
    * token occurrence, sign → bit. Tokens are hashed once (xxhash64);
    * the 64-bit vote loop is a native codegen'd expression
    * ([[graft.functions.VectorKernels.SimHash64]]). */
  def simhash64(text: Column): Column =
    call_function("graft_simhash",
      transform(split(text, " "), t => xxhash64(t)))

  /**
   * Embedding-cosine near-dup: candidates blocked by label (shared by
   * construction for near-dup pairs in this corpus; at scale the block
   * key would be an LSH bucket — see
   * [[Similarity.lshBucketQuery]]), exact cosine ≥ 0.95 on candidates.
   * Similarity emitted rounded to 4dp for cross-engine stability.
   */
  def embeddingNearDupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val a = emb.select(col("vec_id").as("vec_a"), col("label"),
      col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("vec_b"), col("label"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("emb_a"), col("emb_b")), 4))
      .filter(col("cos_sim") >= 0.95)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /**
   * Incremental dedup: dedupe an incoming batch against an existing
   * corpus WITHOUT re-shuffling the corpus's documents — the shape
   * every continuously-ingesting pipeline runs daily. Both sides reduce
   * to digests; the corpus side ships only its distinct digest set
   * (16 bytes/doc), the batch anti-joins on it, then dedupes within
   * itself. At 100 TB the digest set is the only state carried between
   * runs — persist it and this is a pure batch-sized job.
   */
  def incrementalDedup(batch: DataFrame, corpusDigests: DataFrame,
      textCol: String, orderCol: Column): DataFrame = {
    val fresh = batch.withColumn("_digest", md5(col(textCol)))
      .join(corpusDigests, Seq("_digest"), "left_anti")
    keepFirst(fresh, Seq("_digest"), orderCol).drop("_digest")
  }

  /** Correctness gate for [[incrementalDedup]]: even doc_ids play the
    * existing corpus, odd doc_ids the incoming batch. Output = the
    * batch docs that survive both the corpus anti-join and
    * first-within-batch dedup. */
  def incrementalQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("_digest")).distinct()
    incrementalDedup(docs.filter(col("doc_id") % 2 === 1), corpus,
      "text", col("doc_id").asc)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /**
   * Bloom-prefiltered incremental dedup — the membership-sketch path
   * [[incrementalDedup]] grows into at 100 TB. The corpus digest set
   * folds into one 8 KB [[graft.functions.BloomAgg]] filter (OR-merged
   * partials, broadcast as a single row); every batch doc probes it in
   * a codegen'd projection. Bloom-NEGATIVE docs are provably new (no
   * false negatives) and skip the corpus join entirely; only the small
   * bloom-positive slice — true dups plus ~(1−e^(−kn/m))^k false
   * positives — pays the exact anti-join against the digest store.
   * Final semantics are EXACT (identical keep set to
   * [[incrementalDedup]]); the sketch only prunes work. The bloom
   * keys on the md5-hex digest string, so its bit positions are
   * md5(md5(text)) slices the DuckDB oracle replays verbatim — each
   * individual false positive is oracle-predictable.
   */
  def bloomIncrementalDedup(batch: DataFrame, corpusDigests: DataFrame,
      textCol: String, orderCol: Column): DataFrame = {
    val bloom = corpusDigests
      .agg(call_function("graft_bloom", col("_digest")).as("_bloom"))
    val probed = batch.withColumn("_digest", md5(col(textCol)))
      .crossJoin(broadcast(bloom))
      .withColumn("bloom_hit",
        call_function("graft_bloom_might", col("_bloom"), col("_digest")))
      .drop("_bloom")
    val fresh = probed.filter(!col("bloom_hit"))
      .unionByName(probed.filter(col("bloom_hit"))
        .join(corpusDigests, Seq("_digest"), "left_anti"))
    keepFirst(fresh, Seq("_digest"), orderCol).drop("_digest")
  }

  /** Correctness gate for [[bloomIncrementalDedup]]: the
    * [[incrementalQuery]] split (even ids = corpus, odd = batch), plus
    * the `bloom_hit` flag on every kept doc — a kept hit IS a bloom
    * false positive, so the oracle's bit-set replay checks the filter
    * itself, not just the exact keep set. */
  def bloomIncrementalQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("_digest")).distinct()
    bloomIncrementalDedup(docs.filter(col("doc_id") % 2 === 1), corpus,
      "text", col("doc_id").asc)
      .select(col("doc_id"), col("lang"), col("source"), col("bloom_hit"))
      .orderBy(col("doc_id"))
  }

  /** Non-overlapping k-word chunks of a text column (last chunk may be
    * short) — the segmenter the correctness gate uses, because the
    * synthetic corpus has no newlines. Production corpora pass
    * [[lineSegments]] instead; [[segmentDedup]] takes either. Native
    * one-pass kernel ([[graft.functions.VectorKernels.WordChunks]]) —
    * the `transform(sequence…, slice…)` HOF form costs ~1ms of
    * interpreted lambdas per document. */
  def wordChunks(text: Column, k: Int): Column =
    call_function("graft_word_chunks", text, lit(k))

  /** Newline-delimited segments — the production segmenter (line-level
    * dedup over web corpora à la CCNet). */
  def lineSegments(text: Column): Column = split(text, "\n")

  /**
   * Segment-level dedup (boilerplate removal): drop every segment
   * (line / paragraph / fixed word-chunk) that occurs in more than
   * `minDocFreq` DISTINCT documents — the pass that strips navigation
   * bars, license blurbs, and cookie banners from a web corpus while
   * leaving document-unique prose intact (the segment-granularity
   * complement of [[exactQuery]]'s whole-document dedup).
   *
   * Scale shape (100 TB): pass 1 shuffles only (fnv1a64(segment),
   * doc_id) pairs — 16 bytes/segment, never the text — to count
   * per-segment document frequency; the resulting boilerplate set is
   * small BY CONSTRUCTION (a segment kept by the `> minDocFreq` filter
   * appears in many docs, so there can be at most n_docs·segs_per_doc
   * / minDocFreq of them) and is folded to ONE sorted array row
   * broadcast to every task (the [[graft.operators.TextAnalysis]]
   * 1-row crossJoin pattern). Pass 2 is then a NARROW projection: a
   * native kernel ([[graft.functions.VectorKernels.SegStrip]])
   * binary-searches each segment's hash against the broadcast set and
   * rebuilds the kept text in one pass — the corpus text itself is
   * scanned twice and shuffled never. Hash equality stands in for
   * string equality as in [[hashedShingles]] (collision p ≈ n²/2⁶⁵).
   *
   * Output is auditable, not bulky: per-doc segment counts plus the
   * md5 of the cleaned text (kept segments re-joined in order).
   */
  def segmentDedup(docs: DataFrame, segments: Column, minDocFreq: Int,
      delim: String = " "): DataFrame = {
    val segged = docs.select(col("doc_id"), segments.as("segs"))
    val boiler = segged
      .select(col("doc_id"),
        explode(call_function("graft_seg_hashes", col("segs"))).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > minDocFreq)
      .agg(sort_array(coalesce(collect_set(col("h")),
        array().cast("array<bigint>"))).as("boiler"))
    segged
      .crossJoin(broadcast(boiler))
      .withColumn("_s",
        call_function("graft_seg_strip", col("segs"), col("boiler"),
          lit(delim)))
      .select(col("doc_id"),
        col("_s.n_segments").as("n_segments"),
        col("_s.n_removed").as("n_removed"),
        md5(col("_s.clean")).as("clean_md5"))
  }

  /** Correctness gate: 2-word chunks, boilerplate = chunks in more
    * than 20 distinct docs (the synthetic vocabulary is small enough
    * that common bigram chunks genuinely recur across documents). */
  def segmentDedupQuery(spark: SparkSession, sfDir: String): DataFrame =
    segmentDedup(Tables.load(spark, sfDir, "documents"),
      wordChunks(col("text"), 2), minDocFreq = 20)
      .orderBy(col("doc_id"))

  /** Line-granularity gate for the PRODUCTION segmenter: the synthetic
    * corpus has no newlines, so web-page-shaped docs are synthesized in
    * SQL-replayable form — each doc's prose plus three boilerplate
    * lines (a global banner, a per-source footer, a per-lang tag), the
    * exact shape CCNet-style line dedup exists for. [[lineSegments]]
    * splits on '\n', boilerplate = lines in more than 20 distinct docs
    * (the injected banner/footer/tag lines; prose survives unless the
    * doc itself is a mass duplicate), keepers re-join with '\n'. */
  def lineDedupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val lined = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), concat_ws("\n",
        col("text"),
        lit("subscribe to our newsletter"),
        concat(lit("source: "), col("source")),
        concat(lit("lang: "), col("lang"))).as("text"))
    segmentDedup(lined, lineSegments(col("text")), minDocFreq = 20,
      delim = "\n")
      .orderBy(col("doc_id"))
  }

  /**
   * Exact duplicated-substring SPANS (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better", adapted to word
   * granularity): every maximal span whose k-word grams each occur in
   * more than `minDf` OTHER distinct documents, found by merging
   * overlapping/adjacent duplicated-gram intervals per document
   * (gaps-and-islands). Whole-doc / segment dedup remove exact copies
   * of FIXED units; span dedup localizes arbitrary-boundary
   * duplication — licence blocks, quoted paragraphs, templated
   * intros — for surgical removal rather than whole-doc drops.
   * (Within-one-doc self-repetition is the complement, handled by the
   * Gopher repetition gates in [[Curation]].)
   *
   * Scale shape (100 TB): the only wide exchanges carry
   * (60-bit md5-prefix gram key, doc_id, pos) triples — never text.
   * DF counting is a partially-aggregated groupBy on the 8-byte key;
   * the duplicated-key set is NOT small by construction (unlike
   * [[segmentDedup]]'s boilerplate set), so it stays distributed and
   * rejoins the gram stream with a hash-partitioned left-semi join on
   * the same key (co-partitioned with the groupBy — one shuffle
   * reused). Interval merging is a per-doc window, partition-bounded
   * by doc length (no skew); output rows ∝ duplication found, not
   * corpus size. The md5-prefix key (not fnv/xxhash) is what lets the
   * DuckDB oracle replay gram identity exactly.
   */
  def dupSpans(docs: DataFrame, k: Int = 5, minDf: Int = 1): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        posexplode(call_function("graft_ngrams", col("text"), lit(k)))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val dup = grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > minDf)
      .select(col("h"))
    val starts = grams.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"),
        (col("pos") + lit(k.toLong - 1L)).as("end"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMax = max(col("end"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    starts
      .withColumn("new_span",
        when(prevMax.isNull || col("pos") > prevMax + 1L, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("new_span"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("span_start"), max(col("end")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_words"))
  }

  /** Correctness gate: 5-word grams duplicated across ≥2 distinct
    * docs; exact duplicate docs surface as whole-doc spans, shared
    * phrases as partial spans. Fully hash-gated — the oracle replays
    * gram extraction, md5-prefix keys, DF filter, and the island
    * merge window-for-window. */
  def dupSpansQuery(spark: SparkSession, sfDir: String): DataFrame =
    dupSpans(Tables.load(spark, sfDir, "documents"), k = 5, minDf = 1)
      .orderBy(col("doc_id"), col("span_start"))

  /**
   * Surgical removal pass over [[dupSpans]]: strip every word inside
   * a duplicated span and re-emit each document's surviving prose —
   * the second half of the Lee et al. pipeline (localize, THEN cut).
   * Documents whose every word sits in a span (whole-doc duplicates)
   * disappear from the output by construction; documents with no
   * spans pass through intact.
   *
   * Scale shape: span positions expand to (doc_id, pos) rows — volume
   * ∝ duplication found, not corpus size — and anti-join the token
   * stream on (doc_id, pos), hash-partitioned; the re-assembly is a
   * per-doc sort inside groupBy (bounded by doc length). Output
   * carries the surviving-word count and an md5 of the re-joined
   * prose, so the gate proves byte-exact reconstruction.
   */
  def dupSpanStrip(docs: DataFrame, k: Int = 5, minDf: Int = 1)
      : DataFrame = {
    val spans = dupSpans(docs, k, minDf)
    val pos = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("word"))
    val dupPos = spans.select(col("doc_id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    pos.join(dupPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")))).as("clean_md5"))
  }

  /** Correctness gate for [[dupSpanStrip]] (5-word grams, df > 1). */
  def dupSpanStripQuery(spark: SparkSession, sfDir: String): DataFrame =
    dupSpanStrip(Tables.load(spark, sfDir, "documents"), k = 5,
      minDf = 1).orderBy(col("doc_id"))

  /** Window-dedup keep-first: the generic "keep one row per key"
    * operator (also the ACID resolve primitive). */
  def keepFirst(df: DataFrame, key: Seq[String], order: Column): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /**
   * Connected components by min-label propagation: every node starts
   * labelled with its own id; each round a node takes the minimum of
   * its own label and its neighbours' labels, until a fixpoint. The
   * component id is the minimum node id in the component —
   * deterministic, so the result is oracle-comparable.
   *
   * Scale: pair-dedup edge sets are tiny relative to the corpus (edges
   * exist only between near-dups) and component diameters are small
   * (dup clusters are dense), so the round count stays low; each round
   * is one edge⋈label join + one partial-aggregated min — and exactly
   * ONE Spark job: the changed-row count rides the materialization job
   * as an `observe` metric instead of a second driver-blocking
   * `count()`, and lineage is cut by the same materialization.
   * `checkpointDir` selects the cut: a reliable store path (HDFS/S3 on
   * a cluster — survives executor loss, ping-pong between two
   * subdirectories so storage stays bounded at two label generations)
   * or, by default, executor-local `localCheckpoint` (fine for the
   * single-JVM harness). `maxIters` bounds the worst case (a path
   * graph).
   *
   * @param edges (a, b) node-id pairs, undirected (either orientation)
   * @param nodes (id) — all node ids; isolated nodes become singletons
   * @param checkpointDir reliable per-round checkpoint location; None →
   *        executor-local checkpoints
   */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    def cut(df: DataFrame, name: String): DataFrame = checkpointDir match {
      case Some(dir) =>
        val p = s"$dir/$name"
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      case None => df.localCheckpoint()
    }
    val sym = cut(edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct(), "sym")
    var labels = cut(nodes.select(col("id"), col("id").as("label")),
      "labels_0")
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("label")), Seq("b"))
        .groupBy(col("a")).agg(min(col("label")).as("nbr_label"))
      // carry the incoming label as _old so the convergence signal can
      // be computed inline, inside the materialization job
      val viaNbr = labels
        .join(nbrMin.select(col("a").as("id"), col("nbr_label")),
          Seq("id"), "left")
        .select(col("id"), col("label").as("_old"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
      // pointer jumping: also adopt the label OF the current label
      // (label chains halve every round → O(log n) rounds on paths,
      // where pure neighbour propagation needs O(diameter))
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$it")
      val next = viaNbr
        .join(viaNbr.select(col("id").as("label"),
          col("label").as("_parent")), Seq("label"), "left")
        .select(col("id"), col("_old"),
          least(col("label"), coalesce(col("_parent"), col("label")))
            .as("label"))
        .observe(obs,
          sum(when(col("label") =!= col("_old"), 1L).otherwise(0L))
            .as("changed"))
        .drop("_old")
      // ping-pong between two generations in reliable mode (labels_1 /
      // labels_2) so old rounds don't accumulate in the store
      labels = cut(next, s"labels_${it % 2 + 1}")
      val changed =
        Option(obs.get("changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
      converged = changed == 0
      it += 1
    }
    // silent partial labels would mislabel clusters with no signal —
    // fail loudly instead (raise maxIters; with pointer jumping the
    // bound is logarithmic, so exhaustion means something is wrong)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations")
    labels
  }

  /** (id, label) for every document — connected components over the
    * [[ngramJaccard]] ≥ 0.5 pair graph. Like [[Similarity.buildIndex]],
    * the labelling is an offline artifact, a store built once per
    * corpus; the two cluster-level queries share it instead of
    * re-running the pair graph + propagation. It is served from
    * parquet (like the media feature store), so no executor storage
    * stays pinned for the JVM lifetime, unlike holding the
    * localCheckpoint-backed frame itself. */
  def clusterLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val store = graft.StoreCatalog.pathStore("dup_clusters@v1", sfDir) { d =>
      val docs = Tables.load(spark, sfDir, "documents")
      val pairs = ngramJaccard(docs, maxShingleDf = 1000)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      connectedComponents(pairs, docs.select(col("doc_id").as("id")))
        .write.mode("overwrite").parquet(s"$d/labels")
    }
    spark.read.parquet(s"$store/labels")
  }

  /**
   * Duplicate-cluster assignment: connected components over the
   * near-dup pair graph ([[ngramJaccard]] ≥ 0.5), every document
   * labelled with its cluster id (= min doc_id reachable through dup
   * edges; non-duplicated docs are their own singleton cluster) and
   * the cluster size. This is the step that turns pairwise dedup
   * output into a keep-one-per-cluster decision — pairs alone
   * under-delete when dups chain (A≈B, B≈C but A≉C).
   */
  def dupClustersQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cc = clusterLabels(spark, sfDir)
    val sizes = cc.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    cc.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("n_members"))
      .orderBy(col("doc_id"))
  }

  /**
   * Canonical-document selection per duplicate cluster: for every
   * multi-member cluster from [[dupClustersQuery]]'s graph, keep the
   * longest member (token count, ties to the lower doc_id) — the
   * standard "best representative" policy once pairwise dedup has been
   * clustered. Singletons are excluded (nothing to choose). One window
   * over the (tiny) clustered subset; the corpus-wide work is the same
   * near-dup graph the cluster query builds.
   */
  def clusterCanonicalQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val cc = clusterLabels(spark, sfDir)
    val sizes = cc.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    val toks = docs.select(col("doc_id").as("id"),
      size(split(col("text"), " ")).as("n_tok"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("n_tok").desc, col("id"))
    cc.join(sizes, Seq("label"))
      .join(toks, Seq("id"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("label").as("cluster_id"), col("id").as("keep_doc_id"),
        col("n_tok").as("keep_n_tok"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /**
   * Exact set-similarity join with PREFIX FILTERING (Chaudhuri et al.
   * 2006 / Xiao et al. PPJoin, WWW 2008): all document pairs with
   * SHINGLE-set Jaccard ≥ t, WITHOUT the all-pairs scan. Elements are
   * word 3-gram shingles, not unigram tokens, and that choice is
   * load-bearing: prefix filtering only prunes when rarity EXISTS —
   * over a degenerate ~40-word vocabulary every token is hot, every
   * prefix posting list is corpus-sized, and candidate generation
   * collapses to the all-pairs join it was built to avoid (measured:
   * 229 s at sf0.1 on unigrams vs seconds on shingles). Shingling
   * manufactures a heavy-tailed element space from any text — the
   * standard PPJoin-for-text deployment.
   *
   * Shingles get a global rarity order (df asc, shingle asc); each
   * document indexes only its first |d| − ⌈t·|d|⌉ + 1 rarest — the
   * classical prefix bound guarantees any pair with J ≥ t shares a
   * prefix element, so candidates come from an inverted-index join
   * on PREFIXES only. Candidates verify with exact integer
   * arithmetic: J ≥ 1/2 ⟺ 2·|∩| ≥ |∪| — no float threshold anywhere,
   * so the engine's PRUNED search provably equals the oracle's
   * EXHAUSTIVE scan, which is exactly what the gate checks.
   */
  def setSimJoinQuery(spark: SparkSession, sfDir: String): DataFrame =
    setSimJoinOver(Tables.load(spark, sfDir, "documents"))

  /** [[setSimJoinQuery]] over an explicit documents frame.
    *
    * Two further PPJoin devices keep the candidate stage sub-
    * quadratic on hot corpora: (1) shingle sets travel as xxhash64
    * LONGS (the q_dedup_segments string↔hash equivalence, p ≈ n²/2⁶⁵)
    * so posting rows are 8 bytes and verify intersections compare
    * longs; (2) the SIZE filter — J ≥ 1/2 forces min(|a|,|b|) ≥
    * ½·max(|a|,|b|) — prunes candidates at the index join, before
    * any set ships. */
  def setSimJoinOver(docs: DataFrame): DataFrame = {
    // t = 1/2 carried as the integer pair (2, 1) — see verify step.
    // The hashed-shingle frame is the algorithm's base working set —
    // posting build, rarity sort, and BOTH verify sides read it — so
    // it is pinned once (the materialized shingle store a production
    // PPJoin keeps anyway) instead of re-running the shingle kernel
    // per consumer.
    val sets = docs.select(col("doc_id"),
        hashedShingles(col("text")).as("set"))
      .tracked()
    val df_ = sets.select(col("doc_id"), explode(col("set")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // rarity-sorted element array per doc: sort_array over (df, term)
    // structs — ANY deterministic global total order preserves the
    // prefix-bound completeness guarantee
    val sorted = sets
      .select(col("doc_id"), explode(col("set")).as("term"))
      .join(df_, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("term"))))
        .as("ord"))
      .select(col("doc_id"),
        expr("transform(ord, s -> s.term)").as("toks"))
    // ⌈t·|d|⌉ at t = 1/2 computed in integers: (|d| + 1) div 2
    val prefixLen = (size(col("toks")) -
      ((size(col("toks")) + 1) / 2).cast("int") + 1)
    // both sides of the candidate self-join read the prefix index —
    // pin it so the rarity-sort lineage runs once
    val prefixes = sorted.select(col("doc_id"),
        size(col("toks")).cast("long").as("sz"),
        explode(slice(col("toks"), lit(1), prefixLen)).as("term"))
      .tracked()
    val cands = prefixes.as("a")
      .join(prefixes.as("b"), col("a.term") === col("b.term") &&
        col("a.doc_id") < col("b.doc_id") &&
        // size filter: 2·min >= max, exact integers
        col("a.sz") <= col("b.sz") * 2 &&
        col("b.sz") <= col("a.sz") * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val setsA = sets.select(col("doc_id").as("doc_a"),
      col("set").as("set_a"))
    val setsB = sets.select(col("doc_id").as("doc_b"),
      col("set").as("set_b"))
    cands.join(setsA, Seq("doc_a")).join(setsB, Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("uni", (size(col("set_a")) + size(col("set_b")))
        .cast("long") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
        fr(col("inter").cast("double") / col("uni").cast("double"),
          6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /**
   * Incremental-crawl novelty curve: as batches of documents arrive,
   * what fraction of each batch is content never seen before? The
   * operational readout of [[dedupIncremental]]'s premise — crawl
   * yield DECAYS as the frontier re-visits, and the curve is what
   * decides when a source is exhausted. Arrival order rides doc_id
   * (the corpus has no ingest timestamp); batch = doc_id div
   * `batchSize`. A document is novel iff its content digest's FIRST
   * occurrence (min doc_id corpus-wide — [[exactQuery]]'s keeper
   * rule) falls on it; everything else in the batch is re-crawled
   * mass.
   *
   * Shape at 100 TB: text reduces to md5 at the scan; one
   * digest-keyed min-agg (map-side partial) + one digest join back —
   * digest-only exchanges — then a batch-count fold. The curve is
   * batches-sized, and novel_micro is one exact integer division.
   */
  def noveltyCurveQuery(spark: SparkSession, sfDir: String,
      batchSize: Long = 50L): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), expr(s"doc_id div $batchSize")
        .as("batch"), md5(col("text")).as("fp"))
    val firstSeen = docs.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_doc"))
    docs.join(firstSeen, Seq("fp"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("first_doc"), 1L)
          .otherwise(0L)).as("novel_docs"))
      .withColumn("novel_micro",
        expr("CAST(novel_docs * 1000000 div n_docs AS BIGINT)"))
      .select(col("batch"), col("n_docs"), col("novel_docs"),
        col("novel_micro"))
      .orderBy(col("batch"))
  }

  /**
   * Content-defined chunking (the rsync/LBFS primitive — Muthitacharoen
   * et al., SOSP 2001): split each document at ROLLING-HASH boundaries
   * so chunk identity survives insertions and deletions — the
   * storage-dedup complement to the span/segment detectors above,
   * which find shared content but do not define stable storage units.
   * A position ends a chunk when the polynomial hash of the 8-char
   * window before it satisfies H ≡ 0 (mod 64), giving ~64-char
   * expected chunks whose boundaries move only locally under edits.
   *
   * Engine-exactness: the boundary rule is position-INDEPENDENT (no
   * min/max-chunk state), so both engines evaluate it as a pure
   * per-position map — no recursion, no sequential fold:
   * H_i = Σ_{j=0..7} code(s[i+j])·31^j as exact BIGINTs (max ≈ 7·10¹²,
   * far under 2⁶³), cut points via one array filter, chunks via
   * zip_with over the shifted cut list. Fingerprint = md5 of the
   * chunk text, identical in both engines.
   *
   * Shape at 100 TB: chunking is a document-local projection (the
   * narrow per-partition decode pattern); only (doc_id, fingerprint,
   * length) triples ever enter an exchange — the digest-only
   * discipline — for one count-by-fingerprint and one join back.
   * The output conserves each document: Σ chunk lengths = len(text),
   * asserted by the spec and hashed by the gate.
   */
  def cdcChunkQuery(spark: SparkSession, sfDir: String): DataFrame =
    cdcChunksOver(Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")))

  /** [[cdcChunkQuery]] over an explicit (doc_id, text) frame — spec
    * entry point. */
  private[graft] def cdcChunksOver(docs: DataFrame): DataFrame = {
    // boundary scan = ONE native pass (graft_cdc_cuts). The pure-HOF
    // formulation (filter∘transform∘sequence with an 8-term
    // ascii(substr) hash) is semantically identical — the oracle
    // still states it that way — but the optimizer inlines the O(L)
    // cut array into every downstream reference and the interpreted
    // lambdas re-substr per position: O(L²) per document, measured
    // 15 s for this gate at sf0.1 vs sub-second with the kernel.
    val chunkRows = docs
      .withColumn("cuts", expr("graft_cdc_cuts(text)"))
      .withColumn("starts",
        expr("concat(array(CAST(0 AS BIGINT)), cuts)"))
      .withColumn("ends",
        expr("concat(cuts, array(CAST(length(text) AS BIGINT)))"))
      .withColumn("chunk", explode(expr(
        """transform(
          |  filter(zip_with(starts, ends,
          |    (s, e) -> named_struct('s', s, 'e', e)),
          |    c -> c.e > c.s),
          |  c -> named_struct(
          |    'start', c.s,
          |    'clen', c.e - c.s,
          |    'fp', md5(substr(text, CAST(c.s + 1 AS INT),
          |      CAST(c.e - c.s AS INT)))))""".stripMargin)))
      .select(col("doc_id"), col("chunk.start").as("start"),
        col("chunk.clen").as("clen"), col("chunk.fp").as("fp"))
    val fpCounts = chunkRows.groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"))
    chunkRows.join(fpCounts, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("n_chars"),
        min(col("clen")).as("min_len"),
        max(col("clen")).as("max_len"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L))
          .as("shared_chunks"),
        sum(when(col("cnt") >= 2, col("clen")).otherwise(0L))
          .as("shared_chars"))
      .orderBy(col("doc_id"))
  }
}
