package graft.operators

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => SqlWindow}

/**
 * Sparse-retrieval operators for training-data pipelines: BM25 scoring
 * (the ranking function behind corpus search / quality-by-relevance
 * selection) and fixed-window chunking with overlap (the RAG /
 * context-window preparation pass).
 *
 * Both are designed scan-shaped for 100 TB: BM25 never builds an
 * inverted index — the query-term frequencies come from ONE native
 * tokenize+probe pass per document ([[graft.functions.VectorKernels.CountInSets]]),
 * corpus statistics (N, avgdl, per-term df) reduce map-side to a single
 * broadcast row, and the only wide operation is the final global top-k
 * (Spark's TakeOrderedAndProject — no full sort). Chunking is a pure
 * codegen'd projection + posexplode: zero shuffle, output streamed.
 */
object Retrieval {

  // BM25 free parameters (Robertson/Sparck Jones convention): k1 = 1.2,
  // b = 0.75. Inlined below as the literals 2.2 (= k1+1), 1.2, 0.25
  // (= 1−b) and 0.75 so the Scala expression tree and the SQL oracle
  // carry the SAME double constants — a compile-time k1+1.0 could round
  // differently from the literal 2.2.

  /**
   * BM25 top-k over the `documents` table for a fixed term query.
   *
   * score(d) = Σ_t ln(1 + (N − df_t + ½)/(df_t + ½)) ·
   *            tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
   *
   * Shape at 100 TB: one narrow kernel scan computes (tf_1..tf_q, dl)
   * per doc; N, avgdl and every df fold into ONE map-side-partial
   * aggregate row that is broadcast back; scoring is a codegen'd
   * projection; the top-k is a bounded-heap TakeOrdered, not a sort.
   * The corpus text never shuffles.
   */
  def bm25Query(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("spark", "query", "table"),
      k: Int = 20): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val tfs = call_function("graft_count_in_sets", col("text"),
      typedLit(terms.map(Seq(_))))
    val perDoc = docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"),
      tfs.as("tfs"))
    // N, total token count, and df per query term in one partial-agg row
    val statAggs =
      count(lit(1)).cast("double").as("n_docs") +:
      sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i =>
        sum((element_at(col("tfs"), i + 1) > 0).cast("long"))
          .cast("double").as(s"df_$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl") / col("n_docs")
    // idf and saturation written in the exact shape the oracle replays:
    // IEEE ops are deterministic given an identical expression tree.
    val score = terms.indices.map { i =>
      val tf = element_at(col("tfs"), i + 1).cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      idf * (tf * 2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score", fr(score, 4))
      .filter(col("score") > 0)
      .select(col("doc_id") +: col("dl").cast("long").as("dl") +:
        terms.indices.map(i =>
          element_at(col("tfs"), i + 1).as(s"tf_$i")) :+
        col("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Chunking free parameters: window (words per chunk) and stride. */
  private val Window = 32
  private val Stride = 24

  /**
   * Fixed word-window chunking with overlap — the RAG / long-document
   * preparation pass. Chunk i covers words [i·stride, i·stride+window);
   * the chunk count is 1 + max(0, ⌈(n − window)/stride⌉), so a document
   * shorter than one window yields exactly one chunk and no chunk is
   * fully contained in its predecessor.
   *
   * Pure projection + posexplode — zero shuffle; at 100 TB each task
   * streams its documents through codegen and emits chunks inline.
   */
  def chunkQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val nChunks = (lit(1) + greatest(lit(0),
      ceil((n - lit(Window)).cast("double") / Stride).cast("int")))
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), toks.as("toks"),
        posexplode(sequence(lit(0), nChunks - 1)))
      .select(
        col("doc_id"),
        col("pos").as("chunk_idx"),
        concat_ws(" ",
          slice(col("toks"), col("pos") * Stride + 1, lit(Window)))
          .as("chunk"))
      .withColumn("n_words", size(split(col("chunk"), " ")))
      .withColumn("chunk_md5", md5(col("chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /**
   * Hybrid sparse+dense retrieval via reciprocal rank fusion (Cormack,
   * Clarke & Büttcher, SIGIR 2009): run the BM25 arm ([[bm25Query]])
   * and a dense cosine arm (each document's embedding, `doc_id` =
   * `vec_id`, scored against the vec-0 query — the q_ann convention)
   * to arm-level top-`armK` lists, then fuse with
   * rrf(d) = Σ_arms 1/(rrfK + rank_arm(d)), a document absent from an
   * arm contributing nothing. RRF needs no score calibration between
   * arms — only ranks — which is why it is the standard production
   * fusion for lexical+vector search.
   *
   * Shape at 100 TB: each arm is its own scan — BM25's kernel pass and
   * the dense cosine projection — reduced by bounded-heap
   * TakeOrderedAndProject to `armK` rows, so the fusion join touches
   * 2·armK rows total regardless of corpus size; the rank windows run
   * over those armK-row lists, never the corpus. All fusion arithmetic
   * is integer-rank reciprocal sums (IEEE-exact both engines), rounded
   * for the gate.
   */
  /** The BM25 arm as a ranked list `(doc_id, sparse_rank)` — shared
    * by [[rrfFusionQuery]] and [[retrievalEvalQuery]] so the fusion
    * and its evaluation can never rank differently. */
  private[graft] def sparseArm(spark: SparkSession, sfDir: String,
      terms: Seq[String], armK: Int): DataFrame =
    bm25Query(spark, sfDir, terms, armK)
      .select(col("doc_id"), col("score"))
      .withColumn("sparse_rank", row_number().over(
        SqlWindow.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("sparse_rank"))

  /** The dense-cosine arm as a ranked list `(doc_id, dense_rank)`
    * (vec-0 query, the q_ann convention) — shared like
    * [[sparseArm]]. */
  private[graft] def denseArm(spark: SparkSession, sfDir: String,
      armK: Int): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    emb.crossJoin(broadcast(qv))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("q_emb"), col("embedding")), 4))
      .select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(armK)
      .withColumn("dense_rank", row_number().over(
        SqlWindow.orderBy(col("cos_sim").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
  }

  /** RRF fusion over ALREADY-BUILT arm rankings — the shared core of
    * [[rrfFusionQuery]] and [[retrievalEvalQuery]], so the eval never
    * re-derives the arms it is grading. */
  private[graft] def fuseArms(sparse: DataFrame, dense: DataFrame,
      k: Int, rrfK: Int): DataFrame =
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", fr(
        coalesce(lit(1.0) / (lit(rrfK) + col("sparse_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)), 6))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("sparse_rank"), col("dense_rank"),
        col("rrf_score"))

  def rrfFusionQuery(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("spark", "query", "table"),
      armK: Int = 50, k: Int = 20, rrfK: Int = 60): DataFrame =
    fuseArms(sparseArm(spark, sfDir, terms, armK),
      denseArm(spark, sfDir, armK), k, rrfK)

  /** DCG rank-discount table: 1/log2(1+r) for r = 1..10 as LITERAL
    * doubles, inlined identically in the oracle SQL (the
    * q_adamic_adar3 precedent) — a computed log2 could round
    * differently across engines; a shared literal table cannot. */
  private[graft] val DcgWeights: Seq[Double] = Seq(
    1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
    0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
    0.31546487678572877, 0.3010299956639812, 0.2890648263178879)

  /**
   * Retrieval-evaluation harness — nDCG@k, MRR@k, recall@k for the
   * three retrieval arms the engine serves (BM25 sparse, dense
   * cosine, RRF fusion), the eval twin of `q_pr_curve` for the
   * ranking family: PR curves grade CLASSIFIERS, this grades RANKED
   * LISTS against graded relevance judgments.
   *
   * Qrels are id-derived (the gate's determinism requirement, not a
   * production property — production joins a labeled qrels table in
   * exactly this shape): grade 3 iff doc_id ≡ 0 (mod 97), else 2 iff
   * ≡ 0 (mod 41), else 1 iff ≡ 0 (mod 13), else 0; the recall
   * denominator counts rel>0 over the DOCUMENT corpus (the searched
   * universe — the dense arm is structurally penalized where
   * embedding coverage lags the corpus, as a real eval would show).
   *
   * Exactness: gains are the integers 2^rel − 1 ∈ {0,1,3,7}; each
   * rank's gain·weight contribution rounds to 6 dp and sums as
   * DECIMAL (order-free), transported as a digit string; IDCG@k
   * unrolls the ideal ranking from the corpus grade counts through
   * the same literal table; nDCG/MRR/recall are single DOUBLE
   * divisions of identical expression trees.
   *
   * Shape at 100 TB: the arms are the scan-shaped part (bounded-heap
   * top-armK, corpus text never shuffles — [[bm25Query]]'s
   * properties); everything downstream of the arms touches ≤ 3k
   * rows + one grade-count row, metadata-sized at any corpus scale.
   */
  def retrievalEvalQuery(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("spark", "query", "table"),
      armK: Int = 50, k: Int = 10, rrfK: Int = 60): DataFrame = {
    require(k <= DcgWeights.length, s"k=$k exceeds the literal table")
    // the arm frames are built ONCE and feed both their own eval list
    // and the fusion (identical subtrees → one exchange each; calling
    // rrfFusionQuery here would rebuild both corpus scans)
    val sparseRanks = sparseArm(spark, sfDir, terms, armK)
    val denseRanks = denseArm(spark, sfDir, armK)
    val sparse = sparseRanks
      .select(lit("sparse").as("arm"), col("doc_id"),
        col("sparse_rank").as("rank"))
    val dense = denseRanks
      .select(lit("dense").as("arm"), col("doc_id"),
        col("dense_rank").as("rank"))
    val fused = fuseArms(sparseRanks, denseRanks, k, rrfK)
      .withColumn("rank", row_number().over(
        SqlWindow.orderBy(col("rrf_score").desc, col("doc_id"))))
      .select(lit("rrf").as("arm"), col("doc_id"), col("rank"))
    val lists = sparse.unionByName(dense).unionByName(fused)
      .filter(col("rank") <= k)
    evalLists(spark, sfDir, lists, k)
  }

  /** The qrels-grading core of [[retrievalEvalQuery]] (nDCG@k, MRR@k,
    * recall@k over `(arm, doc_id, rank ≤ k)` lists) — factored out so
    * [[indexEvalQuery]] can grade the standing index's served lists
    * through the IDENTICAL metric tree. */
  private[graft] def evalLists(spark: SparkSession, sfDir: String,
      lists: DataFrame, k: Int): DataFrame = {
    require(k <= DcgWeights.length, s"k=$k exceeds the literal table")
    def grade(id: Column): Column =
      when(id % 97 === 0, 3L).when(id % 41 === 0, 2L)
        .when(id % 13 === 0, 1L).otherwise(0L)
    def gain(g: Column): Column =
      when(g === 3, 7.0).when(g === 2, 3.0).when(g === 1, 1.0)
        .otherwise(0.0)
    val w = element_at(typedLit(DcgWeights), col("rank"))
    val perArm = lists
      .withColumn("rel", grade(col("doc_id")))
      .groupBy(col("arm"))
      .agg(
        sum(fr(gain(col("rel")) * w, 6).cast("decimal(20,6)"))
          .as("dcg_dec"),
        min(when(col("rel") > 0, col("rank"))).as("first_rel"),
        sum((col("rel") > 0).cast("long")).as("n_hits"))
    // corpus grade counts -> ideal DCG@k via the same literal table
    // (one row; the k-term chain is a fixed left-assoc double sum of
    // 6dp-rounded terms, IEEE-identical in the oracle)
    val counts = Tables.load(spark, sfDir, "documents")
      .select(grade(col("doc_id")).as("rel"))
      .agg(sum((col("rel") === 3).cast("long")).as("c3"),
        sum((col("rel") === 2).cast("long")).as("c2"),
        sum((col("rel") === 1).cast("long")).as("c1"))
    // each ideal term rounds to 6dp and CASTS TO DECIMAL before the
    // sum (exact decimal addition — the q_lm_ppl rule; summing the
    // doubles first would put a float total under a scale-6 cast)
    val idealTerm: Int => Column = r => fr(
      when(lit(r) <= col("c3"), 7.0)
        .when(lit(r) <= col("c3") + col("c2"), 3.0)
        .when(lit(r) <= col("c3") + col("c2") + col("c1"), 1.0)
        .otherwise(0.0) * lit(DcgWeights(r - 1)), 6)
      .cast("decimal(20,6)")
    val ideal = counts.select(
      (1 to k).map(idealTerm).reduce(_ + _)
        .cast("decimal(20,6)").as("idcg_dec"),
      (col("c3") + col("c2") + col("c1")).as("total_rel"))
    perArm.crossJoin(broadcast(ideal))
      .select(col("arm"),
        col("dcg_dec").cast("string").as("dcg"),
        col("idcg_dec").cast("string").as("idcg"),
        fr(col("dcg_dec").cast("double") /
          col("idcg_dec").cast("double"), 6).as("ndcg"),
        coalesce(fr(lit(1.0) / col("first_rel"), 6), lit(0.0))
          .as("mrr"),
        col("n_hits"), col("total_rel"),
        fr(col("n_hits").cast("double") /
          col("total_rel").cast("double"), 6).as("recall"))
      .orderBy(col("arm"))
  }

  /**
   * All-pairs sparse document similarity: TF-IDF-weighted,
   * L2-normalized cosine over the DISCRIMINATIVE vocabulary
   * (df ≤ `maxDf`), pairs generated through a term-inverted index —
   * the sparse twin of the dense ANN family in
   * [[graft.operators.Similarity]], and the classic "more-like-this"
   * pair miner.
   *
   * The df cap is the skew guard that makes the inverted-index
   * self-join scale: a stopword-grade term with df = d would emit
   * d²/2 candidate pairs, so terms above the cap are purged BEFORE
   * the join (mirrored in the oracle — the cap defines the
   * vocabulary, it is not an approximation of it). Each surviving
   * posting list is ≤ maxDf long, so the term-keyed shuffle carries
   * bounded lists and the pair explosion is ≤ maxDf²/2 per term
   * regardless of corpus size. The [[graft.operators.Dedup]] n-gram
   * Jaccard miner uses the same discipline.
   *
   * Exactness: per-term products and squared weights round to
   * 10/8 dp and sum as DECIMAL (order-free, the q_lm_ppl rule), so
   * the distributed sums match DuckDB's single-threaded ones
   * bit-for-bit; norms and the final cosine are IEEE-identical
   * expression trees.
   */
  def sparseCosineQuery(spark: SparkSession, sfDir: String,
      maxDf: Int = 50, k: Int = 20): DataFrame =
    sparseCosineOver(Tables.load(spark, sfDir, "documents"), maxDf, k)

  /** [[sparseCosineQuery]] over an explicit documents frame (spec
    * entry point for hand-built corpora). */
  def sparseCosineOver(docs: DataFrame,
      maxDf: Int = 50, k: Int = 20): DataFrame = {
    val nDocs = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val w = tf.join(broadcast(dfTab), Seq("term"))
      .withColumn("w", col("tf").cast("double") *
        log(lit(nDocs.toDouble) / col("df").cast("double")))
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(fr(col("w") * col("w"), 8)
        .cast("decimal(30,8)")).cast("double")).as("norm"))
    val wn = w.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("term"),
        (col("w") / col("norm")).as("wn"))
    wn.as("a")
      .join(wn.as("b"), col("a.term") === col("b.term") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        fr(col("a.wn") * col("b.wn"), 10)
          .cast("decimal(20,10)").as("p"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("p")).as("s"), count(lit(1)).as("shared_terms"))
      .select(col("doc_a"), col("doc_b"), col("shared_terms"),
        fr(col("s").cast("double"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /**
   * Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
   * diversified top-k retrieval — greedily pick the candidate
   * maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), so the result
   * set trades raw relevance for coverage (the dedup-at-serving-time
   * every RAG stack bolts onto its retriever; without it the context
   * window fills with near-copies of the best hit).
   *
   * λ = 0.7, k = 5 over the top-20 cosine candidates for query
   * vector 0 (self excluded). Determinism: rel and pair sims round to
   * 4 dp BEFORE any greedy decision, each step's score rounds to 4 dp,
   * ties break by vec_id — both engines make identical picks.
   *
   * Shape at 100 TB: the RELEVANCE pass is the scan-shaped part — one
   * narrow scoring sweep over the corpus with a bounded top-20
   * (TakeOrdered, no global sort). The greedy then runs on the
   * 20-candidate working set (20 rel values + 190 pair sims), which is
   * driver-side MODEL material: its size is set by the candidate
   * budget, not the corpus — identical at every scale. The oracle
   * replays all 5 steps as unrolled CTEs (the q_set_cover pattern).
   */
  def mmrQuery(spark: SparkSession, sfDir: String,
      lambda: Double = 0.7, k: Int = 5, pool: Int = 20): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val cands = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        // floor-form, not library round: rel feeds the greedy picks
        // and the oracle's round() could diverge on a tie input
        VectorOps.foldRound(
          VectorOps.cosine(col("q_emb"), col("embedding")), 4).as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(pool)
      .collect()
    def r4(x: Double): Double =
      graft.functions.VectorOps.foldRound(x, 4)
    // driver-side pair sims over the fixed-size pool: the same
    // sequential double fold as list_dot_product / VectorOps.cosine
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val vecs = cands.map(r => (r.getLong(0), r.getDouble(1),
      r.getSeq[Float](2).toArray.map(_.toDouble)))
    val sim = vecs.map { case (ia, _, va) =>
      ia -> vecs.map { case (ib, _, vb) =>
        ib -> r4(dot(va, vb) /
          (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))))
      }.toMap
    }.toMap
    var selected = Vector.empty[(Int, Long, Double, Double)]
    var remaining = vecs.map { case (id, rel, _) => (id, rel) }.toVector
    for (rank <- 1 to k) {
      val scored = remaining.map { case (id, rel) =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map { case (_, sid, _, _) => sim(id)(sid) }.max
        (id, rel, r4(lambda * rel - (1 - lambda) * maxSim))
      }
      val (bid, brel, bscore) =
        scored.minBy { case (id, _, s) => (-s, id) }
      selected :+= ((rank, bid, brel, bscore))
      remaining = remaining.filterNot(_._1 == bid)
    }
    import spark.implicits._
    selected.toDF("rank", "vec_id", "rel", "score")
      .select(col("rank").cast("int").as("rank"), col("vec_id"),
        col("rel"), col("score"))
      .orderBy(col("rank"))
  }

  /**
   * BM25 hard-negative mining — the contrastive-training data pass:
   * each query is a document's own lead terms (the standard
   * query-from-doc weak supervision), its positive is the document
   * itself, and the negatives are the top-scoring OTHER documents —
   * lexically close non-matches, exactly what embedding training
   * needs beyond random negatives.
   *
   * Unlike [[bm25Query]]'s fixed-literal term probe, the query
   * vocabulary here is data-dependent, so scoring runs as an
   * inverted-index join: corpus tokens semi-join the (small,
   * broadcast) query vocabulary — every non-query token dies AT THE
   * SCAN — then tf/df reduce map-side. Per-term score contributions
   * round to 6 dp and sum as DECIMAL (order-free; the double-sum
   * order hazard), and ranks break ties on doc_id.
   *
   * Shape at 100 TB: the corpus never shuffles text — only (doc_id,
   * term-hashable token) rows that survive the broadcast semi-join;
   * the per-query ranking window is partitioned by query over the
   * scored candidates only. Score transports as a digit string
   * (DECIMAL-in-hash discipline, PROBES.md).
   */
  def hardNegativesQuery(spark: SparkSession, sfDir: String,
      nQueries: Int = 5, qTerms: Int = 6, k: Int = 5): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val queries = docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"),
        explode(slice(array_distinct(split(col("text"), " ")), 1,
          qTerms)).as("term"))
    val vocab = queries.select(col("term")).distinct()
    // tracked: tf feeds both the df census and the contribution join —
    // unpinned, the full-corpus term explode runs twice (r18)
    val tf = graft.operators.CacheBin.track(docs
      .select(col("doc_id"), explode(split(col("text"), " "))
        .as("term"))
      .join(broadcast(vocab), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf")))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    // per-(query, doc, term) contribution in the exact bm25Query
    // literal shape, 6dp-rounded then DECIMAL-summed per (query, doc)
    val contrib = queries
      .join(tf, Seq("term"))
      .join(broadcast(df), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("c", fr(
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)) *
        (col("tf") * 2.2) / (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6)
        .cast("decimal(20,6)"))
    // tracked: read by the positive-score pick AND the ranked negatives
    val scored = graft.operators.CacheBin.track(
      contrib.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("c")).cast("decimal(38,6)").as("score")))
    val pos = scored.filter(col("query_id") === col("doc_id"))
      .select(col("query_id"),
        col("score").cast("string").as("pos_score"))
    val w = SqlWindow.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.filter(col("query_id") =!= col("doc_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(broadcast(pos), Seq("query_id"))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id").as("neg_doc_id"),
        col("score").cast("string").as("neg_score"), col("pos_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------- standing inverted index

  /** Posting shard count: term → shard = xxhash64(term) mod NShards.
    * At 100 TB this is thousands; 16 keeps the gate corpus from
    * degenerating to one file per shard while still proving pruning. */
  private val NShards = 16L

  /**
   * One index segment from a document slice: sharded postings
   * (term, doc_id, tf, dl — dl denormalized so serving never joins a
   * corpus-sized doc-length table), sharded per-term document
   * frequencies, and one additive stats row (n_docs, sum_dl as exact
   * longs). Postings sort within files by (term, tf desc) — the
   * impact-ordered layout that lets a scoring scan early-terminate
   * per term once tf-driven upper bounds fall below the heap floor.
   *
   * `mode = "append"` writes a DELTA segment: postings/dfs land in
   * the same shard directories and stats appends a row — serving
   * aggregates across segments (df and stats are additive), so an
   * index grows by appending segments, never by rebuilding (the
   * minhash_append pattern applied to postings).
   */
  /** Posting-block length for the block-max metadata (r18, VERDICT
    * r17 #4): per (term, block of ≤ BlockB impact-ordered postings)
    * the segment stores (max_tf, min_dl) — the exact upper-bound
    * inputs WAND pruning needs. 128 keeps block rows ~1/128 of
    * posting rows and aligns with parquet row-group min/max on
    * block_id for physical skipping at scale. */
  private val BlockB = 128

  private[graft] def writeIndexSegment(docs: DataFrame, dir: String,
      mode: String): Unit = {
    val post = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      // block_id numbers each term's postings in impact order
      // (tf desc, doc_id tiebreak): block 0 is the term's
      // highest-impact slice — the heap-floor seed at serve time
      .withColumn("block_id",
        ((row_number().over(SqlWindow.partitionBy(col("term"))
          .orderBy(col("tf").desc, col("doc_id"))) - 1) / BlockB)
          .cast("int"))
      .withColumn("shard", pmod(xxhash64(col("term")), lit(NShards)))
    post.repartition(col("shard"))
      .sortWithinPartitions(col("term"), col("tf").desc)
      .write.mode(mode).partitionBy("shard").parquet(s"$dir/postings")
    post.groupBy(col("shard"), col("term"))
      .agg(count(lit(1)).as("df"))
      .write.mode(mode).partitionBy("shard").parquet(s"$dir/dfs")
    // block-max metadata: the score upper bound for any posting in a
    // block is monotone in tf (up) and dl (down), so (max_tf, min_dl)
    // bound every doc the block can contain
    post.groupBy(col("shard"), col("term"), col("block_id"))
      .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"),
        count(lit(1)).as("n_postings"))
      .write.mode(mode).partitionBy("shard").parquet(s"$dir/blocks")
    docs.agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_dl"))
      .write.mode(mode).parquet(s"$dir/stats")
  }

  /** Standing full-corpus index (one segment), built once per corpus
    * and persisted across JVMs via the store catalog (v2 layout =
    * block-max metadata). */
  def buildInvIndex(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("inv_index@v2", sfDir) { d =>
      writeIndexSegment(Tables.load(spark, sfDir, "documents"), d,
        "overwrite")
    }

  /** Standing index grown INCREMENTALLY: a base segment over the
    * non-delta docs, then the delta slice (doc_id mod 4 = 3, the
    * corpus-wide append convention) appended as a second segment —
    * no rebuild touches base postings. */
  def buildInvIndexAppended(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("inv_index_app@v2", sfDir) { d =>
      val docs = Tables.load(spark, sfDir, "documents")
      val isNew = pmod(col("doc_id"), lit(4L)) === 3L
      writeIndexSegment(docs.filter(!isNew), d, "overwrite")
      writeIndexSegment(docs.filter(isNew), d, "append")
    }

  /**
   * Serve a BM25 top-k from a standing index — the repeated-query
   * path [[bm25Query]]'s scan shape is wrong for: per query it reads
   * ONLY the posting shards of the query terms (partition-pruned,
   * plan-asserted in PlanSpec), touches only candidate docs (those
   * containing ≥ 1 term — never a corpus scan), and aggregates
   * per-term tf with exact-zero padding so the scoring expression is
   * the SAME IEEE tree as the scan-shaped query: identical doubles,
   * identical top-k, oracle-replayable.
   *
   * df / n_docs / avgdl aggregate across segments at serve time
   * (additive longs → exact doubles), so an appended index serves
   * identically to a rebuilt one. Stats and per-term dfs are
   * model-sized driver material (|terms| values + one row).
   */
  /** Serve-time index view: term-pruned postings plus the broadcast-
    * sized corpus statistics (per-term df, n_docs, avgdl — additive
    * across segments, so appended indexes serve identically to
    * rebuilt ones). Shared by the exhaustive and WAND paths. */
  private case class IndexView(post: DataFrame, blocks: DataFrame,
      dfMap: Map[String, Long], nDocs: Double, avgdl: Double)

  private def loadIndex(spark: SparkSession, storeDir: String,
      terms: Seq[String]): IndexView = {
    import spark.implicits._
    val shards = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(NShards)).as("shard"))
      .collect().map(_.getLong(0)).distinct.toSeq
    val dfMap = spark.read.parquet(s"$storeDir/dfs")
      .filter(col("shard").isin(shards: _*) &&
        col("term").isin(terms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = spark.read.parquet(s"$storeDir/stats")
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s")).head()
    val nDocs = st.getLong(0).toDouble
    val avgdl = st.getLong(1).toDouble / nDocs
    val post = spark.read.parquet(s"$storeDir/postings")
      .filter(col("shard").isin(shards: _*) &&
        col("term").isin(terms: _*))
    val blocks = spark.read.parquet(s"$storeDir/blocks")
      .filter(col("shard").isin(shards: _*) &&
        col("term").isin(terms: _*))
    IndexView(post, blocks, dfMap, nDocs, avgdl)
  }

  /** Pivot + score a posting set — the SAME IEEE expression tree as
    * the scan-shaped [[bm25Query]], so any posting subset that
    * contains ALL of a doc's query-term postings scores it to the
    * identical double. */
  private def serveScore(ix: IndexView, terms: Seq[String],
      post: DataFrame): DataFrame = {
    // per-candidate pivot: ≤ |terms| postings per doc, each term's tf
    // lands via an exact-zero-padded conditional sum — deterministic
    // (0.0 never perturbs an IEEE sum; here the sums are pure longs)
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf_$i")
    }
    val perDoc = post.groupBy(col("doc_id"))
      .agg(max(col("dl")).cast("double").as("dl"), tfAggs: _*)
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val dfd = ix.dfMap.getOrElse(terms(i), 0L).toDouble
      val idf = log(lit(1.0) +
        (lit(ix.nDocs) - lit(dfd) + 0.5) / (lit(dfd) + 0.5))
      idf * (tf * 2.2) /
        (tf + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / lit(ix.avgdl)))
    }.reduce(_ + _)
    perDoc
      .withColumn("score", fr(score, 4))
      .filter(col("score") > 0)
      .select(col("doc_id") +: col("dl").cast("long").as("dl") +:
        terms.indices.map(i =>
          col(s"tf_$i").cast("int").as(s"tf_$i")) :+
        col("score"): _*)
  }

  def indexServeOver(spark: SparkSession, storeDir: String,
      terms: Seq[String], k: Int): DataFrame = {
    val ix = loadIndex(spark, storeDir, terms)
    serveScore(ix, terms, ix.post)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /**
   * WAND / block-max early-termination serve (r18, VERDICT r17 #4):
   * IDENTICAL top-k to [[indexServeOver]], reading only posting
   * blocks whose score upper bound can still reach the heap floor.
   *
   * Phase 1 seeds the floor θ: docs appearing in each term's block 0
   * (the highest-impact slice, ≤ BlockB·|terms| rows) score through
   * the shared pivot — a doc's partial score is a LOWER bound of its
   * true score, so the k-th best is a valid θ.
   *
   * Phase 2 prunes at the BLOCK level: a block of term t bounds its
   * docs' t-contribution by contrib(max_tf, min_dl) (the score term
   * is monotone up in tf, down in dl), and any doc in it bounds its
   * total by that plus Σ_{t'≠t} maxContrib(t'). Blocks below
   * θ − slack are skipped; a doc whose EVERY posting is skipped is
   * provably below θ, so candidates = docs with ≥1 surviving
   * posting. The 1e-4 slack absorbs the 4-dp gate rounding on both
   * sides, keeping the identity guarantee exact (spec-checked
   * against the exhaustive serve, oracle-checked against the
   * full-corpus SQL).
   *
   * Phase 3 rescores candidates over ALL their postings (a doc's
   * surviving-block tf alone would under-score it) — the same IEEE
   * tree as the exhaustive path, so the top-k doubles are identical.
   *
   * At 100 TB this is the difference between scanning a frequent
   * term's corpus-sized posting list and touching the few blocks
   * whose impact bound clears the floor; the postings are already
   * laid out (term, tf desc) so block_id aligns with parquet
   * row-group min/max and the skip is physical, not just logical.
   */
  def indexServeWandOver(spark: SparkSession, storeDir: String,
      terms: Seq[String], k: Int): DataFrame = {
    val ix = loadIndex(spark, storeDir, terms)
    def contrib(t: String, tf: Double, dl: Double): Double = {
      val dfd = ix.dfMap.getOrElse(t, 0L).toDouble
      val idf = math.log(1.0 + (ix.nDocs - dfd + 0.5) / (dfd + 0.5))
      idf * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * dl / ix.avgdl))
    }
    // per-term global max contribution (from the block metadata —
    // |terms| rows, driver material)
    val glob = ix.blocks.groupBy(col("term"))
      .agg(max(col("max_tf")).as("mtf"), min(col("min_dl")).as("mdl"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val maxC = terms.map(t => t -> glob.get(t).map { case (mtf, mdl) =>
      contrib(t, mtf.toDouble, mdl.toDouble)
    }.getOrElse(0.0)).toMap
    val totalMax = maxC.values.sum
    // phase 1: heap floor from the highest-impact block per term
    val seedTop = serveScore(ix, terms,
        ix.post.filter(col("block_id") === 0))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("score")).collect().map(_.getDouble(0))
    val theta = if (seedTop.length < k) 0.0
                else math.max(0.0, seedTop.min)
    // phase 2: block survival — per-term threshold folds the other
    // terms' global maxima into a driver-side constant
    val slack = 1e-4
    val thetaT = terms.map { t =>
      when(col("term") === t, lit(theta - (totalMax - maxC(t)) - slack))
    }.reduce((a, b) => coalesce(a, b))
    val ubChain = terms.map { t =>
      val dfd = ix.dfMap.getOrElse(t, 0L).toDouble
      val idf = math.log(1.0 + (ix.nDocs - dfd + 0.5) / (dfd + 0.5))
      when(col("term") === t,
        lit(idf) * (col("max_tf").cast("double") * 2.2) /
          (col("max_tf").cast("double") + lit(1.2) *
            (lit(0.25) +
              lit(0.75) * col("min_dl").cast("double") / lit(ix.avgdl))))
    }.reduce((a, b) => coalesce(a, b))
    val surviving = ix.blocks.filter(ubChain >= thetaT)
      .select(col("shard"), col("term"), col("block_id"))
    val survPost = ix.post
      .join(surviving, Seq("shard", "term", "block_id"))
    val candidates = survPost.select(col("doc_id")).distinct()
    // phase 3: full rescore of the surviving docs only
    serveScore(ix, terms, ix.post.join(candidates, Seq("doc_id")))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Posting-read accounting for the pruning proof: (exhaustive
    * posting rows for the terms, rows WAND actually scores — seed
    * block + candidate rescore, without double-counting). Spec-only
    * instrumentation; the serve path never pays these counts. */
  private[graft] def wandReadCounts(spark: SparkSession,
      storeDir: String, terms: Seq[String], k: Int): (Long, Long) = {
    val ix = loadIndex(spark, storeDir, terms)
    def contrib(t: String, tf: Double, dl: Double): Double = {
      val dfd = ix.dfMap.getOrElse(t, 0L).toDouble
      val idf = math.log(1.0 + (ix.nDocs - dfd + 0.5) / (dfd + 0.5))
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / ix.avgdl))
    }
    val glob = ix.blocks.groupBy(col("term"))
      .agg(max(col("max_tf")).as("mtf"), min(col("min_dl")).as("mdl"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val maxC = terms.map(t => t -> glob.get(t).map { case (mtf, mdl) =>
      contrib(t, mtf.toDouble, mdl.toDouble)
    }.getOrElse(0.0)).toMap
    val totalMax = maxC.values.sum
    val seedTop = serveScore(ix, terms,
        ix.post.filter(col("block_id") === 0))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("score")).collect().map(_.getDouble(0))
    val theta = if (seedTop.length < k) 0.0
                else math.max(0.0, seedTop.min)
    val slack = 1e-4
    val thetaT = terms.map { t =>
      when(col("term") === t, lit(theta - (totalMax - maxC(t)) - slack))
    }.reduce((a, b) => coalesce(a, b))
    val ubChain = terms.map { t =>
      val dfd = ix.dfMap.getOrElse(t, 0L).toDouble
      val idf = math.log(1.0 + (ix.nDocs - dfd + 0.5) / (dfd + 0.5))
      when(col("term") === t,
        lit(idf) * (col("max_tf").cast("double") * 2.2) /
          (col("max_tf").cast("double") + lit(1.2) *
            (lit(0.25) +
              lit(0.75) * col("min_dl").cast("double") / lit(ix.avgdl))))
    }.reduce((a, b) => coalesce(a, b))
    val surviving = ix.blocks.filter(ubChain >= thetaT)
      .select(col("shard"), col("term"), col("block_id"))
    val candidates = ix.post
      .join(surviving, Seq("shard", "term", "block_id"))
      .select(col("doc_id")).distinct()
    val seedRows = ix.post.filter(col("block_id") === 0).count()
    val rescoreRows = ix.post.join(candidates, Seq("doc_id")).count()
    (ix.post.count(), seedRows + rescoreRows)
  }

  /** Index-served BM25 gate over the standing full-corpus index. */
  def indexServeQuery(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("merge", "vector", "stream"),
      k: Int = 20): DataFrame =
    indexServeOver(spark, buildInvIndex(spark, sfDir), terms, k)

  /** Same serve over the incrementally-grown (base + appended delta)
    * index — the oracle recomputes from the FULL corpus, so a pass
    * proves append ≡ rebuild end-to-end. */
  def indexAppendQuery(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("merge", "vector", "stream"),
      k: Int = 20): DataFrame =
    indexServeOver(spark, buildInvIndexAppended(spark, sfDir), terms, k)

  /** WAND-served BM25 gate over the standing full-corpus index — the
    * oracle replays the full-corpus scan, so a pass proves block-max
    * pruning returns the IDENTICAL top-k end-to-end. */
  def indexWandQuery(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("batch", "window", "sort"),
      k: Int = 20): DataFrame =
    indexServeWandOver(spark, buildInvIndex(spark, sfDir), terms, k)

  /**
   * Standing-index QUALITY gate (r18 growth): grades the list the
   * index actually serves — not just its latency — by composing
   * [[indexServeOver]] with the [[evalLists]] nDCG/MRR/recall
   * harness, plus a DENSE RERANK arm over the served candidates
   * (cosine vs the vec-0 query over the top-armK doc ids — the
   * two-stage retrieve-then-rerank shape every production RAG stack
   * runs; candidates without embedding coverage drop from the rerank
   * arm, as a real eval would show). The oracle recomputes both
   * lists from the full corpus, so a pass proves the standing index
   * serves the exact list the scan-shaped ranking defines AND that
   * the rerank permutation is bit-faithful.
   *
   * Shape at 100 TB: the served arm is the index-pruned BM25 (query-
   * term shards only); the rerank touches armK rows joined to the
   * embedding store by id — everything after the serve is
   * candidate-set-sized, independent of corpus scale.
   */
  def indexEvalQuery(spark: SparkSession, sfDir: String,
      terms: Seq[String] = Seq("merge", "vector", "stream"),
      armK: Int = 50, k: Int = 10): DataFrame = {
    val store = buildInvIndex(spark, sfDir)
    val servedRanked = indexServeOver(spark, store, terms, armK)
      .select(col("doc_id"), col("score"))
      .withColumn("rank", row_number().over(
        SqlWindow.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val served = servedRanked
      .select(lit("served").as("arm"), col("doc_id"), col("rank"))
    val emb = Tables.load(spark, sfDir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val rerank = servedRanked
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
      .crossJoin(broadcast(qv))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("q_emb"), col("embedding")), 4))
      .withColumn("rank", row_number().over(
        SqlWindow.orderBy(col("cos_sim").desc, col("doc_id"))))
      .select(lit("rerank").as("arm"), col("doc_id"), col("rank"))
    evalLists(spark, sfDir,
      served.unionByName(rerank).filter(col("rank") <= k), k)
  }
}
