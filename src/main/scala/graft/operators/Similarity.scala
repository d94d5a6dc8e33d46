package graft.operators

import graft.Tables
import graft.functions.VectorOps.{foldRound => fr}
import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.CacheBin.TrackOps

/**
 * Approximate-nearest-neighbor search over `array<float>` embeddings
 * (north star). Two paths:
 *
 *  - Brute-force cosine top-k: exact baseline. The (small) query set is
 *    broadcast against the corpus, so the corpus is scanned once with
 *    no shuffle of the embeddings themselves; per-query top-k is a
 *    window over (query, candidate) rows. Exact, O(|Q|·N).
 *
 *  - LSH-bucketed: random-hyperplane signatures bucket the corpus; a
 *    query probes only its own bucket (+ optional multi-probe). At
 *    100 TB this turns a full scan per query into a bucket lookup —
 *    the corpus is pre-partitioned by signature, so probe cost is
 *    O(bucket size), and the bucketing pass itself is shuffle-free.
 */
object Similarity {

  /** Exact top-k neighbors for each query vector. Ranks order by
    * similarity rounded to 4dp (cross-engine-stable) with vec_id
    * tiebreak. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int)
      : DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    c.join(broadcast(q))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("q_emb"), col("c_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cos_sim"))
  }

  /** Shared exact-top-10 reference store: ONE brute-force corpus scan
    * for all gate queries (vec_id < 80), materialized per corpus. The
    * recall gates (q_ann_topk, q_ann_truncate's full-dim reference,
    * q_pq_append's and q_ann_append's floors) each slice their own query subset from it —
    * per-query rows are independent, so a filter of the store equals
    * a fresh brute-force run over that subset. The discipline a fleet
    * applies to ANY ground-truth set: compute it once, serve every
    * evaluation from the artifact. */
  private def bruteRef80(spark: SparkSession, sfDir: String): DataFrame = {
    val store = graft.StoreCatalog.pathStore("brute_ref@v1", sfDir) { d =>
      val emb = Tables.load(spark, sfDir, "embeddings")
      bruteForceTopK(emb.filter(col("vec_id") < 80), emb, 10)
        .write.mode("overwrite").parquet(s"$d/ref")
    }
    spark.read.parquet(s"$store/ref")
  }

  /** Correctness-gate query: top-10 for the first 5 vectors as queries
    * (self included at rank 1 — a useful invariant). */
  def annBruteForceQuery(spark: SparkSession, sfDir: String): DataFrame =
    bruteRef80(spark, sfDir).filter(col("query_id") < 5)
      .orderBy(col("query_id"), col("rank"))

  /**
   * Embedding-TRUNCATION retrieval evaluation (the matryoshka /
   * MRL-serving question): serve ANN from only the FIRST HALF of each
   * embedding's dimensions and measure, per query, how much of the
   * full-dimension top-k survives. Truncation halves a vector store's
   * memory and scan bandwidth — at 100 TB of embeddings that is the
   * difference between an in-memory and a spilling index — but it is
   * only admissible if the truncated ranking still finds the
   * full-precision neighbors; this gate produces exactly that
   * admission evidence, per query, before a fleet commits to it.
   *
   * Output: the truncated-space top-10 ranking (4-dp floor-rounded
   * cosine, id tiebreak — the [[bruteForceTopK]] discipline) with
   * `in_full` marking whether each truncated hit is also a
   * full-dimension top-10 neighbor, plus the per-query overlap count.
   * Fully SQL-oracle-replayable: both rankings are deterministic
   * brute-force scans (`list_slice` is the DuckDB twin of `slice`).
   *
   * Scale shape: queries broadcast; the corpus streams through one
   * narrow scoring pass per ranking (production would score both
   * prefixes in ONE pass; the gate keeps two for replay clarity); the
   * rank window is query-partitioned; nothing global.
   */
  def annTruncateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val half = emb.select(col("vec_id"),
      expr("slice(embedding, 1, size(embedding) div 2)").as("embedding"))
    val full10 = bruteRef80(spark, sfDir).filter(col("query_id") < 5)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("in_full"))
    val trunc10 = bruteForceTopK(half.filter(col("vec_id") < 5), half, 10)
    val w = Window.partitionBy(col("query_id"))
    trunc10.join(full10, Seq("query_id", "neighbor_id"), "left")
      .withColumn("in_full", coalesce(col("in_full"), lit(false)))
      .withColumn("overlap10",
        sum(when(col("in_full"), 1L).otherwise(0L)).over(w))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim").as("cos_trunc"), col("in_full"), col("overlap10"))
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * Bitext mining (parallel-corpus discovery à la LASER/CCMatrix): for
   * each document on the low-resource side (here `de`), the best
   * target-side (`en`) match by embedding cosine, with the margin to
   * the runner-up — the standard confidence signal (a high-cosine
   * match with near-zero margin is a hub, not a translation).
   *
   * Shape at 100 TB: the low-resource side broadcasts (it is small by
   * definition); the target side streams through ONE narrow scoring
   * pass; per-source top-2 uses the bounded-heap [[graft.functions.TopKAgg]]
   * with map-side partial aggregation — the shuffle carries ≤ 2
   * (cos, id) pairs per (partition, source), never the pair matrix and
   * never an embedding. No window sort anywhere.
   */
  def bitextMineQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
    val emb = Tables.load(spark, sfDir, "embeddings")
    val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("lang"), col("embedding"))
    val src = joined.filter(col("lang") === "de")
      .select(col("doc_id").as("src_id"), col("embedding").as("s_emb"))
    val tgt = joined.filter(col("lang") === "en")
      .select(col("doc_id").as("tgt_id"), col("embedding").as("t_emb"))
    val top2 = tgt.join(broadcast(src))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("s_emb"), col("t_emb")), 4))
      .groupBy(col("src_id"))
      .agg(call_function("graft_topk",
        col("cos_sim"), col("tgt_id"), lit(2)).as("tk"))
    top2.select(
      col("src_id"),
      element_at(col("tk"), 1).getField("id").as("tgt_id"),
      element_at(col("tk"), 1).getField("ord").as("cos_sim"),
      fr(element_at(col("tk"), 1).getField("ord") -
        element_at(col("tk"), 2).getField("ord"), 4).as("margin"))
      .orderBy(col("src_id"))
  }

  /**
   * LSH-bucketed ANN (the scale path): 12-bit hyperplane signatures
   * (~4096 buckets), query probes its own bucket only. Recall measured
   * against brute force in SimilaritySpec; rows-only correctness check
   * (signature internals aren't SQL-expressible).
   */
  def lshBucketQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val planes = 12
    val emb = Tables.load(spark, sfDir, "embeddings")
      .withColumn("bucket",
        VectorOps.hyperplaneSignature(col("embedding"), planes, 64))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("bucket"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    corpus.join(broadcast(queries), Seq("bucket"))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("q_emb"), col("c_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Centroid matrix → the literal the native nearest-cell kernel
    * takes (k×dims floats — a tiny model, shipped as a reference
    * object inside one codegen'd projection). */
  private[graft] def centsLit(m: Array[Array[Float]]) =
    typedLit(m.map(_.toSeq).toSeq)

  /** Dispatch threshold for the beam-tree assignment kernel (r18,
    * VERDICT r17 #1): below this k the exact O(k·dims) scan runs —
    * every gate-scale quantizer (sf0.001–sf1) has k ≤ 256, so gate
    * hashes are untouched by construction; at or above it (only the
    * dynamic-k regime, n > ~327k vectors) assignment goes through
    * `graft_nearest_cells_tree`, whose per-row cost is O(log k)
    * instead of O(k) — the fix for Lloyd-fit work growing n²/1024
    * under the k = n/1024 law (~3.9e9 distance evals per iteration
    * at sf100, quadratic beyond). */
  private[graft] val TreeK = 320

  /** Top-n nearest-cell column with the tree dispatch — ALL
    * nearest-cell assignment (fit rounds and final store keying)
    * must route through here so the scale path is uniform. */
  private[graft] def nearestCellsCol(m: Array[Array[Float]],
      vec: org.apache.spark.sql.Column, n: Int)
      : org.apache.spark.sql.Column =
    if (m.length >= TreeK)
      call_function("graft_nearest_cells_tree", vec, centsLit(m), lit(n))
    else
      call_function("graft_nearest_cells", vec, centsLit(m), lit(n))

  /** Cell-id column: index of the nearest centroid (top-1). */
  private[graft] def cellOf(m: Array[Array[Float]], vec: org.apache.spark.sql.Column) =
    element_at(nearestCellsCol(m, vec, 1), 1)

  /** L2 variant — the PQ assignment rule (sub-vector magnitude
    * matters, so cosine is the wrong metric for sub-quantizers).
    * Same tree dispatch above [[TreeK]] (metric flag = true). */
  private def cellOfL2(m: Array[Array[Float]],
      vec: org.apache.spark.sql.Column) =
    if (m.length >= TreeK)
      element_at(call_function("graft_nearest_cells_tree", vec,
        centsLit(m), lit(1), lit(true)), 1)
    else
      call_function("graft_nearest_cell_l2", vec, centsLit(m))

  /**
   * Lloyd's k-means over the embedding column: deterministic seeding
   * (every corpus_size/k-th vector), then `iters` rounds of
   * assign + per-cell mean. The centroid set is a k×dims matrix —
   * a driver-side model, NOT a dataset — so assignment is a single
   * narrow codegen'd projection per round (no join, no window, no
   * shuffle of the corpus); the per-cell mean is a posexplode +
   * partial-aggregated groupBy whose shuffle is O(k·dims·partitions).
   * Each round materializes k·dims means (≈1k rows) on the driver.
   */
  /** One Lloyd re-estimation round from an existing centroid matrix:
    * assign + per-cell mean. Factored out so the index-maintenance
    * path ([[annRebalanceQuery]]) can re-estimate incrementally from
    * the CURRENT quantizer instead of re-fitting from scratch. */
  private[graft] def lloydRound(emb: DataFrame,
      matrix: Array[Array[Float]], l2: Boolean = false)
      : Array[Array[Float]] = {
    // materialize the cell assignment BEFORE the posexplode: inlined
    // into the Generate, the O(k·dims) nearest-cell expression
    // re-evaluates once per exploded ELEMENT (dims× amplification —
    // measured 35 s vs 2 s for k=256, dims=64)
    val assign =
      if (l2) cellOfL2(matrix, col("embedding"))
      else cellOf(matrix, col("embedding"))
    val assigned = emb
      .select(assign.as("cell"), col("embedding"))
      .localCheckpoint()
    val means = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(avg(col("v")).as("m"))
      .collect()
    // cells that captured no vectors keep their previous centroid
    val next = matrix.map(_.clone)
    means.foreach { r =>
      next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
    }
    next
  }

  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int,
      l2: Boolean = false): DataFrame = {
    val spark = emb.sparkSession
    val n = emb.count()
    val stride = math.max(n / k, 1)
    var matrix: Array[Array[Float]] = emb
      .filter(col("vec_id") % stride === 0)
      .orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    (1 to iters).foreach { _ =>
      matrix = lloydRound(emb, matrix, l2)
    }
    import spark.implicits._
    matrix.zipWithIndex
      .map { case (m, i) => (i, m.toSeq) }.toSeq
      .toDF("cent_id", "cent_emb")
      .select(col("cent_id"), col("cent_emb").cast("array<float>")
        .as("cent_emb"))
  }

  /**
   * IVF variant: coarse centroids from a short k-means fit
   * ([[kmeansCentroids]]); vectors assign to the nearest centroid;
   * queries probe the `nprobe` nearest centroid cells. The centroid
   * set is broadcast both times; the corpus shuffles once on cell id —
   * the layout a 100 TB vector store would persist (partitioned by
   * cell).
   */
  /** Fitted-centroid cache: the IVF index's coarse quantizer is fitted
    * offline once per corpus ([[buildIndex]], the explicit offline
    * API); re-fitting per query would misrepresent the serving path.
    * The model is k×dims floats — it lives on the driver and ships to
    * executors inside the projection, like any broadcast model. */
  /** Fit and collect the centroid matrix for any (vec_id, embedding)
    * frame — the reusable core of [[buildIndex]], also the coarse
    * quantizer other corpora (e.g. the media feature store) block on. */
  def fitCentroidMatrix(emb: DataFrame, k: Int, iters: Int = 2)
      : Array[Array[Float]] =
    kmeansCentroids(emb, k, iters)
      .orderBy(col("cent_id")).select(col("cent_emb")).collect()
      .map(_.getSeq[Float](0).toArray)

  /** Centroid matrix literal for `graft_nearest_cells`. */
  def centroidLit(m: Array[Array[Float]]): org.apache.spark.sql.Column =
    centsLit(m)

  /** Offline index build: fit the coarse quantizer for a corpus and
    * store it. Idempotent; returns the centroid matrix. */
  def buildIndex(spark: SparkSession, sfDir: String, k: Int = 20,
      iters: Int = 2): Array[Array[Float]] =
    graft.StoreCatalog.modelStore("ivf_cents@v1", sfDir) {
      fitCentroidMatrix(Tables.load(spark, sfDir, "embeddings"), k, iters)
    }

  /**
   * Embedding-corpus QA statistics per label: count, norm spread, and
   * mean first-component — the sanity pass run before any vector store
   * ingest (catching zero vectors, scale drift, truncated dims). One
   * narrow codegen'd projection (native `graft_norm`) + one tiny
   * partial-aggregated shuffle on label. Norm aggregates rounded to
   * 4dp: per-vector norms are exact, only the cross-row mean carries
   * float-summation order noise (~1e-13 over these row counts).
   */
  def embeddingStatsQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("label"), col("vec_id"),
        VectorOps.norm(col("embedding")).as("nrm"),
        size(col("embedding")).as("dims"),
        element_at(col("embedding"), 1).cast("double").as("c0"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dims")).as("min_dims"),
        max(col("dims")).as("max_dims"),
        fr(min(col("nrm")), 4).as("min_norm"),
        fr(max(col("nrm")), 4).as("max_norm"),
        fr(avg(col("nrm")), 4).as("avg_norm"),
        fr(avg(col("c0")), 4).as("avg_c0"))
      .orderBy(col("label"))

  /**
   * Int8 quantization QA: per-label reconstruction quality of
   * symmetric max-abs int8 quantization (scale = max|v|/127,
   * round-half-up, clamp ±127) — the compression step a 100 TB vector
   * store applies before serving, gated on the cosine between each
   * vector and its dequantized reconstruction. One native one-pass
   * kernel per row ([[graft.functions.VectorKernels.Int8QuantStats]]),
   * then a tiny partial-aggregated shuffle on label; byte accounting
   * shows the 4×(−8B/vec overhead) win.
   */
  def quantizationQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("label"), size(col("embedding")).as("dims"),
        call_function("graft_int8_quant", col("embedding")).as("_q"))
      .select(col("label"), col("dims"), col("_q.scale").as("scale"),
        fr(col("_q.cos"), 6).as("cos_q"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        fr(avg(col("scale")), 6).as("avg_scale"),
        fr(avg(col("cos_q")), 6).as("avg_cos"),
        fr(min(col("cos_q")), 6).as("min_cos"),
        sum(col("dims").cast("long") * 4).as("bytes_fp32"),
        sum(col("dims").cast("long") + 8).as("bytes_int8"))
      .orderBy(col("label"))

  // ------------------------------------------------- product quantization

  /** PQ codebook: `m` sub-quantizers of `ksub` centroids over
    * `subDim`-dim slices — m·ksub·subDim floats, a driver-side model
    * like the IVF centroid matrix. */
  case class PqModel(m: Int, ksub: Int, subDim: Int,
      codebook: Array[Array[Array[Float]]])

  /**
   * Fit a product-quantization codebook: split the `dims`-dim space
   * into `m` contiguous sub-spaces and run an independent L2 k-means
   * ([[kmeansCentroids]] with the L2 assignment rule) in each. Every
   * vector then compresses to `m` small codes (here m bytes) — at
   * 100 TB this is THE memory story for vector serving: 64-dim fp32
   * (256 B) → 8 B per vector (32×), so a trillion-vector corpus scans
   * codes from memory instead of fp32 from disk.
   */
  def fitPq(emb: DataFrame, m: Int = 8, ksub: Int = 64, iters: Int = 3)
      : PqModel = {
    val dims = emb.select(size(col("embedding"))).head.getInt(0)
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val subDim = dims / m
    // the m sub-space fits are INDEPENDENT job chains (disjoint
    // slices, separate Lloyd states): submit them concurrently and
    // let the scheduler interleave — identical per-sub-space
    // arithmetic, but wall-clock collapses from m sequential chains
    // of driver-blocking collects to ~one chain (the fit is
    // scheduling-latency-bound at gate scale, measured ~4 s -> ~1 s)
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val fits = (0 until m).map { s =>
      Future {
        kmeansCentroids(
          emb.select(col("vec_id"),
            slice(col("embedding"), s * subDim + 1, subDim).as("embedding")),
          ksub, iters, l2 = true)
          .orderBy(col("cent_id")).select(col("cent_emb")).collect()
          .map(_.getSeq[Float](0).toArray)
      }
    }
    val codebook = awaitFits(fits, "fitPq sub-space Lloyd fits").toArray
    PqModel(m, ksub, subDim, codebook)
  }

  /** Bounded await for concurrent fit futures: an executor death
    * mid-fit must FAIL the query (visible in `_errors.json`), never
    * hang Verify forever the way `Duration.Inf` did. The budget is
    * sized to the deep-scale sweep's per-query ceiling, not gate
    * scale — a gate fit finishes in seconds. */
  private[graft] def awaitFits[T](
      fits: Seq[scala.concurrent.Future[T]], what: String,
      budget: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(20, "min")): Seq[T] = {
    val deadline = System.nanoTime() + budget.toNanos
    fits.map { f =>
      val left = scala.concurrent.duration.Duration(
        math.max(deadline - System.nanoTime(), 0L), "ns")
      try scala.concurrent.Await.result(f, left)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new RuntimeException(
            s"$what exceeded the $budget fit budget — failing the " +
              "query instead of hanging Verify")
      }
    }
  }

  /** Offline PQ index build per corpus (idempotent, like
    * [[buildIndex]]). */
  def buildPqIndex(spark: SparkSession, sfDir: String): PqModel =
    graft.StoreCatalog.modelStore("pq_model@v1", sfDir)(
      fitPq(Tables.load(spark, sfDir, "embeddings")))

  /** Encode column: the vector's `m` sub-space codes (L2-nearest
    * centroid per slice) — a narrow codegen'd projection, no shuffle. */
  def pqCodes(model: PqModel, vec: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    array((0 until model.m).map { s =>
      cellOfL2(model.codebook(s),
        slice(vec, s * model.subDim + 1, model.subDim))
    }: _*)

  /** Materialized PQ code store per corpus: encoding is the offline
    * half of the index build (one narrow pass over the fp32 corpus);
    * serving reads ONLY this table — at 100 TB the codes are ~3 TB and
    * live in memory while the fp32 vectors stay cold. */
  def buildPqStore(spark: SparkSession, sfDir: String): String =
    graft.StoreCatalog.pathStore("pq_codes@v1", sfDir) { d =>
      val model = buildPqIndex(spark, sfDir)
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id").as("neighbor_id"),
          pqCodes(model, col("embedding")).as("codes"))
        .write.mode("overwrite").parquet(s"$d/codes")
    } + "/codes"

  /**
   * PQ ANN top-k by asymmetric distance computation (ADC): the corpus
   * is scanned as codes only (the materialized [[buildPqStore]] table
   * — the fp32 embeddings are never read at serving time); each query
   * precomputes a LUT of partial dot products against every
   * sub-centroid (m·ksub entries, one row per query), and a
   * candidate's approximate cosine is m table lookups. Reconstruction
   * norms come from a query-independent m×ksub table folded into the
   * plan as a literal. Approximate by construction → no SQL oracle;
   * recall and reconstruction quality are spec-gated against brute
   * force (SimilaritySpec).
   */
  /** Per-query ADC lookup table: lut[s][c] = <query slice s, centroid
    * c of sub-space s> — m·ksub doubles per query, computed once on the
    * (broadcast) query side so candidate scoring is m array lookups. */
  private def pqQueries(emb: DataFrame, model: PqModel): DataFrame =
    pqQueriesOver(emb.filter(col("vec_id") < 5), model)

  /** [[pqQueries]] over an explicit query frame (no vec_id filter) —
    * shared with the PQ-append gate, whose queries come from the
    * appended batch. */
  private def pqQueriesOver(queries: DataFrame, model: PqModel)
      : DataFrame = {
    val cbLit = typedLit(model.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      VectorOps.norm(col("embedding")).as("q_norm"),
      transform(sequence(lit(0), lit(model.m - 1)), s =>
        transform(sequence(lit(0), lit(model.ksub - 1)), c =>
          VectorOps.dot(
            slice(col("embedding"), s * model.subDim + 1, lit(model.subDim)),
            element_at(element_at(cbLit, s + 1), c + 1)
              .cast("array<float>")))).as("lut"))
  }

  /** ADC score: approx dot = Σ_s lut[s][code_s]; reconstruction
    * norm² = Σ_s sq[s][code_s] — both O(m) per candidate over the code
    * bytes. Returns the rounded approx-cosine column. */
  private def adcCosine(model: PqModel): org.apache.spark.sql.Column = {
    val sqLit = typedLit(model.codebook.map(_.map(c =>
      c.map(v => v.toDouble * v).sum).toSeq).toSeq)
    val approxDot = aggregate(
      zip_with(col("codes"), col("lut"),
        (c, l) => element_at(l, c + 1).cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val recNormSq = aggregate(
      zip_with(col("codes"), sqLit, (c, sq) => element_at(sq, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    fr(approxDot / (col("q_norm") * sqrt(recNormSq)), 4)
  }

  private def adcRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("approx_cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  def pqTopK(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val model = buildPqIndex(spark, sfDir)
    val codes = spark.read.parquet(buildPqStore(spark, sfDir))
    val queries = pqQueries(emb, model).drop("q_emb")
    adcRank(
      codes.crossJoin(broadcast(queries))
        .withColumn("approx_cos", adcCosine(model)), k)
  }

  def annPqQuery(spark: SparkSession, sfDir: String): DataFrame =
    pqTopK(spark, sfDir)

  // --------------------------------------------------------------- IVFADC

  /** Cell-partitioned RESIDUAL-PQ code store: the textbook IVFADC
    * layout (Jégou et al.). Each vector's code quantizes its residual
    * `x − centroid(cell(x))` — residuals have far less variance than
    * raw vectors, so the same 8 B/vec carries more precision — and the
    * table is PARTITIONED BY the IVF coarse cell: at 100 TB each cell
    * is a parquet partition directory, so probing `nprobe` cells is
    * static partition pruning (the unprobed ~`(1 − nprobe/k)` of the
    * store is never read), on top of the 32× fp32→code compression.
    * Returns (store path, residual PQ model). */
  def buildIvfPqStore(spark: SparkSession, sfDir: String)
      : (String, PqModel) = {
    val (resModel, store) =
      graft.StoreCatalog.modelPathStore("ivfpq_codes@v1", sfDir) { d =>
        val cents = buildIndex(spark, sfDir)
        val cLit = centsLit(cents)
        // residuals feed both the codebook fit (8 sub-space k-means) and
        // the encode pass — materialize once
        val assigned = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            cellOf(cents, col("embedding")).as("cell"))
          .withColumn("residual",
            zip_with(col("embedding"), element_at(cLit, col("cell") + 1),
              (a, b) => a - b).cast("array<float>"))
          .localCheckpoint()
        val resModel = fitPq(
          assigned.select(col("vec_id"), col("residual").as("embedding")))
        assigned
          .select(col("vec_id").as("neighbor_id"), col("cell"),
            pqCodes(resModel, col("residual")).as("codes"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$d/codes")
        resModel
      }
    (s"$store/codes", resModel)
  }

  /**
   * IVFADC serving — the composition a trillion-vector store actually
   * runs (coarse quantizer prunes cells, residual PQ codes bound the
   * bytes scanned): each query probes its `nprobe` nearest coarse
   * cells; the union of probed cells (tiny driver-side int set,
   * ≤ nprobe·|Q|) is pushed into the cell-partitioned code store as an
   * `isin` partition filter (static pruning — unprobed directories
   * unread); surviving codes are ADC-scored against broadcast
   * per-query LUTs. With residual encoding the score decomposes as
   * `q·x̂ = q·cent_c + Σ_s lut[s][code_s]` and the reconstruction norm
   * as `‖cent_c‖² + 2·Σ_s cross[c][s][code_s] + Σ_s sq[s][code_s]`,
   * where `cross` (k×m×ksub inner products of centroid slices with
   * residual codewords) and `sq` are query-independent literal tables
   * — every per-candidate term is O(m) lookups. Recall vs flat ADC and
   * the scanned-fraction bound are spec-gated (SimilaritySpec).
   */
  def ivfPqTopK(spark: SparkSession, sfDir: String, k: Int = 10,
      nprobe: Int = 4): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = buildIndex(spark, sfDir)
    val (path, model) = buildIvfPqStore(spark, sfDir)
    val codes = spark.read.parquet(path)
    val cLit = centsLit(cents)
    // query-independent model tables, folded into the plan as literals
    val sqLit = typedLit(model.codebook.map(_.map(c =>
      c.map(v => v.toDouble * v).sum).toSeq).toSeq)
    val centNormSq = typedLit(cents.map(c =>
      c.map(v => v.toDouble * v).sum).toSeq)
    val crossLit = typedLit(cents.map { cent =>
      (0 until model.m).map { s =>
        model.codebook(s).map { cw =>
          var d = 0.0
          var i = 0
          while (i < model.subDim) {
            d += cent(s * model.subDim + i).toDouble * cw(i)
            i += 1
          }
          d
        }.toSeq
      }
    }.toSeq)
    // per-query probe set: LUT vs the RESIDUAL codebook, plus the
    // q·centroid term per probed cell
    val probes = pqQueries(emb, model).select(
      col("query_id"), col("q_norm"), col("lut"),
      explode(nearestCellsCol(cents, col("q_emb"), nprobe)).as("cell"),
      col("q_emb"))
      .withColumn("q_dot_c",
        VectorOps.dot(col("q_emb"), element_at(cLit, col("cell") + 1)))
      .drop("q_emb")
    // Driver-side union of probed cells → partition-pruning filter.
    // This is tiny model-sized material (≤ nprobe·|Q| ints), not data:
    // the collect is the price of STATIC pruning on the store.
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val lutDot = aggregate(
      zip_with(col("codes"), col("lut"),
        (c, l) => element_at(l, c + 1).cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val resSq = aggregate(
      zip_with(col("codes"), sqLit, (c, sq) => element_at(sq, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    val crossSum = aggregate(
      zip_with(col("codes"), element_at(crossLit, col("cell") + 1),
        (c, cr) => element_at(cr, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    val recNormSq = element_at(centNormSq, col("cell") + 1) +
      lit(2.0) * crossSum + resSq
    adcRank(
      codes.filter(col("cell").isin(probedCells: _*))
        .join(broadcast(probes), Seq("cell"))
        .withColumn("approx_cos", fr(
          (col("q_dot_c") + lutDot) / (col("q_norm") * sqrt(recNormSq)),
          4)), k)
  }

  def annIvfPqQuery(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqTopK(spark, sfDir)

  /**
   * IVF-blocked bitext mining — the 100 TB serving path for
   * [[bitextMineQuery]] (which is the exact gate twin, quadratic in
   * the pair matrix by construction). The target (`en`) side is
   * assigned to IVF cells once (narrow kernel projection); each
   * source probes only its `nprobe` nearest cells, so the scanned
   * pair fraction is ≈ nprobe/k instead of 1 — the same
   * candidates-then-score layout as [[ivfTopK]], finished by the
   * bounded-heap top-2 (margin) aggregate. Recall vs the exact twin
   * and the measured scanned fraction are spec-gated
   * (cell assignment is engine-internal → rows-only driver check).
   */
  def bitextMineAnnQuery(spark: SparkSession, sfDir: String,
      nprobe: Int = 4): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
    val emb = Tables.load(spark, sfDir, "embeddings")
    val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("lang"), col("embedding"))
    val m = buildIndex(spark, sfDir)
    val tgt = joined.filter(col("lang") === "en").select(
      col("doc_id").as("tgt_id"), col("embedding").as("t_emb"),
      cellOf(m, col("embedding")).as("cell"))
    val src = joined.filter(col("lang") === "de").select(
      col("doc_id").as("src_id"), col("embedding").as("s_emb"),
      explode(nearestCellsCol(m, col("embedding"), nprobe)).as("cell"))
    val top2 = tgt.join(broadcast(src), Seq("cell"))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("s_emb"), col("t_emb")), 4))
      .groupBy(col("src_id"))
      .agg(call_function("graft_topk",
        col("cos_sim"), col("tgt_id"), lit(2)).as("tk"))
    top2.select(
      col("src_id"),
      element_at(col("tk"), 1).getField("id").as("tgt_id"),
      element_at(col("tk"), 1).getField("ord").as("cos_sim"),
      fr(element_at(col("tk"), 1).getField("ord") -
        element_at(col("tk"), 2).getField("ord"), 4).as("margin"))
      .orderBy(col("src_id"))
  }

  def ivfTopK(spark: SparkSession, sfDir: String, nprobe: Int = 4)
      : DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    ivfServe(emb, emb.filter(col("vec_id") < 5),
      buildIndex(spark, sfDir), nprobe)
  }

  /** IVF serving against an arbitrary (corpus, quantizer) pair — the
    * reusable core of [[ivfTopK]], also what the post-rebalance gate
    * serves with the incrementally re-estimated matrix. Assignment
    * and probing are narrow projections over the corpus — the only
    * shuffle in the whole query is the broadcast-join's none: the
    * corpus stays where it is, probes are broadcast. */
  private[graft] def ivfServe(corpus: DataFrame, queries: DataFrame,
      m: Array[Array[Float]], nprobe: Int = 4): DataFrame = {
    val assigned = corpus.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      cellOf(m, col("embedding")).as("cell"))
    val probes = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(nearestCellsCol(m, col("embedding"), nprobe)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("q_emb"), col("c_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * Oracle-predictable recall gate (the q_approx_distinct bound-check
   * pattern, applied to ANN serving): run the approximate path AND
   * the exact brute-force top-k in-engine, emit one row with the
   * query count, a self-retrieval flag, and mean-recall-above-floor.
   * The ranked lists themselves are model state the SQL oracle cannot
   * replay, but the oracle CAN predict these invariants — so an index
   * regression (wrong cells probed, broken codes, lost self-match)
   * breaks the driver hash even though the index is engine-internal.
   * Floors sit well under the measured deterministic recalls
   * (fixed corpus, fixed seeding ⇒ recall is a constant per sf).
   */
  private[graft] def recallGate(approx: DataFrame, exact: DataFrame,
      floor: Double): DataFrame = {
    val hit = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val selfHit = approx.filter(col("query_id") === col("neighbor_id"))
      .select(col("query_id")).distinct()
      .withColumn("self_found", lit(true))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hit, Seq("query_id"), "left")
      .join(selfHit, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"),
        coalesce(col("self_found"), lit(false)).as("self_found"))
      .agg(count(lit(1)).as("n_queries"),
        min(col("self_found")).as("self_ok"),
        (fr(avg(col("recall")), 4) >= lit(floor)).as("recall_ok"))
  }

  /** [[recallGate]] wired to each ANN serving path (floors from
    * measured deterministic recalls at sf0.01/sf0.1, with margin:
    * ivf .54–.62, lsh .10–.12, pq .32–.44, ivfpq .36–.52). */
  def ivfRecallGateQuery(spark: SparkSession, sfDir: String): DataFrame =
    recallGate(ivfTopK(spark, sfDir),
      annBruteForceQuery(spark, sfDir), 0.3)
  def lshRecallGateQuery(spark: SparkSession, sfDir: String): DataFrame =
    recallGate(lshBucketQuery(spark, sfDir),
      annBruteForceQuery(spark, sfDir), 0.08)
  def pqRecallGateQuery(spark: SparkSession, sfDir: String): DataFrame =
    recallGate(annPqQuery(spark, sfDir),
      annBruteForceQuery(spark, sfDir), 0.15)
  def ivfPqRecallGateQuery(spark: SparkSession, sfDir: String): DataFrame =
    recallGate(annIvfPqQuery(spark, sfDir),
      annBruteForceQuery(spark, sfDir), 0.15)

  /** IVF-blocked bitext gate: source count is SQL-predictable (every
    * `de` doc), the subset and top-1-agreement invariants are
    * engine-checked against the exact twin (floor 0.3 under the
    * measured ≥0.5 deterministic recall). */
  def bitextAnnGateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = bitextMineQuery(spark, sfDir)
      .select(col("src_id"), col("tgt_id").as("exact_tgt"))
    val ann = bitextMineAnnQuery(spark, sfDir)
      .select(col("src_id"), col("tgt_id").as("ann_tgt"))
    val agg = exact.join(ann, Seq("src_id"), "left")
      .select(col("src_id"),
        (col("ann_tgt") === col("exact_tgt")).as("agree"))
      .agg(count(lit(1)).as("n_src"),
        (fr(sum(when(col("agree"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 4) >= 0.3)
          .as("top1_ok"))
    val extra = ann.join(exact, Seq("src_id"), "left_anti")
      .agg(count(lit(1)).as("n_extra"))
    agg.crossJoin(broadcast(extra))
      .select(col("n_src"), (col("n_extra") === 0).as("subset_ok"),
        col("top1_ok"))
  }

  /** Sequential-fold dot product in DOUBLE — bit-identical to DuckDB's
    * `list_dot_product` (same index order, same promotion), the parity
    * primitive every cross-engine distance gate rides on. */
  private def dotD(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x)

  /**
   * Metadata-filtered exact ANN: top-10 by cosine among corpus vectors
   * whose label satisfies the predicate (`label % 3 = 0`) — the
   * "vector search with a WHERE clause" every retrieval stack needs
   * (tenant scoping, language filters, freshness windows). Exact
   * variant: the predicate composes with the scoring scan and the
   * ranked list is fully SQL-replayable (the q_ann_topk precedent
   * plus a filter).
   *
   * Shape at 100 TB: pre-filtering beats post-filtering — the
   * predicate prunes the corpus BEFORE any distance math. Note the
   * plan honestly: an ARITHMETIC predicate (`label % 3 = 0`) filters
   * at the scan stage but does NOT reach parquet row-group pruning
   * (only `IsNotNull` pushes); a production layout stores the filter
   * term as a plain column (or partitions by it) so min/max stats
   * skip whole files. Top-k per query is a bounded window over the
   * probe set, never a global sort.
   */
  def annFilteredQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    bruteForceTopK(emb.filter(col("vec_id") < 5),
        emb.filter(col("label") % 3 === 0), 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /**
   * Filtered IVF serving path: probe `nprobe` nearest cells, apply the
   * label predicate AFTER cell pruning (the index is label-agnostic),
   * rank survivors. Gated through [[recallGate]] against the exact
   * filtered twin — a floor well under the measured deterministic
   * recall. This is the standard trade: a shared label-agnostic index
   * with post-filtering scans a slightly larger candidate set; when a
   * filter is hot AND selective enough to starve probes, production
   * builds per-partition indexes instead (the IVF cell layout already
   * partitions by directory, so that is a partitionBy(label) away).
   */
  def annFilteredIvfQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val perQuery = filteredIvfRecall(spark, sfDir)
    // Floors calibrated against the MEASURED deterministic recall
    // (md5 index + fixed probes, so identical on every run at a given
    // SF). Measured 2026-08-14: mean 0.62 / min 0.3 at sf0.001,
    // mean 0.54 / min 0.4 at sf0.01, mean 0.72 / min 0.6 at sf0.1 —
    // post-filtering a label-agnostic index legitimately starves some
    // probes, which is the documented trade. Floors sit one margin
    // under the worst measured values (mean ≥ 0.45 vs worst 0.54;
    // per-query ≥ 0.25 vs worst 0.3): tight enough that an index
    // regression trips them, and the per-query min gate catches a
    // single starved query that a healthy mean would hide.
    perQuery
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_self_missing")).as("miss"),
        (fr(avg(col("recall")), 4) >= lit(0.45) &&
          fr(min(col("recall")), 4) >= lit(0.25)).as("recall_ok"))
      .select(col("n_queries"), (col("miss") === 0L).as("self_ok"),
        col("recall_ok"))
  }

  /** Per-query recall of the filtered-IVF serving path against the
    * exact filtered twin, plus the per-query self-retrieval check —
    * the measured material [[annFilteredIvfQuery]]'s floors are
    * calibrated from. */
  private[graft] def filteredIvfRecall(spark: SparkSession,
      sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val m = buildIndex(spark, sfDir)
    val assigned = emb.filter(col("label") % 3 === 0).select(
      col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      cellOf(m, col("embedding")).as("cell"))
    val probes = emb.filter(col("vec_id") < 5).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(nearestCellsCol(m, col("embedding"), 6)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val approx = assigned.join(broadcast(probes), Seq("cell"))
      .withColumn("cos_sim",
        fr(VectorOps.cosine(col("q_emb"), col("c_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cos_sim"))
    // self-retrieval only holds when the query ITSELF satisfies the
    // filter (otherwise self is not in the corpus at all), so the
    // self check is restricted to filter-passing queries
    val exact = annFilteredQuery(spark, sfDir)
    val hit = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val selfPasses = emb
      .filter(col("vec_id") < 5 && col("label") % 3 === 0)
      .select(col("vec_id").as("query_id"), lit(1L).as("self_expected"))
    val selfSeen = approx
      .filter(col("query_id") === col("neighbor_id"))
      .select(col("query_id")).distinct()
      .withColumn("self_seen", lit(1L))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hit, Seq("query_id"), "left")
      .join(selfPasses, Seq("query_id"), "left")
      .join(selfSeen, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"),
        (coalesce(col("self_expected"), lit(0L)) -
          coalesce(col("self_seen"), lit(0L))).as("n_self_missing"))
  }

  /**
   * Top principal component of the embedding cloud by FIXED-iteration
   * power method (Mises–Pollaczek-Geiringer iteration), fully
   * distributed and collect-free — the dimensionality-reduction /
   * whitening primitive (project embeddings onto leading directions
   * before ANN or semantic dedup; monitor representation collapse via
   * the top eigenvalue's share of variance).
   *
   * Each iteration is two narrow passes over the centered corpus:
   * s_i = c_i·v (a per-row fold against the broadcast direction), then
   * u = Σ_i s_i·c_i accumulated per-dimension as 1e-6 fixed-point
   * BIGINT sums — the [[kmeansAssignments]] quantization that makes
   * the distributed sum order-free, so the DuckDB oracle replays every
   * iteration CTE-for-CTE (distances/norms via [[dotD]] parity;
   * normalized loadings rounded to 6 dp, −0.0 canonicalized). The
   * embedding matrix itself never shuffles: only (dim, BIGINT) partial
   * rows move, O(dims · partitions) per iteration.
   *
   * Convergence is spectrum-dependent — error decays as (λ₂/λ₁)^t, so
   * near-isotropic clouds (the synthetic gate corpus: λ₂/λ₁ ≈ 0.99)
   * converge slowly while any dominant direction is found in a few
   * iterations (spec-pinned on a planted-direction corpus at
   * λ₂/λ₁ ≈ 0.1). The gate's hash proves EXACT distributed replay of
   * the fixed-iteration computation, not eigen-convergence; production
   * raises `iters` or block-iterates for flat spectra.
   *
   * Output: one row per dimension — (dim, loading, eigval), loadings
   * unit-norm (up to rounding), eigval = the Rayleigh-quotient
   * estimate ‖u‖/n from the final iteration.
   */
  def pcaTopComponent(emb: DataFrame, iters: Int = 3,
      dims: Int = 64): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("x"))
    val nRow = e.agg(count(lit(1)).cast("double").as("n"))
    val meanRow = e
      .select(posexplode(col("x")).as(Seq("dim", "xv")))
      .withColumn("q", fr(col("xv") * lit(1000000.0), 0).cast("long"))
      .groupBy(col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("m", col("s").cast("double") /
        (col("cnt").cast("double") * lit(1000000.0)))
      .groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("mean"))
    val cent = e.crossJoin(broadcast(meanRow))
      .select(col("vec_id"),
        zip_with(col("x"), col("mean"), (a, b) => a - b).as("c"))
    // v0 = all-ones: any deterministic start works — the scale washes
    // out at the first normalization, and both engines replay the
    // identical quantized arithmetic regardless.
    var vRow = e.sparkSession.range(1)
      .select(transform(sequence(lit(0), lit(dims - 1)), _ => lit(1.0))
        .as("v"), lit(0.0).as("norm"))
    (1 to iters).foreach { _ =>
      val s = cent.crossJoin(broadcast(vRow.select(col("v"))))
        .select(dotD(col("c"), col("v")).as("s"), col("c"))
      val uRow = s
        .select(col("s"), posexplode(col("c")).as(Seq("dim", "cj")))
        .withColumn("q",
          fr(col("s") * col("cj") * lit(1000000.0), 0).cast("long"))
        .groupBy(col("dim")).agg(sum(col("q")).as("uq"))
        .withColumn("u", col("uq").cast("double") / lit(1000000.0))
        .groupBy()
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("u")))),
          x => x.getField("u")).as("u"))
      vRow = uRow
        .withColumn("norm", sqrt(dotD(col("u"), col("u"))))
        .select(transform(col("u"),
          x => fr(x / col("norm"), 6) + lit(0.0)).as("v"),
          col("norm"))
    }
    vRow.crossJoin(broadcast(nRow))
      .select(posexplode(col("v")).as(Seq("dim", "loading")),
        (fr(col("norm") / col("n"), 6) + lit(0.0)).as("eigval"))
      .select(col("dim"), col("loading"), col("eigval"))
  }

  /** Correctness gate over the embeddings table (3 iterations). */
  def pcaQuery(spark: SparkSession, sfDir: String): DataFrame =
    pcaTopComponent(Tables.load(spark, sfDir, "embeddings"), iters = 3)
      .orderBy(col("dim"))

  /**
   * Distributed Lloyd's k-means as a GATE QUERY — the topic-bucketing
   * / SemDeDup primitive: deterministic stride seeding, `iters` rounds
   * of (assign to nearest centroid, recompute centroid means), final
   * per-vector assignment. Unlike [[kmeansCentroids]] (the driver-side
   * model fit that feeds IVF serving), this formulation never collects:
   * centroids stay a k-row DataFrame, so the whole refinement is one
   * lazy plan the oracle can replay CTE-for-CTE (the q_pagerank
   * pattern applied to clustering).
   *
   * Scale shape: assignment = corpus × broadcast(k centroids) with a
   * groupBy(vec_id) min(struct) — the shuffle carries one 16-byte
   * (dist, cell) struct per vector, never the embedding; the update
   * step ships O(k·dims·partitions) quantized partial sums. At real
   * scale each round would checkpoint the k-row centroid frame (the
   * q_pagerank reliable-checkpoint mode); at gate scale the lazy
   * 2-round lineage is cheaper than the action.
   *
   * Cross-engine exactness, by construction: distances use the 3-term
   * dot form with [[dotD]] parity, rounded to 6 dp (+0.0 canonicalizes
   * negative zero from cancellation) BEFORE the argmin, so the integer
   * cell decisions are engine-independent; centroid means quantize
   * components to 1e-6 fixed point and sum BIGINTs — order-free, so
   * the distributed mean equals DuckDB's sequential one bit-for-bit.
   * Cells are provably non-empty: every seed is a corpus vector at
   * distance 0 of itself (exact-duplicate seeds would merge — absent
   * from the gate corpus and spec-asserted).
   */
  def kmeansClusterQuery(spark: SparkSession, sfDir: String, k: Int = 8,
      iters: Int = 2): DataFrame =
    kmeansAssignments(spark, sfDir, k, iters)
      .select(col("vec_id"), col("cell"), col("d"))
      .orderBy(col("vec_id"))

  /** The SCALE-RULE cell count for [[semanticDedupQuery]]: 8 through
    * n = 20000 (gate scales and sf1 — unchanged hashes), n/1024
    * beyond, keeping mean cell size — and with it the in-cell pair
    * work Σ|cell|² ≈ N·1024 — bounded at any corpus size. MUST stay
    * arithmetically identical to the oracle's dynamic-k CTE
    * (SparkEntry.kmeansCteDyn: CASE WHEN count(*) <= 20000 THEN 8
    * ELSE count(*) // 1024 END). */
  private[graft] def semanticDedupK(spark: SparkSession,
      sfDir: String): Int = {
    val n = Tables.load(spark, sfDir, "embeddings").count()
    if (n <= 20000L) 8 else (n / 1024L).toInt
  }

  /** The shared Lloyd refinement behind [[kmeansClusterQuery]] and
    * [[semanticDedupQuery]]: final (vec_id, v, cell, d) assignment
    * after `iters` assign/update rounds (the engine twin of the
    * shared `kmeansCte` oracle chain). */
  private[graft] def kmeansAssignments(spark: SparkSession,
      sfDir: String, k: Int, iters: Int): DataFrame = {
    // v (double) feeds the centroid-distance parity math; the original
    // float embedding rides along for consumers with float kernels
    // (the pair phase of [[semanticDedupQuery]]). Gate-scale wall time
    // is dominated by fixed per-job scheduling latency (~8 sequential
    // jobs for seeds/broadcasts/updates — measured: checkpointing the
    // source saves nothing at sf0.1), which amortizes with data size;
    // at real scale the re-scanned source would be cached/checkpointed.
    // tracked: emb feeds the seed pick plus every assign round's
    // crossJoin — unpinned, each unrolled round re-scans and re-casts
    // the embeddings
    val emb = CacheBin.track(Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        col("embedding").cast("array<double>").as("v")))
    val stride = math.max(emb.count() / k, 1L)
    val seeds = emb.filter(col("vec_id") % stride === 0)
      .orderBy(col("vec_id")).limit(k)
      .withColumn("cent_id",
        row_number().over(Window.orderBy(col("vec_id"))) - 1)
      .select(col("cent_id"), col("v").as("c"))
    def assign(cents: DataFrame): DataFrame = emb
      .crossJoin(broadcast(cents))
      .withColumn("d", fr(
        dotD(col("v"), col("v")) - lit(2.0) * dotD(col("v"), col("c")) +
          dotD(col("c"), col("c")), 6) + lit(0.0))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cent_id"))).as("m"),
        first(col("v")).as("v"), first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("v"),
        col("m.cent_id").as("cell"), col("m.d").as("d"))
    def update(assigned: DataFrame): DataFrame = assigned
      .select(col("cell").as("cent_id"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .withColumn("q", fr(col("x") * lit(1000000.0), 0).cast("long"))
      .groupBy(col("cent_id"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("m", col("s").cast("double") /
        (col("cnt").cast("double") * lit(1000000.0)))
      .groupBy(col("cent_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("c"))
    var cents = seeds
    // per-round pin of the k-row centroid frame: without it the final
    // assign's plan embeds every earlier round's full assign/update
    // chain (the unrolled-lineage rule from the graph family)
    (1 to iters).foreach(_ =>
      cents = CacheBin.track(update(assign(cents))))
    assign(cents)
  }

  /**
   * Scale-tier twin of [[kmeansAssignments]] (r18, VERDICT r17 #1):
   * the oracle-replayable crossJoin(broadcast(cents)) assignment
   * materializes n·k rows per Lloyd round — n²/1024 under the
   * dynamic-k law (~3.9e9 rows/round at sf100, quadratic beyond).
   * Above the oracle tier the fit runs through [[kmeansCentroids]]
   * (kernel-assigned Lloyd — one narrow projection per round) and
   * the final cell comes from the same L2 kernel, which itself
   * dispatches to the beam tree at k ≥ [[TreeK]], so per-row
   * assignment cost is O(log k) and the whole fit is ~O(n·log k)
   * per round. Returns only what the blocking consumer reads:
   * (vec_id, embedding, cell). Never used at gate scales — the
   * n ≤ 20000 tier keeps the exact oracle-replayed chain.
   */
  private[graft] def kmeansAssignmentsFast(spark: SparkSession,
      sfDir: String, k: Int, iters: Int): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // STANDING quantizer (r18, DEEPSCALE_r18 watch item): the
    // dynamic-tier fit is deterministic per (corpus, k, iters) —
    // kept in the store catalog like the IVF centroids, so warm
    // passes serve the assignment without re-running the Lloyd fit
    val matrix = graft.StoreCatalog.modelStore(
      s"semantic_quant_k${k}_i$iters@v1", sfDir)(
      kmeansCentroids(emb, k, iters, l2 = true)
        .orderBy(col("cent_id")).select(col("cent_emb")).collect()
        .map(_.getSeq[Float](0).toArray))
    emb.select(col("vec_id"), col("embedding"),
      cellOfL2(matrix, col("embedding")).as("cell"))
  }

  /**
   * Second-level re-blocking of oversized dynamic-k cells (r18 — the
   * media near-dup treatment, VERDICT r17 #2, applied to the semantic
   * pair phase after the sf100 probe measured Σ|cell|² at ~11× the
   * balanced N·1024 budget: real embedding spaces are dense in spots,
   * so a handful of hot cells carry quadratic pair tails no matter
   * what the GLOBAL k is). Any cell holding > 2×`target` members gets
   * a local sub-quantizer — deterministic stride seeds over the
   * cell's members in vec_id order, one Lloyd refinement round, HARD
   * top-1 assignment (a partition, unlike media's 2-probe candidate
   * keys, because the downstream per-cell stats must count each
   * member exactly once) — and its rows re-key to the disjoint
   * (cell+1)·2²⁴ + sub space. Returns (vec_id, embedding, cell LONG).
   * Only the dynamic tier calls this; the n ≤ 20000 oracle tier keeps
   * exact cells, so gate-scale output and hashes are untouched.
   */
  private[graft] def reblockCells(a0: DataFrame, target: Long = 1024L)
      : DataFrame = {
    val plain = a0.select(col("vec_id"), col("embedding"),
      col("cell").cast("long").as("cell"))
    val overs = a0.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(2L * target))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    if (overs.isEmpty) return plain
    val overIds = overs.map(_._1).toSeq
    // one sub-cell per expected membership unit, so sub-cells land
    // back at ~target size; 1024 cap bounds the shipped matrices
    val subK = overs.map { case (c, cnt) =>
      c -> math.max(2, math.min(1024,
        math.ceil(cnt.toDouble / target).toInt))
    }.toMap
    val strideOf: Map[Int, Long] = overs.map { case (c, cnt) =>
      c -> math.max(1L, cnt / subK(c))
    }.toMap
    val ov = plain.filter(col("cell").isin(overIds.map(_.toLong): _*))
      .localCheckpoint() // feeds seeds, refinement and final keys
    val wr = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val strideCol = element_at(typedLit(strideOf.map { case (c, s) =>
      c.toLong -> s }), col("cell"))
    val subKCol = element_at(typedLit(subK.map { case (c, s) =>
      c.toLong -> s }), col("cell"))
    val seeds = ov
      .withColumn("rn", (row_number().over(wr) - 1).cast("long"))
      .filter(col("rn") % strideCol === 0 &&
        col("rn") / strideCol < subKCol)
      .select(col("cell"), (col("rn") / strideCol).cast("int").as("sub"),
        col("embedding"))
      .collect()
    val seedMap: Map[Long, Array[Array[Float]]] = seeds
      .groupBy(_.getLong(0)).map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
      }
    def grp(mats: Map[Long, Array[Array[Float]]]) = {
      val gs = mats.keys.toSeq.sorted
      element_at(call_function("graft_nearest_cells_grp",
        col("cell"), col("embedding"), typedLit(gs),
        typedLit(gs.map(g => mats(g).map(_.toSeq).toSeq)), lit(1)), 1)
    }
    val means = ov.withColumn("sub", grp(seedMap))
      .select(col("cell"), col("sub"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("sub"), col("dim"))
      .agg(avg(col("v")).as("m"))
      .collect()
    val refined: Map[Long, Array[Array[Float]]] = seedMap.map {
      case (c, mat) =>
        val next = mat.map(_.clone)
        means.foreach { r =>
          if (r.getLong(0) == c)
            next(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
        }
        c -> next
    }
    val ovKeys = ov
      .withColumn("sub", grp(refined))
      .select(col("vec_id"), col("embedding"),
        ((col("cell") + lit(1L)) * lit(1L << 24) +
          col("sub").cast("long")).as("cell"))
    plain.filter(!col("cell").isin(overIds.map(_.toLong): _*))
      .unionByName(ovKeys)
  }

  /**
   * SemDeDup-style semantic dedup audit: pairwise cosine ONLY within
   * k-means cells ([[kmeansAssignments]]) — the blocking that turns
   * the O(N²) all-pairs scan into Σ O(|cell|²), the entire point of
   * semantic dedup at 100 TB (embeddings shuffle exactly once, by
   * cell; pair work never crosses a cell boundary). Per cell: member
   * count, how many pairs clear the near-dup bar (on the ROUNDED
   * cosine — the engine-independent decision), and the closest pair.
   *
   * SCALE RULE — k grows with the corpus: blocking is only linear if
   * cell size stays bounded, so production sets k ≈ N/targetCellSize
   * (Σ|cell|² ≈ N·cellSize); a FIXED k makes cells — and pair work —
   * grow quadratically with N. Since r16 the rule is APPLIED, not
   * just documented: k defaults to [[semanticDedupK]] (8 through
   * n = 20000 — gate scales and sf1 unchanged — then n/1024), and
   * the oracle's dynamic-k CTE computes the identical k from
   * count(*), so the full suite self-certifies at sf10 (~N·1024
   * in-cell pairs) instead of grinding ~4e9 fixed-k cosines. The
   * spec proves the k-scaling law by measuring examined-pair counts
   * at two k.
   *
   * Pair cosines run on the ORIGINAL float embeddings through the
   * fused codegen'd `graft_cosine` kernel (one loop accumulates dot
   * and both norms in double — arithmetically identical to the
   * oracle's `::DOUBLE[]` norm-then-dot composition, the q_ann_topk
   * parity precedent); only the centroid math needs the double copies.
   */
  def semanticDedupQuery(spark: SparkSession, sfDir: String,
      k: Int = 0, iters: Int = 2, closeBar: Double = 0.5): DataFrame = {
    // k = 0 means the SCALE RULE decides (the oracle computes the
    // identical value from count(*)); explicit k is the spec hook
    val nEmb = Tables.load(spark, sfDir, "embeddings").count()
    val kk = if (k > 0) k else if (nEmb <= 20000L) 8 else (nEmb / 1024L).toInt
    // the assignment feeds three consumers (both pair sides + sizes):
    // materialize it once instead of re-running the Lloyd chain per
    // consumer — at scale this is the cell-partitioned store the pair
    // pass would read anyway. Above the oracle tier (n > 20000 — the
    // same boundary the dynamic-k law uses, so gates and sf1 hashes
    // are untouched) the fit switches to the kernel-assigned form:
    // the crossJoin Lloyd chain's n·k intermediate is the r17-named
    // quadratic (VERDICT #1) and only the k ≤ 8 oracle tier needs
    // its replayability.
    val assigned =
      if (k == 0 && nEmb > 20000L)
        // dynamic tier: kernel-assigned fit + second-level re-blocking
        // of hot cells ([[reblockCells]]) — cells in the output are
        // the REFINED partition (cell or (cell+1)·2²⁴+sub), LONG-keyed
        reblockCells(kmeansAssignmentsFast(spark, sfDir, kk, iters))
      else kmeansAssignments(spark, sfDir, kk, iters)
    val a = assigned
      .select(col("cell"), col("vec_id"), col("embedding"))
      .localCheckpoint()
    // ONE pass over the pair explosion: the near-dup tally and the
    // closest-pair pick fold into a single hash aggregate per cell —
    // candidate pairs are never materialized, persisted, shuffled, or
    // SORTED; the pair stream exists only inside the join stage and
    // what exchanges is one (count, 1-entry heap) row per cell. Two
    // prior shapes both hit Σ|cell|² ≈ N·1024-row cliffs at sf100
    // (measured r18): a persisted pair frame + row_number window
    // shuffled AND sorted ~1e9 pair rows (>55 GB scratch, disk-dead),
    // and max(struct(cos,−a,−b)) — struct agg buffers are not
    // hash-aggregable, so Spark fell back to SortAggregate and sorted
    // the same 1e9 rows (1474 s). graft_topk(k=1) is the repo's
    // TypedImperativeAggregate: ObjectHashAggregate, map-side
    // partials, ordering (cos DESC, id ASC) ≡ ranked (cos DESC, a,
    // b) with the tiebreak packed as a·2³² + b (exact while ids stay
    // under 2³¹ — at larger id spaces widen the packing).
    val pairs = a.select(col("cell"), col("vec_id").as("a"),
        col("embedding").as("va"))
      .join(a.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("vb")), Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos",
        fr(VectorOps.cosine(col("va"), col("vb")), 4))
      .select(col("cell"), col("a"), col("b"), col("cos"))
    val sizes = a.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
    val perCell = pairs.groupBy(col("cell"))
      .agg(sum(when(col("cos") >= closeBar, 1L).otherwise(0L))
        .as("n_close"),
        call_function("graft_topk", col("cos"),
          shiftleft(col("a"), 32) + col("b"), lit(1)).as("tk"))
    val bp = element_at(col("tk"), 1)
    val closeBest = perCell.select(col("cell"), col("n_close"),
      shiftright(bp.getField("id"), 32).as("a"),
      bp.getField("id").bitwiseAND(lit(0xFFFFFFFFL)).as("b"),
      bp.getField("ord").as("cos"))
    sizes.join(closeBest, Seq("cell"))
      .select(col("cell"), col("n_members"), col("n_close"),
        col("a"), col("b"), col("cos"))
      .orderBy(col("cell"))
  }

  /**
   * Embedding centroid drift per label: squared L2 distance between
   * the mean embeddings of two cohorts (vec_id parity — interleaved
   * halves of the same ingestion, so the expected drift is ≈ 0 and
   * anything large flags a real shift). The embedding-space twin of
   * [[graft.operators.TextAnalysis]]'s lexical drift gates: retrain
   * triggers and encoder-version audits both start from "did the
   * centroids move".
   *
   * Exact-rational form: each float component quantizes ONCE to
   * integer micro-units (the floor-form on a pure double expression —
   * engine-identical), per-(label, half, dim) sums are exact BIGINTs,
   * and the squared centroid distance clears to
   * Σ_dim (s₀n₁ − s₁n₀)² / ((n₀n₁)²·10¹²) — DECIMAL(38,0) products
   * (≈10²⁹ at sf10), one final non-negative integer division. The
   * largest-shift dimension (deterministic tie to the lowest dim)
   * rides along for the "which feature moved" question.
   *
   * Shape at 100 TB: the posexplode fans out to vecs × dims rows but
   * folds map-side to the (labels × 2 × dims) grid before any
   * exchange; everything after is grid arithmetic. Embeddings never
   * shuffle.
   */
  def embedDriftQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = Tables.load(spark, sfDir, "embeddings")
      .select(col("label").cast("long").as("label"),
        pmod(col("vec_id"), lit(2L)).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vi", expr(
        "CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
    val grid = rows.groupBy(col("label"), col("half"), col("dim"))
      .agg(sum(col("vi")).as("s"), count(lit(1)).as("n"))
    val h0 = grid.filter(col("half") === 0L)
      .select(col("label"), col("dim"), col("s").as("s0"),
        col("n").as("n0"))
    val h1 = grid.filter(col("half") === 1L)
      .select(col("label"), col("dim"), col("s").as("s1"),
        col("n").as("n1"))
    val dec = "decimal(38,0)"
    val dims = h0.join(h1, Seq("label", "dim"))
      .withColumn("diff",
        col("s0").cast(dec) * col("n1") - col("s1").cast(dec) * col("n0"))
      .withColumn("sq", col("diff") * col("diff"))
    val wTop = Window.partitionBy(col("label"))
      .orderBy(col("sq").desc, col("dim"))
    dims
      .withColumn("rk", row_number().over(wTop))
      .groupBy(col("label"))
      .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        sum(col("sq")).as("num"),
        max(when(col("rk") === 1, col("dim"))).as("top_dim"),
        max(when(col("rk") === 1, col("sq")).otherwise(lit(0)
          .cast(dec))).cast("string").as("top_sq_str"))
      .withColumn("dist_sq_micro", expr(
        "CAST(num * 1000000 div (CAST(n0 AS DECIMAL(38,0)) * n1 * " +
        "(CAST(n0 AS DECIMAL(38,0)) * n1) * 1000000000000) AS BIGINT)"))
      .select(col("label"), col("n0"), col("n1"),
        col("dist_sq_micro"), col("top_dim").cast("long").as("top_dim"),
        col("top_sq_str"))
      .orderBy(col("label"))
  }

  /**
   * IVF index maintenance on embedding drift — the execution half of
   * [[embedDriftQuery]]'s detector (which flags centroid drift but
   * repairs nothing). When the corpus distribution shifts, the coarse
   * quantizer is re-estimated INCREMENTALLY (one [[lloydRound]] from
   * the CURRENT matrix — never a from-scratch re-fit), and only the
   * vectors whose cell assignment changed move — the delta set a
   * cell-partitioned 100 TB vector store would rewrite (old-vs-new
   * assignment is a narrow two-expression projection; the moved rows
   * are the only ones that shuffle to new partitions; everything else
   * stays put).
   *
   * Gate (the recallGate pattern — model state is engine-internal,
   * invariants are oracle-predictable): drift is simulated by
   * REVERSING every 5th vector's dimensions — the "one shard was
   * re-embedded by a different model version" event, which reliably
   * lands the affected vectors in different cells at every corpus
   * size (a small additive shift does not: at 20k vectors the
   * re-estimated centroids move the UNPERTURBED population more than
   * the shift moves the perturbed one, and the alignment invariant
   * flips — measured at sf1); the gate hashes
   * the corpus/perturbed counts (exact), `moved_partial` (some but
   * fewer than half the vectors moved — the delta-driven claim),
   * `moved_aligned` (the moved fraction among perturbed vectors is at
   * least the moved fraction among unperturbed ones — movement tracks
   * the drift, exact integer cross-multiply), and the post-rebalance
   * serving invariants (self-retrieval, recall ≥ the fresh-build
   * floor used by the standing IVF gate).
   */
  def annRebalanceQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val perturbed = pmod(col("vec_id"), lit(5L)) === 0L
    val drifted = emb.select(col("vec_id"),
      when(perturbed, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    val m1 = buildIndex(spark, sfDir)
    val m2 = lloydRound(drifted, m1)
    // moved = the store's CURRENT location (old embedding under the
    // old quantizer — what was written at ingest) differs from the
    // post-rebalance one (new embedding under the re-estimated
    // quantizer). Comparing m1 vs m2 on the drifted embedding alone
    // would measure only quantizer motion and miss that a re-embedded
    // vector itself relocated — the bulk of the physical delta.
    val newEmb = when(perturbed, reverse(col("embedding")))
      .otherwise(col("embedding"))
    val moves = emb.select(perturbed.as("pert"),
        (cellOf(m1, col("embedding")) =!= cellOf(m2, newEmb))
          .as("moved"))
      .groupBy(col("pert"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"))
      .agg(
        sum(col("n")).as("n_vecs"),
        sum(when(col("pert"), col("n"))).as("n_perturbed"),
        sum(col("n_moved")).as("n_moved_all"),
        sum(when(col("pert"), col("n_moved"))).as("mv_p"),
        sum(when(!col("pert"), col("n_moved"))).as("mv_u"),
        sum(when(!col("pert"), col("n"))).as("n_u"))
    val serving = recallGate(
      ivfServe(drifted, drifted.filter(col("vec_id") < 5), m2),
      bruteForceTopK(drifted.filter(col("vec_id") < 5), drifted, 10),
      0.3)
    moves.crossJoin(serving)
      .select(col("n_vecs"), col("n_perturbed"),
        (col("n_moved_all") > 0L &&
          col("n_moved_all") * 2L < col("n_vecs")).as("moved_partial"),
        (col("mv_p") * col("n_u") >= col("mv_u") * col("n_perturbed"))
          .as("moved_aligned"),
        col("n_queries"), col("self_ok"), col("recall_ok"))
  }

  /**
   * Incremental ANN shard APPEND — the ingest-side twin of
   * [[annRebalanceQuery]]'s maintenance: a batch of NEW vectors joins
   * the IVF store WITHOUT a quantizer refit. Appending is a pure
   * `cellOf(quantizer, embedding)` projection on the batch alone —
   * the quantizer is frozen, so no existing vector's cell can change
   * and the ingest cost is ∝ batch size, never ∝ store size. That is
   * the property that makes a 100 TB cell-partitioned vector store
   * continuously ingestable; rebalance ([[annRebalanceQuery]]) is the
   * separate, deliberate maintenance event.
   *
   * Gate (recallGate pattern — quantizer state is engine-internal,
   * invariants oracle-predictable): base = vec_id ≢ 0 (mod 4),
   * append batch = the mod-4 quarter. Hashes: exact base/batch
   * counts; `cells_bounded` (the batch landed in ≥ 1 and ≤ k cells —
   * assignment really ran); `refit_would_move` (the counterfactual:
   * ONE Lloyd round on the merged corpus relocates at least one BASE
   * vector — demonstrating append's no-movement property is a design
   * choice, not vacuous); and post-append serving over the merged
   * store under the FROZEN quantizer (every new vector retrieves
   * itself — proof the batch actually entered the store — and recall
   * holds the standing IVF floor).
   */
  /** THE definition of [[annAppendQuery]]'s standing base-quantizer
    * fit — one helper shared by the fixture builder and the query, so
    * the store key and the fit (filter, re-key closed form, k) cannot
    * drift apart: a silent divergence would let the store serve
    * whichever copy ran first and invalidate the frozen-quantizer
    * premise with no error (ADVICE r18). Fit on the base RE-KEYED to
    * its contiguous rank (closed form for the mod-4 holdout:
    * vec_id − 1 − ⌊vec_id/4⌋): kmeansCentroids seeds by striding the
    * id domain, and on a gappy domain the stride can ALIAS the
    * holdout — at sf10 the stride (n/k = 7500) is divisible by 4, so
    * every raw-id seed candidate sat in the append batch and the fit
    * collected ZERO centroids. */
  private def annAppendBaseFit(spark: SparkSession, sfDir: String)
      : Array[Array[Float]] = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val baseForFit = emb.filter(pmod(col("vec_id"), lit(4L)) =!= 0L)
      .select((col("vec_id") - 1L - expr("vec_id div 4")).as("vec_id"),
        col("embedding"))
    graft.StoreCatalog.modelStore("ann_append_base@v1", sfDir)(
      fitCentroidMatrix(baseForFit, 20))
  }

  /** Fixture-phase builder for [[annAppendQuery]]'s standing base
    * quantizer (Bench calls this untimed, like [[buildPqStore]]). */
  def buildAnnAppendBase(spark: SparkSession, sfDir: String): Unit = {
    annAppendBaseFit(spark, sfDir)
    ()
  }

  def annAppendQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val isNew = pmod(col("vec_id"), lit(4L)) === 0L
    val base = emb.filter(!isNew)
    // STANDING base quantizer (r18 — the [[buildPqAppendBase]] rule
    // applied to the IVF append gate): the gate measures INGEST under
    // a frozen quantizer, so the base-corpus fit is pre-existing index
    // state, built once per corpus (Bench builds it in the untimed
    // fixture phase) — not re-fitted inside every measured append.
    // The fit definition lives in [[annAppendBaseFit]], shared with
    // the fixture builder.
    val m1 = annAppendBaseFit(spark, sfDir)
    val newCells = emb.filter(isNew)
      .select(cellOf(m1, col("embedding")).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_new"),
        count(lit(1)).as("cells_touched"))
    val m2 = lloydRound(emb, m1)
    val refitMoves = base.select(
        (cellOf(m1, col("embedding")) =!= cellOf(m2, col("embedding")))
          .as("mv"))
      .agg(count(lit(1)).as("n_base"),
        sum(when(col("mv"), 1L).otherwise(0L)).as("n_refit_moved"))
    val queries = emb.filter(isNew && col("vec_id") < 80L)
    val serving = recallGate(ivfServe(emb, queries, m1),
      bruteRef80(spark, sfDir).filter(
        pmod(col("query_id"), lit(4L)) === 0L), 0.3)
    refitMoves.crossJoin(newCells).crossJoin(serving)
      .select(col("n_base"), col("n_new"),
        (col("cells_touched") >= 1L && col("cells_touched") <= 20L)
          .as("cells_bounded"),
        (col("n_refit_moved") > 0L).as("refit_would_move"),
        col("n_queries"), col("self_ok"), col("recall_ok"))
  }

  /**
   * Incremental PQ codebook APPEND — [[annAppendQuery]]'s frozen-
   * quantizer property applied to the PRODUCT-QUANTIZED store: a
   * batch of new vectors encodes under the codebook fitted on the
   * base corpus alone — `m` nearest-sub-centroid projections per
   * vector, cost ∝ batch — and no existing vector's codes change (the
   * codebook is the only shared state, and it is frozen). That is
   * what lets a 100 TB code store ingest continuously: re-fitting the
   * codebook would re-encode EVERY stored vector (a full-corpus
   * rewrite), so refits are deliberate maintenance events, never
   * ingest side effects.
   *
   * Gate (recallGate pattern — codebook state is engine-internal,
   * invariants oracle-predictable): base = vec_id ≢ 0 (mod 4), batch
   * = the mod-4 quarter, fit re-keyed to the contiguous rank (the
   * stride-seed aliasing lesson from q_ann_append at sf10). Hashes:
   * exact base/batch counts; `codes_complete` (every batch vector
   * produced exactly m sub-codes); `codes_in_range` (each code ∈
   * [0, ksub)); `pairs_bounded` ((sub-space, code) coverage ≥ 1 and ≤
   * m·ksub — the encode really ran); `refit_would_move` (the
   * counterfactual: ONE L2 Lloyd round of sub-space 0's codebook over
   * the merged corpus re-codes at least one BASE vector — append's
   * no-movement property is a choice, not vacuous); and post-append
   * ADC serving over the merged code store under the frozen codebook
   * (batch self-retrieval + the standing PQ recall floor). Queries
   * are the 5 lowest batch ids — ADC scores collide on identical
   * codes, so the self-retrieval population matches the standing PQ
   * gate's, proven through sf10.
   */
  /** The STANDING index state for [[pqAppendQuery]]: the codebook
    * fitted on the base corpus (vec_id % 4 != 0) plus the base
    * vectors' codes, built once per corpus like [[buildPqStore]] —
    * the append gate measures INGEST (frozen-codebook encode of the
    * batch + serving over the merged store), so the pre-existing
    * index must not be re-fitted and the base must not be re-encoded
    * inside the measured query (it was both, ~3.5 s of the gate's
    * 5 s at sf0.1). */
  private def buildPqAppendBase(spark: SparkSession, sfDir: String)
      : (PqModel, String) = {
    val (model, store) =
      graft.StoreCatalog.modelPathStore("pq_append_base@v1", sfDir) { dir =>
        val emb = Tables.load(spark, sfDir, "embeddings")
        val base = emb.filter(pmod(col("vec_id"), lit(4L)) =!= 0L)
        // renumber to contiguous ids so stride seeding picks the same
        // seeds a standalone base corpus would
        val baseForFit = base.select(
          (col("vec_id") - 1L - expr("vec_id div 4")).as("vec_id"),
          col("embedding"))
        val model = fitPq(baseForFit)
        base.select(col("vec_id"),
            pqCodes(model, col("embedding")).as("codes"))
          .write.mode("overwrite").parquet(s"$dir/codes")
        model
      }
    (model, s"$store/codes")
  }

  def pqAppendQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val isNew = pmod(col("vec_id"), lit(4L)) === 0L
    val base = emb.filter(!isNew)
    val (model, baseCodesPath) = buildPqAppendBase(spark, sfDir)
    // frozen-codebook encode of the batch: a pure projection
    val newCodes = emb.filter(isNew)
      .select(col("vec_id"), pqCodes(model, col("embedding")).as("codes"))
    val cov = newCodes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "c")))
      .agg(count(lit(1)).as("n_code_entries"),
        countDistinct(col("s"), col("c")).as("pairs_touched"),
        min(col("c")).as("min_code"), max(col("c")).as("max_code"),
        countDistinct(col("vec_id")).as("n_new"))
    // refit counterfactual on sub-space 0 over the MERGED corpus
    val sub0 = slice(col("embedding"), 1, model.subDim)
    val cb0 = lloydRound(
      emb.select(col("vec_id"), sub0.as("embedding")),
      model.codebook(0), l2 = true)
    val refit = base.select(
        (cellOfL2(model.codebook(0), sub0) =!= cellOfL2(cb0, sub0))
          .as("mv"))
      .agg(count(lit(1)).as("n_base"),
        sum(when(col("mv"), 1L).otherwise(0L)).as("n_refit_moved"))
    // merged store = the standing code table + the batch's codes —
    // no stored code changes, and the base fp32 vectors are never
    // re-read at serving time (the PQ memory story: codes live in
    // memory, hence the return-path pin — Bench's warm re-run then
    // measures serving against the standing store, not the one-time
    // offline build)
    val merged = spark.read.parquet(baseCodesPath)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
      .unionByName(newCodes
        .select(col("vec_id").as("neighbor_id"), col("codes")))
      .tracked()
    val qFrame = emb.filter(isNew && col("vec_id") < 20L)
    val served = adcRank(
      merged.crossJoin(broadcast(
        pqQueriesOver(qFrame, model).drop("q_emb")))
        .withColumn("approx_cos", adcCosine(model)), 10)
    // exact reference sliced from the shared store (queries are
    // isNew && vec_id < 20 ≡ query_id % 4 = 0 and < 20 in the store)
    val serving = recallGate(served,
      bruteRef80(spark, sfDir).filter(
        pmod(col("query_id"), lit(4L)) === 0L && col("query_id") < 20L),
      0.15)
    refit.crossJoin(cov).crossJoin(serving)
      .select(col("n_base"), col("n_new"),
        (col("n_code_entries") === col("n_new") * model.m)
          .as("codes_complete"),
        (col("min_code") >= 0 && col("max_code") < model.ksub)
          .as("codes_in_range"),
        (col("pairs_touched") >= 1L &&
          col("pairs_touched") <= model.m.toLong * model.ksub)
          .as("pairs_bounded"),
        (col("n_refit_moved") > 0L).as("refit_would_move"),
        col("n_queries"), col("self_ok"), col("recall_ok"))
  }
}
