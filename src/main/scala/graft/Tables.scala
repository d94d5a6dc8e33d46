package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Table access layer over the driver-generated parquet tables.
 *
 * The reference engine (Apache ORC, `/root/reference`) is a columnar storage
 * engine; its "catalog" is one self-describing file per dataset
 * (`ReaderImpl.java:336`, schema in the footer). Our Spark-native analogue
 * keeps that shape: each logical table is a single columnar file (parquet in
 * the test harness, ORC via [[graft.sources.OrcIo]]), opened lazily and
 * scanned through Spark's vectorized reader so that Catalyst's column
 * pruning / filter pushdown reach the file scan (SURVEY.md §2.1 S2–S4).
 *
 * At 100 TB each `load` would point at a directory of many files; nothing
 * here assumes single-file inputs — `spark.read.parquet(path)` accepts
 * directories, and split planning (SURVEY.md S5) is Spark's FilePartition
 * machinery.
 */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(path(sfDir, name))
    // events.ts has shipped in two parquet encodings; both are repaired to
    // Spark's session-tz TimestampType here so every downstream consumer
    // (withWatermark, unix_millis, Row.getTimestamp) sees one type:
    //  - TIMESTAMP(NANOS): Spark reads it as a raw long under
    //    spark.sql.legacy.parquet.nanosAsLong → truncate to micros (the
    //    same semantics DuckDB applies casting TIMESTAMP_NS to TIMESTAMP).
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    //    TIMESTAMP_NTZ → cast to TimestampType. The session tz is pinned
    //    UTC (GraftSession), so the wall-clock values are unchanged and
    //    the DuckDB oracle (which reads the same file as naive
    //    timestamps) stays hash-identical.
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: `/` would promote the nanos long (~1.7e18) to
        // double, whose 53-bit mantissa loses microseconds
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view named after itself. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /**
   * Corpus half of a [[StoreCatalog]] key: the sfDir path PLUS a
   * fingerprint of every data file under it (name, length, mtime).
   * A corpus regenerated at the same path within one JVM then MISSES
   * its stores instead of serving stale artifacts — the
   * failure mode of keying on the path alone. Listing ~10 tables'
   * files is microseconds against store-build cost; at 100 TB the
   * analogous key is the catalog's table snapshot/version id.
   */
  def corpusKey(sfDir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val sig = all.flatMap { t => walk(new java.io.File(path(sfDir, t))) }
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    f"$sfDir@${scala.util.hashing.MurmurHash3.stringHash(sig)}%08x"
  }
}

/** Session defaults shared by Verify / Bench / tests. */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(graft.functions.VectorKernels.register)
      .withExtensions(graft.functions.KeyParams.register)
      .withExtensions(graft.sources.DriverScan.register)
      .withExtensions(graft.sources.FooterCount.register)
      // 32 matches local core count; on a real cluster this would be
      // ~2-3x total executor cores, set per deployment.
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.orc.filterPushdown", "true")
      .config("spark.sql.orc.enableVectorizedReader", "true")
      // answer MIN/MAX/COUNT from footer statistics without a scan, but
      // only on DSv2 reads (SURVEY.md §2.6): neither key affects the v1
      // reads OrcIo.read returns. There an unfiltered COUNT(*) comes
      // from graft.sources.FooterCount; MIN/MAX still scan.
      .config("spark.sql.orc.aggregatePushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // ObjectHashAggregate (every graft_* TypedImperativeAggregate —
      // topk, bitmap, bloom, cms, kmv — plus collect_list/collect_set
      // and percentile) falls back to SORT-based aggregation once a
      // partition's in-memory group count passes this threshold,
      // default 128: a groupBy with thousands of groups (e.g. semantic
      // dedup's per-cell pair aggregate, ~2k cells at sf100) would
      // sort its ENTIRE input stream — measured r18: the fallback
      // re-sorted ~1e9 pair rows that the hash path absorbs in one
      // streaming pass. 256Ki (r19, VERDICT r18 #5 — was 4M in r18)
      // is the MEMORY-BOUNDED raise: the threshold is exactly the cap
      // on hash-map entries per task, so worst-case added memory is
      // threshold × buffer size. graft sketch buffers are bounded ≤ a
      // few KB (topk heap = k·16B, bitmap/bloom/cms fixed arrays, kmv
      // k hashes) and the engine's collect_list buffers are
      // construction-bounded (per-doc shingle/token lists, ≤ window
      // rows, ≤ 64 buckets — audited in OPTIMIZATION_r19.md), so
      // 262,144 entries × ≤4 KB ⇒ ≤ ~1 GB per task worst case where
      // 4M allowed multi-GB; and 256Ki keeps 128× headroom over every
      // measured group count that needed the raise. Past the
      // threshold the tail of the input degrades to the SPILLABLE
      // sort path — bounded memory, never OOM — which is the right
      // trade for a 100 TB high-cardinality groupBy.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      .config("spark.ui.enabled", "false")
}
