package graft.sources

import graft.functions.VectorOps.{foldRound => fr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/**
 * Typed columnar write/read surface (SURVEY.md §2.5 W1-W7, §2.1 S1-S5).
 *
 * The reference's writer (`WriterImpl.java:2812-2833`) exposes codec,
 * stripe size, row-index stride, bloom-filter columns and dictionary
 * threshold as options; its reader plans projected, predicate-pushed,
 * split-parallel scans. Spark's native ORC datasource implements the
 * format itself (codecs/RLE/tree readers are delegated per SURVEY.md
 * §7.1); this module is the engine-level API that exposes those
 * semantics with the reference's defaults, plus a round-trip used by the
 * correctness gate.
 *
 * Scale: `write` produces one file per task — on a 1000-executor job the
 * natural parallel layout; `read` split-plans by stripe ranges
 * (SURVEY.md S5) via Spark's FilePartition machinery. Planning is not
 * free of driver work: the driver lists the directory (in parallel
 * above `spark.sql.sources.parallelPartitionDiscovery.threshold`
 * paths) and cuts each file into splits by size. It reads no footer;
 * ORC skips stripes and row groups inside the reader, whichever thread
 * runs it. A collect-shaped read (projections and filters over the
 * scan, `collect`, `take` or `limit`) whose files total at most
 * [[DriverScan.limit]] bytes reads them on the driver, one pool thread
 * per file, and starts no job ([[DriverScan]]). An unfiltered count
 * (`count()`, `count(*)`) sums the files' footer row counts and reads
 * no split ([[FooterCount]]). Every other read, and any other
 * aggregate, join or write over one, gives every split a task, even a
 * split whose statistics refute the filter.
 */
object OrcIo {

  /** Reference defaults, from `OrcConf.java` (see BASELINE.md). */
  val DefaultStripeSize: Long = 64L * 1024 * 1024 // orc.stripe.size
  val DefaultIndexStride: Int = 10000             // orc.row.index.stride
  val DefaultCompression: String = "zlib"         // orc.compress
  val DefaultBloomFpp: Double = 0.05              // orc.bloom.filter.fpp

  /**
   * Write with the reference writer's option surface:
   * codec ∈ {none,zlib,snappy,lzo,lz4,zstd}, stripe size, index stride,
   * bloom columns (W6), dictionary threshold (W2).
   */
  def write(df: DataFrame, path: String,
      compression: String = DefaultCompression,
      stripeSize: Long = DefaultStripeSize,
      indexStride: Int = DefaultIndexStride,
      bloomColumns: Seq[String] = Nil,
      bloomFpp: Double = DefaultBloomFpp,
      dictionaryThreshold: Double = 0.8,
      mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode).options(writeOptions(compression, stripeSize,
      indexStride, bloomColumns, bloomFpp, dictionaryThreshold))
    // hive-style directory partitioning: the coarsest pruning layer a
    // 100 TB layout leans on (partition elimination before any footer
    // or stripe stat is read)
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*).orc(path)
    else w.orc(path)
  }

  /** The data-source options [[write]] passes for its writer options;
    * with no arguments, the ones of a default [[write]]. */
  private[graft] def writeOptions(compression: String = DefaultCompression,
      stripeSize: Long = DefaultStripeSize,
      indexStride: Int = DefaultIndexStride,
      bloomColumns: Seq[String] = Nil,
      bloomFpp: Double = DefaultBloomFpp,
      dictionaryThreshold: Double = 0.8): Map[String, String] =
    Map("compression" -> compression,
      "orc.stripe.size" -> stripeSize.toString,
      "orc.row.index.stride" -> indexStride.toString,
      "orc.dictionary.key.threshold" -> dictionaryThreshold.toString) ++
      (if (bloomColumns.isEmpty) Nil
       else Seq("orc.bloom.filter.columns" -> bloomColumns.mkString(","),
         "orc.bloom.filter.fpp" -> bloomFpp.toString))

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Typed row-oriented read (SURVEY.md S7): the `OrcMapredRecordReader`
    * analogue is `Dataset[T]` decode — Spark's encoder turns each
    * columnar batch row into the case class. */
  def readAs[T: org.apache.spark.sql.Encoder](spark: SparkSession,
      path: String): org.apache.spark.sql.Dataset[T] =
    spark.read.orc(path).as[T]

  /** Read with an explicit reader schema — schema-on-read evolution
    * (SURVEY.md §2.3): missing columns become nulls, matching columns
    * are cast by Spark's ORC reader. */
  def readEvolved(spark: SparkSession, path: String,
      readerSchema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(readerSchema).orc(path)

  /**
   * Positional schema evolution — the `orc.force.positional.evolution`
   * analogue (`SchemaEvolution.java:93-113`): reader column i maps to
   * file column i regardless of names, one level deep. The reference
   * also falls back to positional matching automatically when the file
   * carries no real column names (pre-HIVE-4243 writers emitted
   * `_col0, _col1, …`) — Spark's ORC reader implements both behaviors
   * when the option is set / the `_colN` pattern is detected.
   */
  def readPositional(spark: SparkSession, path: String,
      readerSchema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("orc.force.positional.evolution", "true")
      .schema(readerSchema).orc(path)

  /** The directories [[scratchDir]] made in this JVM and has not yet
    * deleted. */
  private[graft] val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // one shutdown hook deletes them all: `deleteOnExit` would delete
  // only the empty ones
  sys.addShutdownHook(deleteScratch(scratchDirs.asScala.toSeq))

  /** Delete directory `dir` and everything beneath it, following no
    * links; nothing when it does not exist. */
  private[graft] def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** [[deleteTree]] each of `dirs` and forget it. Only directories
    * [[scratchDir]] made are touched, so durable stores
    * (`GRAFT_STORE_DIR`) never are. A directory that cannot be deleted
    * (a file appearing while it is walked) is left and the rest go on. */
  private[graft] def deleteScratch(dirs: Seq[String]): Unit =
    dirs.filter(scratchDirs.remove).foreach { d =>
      try deleteTree(d) catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException =>
      }
    }

  /** A fresh scratch directory for one query's files (path is
    * per-process), deleted with its contents when the JVM exits. */
  def scratchDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    scratchDirs.add(d)
    d
  }

  /**
   * Correctness-gate round-trip (SURVEY.md §5.2): parquet source →
   * ORC write (zlib, bloom on l_orderkey) → ORC scan with projection +
   * pushed filter → aggregate. Oracle runs the same aggregate on the
   * parquet source, so any loss/corruption in the ORC write or scan
   * path breaks the hash match.
   */
  def roundTripQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val src = graft.Tables.load(spark, sfDir, "lineitem")
    val dir = scratchDir("orc_rt")
    write(src, s"$dir/lineitem_orc", compression = "zlib",
      bloomColumns = Seq("l_orderkey"))
    read(spark, s"$dir/lineitem_orc")
      .filter(col("l_quantity") >= 25.0)
      .groupBy(col("l_returnflag"))
      // price sum in DECIMAL (the q1/q5 rule — double accumulation
      // order breaks half-cent stability at 100× magnitudes)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice").cast("decimal(28,8)")), 2)
          .cast("double").as("sum_price"),
        fr(min(col("l_quantity")), 2).as("min_qty"),
        fr(max(col("l_quantity")), 2).as("max_qty"))
      .orderBy(col("l_returnflag"))
  }

  /**
   * File merge / compaction (SURVEY.md W9), two paths mirroring the
   * reference's two use cases:
   *
   *  - [[merge]]: distributed rewrite sized to the stripe/block budget
   *    — the Spark-idiomatic 100 TB compaction (parallel,
   *    codec-converting if asked).
   *  - [[concat]]: raw stripe-append without decode, the exact
   *    `WriterImpl.appendStripe` parity path (reference
   *    `java/core/src/java/org/apache/orc/impl/WriterImpl.java:2889`,
   *    gated like `TestVectorOrcFile.testMerge:3098`) — single-writer
   *    and driver-bound by design, the fast small-file concat for
   *    same-layout files.
   */
  def merge(spark: SparkSession, inPaths: Seq[String], outPath: String,
      targetFileBytes: Long = 256L * 1024 * 1024,
      compression: String = DefaultCompression): Unit = {
    val df = spark.read.orc(inPaths: _*)
    val conf = spark.sessionState.newHadoopConf()
    val totalBytes = inPaths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).getContentSummary(hp).getLength
    }.sum
    val nFiles = math.max(1, (totalBytes / targetFileBytes).toInt)
    write(df.repartition(nFiles), outPath, compression = compression)
  }

  /**
   * Raw stripe-append concat: copies every input stripe's pre-encoded
   * bytes into one output file WITHOUT decoding — `Writer.appendStripe`
   * carries the original `StripeInformation` + per-stripe column
   * statistics into the new footer/metadata, and `addUserMetadata`
   * merges the user metadata maps (last writer wins per key, the
   * reference's rule). Inputs must share schema and compression, like
   * the reference's merge precondition. Returns the output row count.
   */
  def concat(spark: SparkSession, inFiles: Seq[String], outFile: String)
      : Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val opts = OrcMeta.withReader(inFiles.head, conf) { first =>
      org.apache.orc.OrcFile.writerOptions(conf)
        .setSchema(first.getSchema)
        .compress(first.getCompressionKind)
        .bufferSize(first.getCompressionSize)
        .rowIndexStride(first.getRowIndexStride)
        .overwrite(true)
    }
    val (schema, codec) = (opts.getSchema, opts.getCompress)
    val writer = org.apache.orc.OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(outFile), opts)
    // user metadata merged across inputs, last writer wins per key
    val userMeta =
      scala.collection.mutable.LinkedHashMap[String, java.nio.ByteBuffer]()
    val rows = inFiles.map { p =>
      OrcMeta.withReader(p, conf) { reader =>
        require(reader.getSchema.equals(schema),
          s"concat schema mismatch at $p: ${reader.getSchema} vs $schema")
        require(reader.getCompressionKind == codec,
          s"concat compression mismatch at $p")
        val stripeStats = reader.getStripeStatistics()
        val path = new org.apache.hadoop.fs.Path(p)
        val in = path.getFileSystem(conf).open(path)
        try {
          reader.getStripes.asScala.zipWithIndex.foreach { case (si, i) =>
            val len = si.getLength.toInt // index + data + stripe footer
            val buf = new Array[Byte](len)
            in.readFully(si.getOffset, buf, 0, len)
            writer.appendStripe(buf, 0, len, si,
              Array(stripeStats.get(i)))
          }
        } finally in.close()
        reader.getMetadataKeys.asScala.foreach { k =>
          userMeta(k) = reader.getMetadataValue(k)
        }
        reader.getNumberOfRows
      }
    }.sum
    userMeta.foreach { case (k, v) => writer.addUserMetadata(k, v) }
    writer.close()
    OrcMeta.evictTails(outFile, conf)
    rows
  }

  /** Side-file suffix advertising the last flushed (readable) length of
    * an open/append-in-progress file (`OrcAcidUtils.java:27-60`). */
  val FlushLengthSuffix = "_flush_length"

  /** The complete longs in a file's side file, oldest first (empty if
    * there is no side file). */
  private def flushLengths(spark: SparkSession, orcFile: String)
      : Seq[Long] = {
    val side = new org.apache.hadoop.fs.Path(orcFile + FlushLengthSuffix)
    val fs = side.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(side)) Nil
    else {
      val in = fs.open(side)
      try Seq.fill((fs.getFileStatus(side).getLen / 8).toInt)(in.readLong())
      finally in.close()
    }
  }

  /** Last complete long in the side file — the readable prefix length
    * (`OrcAcidUtils.getLastFlushLength`). None if no side file. */
  def lastFlushLength(spark: SparkSession, orcFile: String): Option[Long] =
    flushLengths(spark, orcFile).lastOption

  /** Append a flushed-length entry to a file's side file (the writer
    * side of W8's intermediate-footer contract). */
  def writeFlushLength(spark: SparkSession, orcFile: String,
      len: Long): Unit = {
    val prior = flushLengths(spark, orcFile)
    val side = new org.apache.hadoop.fs.Path(orcFile + FlushLengthSuffix)
    // rewrite prior entries + the new one (local filesystems lack
    // append(); the file is a handful of longs)
    val out = side.getFileSystem(spark.sessionState.newHadoopConf())
      .create(side, true)
    try (prior :+ len).foreach(out.writeLong) finally out.close()
  }

  /**
   * Salvage read over a possibly-corrupted dataset — the engine-level
   * counterpart of the reference tool's `meta --recover` (`FileDump`
   * side-file-aware recovery): probe each file's tail, scan only the
   * readable ones, and report the rest. On a 100 TB lake one truncated
   * file must not fail the job; the probe is a footer-only IO per file.
   *
   * Files whose tail probe fails but that carry a `_flush_length` side
   * file (an open file mid-append, W8) are recovered up to the last
   * advertised footer: the side file names a readable prefix, and the
   * ORC reader's `maxLength` option replays exactly that prefix.
   *
   * Returns (readable DataFrame, list of unreadable file paths).
   */
  def readSalvage(spark: SparkSession, path: String)
      : (DataFrame, Seq[String]) = {
    val conf = spark.sessionState.newHadoopConf()
    def opens(f: String, maxLength: Long = Long.MaxValue): Boolean =
      try OrcMeta.withReader(f, conf, maxLength)(_ => true)
      catch { case _: Exception => false }
    val (good, failed) = OrcMeta.dataFiles(spark, path).partition(opens(_))
    // side-file recovery: readable prefix via reader maxLength
    val lens = failed.flatMap(f => lastFlushLength(spark, f).map(f -> _))
      .toMap
    val (recoverable, bad) =
      failed.partition(f => lens.get(f).exists(opens(f, _)))
    val goodDf =
      if (good.nonEmpty) Some(spark.read.orc(good: _*)) else None
    val recoveredDf =
      if (recoverable.isEmpty) None
      else Some(UnionOrc.read(spark, recoverable, lens))
    val df = (goodDf, recoveredDf) match {
      case (Some(g), Some(r)) => g.unionByName(r)
      case (Some(g), None) => g
      case (None, Some(r)) => r
      case (None, None) => spark.emptyDataFrame
    }
    (df, bad)
  }

  /**
   * Correctness-gate query for side-file salvage: write nation to one
   * ORC file, synthesize an "open file mid-append" twin (valid content
   * + garbage tail + `_flush_length` advertising the flushed prefix),
   * salvage-read the directory. Result = every nation row twice, no
   * losses — the oracle replays `nation` with n_copies 2.
   */
  def salvageQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = scratchDir("salvage_q")
    write(graft.Tables.load(spark, sfDir, "nation").coalesce(1), s"$dir/t")
    val orcFile = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val goodBytes = java.nio.file.Files.readAllBytes(orcFile.toPath)
    val open = s"$dir/t/open.orc"
    java.nio.file.Files.write(java.nio.file.Paths.get(open),
      goodBytes ++ Array.fill[Byte](4096)(0x5A))
    writeFlushLength(spark, open, goodBytes.length.toLong)
    val (df, bad) = readSalvage(spark, s"$dir/t")
    require(bad.isEmpty, s"salvage lost files: $bad")
    df.groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(lit(1)).as("n_copies"))
      .orderBy(col("n_nationkey"))
  }

  /** Same round-trip across every supported codec (W4): each codec's
    * file must decode to identical per-codec aggregates. */
  def codecMatrixQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val src = graft.Tables.load(spark, sfDir, "orders")
    val dir = scratchDir("orc_codec")
    // full write matrix (W4): lzo via aircompressor, like the rest
    val codecs = Seq("lzo", "lz4", "none", "snappy", "zlib", "zstd")
    // the five writes are independent Spark jobs — run them concurrently
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.sequence(codecs.map(c =>
        Future(write(src, s"$dir/$c", compression = c)))),
      scala.concurrent.duration.Duration.Inf)
    codecs.map { c =>
      read(spark, s"$dir/$c")
        // price sum in DECIMAL (the q1/q5 rule) — exact at any scale
        .agg(lit(c).as("codec"), count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice").cast("decimal(28,8)")), 2)
            .cast("double").as("sum_price"))
        .select(col("codec"), col("n_rows"), col("sum_price"))
    }.reduce(_.unionAll(_)).orderBy(col("codec"))
  }
}
