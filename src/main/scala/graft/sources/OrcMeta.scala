package graft.sources

import com.google.common.cache.{Cache, CacheBuilder, Weigher}
import com.google.common.util.concurrent.{ThreadFactoryBuilder,
  UncheckedExecutionException}
import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.orc.{ColumnStatistics, OrcFile, Reader, TypeDescription}
import org.apache.orc.impl.OrcTail
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import scala.reflect.runtime.universe.TypeTag

/**
 * File-metadata inspection — the `orc-tools meta` / `orc-metadata` /
 * `orc-statistics` analogue (SURVEY.md §2.9), rendered as DataFrames.
 *
 * The reference parses the file tail (PostScript + Footer + Metadata,
 * `ReaderImpl.java:515-560`) and dumps schema, stripe layout and
 * per-column statistics (`FileDump.java:91-768`). We delegate tail
 * parsing to the ORC reader library (format internals are out of engine
 * scope per SURVEY.md §7.1) and surface the results relationally.
 *
 * The dataset at a path is its data files: the path itself when it is
 * a file; otherwise every regular file beneath it, descending into
 * subdirectories (hive `key=value` partitions), minus names starting
 * with `_` or `.` (Spark's hidden-path rule: `_SUCCESS`, `.crc`
 * checksums, metadata carriers such as `_acid_stats.orc`) and
 * `*_flush_length` side files — the files `spark.read.orc(path)` scans.
 * [[dataFiles]] is that rule; every footer surface, and every other
 * module that lists or probes ORC files, goes through it and
 * [[withReader]].
 *
 * Scale: footer reads are O(#files) metadata-only IOs ([[perFile]]),
 * read on a shared 8-thread driver pool whatever the file count, and
 * every surface answers as a local DataFrame with no Spark job. Each
 * parsed tail is kept in a bounded cache keyed by (qualified path,
 * length, modification time), so a repeated footer call costs the
 * listing. A surface's rows are held on the driver: the largest, the
 * row-group index, is one row per 10k-row group and column.
 */
object OrcMeta {

  case class StripeInfo(file: String, stripe: Int, offset: Long,
      indexLength: Long, dataLength: Long, footerLength: Long, rows: Long)

  /** `statsTrusted` mirrors the reference's writer-version gate
    * (`OrcFile.java:116-127`): pre-HIVE-8732 writers persisted corrupt
    * string max statistics, so footer answers from such files must not
    * be trusted (fall back to scan — [[graft.operators.Stats]]). */
  case class ColStats(file: String, columnId: Int, column: String,
      count: Long, hasNull: Boolean, min: String, max: String, sum: String,
      statsTrusted: Boolean)

  case class FileMeta(file: String, rows: Long, rawDataSize: Long,
      contentLength: Long, stripeCount: Int, compression: String,
      compressionBlockSize: Long, writerVersion: String, schema: String)

  /** The data files of the dataset at `path`, sorted (the rule is in
    * this object's scaladoc). Lists on the driver with the session's
    * Hadoop configuration. */
  private[graft] def dataFiles(spark: SparkSession, path: String)
      : Seq[String] = listing(spark, path).map(_._1)

  /** [[dataFiles]] with each file's tail key (whose `length` is the
    * file's byte size), taken from the listing's own statuses. */
  private[graft] def listing(spark: SparkSession, path: String)
      : Seq[(String, TailKey)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def under(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq
      .filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".") ||
          n.endsWith(OrcIo.FlushLengthSuffix)
      }
      .flatMap(s => if (s.isDirectory) under(s.getPath) else Seq(s))
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      under(p).map(s => s.getPath.toString -> TailKey(fs, s)).sortBy(_._1)
    else Seq(path -> TailKey(fs, st))
  }

  /** A parsed tail's identity: a rewrite changes the length or the
    * modification time. A writer that replaces a file in place within
    * one mtime tick evicts it instead ([[evictTails]]). */
  private[graft] case class TailKey(path: String, length: Long,
      mtime: Long) {
    /** The whole file as a scan's split. */
    def split: PartitionedFile = PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(path), 0L, length, Array.empty, mtime, length)
  }
  private[graft] object TailKey {
    def apply(fs: FileSystem, s: FileStatus): TailKey = TailKey(
      fs.makeQualified(s.getPath).toString, s.getLen, s.getModificationTime)
    /** The key of the file a scan's split reads. */
    def apply(file: PartitionedFile, conf: Configuration): TailKey = {
      val p = file.toPath
      TailKey(p.getFileSystem(conf).makeQualified(p).toString,
        file.fileSize, file.modificationTime)
    }
  }

  /** Tails (PostScript, Footer and Metadata section) by [[TailKey]],
    * bounded by their buffered bytes (64 MB, some 4,000 tails of the
    * reader's 16 KB first read); a miss loads once however many
    * callers wait on it. */
  private[graft] val tails: Cache[TailKey, OrcTail] = CacheBuilder
    .newBuilder().maximumWeight(64L << 20)
    .weigher(new Weigher[TailKey, OrcTail] {
      def weigh(k: TailKey, t: OrcTail): Int = t.getTailBuffer.getLength
    })
    .recordStats().build[TailKey, OrcTail]()

  /** Drop every cached tail of `path`, for a writer that replaces it. */
  private[graft] def evictTails(path: String, conf: Configuration): Unit = {
    val p = new Path(path)
    val q = p.getFileSystem(conf).makeQualified(p).toString
    tails.asMap.keySet.removeIf(_.path == q)
  }

  private def open[A](file: String, opts: OrcFile.ReaderOptions)
      (f: Reader => A): A = {
    val reader = OrcFile.createReader(new Path(file), opts)
    try f(reader) finally reader.close()
  }

  /** The parsed tail of the file `key` names, from [[tails]], loaded
    * with `conf` on a miss. */
  private[graft] def tail(key: TailKey, conf: Configuration): OrcTail =
    try tails.get(key, () => {
      val opts = OrcFile.readerOptions(conf)
      open(key.path, opts)(_ => ())
      // the reader records the tail it read in its options; keep the
      // tail alone, not the closed reader it points back to
      val t = opts.getOrcTail
      new OrcTail(t.getFileTail, t.getTailBuffer, t.getFileModificationTime)
    }) catch {
      case e @ (_: ExecutionException | _: UncheckedExecutionException) =>
        throw e.getCause
    }

  /** Open one file's tail with `conf` (on the driver, the session's
    * Hadoop configuration), run `f`, close. `maxLength` reads only that
    * prefix of the file (the side-file recovery of
    * [[OrcIo.readSalvage]]). It reads the tail itself: the tail cache
    * serves [[perFile]] and the readers of [[DriverScan]] alone. */
  private[graft] def withReader[A](file: String, conf: Configuration,
      maxLength: Long = Long.MaxValue)(f: Reader => A): A =
    open(file, OrcFile.readerOptions(conf).maxLength(maxLength))(f)

  private lazy val driverPool = Executors.newFixedThreadPool(8,
    new ThreadFactoryBuilder().setDaemon(true)
      .setNameFormat("graft-orc-driver-%d").build())

  /** Run each of `work` on the driver's 8-thread ORC pool (footer
    * reads here, small scans in [[DriverScan]]); their results in
    * order. The first failure is rethrown once every piece has ended,
    * so nothing of a failed call is still running when it returns. */
  private[graft] def onPool[A](work: Seq[() => A]): Seq[A] = {
    val futures = work.map(w => driverPool.submit(new Callable[A] {
      def call(): A = w()
    }))
    val done = futures.map { f =>
      try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
    }
    done.collectFirst { case Left(e) => throw e }
    done.map(_.toOption.get)
  }

  /** The tail fan-out behind every surface: `f`'s rows per file of
    * `files` (a [[listing]]), in order, each file opened with `conf` on
    * its cached tail (loaded on a miss) and read on the driver pool
    * ([[onPool]]). */
  private[sources] def perFile[A](files: Seq[(String, TailKey)],
      conf: Configuration)(f: (String, Reader) => Seq[A]): Seq[A] =
    onPool(files.map { case (file, key) => () =>
      open(key.path, OrcFile.readerOptions(conf).orcTail(tail(key, conf)))(
        f(file, _))
    }).flatten

  /** [[perFile]] over the data files of the dataset at `path`, read
    * with the session's Hadoop configuration. */
  private def perFile[A](spark: SparkSession, path: String)
      (f: (String, Reader) => Seq[A]): Seq[A] =
    perFile(listing(spark, path), spark.sessionState.newHadoopConf())(f)

  /** [[perFile]]'s rows as a local DataFrame: collecting it runs no
    * job. */
  private def frame[A <: Product: TypeTag](spark: SparkSession,
      rows: Seq[A]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  /** One row per (file, stripe): the scan-parallelism layout
    * (`StripeInformation`, SURVEY.md §1.1). */
  def stripes(spark: SparkSession, path: String): DataFrame = {
    frame(spark, perFile(spark, path) { (file, r) =>
      import scala.jdk.CollectionConverters._
      r.getStripes.asScala.zipWithIndex.map { case (s, i) =>
        StripeInfo(file, i, s.getOffset, s.getIndexLength,
          s.getDataLength, s.getFooterLength, s.getNumberOfRows)
      }.toSeq
    })
  }

  /** One row per (file, column): footer-level statistics
    * (`ColumnStatisticsImpl`, SURVEY.md W5). */
  def columnStats(spark: SparkSession, path: String): DataFrame =
    frame(spark, perFile(spark, path)(footerStats(_, _).map(_._1)))

  /** [[columnStats]] collected, each row with its
    * column's ORC type category — what a merge across files by type
    * ([[graft.operators.Stats.statsOnlyColumnStats]]) needs. One
    * footer pass, no shuffle. */
  private[graft] def typedColumnStats(spark: SparkSession, path: String)
      : Seq[(ColStats, TypeDescription.Category)] =
    perFile(spark, path)(footerStats)

  private def footerStats(file: String, r: Reader)
      : Seq[(ColStats, TypeDescription.Category)] = {
    val schema = r.getSchema
    val names = flatColumnNames(schema)
    val trusted = writerStatsTrusted(r.getWriterVersion)
    r.getStatistics.zipWithIndex.map { case (cs, id) =>
      val (min, max, sum) = renderStats(cs)
      ColStats(file, id, names.getOrElse(id, s"_col$id"),
        cs.getNumberOfValues, cs.hasNull, min, max, sum, trusted) ->
        schema.findSubtype(id).getCategory
    }.toSeq
  }

  case class StripeColStats(file: String, stripe: Int, columnId: Int,
      column: String, count: Long, hasNull: Boolean, min: String,
      max: String, sum: String)

  /** One row per (file, stripe, column): the tail's Metadata section
    * (stripe-level statistics, `orc_proto.proto:239-244`) — the middle
    * granularity of the reference's three-level stats
    * (SURVEY.md §1.3), used for stripe elimination. */
  def stripeStats(spark: SparkSession, path: String): DataFrame = {
    frame(spark, perFile(spark, path) { (file, r) =>
      val names = flatColumnNames(r.getSchema)
      import scala.jdk.CollectionConverters._
      r.getStripeStatistics.asScala.zipWithIndex.flatMap { case (ss, si) =>
        ss.getColumnStatistics.zipWithIndex.map { case (cs, ci) =>
          val (min, max, sum) = renderStats(cs)
          StripeColStats(file, si, ci, names.getOrElse(ci, s"_col$ci"),
            cs.getNumberOfValues, cs.hasNull, min, max, sum)
        }
      }.toSeq
    })
  }

  case class RowGroupStats(file: String, stripe: Int, columnId: Int,
      column: String, rowGroup: Int, count: Long, hasNull: Boolean,
      min: String, max: String)

  /**
   * One row per (file, stripe, column, row-group): the row-index
   * entries the `meta --rowindex` tool dumps (`FileDump.java`,
   * `orc_proto.proto:84-91`) — the finest stats granularity, the one
   * predicate pushdown uses to skip 10k-row groups inside a stripe.
   */
  def rowGroupIndex(spark: SparkSession, path: String,
      columns: Seq[String] = Nil): DataFrame = {
    frame(spark, perFile(spark, path) { (file, r) =>
      val schema = r.getSchema
      val names = flatColumnNames(schema)
      val wanted: Set[Int] =
        if (columns.isEmpty) names.keySet
        else names.filter(kv => columns.contains(kv._2)).keySet
      val include = new Array[Boolean](schema.getMaximumId + 1)
      wanted.foreach(i => if (i < include.length) include(i) = true)
      val rows = r.rows().asInstanceOf[org.apache.orc.impl.RecordReaderImpl]
      try {
        import scala.jdk.CollectionConverters._
        r.getStripes.asScala.zipWithIndex.flatMap { case (_, si) =>
          // the third argument selects the columns whose bloom filters
          // are read alongside the index; null fails on any file that
          // carries bloom filters
          val idx = rows.readRowIndex(si, include, include)
          idx.getRowGroupIndex.zipWithIndex
            .filter { case (ri, ci) =>
              ri != null && include.lift(ci).getOrElse(false) }
            .flatMap { case (ri, ci) =>
              ri.getEntryList.asScala.zipWithIndex.map { case (entry, rg) =>
                val cs = org.apache.orc.impl.ColumnStatisticsImpl
                  .deserialize(null, entry.getStatistics)
                val (min, max, _) = renderStats(cs)
                RowGroupStats(file, si, ci, names.getOrElse(ci, s"_col$ci"),
                  rg, cs.getNumberOfValues, cs.hasNull, min, max)
              }
            }
        }.toSeq
      } finally rows.close()
    })
  }

  case class StripeEncoding(file: String, stripe: Int, columnId: Int,
      column: String, encoding: String, dictionarySize: Int)

  /**
   * One row per (file, stripe, column): the column encodings the
   * `meta` tool dumps per stripe (`FileDump.java` "Encoding column"
   * section) — DIRECT vs DICTIONARY (and their RLEv2 `_V2` forms),
   * plus dictionary size. This is the observable of the writer's
   * encoding-selection rule (W2: distinct/total ≤ 0.8 after the first
   * 10k rows, `WriterImpl.java:1227-1236`), which OrcIoSpec pins.
   */
  def stripeEncodings(spark: SparkSession, path: String): DataFrame = {
    frame(spark, perFile(spark, path) { (file, r) =>
      val names = flatColumnNames(r.getSchema)
      val rows = r.rows().asInstanceOf[org.apache.orc.impl.RecordReaderImpl]
      try {
        import scala.jdk.CollectionConverters._
        r.getStripes.asScala.zipWithIndex.flatMap { case (si, i) =>
          rows.readStripeFooter(si).getColumnsList.asScala.zipWithIndex
            .map { case (enc, ci) =>
              StripeEncoding(file, i, ci, names.getOrElse(ci, s"_col$ci"),
                enc.getKind.toString, enc.getDictionarySize)
            }
        }.toSeq
      } finally rows.close()
    })
  }

  /** One row per file: the `orc-metadata` summary. */
  def fileMeta(spark: SparkSession, path: String): DataFrame =
    frame(spark, perFile(spark, path)(fileMetaOf))

  /** [[fileMeta]] collected — what the footer sums of
    * [[graft.operators.Stats]] add up on the driver. */
  private[graft] def fileMetas(spark: SparkSession, path: String)
      : Seq[FileMeta] =
    perFile(spark, path)(fileMetaOf)

  private def fileMetaOf(file: String, r: Reader): Seq[FileMeta] =
    Seq(FileMeta(file, r.getNumberOfRows, r.getRawDataSize,
      r.getContentLength, r.getStripes.size(),
      r.getCompressionKind.toString, r.getCompressionSize,
      r.getWriterVersion.toString, r.getSchema.toString))

  case class UserMetadata(file: String, key: String, value: String)

  /** One row per (file, user-metadata key): the footer's application
    * metadata surface (`appendUserMetadata`; read side
    * `Reader.getMetadataKeys`). Values are UTF-8-decoded — the only
    * form the engine writes (e.g. the ACID stats key,
    * `OrcAcidUtils.java:27-33`). */
  def userMetadata(spark: SparkSession, path: String): DataFrame = {
    frame(spark, perFile(spark, path) { (file, r) =>
      import scala.jdk.CollectionConverters._
      r.getMetadataKeys.asScala.map { k =>
        val buf = r.getMetadataValue(k)
        val bytes = new Array[Byte](buf.remaining())
        buf.get(bytes)
        UserMetadata(file, k, new String(bytes, "UTF-8"))
      }.toSeq
    })
  }

  /**
   * Write a zero-row ORC "metadata carrier" file whose footer holds the
   * given user-metadata entries — how the engine persists dataset-level
   * application metadata (the reference attaches it to each data file
   * at write time; Spark's datasource has no hook for that, so the
   * engine uses one tiny sidecar per directory, written via the same
   * ORC writer API and readable by any ORC metadata tool). `conf` is the
   * caller's Hadoop configuration, the one its data files were written
   * with, so the sidecar lands on the same FileSystem.
   */
  def writeMetadataFile(path: String, metadata: Map[String, String],
      conf: Configuration): Unit = {
    val opts = OrcFile.writerOptions(conf)
      .setSchema(org.apache.orc.TypeDescription.fromString("struct<>"))
      .overwrite(true)
    val w = OrcFile.createWriter(new Path(path), opts)
    metadata.foreach { case (k, v) =>
      w.addUserMetadata(k,
        java.nio.ByteBuffer.wrap(v.getBytes("UTF-8")))
    }
    w.close()
    evictTails(path, conf)
  }

  /** Correctness-gate query for the user-metadata surface: write a
    * metadata-carrier file with fixed entries, read the keys back. The
    * oracle is the same fixed VALUES list. */
  def userMetadataQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft_user_meta_q").toString
    writeMetadataFile(s"$dir/_meta.orc", Map(
      "graft.writer" -> "graft-engine",
      "graft.format.version" -> "2",
      "hive.acid.stats" -> "100,10,1"), spark.sessionState.newHadoopConf())
    userMetadata(spark, s"$dir/_meta.orc")
      .select(col("key"), col("value"))
      .orderBy(col("key"))
  }

  case class MemoryEstimate(file: String, columns: String,
      selectedColumnIds: Seq[Int], selectedStreams: Long,
      maxStripeDataLength: Long, decompressorMemory: Long,
      readerMemory: Long, batchMemory: Option[Long], totalMemory: Long,
      variableLength: Boolean, compression: String)

  /** Worst-case stream count a column of this type can carry in a stripe
    * (`Reader.cc:608-635` `maxStreamsForType`): present + data for most
    * kinds, plus length/secondary/dictionary streams for binary-ish,
    * decimal, timestamp and string kinds. */
  private def maxStreamsFor(
      cat: org.apache.orc.TypeDescription.Category): Long = {
    import org.apache.orc.TypeDescription.Category._
    cat match {
      case STRUCT => 1L
      case INT | LONG | SHORT | FLOAT | DOUBLE | BOOLEAN | BYTE | DATE |
           LIST | MAP | UNION => 2L
      case BINARY | DECIMAL | TIMESTAMP | TIMESTAMP_INSTANT => 3L
      case CHAR | STRING | VARCHAR => 4L
      case _ => 0L
    }
  }

  /** Decoded-batch footprint of one column vector at `rows` capacity
    * (`Vector.cc:51,82,110,140,214,249,294,341,375,430`): a null byte
    * per row, plus the type's fixed-width payload buffers. Returns None
    * when the selection contains a LIST or MAP — element counts are
    * data-dependent, so the reference refuses to estimate
    * (`hasVariableLength`, `FileMemory.cc:86-88`). */
  private def batchMemoryOf(t: org.apache.orc.TypeDescription,
      selected: Set[Int], rows: Long): Option[Long] = {
    import org.apache.orc.TypeDescription.Category._
    import scala.jdk.CollectionConverters._
    if (!selected.contains(t.getId)) return Some(0L)
    val children = Option(t.getChildren).map(_.asScala.toSeq).getOrElse(Nil)
    val notNull = rows // one byte per row
    t.getCategory match {
      case BOOLEAN | BYTE | SHORT | INT | LONG | DATE =>
        Some(notNull + 8L * rows)
      case FLOAT | DOUBLE => Some(notNull + 8L * rows)
      case STRING | CHAR | VARCHAR | BINARY =>
        Some(notNull + 16L * rows) // char* data + int64 length
      case TIMESTAMP | TIMESTAMP_INSTANT =>
        Some(notNull + 16L * rows) // seconds + nanoseconds
      case DECIMAL =>
        // Decimal64 (≤18 digits): values + readScales; Decimal128: 16-byte
        // values + readScales
        val payload = if (t.getPrecision <= 18) 16L else 24L
        Some(notNull + payload * rows)
      case STRUCT =>
        children.foldLeft(Option(notNull)) { (acc, c) =>
          for (a <- acc; m <- batchMemoryOf(c, selected, rows)) yield a + m
        }
      case UNION =>
        // tags (1 byte) + offsets (8 bytes) + children
        children.foldLeft(Option(notNull + 9L * rows)) { (acc, c) =>
          for (a <- acc; m <- batchMemoryOf(c, selected, rows)) yield a + m
        }
      case LIST | MAP => None // variable length
      case _ => Some(notNull)
    }
  }

  /**
   * Reader-memory estimate for a column selection — the `orc-memory`
   * tool (`tools/src/FileMemory.cc`; accounting rules
   * `Reader.cc:697-771` `ReaderImpl::getMemoryUse`):
   *
   *  - data buffers: `2 × max stripe dataLength` when any selected
   *    column is string-like (dictionary size unknown → both the input
   *    stream and the seekable stream buffer the stripe), else
   *    `min(max stripe dataLength, selectedStreams × 128 KiB)` (the
   *    local-file natural read size, `OrcFile.cc:60`);
   *  - floored by the tail: `footerLength + 16 KiB` directory guess
   *    (`Reader.hh:33`) and `metadataLength`;
   *  - `+ 8 bytes × stripeCount` (firstRowOfStripe index);
   *  - decompressor buffers: `selectedStreams × compressionBlockSize`
   *    when compressed, doubled for snappy (second scratch buffer).
   *
   * `columns` are top-level field names; empty selects all (the C++
   * tool's default). `stripeIx` ≥ 0 restricts the data-buffer term to
   * one stripe (the API's per-stripe estimate); −1 takes the worst
   * stripe. The decoded-batch estimate for `batchSize` rows is
   * reported separately, `None` when the selection contains LIST/MAP
   * (data-dependent, the tool's "cannot estimate" case).
   *
   * Scale: footer-only I/O through [[perFile]] — sizing a 100k-file
   * dataset's executors is a metadata sweep, not a data read.
   */
  def memoryEstimate(spark: SparkSession, path: String,
      columns: Seq[String] = Nil, batchSize: Int = 1000,
      stripeIx: Int = -1): DataFrame = {
    val colsLabel = if (columns.isEmpty) "*" else columns.mkString(",")
    frame(spark, perFile(spark, path) { (file, r) =>
      import scala.jdk.CollectionConverters._
      val schema = r.getSchema
      // selection: named top-level subtrees + parents, root always
      // (ColumnSelector semantics, Reader.cc:643-658)
      val selected: Set[Int] = {
        val fieldIds: Seq[Int] =
          if (columns.isEmpty ||
            schema.getCategory !=
              org.apache.orc.TypeDescription.Category.STRUCT) {
            (0 to schema.getMaximumId)
          } else {
            val names = schema.getFieldNames.asScala
            val kids = schema.getChildren.asScala
            columns.flatMap { c =>
              val i = names.indexOf(c)
              require(i >= 0, s"no such column: $c in ${names.mkString(",")}")
              kids(i).getId to kids(i).getMaximumId
            }
          }
        (fieldIds :+ 0).toSet
      }
      def walk(t: org.apache.orc.TypeDescription)
          : Seq[org.apache.orc.TypeDescription] =
        t +: Option(t.getChildren).map(_.asScala.toSeq).getOrElse(Nil)
          .flatMap(walk)
      val selTypes = walk(schema).filter(t => selected.contains(t.getId))
      val nStreams = selTypes.map(t => maxStreamsFor(t.getCategory)).sum
      val hasString = selTypes.exists { t =>
        import org.apache.orc.TypeDescription.Category._
        Seq(CHAR, STRING, VARCHAR, BINARY).contains(t.getCategory)
      }
      // stripeIx ≥ 0 estimates for reading that one stripe; the
      // default −1 takes the worst stripe (Reader.cc:700-712)
      val stripes = r.getStripes.asScala
      val sized =
        if (stripeIx >= 0 && stripeIx < stripes.size)
          Seq(stripes(stripeIx)) else stripes
      val maxDataLength =
        if (sized.isEmpty) 0L else sized.map(_.getDataLength).max
      val naturalReadSize = 128L * 1024 // OrcFile.cc:60
      val directoryGuess = 16L * 1024 // Reader.hh:33
      val ps = r.getFileTail.getPostscript
      var memory =
        if (hasString) 2L * maxDataLength
        else math.min(maxDataLength, nStreams * naturalReadSize)
      memory = math.max(memory, ps.getFooterLength + directoryGuess)
      memory = math.max(memory, ps.getMetadataLength)
      memory += stripes.size.toLong * 8L
      val compression = r.getCompressionKind
      val decompressor =
        if (compression == org.apache.orc.CompressionKind.NONE) 0L
        else {
          val base = nStreams * r.getCompressionSize
          if (compression == org.apache.orc.CompressionKind.SNAPPY)
            2L * base
          else base
        }
      val readerMemory = memory + decompressor
      val batchMem = batchMemoryOf(schema, selected, batchSize.toLong)
      Seq(MemoryEstimate(file, colsLabel, selected.toSeq.sorted, nStreams,
        maxDataLength, decompressor, readerMemory, batchMem,
        readerMemory + batchMem.getOrElse(0L), batchMem.isEmpty,
        compression.toString))
    })
  }

  /** Driver-gate query for the `orc-memory` surface: write a fixed table
    * as one compressed ORC file, estimate reader memory for three column
    * selections. The emitted columns are the SCHEMA-DERIVED accounting
    * (stream counts per `Reader.cc:608`, batch bytes per the Vector.cc
    * formulas at 1000 rows) — independently restatable by the oracle as
    * constants, so the driver hash-gates the accounting rules. The
    * file-dependent byte terms (readerMemory) are spec-gated instead
    * (OrcIoSpec, exact formulas incl. compression). */
  def memoryEstimateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dir = OrcIo.scratchDir("orc_memory_q")
    OrcIo.write(graft.Tables.load(spark, sfDir, "nation").coalesce(1),
      s"$dir/nation", compression = "zlib")
    Seq("*" -> Nil, "n_name" -> Seq("n_name"),
      "n_nationkey" -> Seq("n_nationkey"))
      .map { case (label, cols) =>
        memoryEstimate(spark, s"$dir/nation", cols)
          .select(org.apache.spark.sql.functions.lit(label).as("selection"),
            col("selectedStreams"), col("batchMemory"),
            col("variableLength"))
      }.reduce(_.unionAll(_)).orderBy(col("selection"))
  }

  /** The HIVE-8732 trust gate (`OrcFile.java:116-127`): a writer version
    * `includes` the fix iff its id is at least HIVE_8732's. ORIGINAL
    * (format 0.11/early 0.12 writers) predates it → untrusted. */
  def writerStatsTrusted(v: OrcFile.WriterVersion): Boolean =
    v.includes(OrcFile.WriterVersion.HIVE_8732)

  /** Pre-order column-id → dotted name map, mirroring the reference's
    * flattened type tree ids (`TypeDescription.java:746-755`). */
  private[graft] def flatColumnNames(
      schema: org.apache.orc.TypeDescription): Map[Int, String] = {
    val out = scala.collection.mutable.Map[Int, String]()
    def walk(t: org.apache.orc.TypeDescription, name: String): Unit = {
      out(t.getId) = name
      import scala.jdk.CollectionConverters._
      val children = Option(t.getChildren).map(_.asScala).getOrElse(Nil)
      // getFieldNames NPEs on non-struct nodes (list/map/union children
      // are positional)
      val names =
        if (t.getCategory == org.apache.orc.TypeDescription.Category.STRUCT)
          Option(t.getFieldNames).map(_.asScala).getOrElse(Nil)
        else Nil
      children.zipWithIndex.foreach { case (c, i) =>
        val childName =
          if (names.nonEmpty) s"$name.${names(i)}".stripPrefix(".")
          else s"$name._child$i".stripPrefix(".")
        walk(c, childName)
      }
    }
    walk(schema, "")
    out(schema.getId) = "<root>"
    out.toMap
  }

  private def renderStats(cs: ColumnStatistics): (String, String, String) = {
    import org.apache.orc._
    // decimal and timestamp statistics are objects, null when undefined
    def str(v: AnyRef): String = Option(v).map(_.toString).orNull
    cs match {
      case s: IntegerColumnStatistics =>
        (s.getMinimum.toString, s.getMaximum.toString,
          if (s.isSumDefined) s.getSum.toString else null)
      case s: DoubleColumnStatistics =>
        (s.getMinimum.toString, s.getMaximum.toString, s.getSum.toString)
      case s: StringColumnStatistics =>
        (s.getMinimum, s.getMaximum, s.getSum.toString)
      case s: DecimalColumnStatistics =>
        (str(s.getMinimum), str(s.getMaximum), str(s.getSum))
      case s: DateColumnStatistics =>
        (String.valueOf(s.getMinimumDayOfEpoch),
          String.valueOf(s.getMaximumDayOfEpoch), null)
      case s: TimestampColumnStatistics =>
        (str(s.getMinimum), str(s.getMaximum), null)
      case s: BooleanColumnStatistics =>
        ("false", "true", s.getTrueCount.toString)
      case s: BinaryColumnStatistics => (null, null, s.getSum.toString)
      case _ => (null, null, null)
    }
  }
}
