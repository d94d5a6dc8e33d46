package graft

import graft.sources.{OrcIo, OrcMeta}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object OrcIoSpec {
  case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
}

class OrcIoSpec extends SparkSpec {
  import OrcIoSpec.Nation
  import SparkSpec.spark.implicits._

  test("typed read (S7): ORC rows decode into a case class Dataset") {
    val dir = OrcIo.scratchDir("typed")
    OrcIo.write(Tables.load(spark, sfDir, "nation"), s"$dir/nation")
    val ds = OrcIo.readAs[Nation](spark, s"$dir/nation")
    val rows = ds.collect()
    assert(rows.length == 25)
    assert(rows.map(_.n_nationkey).sorted.toSeq == (0 until 25))
  }

  test("merge (W9) compacts many files into the target budget") {
    val dir = OrcIo.scratchDir("merge")
    val src = Tables.load(spark, sfDir, "orders")
    OrcIo.write(src.repartition(8), s"$dir/in")
    val inFiles = new java.io.File(s"$dir/in").listFiles()
      .count(_.getName.endsWith(".orc"))
    assert(inFiles == 8)
    OrcIo.merge(spark, Seq(s"$dir/in"), s"$dir/out")
    val outFiles = new java.io.File(s"$dir/out").listFiles()
      .count(_.getName.endsWith(".orc"))
    assert(outFiles == 1, s"expected 1 merged file, got $outFiles")
    assert(spark.read.orc(s"$dir/out").count() == src.count())
  }

  test("concat (W9 raw parity): stripe-append without decode — rows " +
      "identical to the rewrite path, stripes and stripe-stats merged, " +
      "user metadata carried") {
    import scala.jdk.CollectionConverters._
    val dir = OrcIo.scratchDir("concat")
    val src = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // three single-file inputs with distinct row ranges + user metadata
    val inFiles = (0 until 3).map { i =>
      OrcIo.write(src.filter(col("o_orderkey") % 3 === i).repartition(1),
        s"$dir/in$i")
      new java.io.File(s"$dir/in$i").listFiles()
        .filter(_.getName.endsWith(".orc")).head.getPath
    }
    val outFile = s"$dir/out.orc"
    val rows = OrcIo.concat(spark, inFiles, outFile)
    val conf = spark.sparkContext.hadoopConfiguration
    def readerOf(p: String) = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(p),
      org.apache.orc.OrcFile.readerOptions(conf))
    val readers = inFiles.map(readerOf)
    val out = readerOf(outFile)
    // testMerge's structural assertions: stripe count and row count are
    // the sums of the inputs' — proof no stripe was re-encoded or split
    assert(out.getStripes.size == readers.map(_.getStripes.size).sum)
    assert(out.getNumberOfRows == readers.map(_.getNumberOfRows).sum)
    assert(rows == out.getNumberOfRows)
    // footer stripe-statistics merged in input order: min/max per
    // stripe equal the concatenation of the inputs' stripe stats
    def statMinMax(r: org.apache.orc.Reader): Seq[(Long, Long)] =
      r.getStripeStatistics.asScala.map { ss =>
        val c = ss.getColumnStatistics()(1)
          .asInstanceOf[org.apache.orc.IntegerColumnStatistics]
        (c.getMinimum, c.getMaximum)
      }.toSeq
    assert(statMinMax(out) == readers.flatMap(statMinMax))
    readers.foreach(_.close()); out.close()
    // contents: identical row set to reading the inputs directly (and
    // to what the distributed rewrite would produce)
    val direct = spark.read.orc(inFiles: _*)
      .collect().map(_.toSeq).toSet
    val merged = spark.read.orc(outFile).collect().map(_.toSeq).toSet
    assert(merged == direct && merged.nonEmpty)
    // user metadata merged across inputs, last writer wins per key
    OrcMeta.writeMetadataFile(s"$dir/ma.orc",
      Map("k.shared" -> "a", "k.a" -> "1"))
    OrcMeta.writeMetadataFile(s"$dir/mb.orc",
      Map("k.shared" -> "b", "k.b" -> "2"))
    OrcIo.concat(spark, Seq(s"$dir/ma.orc", s"$dir/mb.orc"),
      s"$dir/meta_out.orc")
    val meta = OrcMeta.userMetadata(spark, s"$dir/meta_out.orc")
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(meta == Map("k.shared" -> "b", "k.a" -> "1", "k.b" -> "2"))
    // mixed-layout inputs are rejected, not silently re-encoded
    OrcIo.write(src.limit(10).repartition(1), s"$dir/in_zstd",
      compression = "zstd")
    val zf = new java.io.File(s"$dir/in_zstd").listFiles()
      .filter(_.getName.endsWith(".orc")).head.getPath
    intercept[IllegalArgumentException] {
      OrcIo.concat(spark, inFiles :+ zf, s"$dir/out2.orc")
    }
  }

  test("readEvolved: missing column nulls, widened column casts") {
    val dir = OrcIo.scratchDir("evolve")
    OrcIo.write(Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name")), s"$dir/nation")
    val evolved = OrcIo.readEvolved(spark, s"$dir/nation", StructType(Seq(
      StructField("n_nationkey", LongType),      // int -> long widening
      StructField("n_name", StringType),
      StructField("n_added", StringType))))      // not in file
    val r = evolved.orderBy(col("n_nationkey")).head()
    assert(r.getLong(0) == 0L)
    assert(r.isNullAt(2))
  }

  test("write options reach the file: codec + bloom recorded in footer") {
    val dir = OrcIo.scratchDir("opts")
    OrcIo.write(Tables.load(spark, sfDir, "supplier"), s"$dir/sup",
      compression = "snappy", bloomColumns = Seq("s_suppkey"))
    val meta = OrcMeta.fileMeta(spark, s"$dir/sup").head()
    assert(meta.getAs[String]("compression") == "SNAPPY")
    assert(meta.getAs[Long]("rows") ==
      Tables.load(spark, sfDir, "supplier").count())
  }

  test("stripeStats surface the tail Metadata section per stripe") {
    val dir = OrcIo.scratchDir("sstats")
    // small stripes force multiple stripes in one file
    OrcIo.write(Tables.load(spark, sfDir, "lineitem").coalesce(1),
      s"$dir/li", stripeSize = 64 * 1024)
    val ss = graft.sources.OrcMeta.stripeStats(spark, s"$dir/li")
    val nStripes = ss.select(col("stripe")).distinct().count()
    assert(nStripes >= 2, s"expected multiple stripes, got $nStripes")
    // per-stripe counts of the root column sum to the file row count
    val total = ss.filter(col("columnId") === 0)
      .agg(sum(col("count"))).head().getLong(0)
    assert(total == Tables.load(spark, sfDir, "lineitem").count())
  }

  test("rowGroupIndex surfaces 10k-row-group min/max entries") {
    // with and without bloom filters beside the row index
    for (bloom <- Seq(Nil, Seq("l_partkey"))) {
      val dir = OrcIo.scratchDir("rgidx")
      OrcIo.write(Tables.load(spark, sfDir, "lineitem").coalesce(1),
        s"$dir/li", indexStride = 1000, bloomColumns = bloom)
      val rg = graft.sources.OrcMeta.rowGroupIndex(spark, s"$dir/li",
        Seq("l_orderkey"))
      val entries = rg.filter(col("column") === "l_orderkey").collect()
      assert(entries.length >= 6, // ~6k rows / 1k stride
        s"expected >=6 row groups, got ${entries.length}")
      // per-RG counts sum to the table; min/max are orderkey-ranged
      assert(entries.map(_.getAs[Long]("count")).sum ==
        Tables.load(spark, sfDir, "lineitem").count())
      val globalMin = entries.map(_.getAs[String]("min").toLong).min
      val actualMin = Tables.load(spark, sfDir, "lineitem")
        .agg(min(col("l_orderkey"))).head().getLong(0)
      assert(globalMin == actualMin, s"rg min $globalMin != $actualMin")
    }
  }

  test("encoding selection (W2): dictionary for low-cardinality, " +
      "direct when threshold disables it") {
    val d = OrcIo.scratchDir("enc_sel")
    // 20k rows, 3 distinct strings → distinct/total ≪ 0.8 → dictionary
    val df = spark.range(20000).toDF("id")
      .withColumn("s", concat(lit("val_"), col("id") % 3))
      .coalesce(1)
    OrcIo.write(df, s"$d/dict")
    val dictEnc = OrcMeta.stripeEncodings(spark, s"$d/dict")
      .filter(col("column") === "s").collect()
    assert(dictEnc.nonEmpty)
    assert(dictEnc.forall(_.getAs[String]("encoding")
      .startsWith("DICTIONARY")),
      s"low-cardinality column should dictionary-encode: ${dictEnc.toSeq}")
    assert(dictEnc.forall(_.getAs[Int]("dictionarySize") == 3))
    // threshold 0 disables dictionary encoding entirely
    OrcIo.write(df, s"$d/direct", dictionaryThreshold = 0.0)
    val directEnc = OrcMeta.stripeEncodings(spark, s"$d/direct")
      .filter(col("column") === "s").collect()
    assert(directEnc.forall(_.getAs[String]("encoding")
      .startsWith("DIRECT")),
      s"threshold 0 must force direct encoding: ${directEnc.toSeq}")
  }

  test("timezone: instants preserved across session-tz change") {
    val dir = OrcIo.scratchDir("tz")
    import SparkSpec.spark.implicits._
    val utcWritten = Seq("2024-06-01 12:00:00").toDF("s")
      .select(col("s").cast("timestamp").as("ts"))
    OrcIo.write(utcWritten, s"$dir/t")
    val utcMicros = spark.read.orc(s"$dir/t")
      .select(unix_micros(col("ts"))).head().getLong(0)
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val laRead = spark.read.orc(s"$dir/t")
      // same instant (micros since epoch identical)...
      assert(laRead.select(unix_micros(col("ts"))).head().getLong(0)
        == utcMicros)
      // ...rendered 7 hours earlier in the LA session (PDT)
      assert(laRead.select(date_format(col("ts"), "HH:mm")).head()
        .getString(0) == "05:00")
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("readSalvage skips truncated files and reports them") {
    val dir = OrcIo.scratchDir("salvage")
    OrcIo.write(Tables.load(spark, sfDir, "nation"), s"$dir/t")
    val orcFiles = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".orc"))
    assert(orcFiles.nonEmpty)
    // corrupt a copy of the first file by truncating its tail
    val victim = orcFiles.head
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/t/truncated.orc"),
      java.util.Arrays.copyOf(bytes, math.max(bytes.length / 3, 10)))
    val (df, bad) = OrcIo.readSalvage(spark, s"$dir/t")
    assert(bad.exists(_.endsWith("truncated.orc")), bad)
    assert(df.count() == Tables.load(spark, sfDir, "nation").count())
  }

  test("readSalvage recovers an open file via its _flush_length side file") {
    val dir = OrcIo.scratchDir("salvage_side")
    OrcIo.write(Tables.load(spark, sfDir, "nation").coalesce(1), s"$dir/t")
    val orcFile = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val goodBytes = java.nio.file.Files.readAllBytes(orcFile.toPath)
    // simulate an open file mid-append: valid content + garbage tail,
    // with the side file advertising the last flushed footer position
    // (OrcAcidUtils.getLastFlushLength semantics)
    val open = s"$dir/t/open.orc"
    val junk = Array.fill[Byte](4096)(0x5A)
    java.nio.file.Files.write(java.nio.file.Paths.get(open),
      goodBytes ++ junk)
    OrcIo.writeFlushLength(spark, open, goodBytes.length.toLong)
    val (df, bad) = OrcIo.readSalvage(spark, s"$dir/t")
    assert(bad.isEmpty, s"side-file recovery should leave no losses: $bad")
    // original file + recovered prefix = 2x nation rows
    val n = Tables.load(spark, sfDir, "nation").count()
    assert(df.count() == 2 * n)
    // a junk tail with NO side file stays unreadable
    val lost = s"$dir/t/lost.orc"
    java.nio.file.Files.write(java.nio.file.Paths.get(lost),
      goodBytes ++ junk)
    val (_, bad2) = OrcIo.readSalvage(spark, s"$dir/t")
    assert(bad2.exists(_.endsWith("lost.orc")))
  }

  test("every footer surface lists exactly the files spark.read.orc " +
      "scans") {
    val t = s"${OrcIo.scratchDir("listing")}/t"
    OrcIo.write(Tables.load(spark, sfDir, "nation").repartition(2), t)
    OrcMeta.writeMetadataFile(s"$t/_acid_stats.orc", Map("k" -> "v"))
    val names = new java.io.File(t).list().toSet
    assert(Seq("_SUCCESS", "_acid_stats.orc").forall(names.contains))
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")))
    // as local paths: Spark renders `file:///…`, Hadoop's Path `file:/…`
    def local(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    val scanned = spark.read.orc(t).inputFiles.map(local).toSet
    assert(scanned.size == 2, scanned)
    Seq(
      "stripes" -> OrcMeta.stripes(spark, t),
      "columnStats" -> OrcMeta.columnStats(spark, t),
      "stripeStats" -> OrcMeta.stripeStats(spark, t),
      "rowGroupIndex" -> OrcMeta.rowGroupIndex(spark, t),
      "stripeEncodings" -> OrcMeta.stripeEncodings(spark, t),
      "fileMeta" -> OrcMeta.fileMeta(spark, t),
      "userMetadata" -> OrcMeta.userMetadata(spark, t),
      "memoryEstimate" -> OrcMeta.memoryEstimate(spark, t)
    ).foreach { case (surface, df) =>
      val files = df.select(col("file")).as[String].collect().map(local)
        .toSet
      assert(files == scanned, surface)
    }
  }

  test("user metadata: write sidecar, read keys back (appendUserMetadata)") {
    val dir = OrcIo.scratchDir("user_meta")
    OrcMeta.writeMetadataFile(s"$dir/_meta.orc",
      Map("graft.owner" -> "pipeline-a", "graft.note" -> "v2"))
    val got = OrcMeta.userMetadata(spark, s"$dir/_meta.orc")
      .collect().map(r => r.getAs[String]("key") ->
        r.getAs[String]("value")).toMap
    assert(got == Map("graft.owner" -> "pipeline-a", "graft.note" -> "v2"))
  }

  test("memoryEstimate (orc-memory): selection, compression and batch " +
      "accounting follow FileMemory.cc / ReaderImpl::getMemoryUse") {
    val dir = OrcIo.scratchDir("memest")
    val df = spark.range(10000).select(
      col("id").as("k"),
      concat(lit("doc-"), col("id")).as("s"),
      array(col("id"), col("id") + 1).as("arr")).coalesce(1)
    OrcIo.write(df, s"$dir/zlib", compression = "zlib")
    OrcIo.write(df, s"$dir/none", compression = "none")
    OrcIo.write(df, s"$dir/snappy", compression = "snappy")
    def est(path: String, cols: Seq[String]) =
      OrcMeta.memoryEstimate(spark, path, cols).head()
    def blockSize(path: String): Long =
      OrcMeta.fileMeta(spark, path).head().getAs[Long]("compressionBlockSize")

    val all = est(s"$dir/zlib", Nil)
    val intOnly = est(s"$dir/zlib", Seq("k"))
    val strOnly = est(s"$dir/zlib", Seq("s"))

    // stream accounting (Reader.cc maxStreamsForType): root struct 1,
    // long 2, string 4, list 2 + element long 2
    assert(intOnly.getAs[Long]("selectedStreams") == 3L)
    assert(strOnly.getAs[Long]("selectedStreams") == 5L)
    assert(all.getAs[Long]("selectedStreams") == 11L)
    // narrower selection → strictly less reader memory (compressed file:
    // decompressor buffers scale with stream count)
    assert(intOnly.getAs[Long]("readerMemory") < all.getAs[Long]("readerMemory"))
    assert(intOnly.getAs[Long]("decompressorMemory") ==
      3L * blockSize(s"$dir/zlib"))
    // string selection buffers the stripe twice (dictionary unknown)
    assert(strOnly.getAs[Long]("readerMemory") >=
      2L * strOnly.getAs[Long]("maxStripeDataLength"))

    // compression matrix: none → no decompressor buffers; snappy → the
    // doubled scratch buffer rule
    val nonEst = est(s"$dir/none", Seq("k"))
    assert(nonEst.getAs[Long]("decompressorMemory") == 0L)
    val snapEst = est(s"$dir/snappy", Seq("k"))
    assert(snapEst.getAs[Long]("decompressorMemory") ==
      2L * 3L * blockSize(s"$dir/snappy"))

    // per-stripe estimate (stripeIx ≥ 0) never exceeds the worst-stripe
    // default, and out-of-range behaves like the default (Reader.cc)
    val s0 = OrcMeta.memoryEstimate(spark, s"$dir/zlib", Seq("k"),
      stripeIx = 0).head()
    assert(s0.getAs[Long]("maxStripeDataLength") <=
      intOnly.getAs[Long]("maxStripeDataLength"))
    assert(s0.getAs[Long]("readerMemory") <=
      intOnly.getAs[Long]("readerMemory"))

    // batch estimate: exact Vector.cc formulas at the default 1000 rows;
    // LIST in the selection → "cannot estimate" (variable length)
    assert(intOnly.getAs[Long]("batchMemory") == 10000L) // struct 1k + long 9k
    assert(strOnly.getAs[Long]("batchMemory") == 18000L) // struct 1k + str 17k
    assert(!intOnly.getAs[Boolean]("variableLength"))
    assert(all.getAs[Boolean]("variableLength"))
    assert(all.isNullAt(all.fieldIndex("batchMemory")))
    assert(intOnly.getAs[Long]("totalMemory") ==
      intOnly.getAs[Long]("readerMemory") + 10000L)
  }

  test("columnStats surface footer min/max/sum per column") {
    val dir = OrcIo.scratchDir("stats")
    OrcIo.write(Tables.load(spark, sfDir, "region"), s"$dir/region")
    val stats = OrcMeta.columnStats(spark, s"$dir/region")
      .filter(col("column") === "r_regionkey").head()
    assert(stats.getAs[String]("min") == "0")
    assert(stats.getAs[String]("max") == "4")
    assert(stats.getAs[Long]("count") == 5L)
  }

  private def tailLoads: Long = OrcMeta.tails.stats.loadCount

  private def stripeRows(f: String): Long =
    OrcMeta.stripeStats(spark, f).as[OrcMeta.StripeColStats].collect()
      .filter(_.columnId == 1).map(_.count).sum

  test("a file rewritten at the same path misses the tail cache") {
    val f = s"${OrcIo.scratchDir("tail_rewrite")}/t.orc"
    def rows() = OrcMeta.fileMeta(spark, f).as[OrcMeta.FileMeta].head().rows
    OrcFixtures.longs(f, 3000)
    assert(rows() == 3000L && stripeRows(f) == 3000L)
    OrcFixtures.longs(f, 5000)
    assert(rows() == 5000L && stripeRows(f) == 5000L)
  }

  test("a same-length rewrite with a moved mtime misses the tail cache") {
    val dir = OrcIo.scratchDir("tail_touch")
    val (p, q) = (new org.apache.hadoop.fs.Path(s"$dir/m.orc"),
      new org.apache.hadoop.fs.Path(s"$dir/q.orc"))
    OrcMeta.writeMetadataFile(p.toString, Map("k" -> "aaaa"))
    OrcMeta.writeMetadataFile(q.toString, Map("k" -> "bbbb"))
    def value() = OrcMeta.userMetadata(spark, p.toString)
      .as[OrcMeta.UserMetadata].collect().map(_.value).toSeq
    assert(value() == Seq("aaaa"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val before = fs.getFileStatus(p)
    // replace the bytes outside the engine's writers, which would evict
    org.apache.hadoop.fs.FileUtil.copy(fs, q, fs, p, false, true, conf)
    fs.setTimes(p, before.getModificationTime + 2000L, -1L)
    assert(fs.getFileStatus(p).getLen == before.getLen)
    val loads = tailLoads
    assert(value() == Seq("bbbb"))
    assert(tailLoads == loads + 1)
  }

  test("concurrent stripeStats calls on one uncached file load its tail " +
      "once") {
    val f = s"${OrcIo.scratchDir("tail_race")}/c.orc"
    OrcFixtures.longs(f, 25000)
    val loads = tailLoads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val calls = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            OrcMeta.stripeStats(spark, f).collect().map(_.toString).toSeq
          }
        }))
      start.countDown()
      val answers = calls.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(answers.distinct.size == 1 && answers.head.nonEmpty)
    } finally pool.shutdown()
    assert(tailLoads == loads + 1)
    assert(stripeRows(f) == 25000L)
  }

  test("a maxLength prefix open neither serves nor fills a full-length " +
      "tail") {
    val f = s"${OrcIo.scratchDir("tail_prefix")}/two.orc"
    val flushed = OrcFixtures.longs(f, 3000, flushAfter = 1000)
    def prefixRows() =
      OrcMeta.withReader(f, maxLength = flushed)(_.getNumberOfRows)
    def footerRows() =
      OrcMeta.fileMeta(spark, f).as[OrcMeta.FileMeta].head().rows
    val loads = tailLoads
    assert(prefixRows() == 1000L)
    assert(tailLoads == loads)      // the prefix open cached nothing
    assert(footerRows() == 3000L)   // so the footer call loads the full tail
    assert(tailLoads == loads + 1)
    assert(prefixRows() == 1000L)   // and the prefix open does not use it
  }

  test("driver path and job path give the same rows on every footer " +
      "surface") {
    val t = s"${OrcIo.scratchDir("tail_paths")}/t"
    Tables.load(spark, sfDir, "nation").write.partitionBy("n_regionkey")
      .orc(t)
    OrcMeta.writeMetadataFile(s"$t/_acid_stats.orc", Map("k" -> "v"))
    val names = new java.io.File(t).list().toSet
    assert(Seq("_SUCCESS", "_acid_stats.orc").forall(names.contains))
    assert(new java.io.File(s"$t/n_regionkey=0").list()
      .exists(n => n.startsWith(".") && n.endsWith(".crc")))
    assert(OrcMeta.dataFiles(spark, t).size == 5)
    def surfaces(): Seq[(String, Seq[String])] = {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).toSeq.sorted
      Seq(
        "stripes" -> rows(OrcMeta.stripes(spark, t)),
        "columnStats" -> rows(OrcMeta.columnStats(spark, t)),
        "stripeStats" -> rows(OrcMeta.stripeStats(spark, t)),
        "rowGroupIndex" -> rows(OrcMeta.rowGroupIndex(spark, t)),
        "stripeEncodings" -> rows(OrcMeta.stripeEncodings(spark, t)),
        "fileMeta" -> rows(OrcMeta.fileMeta(spark, t)),
        "userMetadata" -> rows(OrcMeta.userMetadata(spark, t)),
        "memoryEstimate" -> rows(OrcMeta.memoryEstimate(spark, t)),
        "typedColumnStats" ->
          OrcMeta.typedColumnStats(spark, t).map(_.toString).sorted,
        "statsOnlyColumnStats" ->
          rows(graft.operators.Stats.statsOnlyColumnStats(spark, t)),
        "statsOnlyCount" ->
          Seq(graft.operators.Stats.statsOnlyCount(spark, t).toString),
        "rawDataSize" ->
          Seq(graft.operators.Stats.rawDataSize(spark, t).toString))
    }
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val onDriver = surfaces()
    val inJob =
      try { spark.conf.set(threshold, "0"); surfaces() }
      finally spark.conf.unset(threshold)
    onDriver.zip(inJob).foreach { case ((surface, d), (_, j)) =>
      assert(d.nonEmpty, surface)
      assert(d == j, surface)
    }
  }

  test("footer calls on a small dataset start no Spark job") {
    import graft.operators.{Acid, Stats}
    val dir = OrcIo.scratchDir("tail_nojob")
    val (t, delta) = (s"$dir/t", s"$dir/delta_1_1")
    OrcIo.write(Tables.load(spark, sfDir, "nation").repartition(3), t)
    Acid.writeDelta(Seq((Acid.OpInsert, 1L, 0, 1L, 1L))
      .toDF("operation", "originalTransaction", "bucket", "rowId",
        "currentTransaction").withColumn("row", struct(col("rowId"))),
      delta)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    // jobs run under `group`, counted once a later marker job is seen:
    // the listener bus delivers events in order
    def jobsOf(group: String)(body: => Any): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains(s"$group-marker") &&
        System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(s"$group-marker"))
      groups.toArray.count(_ == group)
    }
    sc.addSparkListener(listener)
    try {
      val footer = jobsOf("footer-driver") {
        OrcMeta.fileMeta(spark, t).collect()
        OrcMeta.columnStats(spark, t).collect()
        OrcMeta.stripeStats(spark, t).collect()
        OrcMeta.rowGroupIndex(spark, t, Seq("n_nationkey")).collect()
        assert(Stats.statsOnlyCount(spark, t) == 25L)
        Stats.statsOnlyColumnStats(spark, t).collect()
        Stats.rawDataSize(spark, t)
        assert(Acid.readAcidStats(spark, delta)
          .contains(Acid.AcidStats(1, 0, 0)))
      }
      assert(footer == 0)
      val threshold =
        "spark.sql.sources.parallelPartitionDiscovery.threshold"
      val job = jobsOf("footer-job") {
        try {
          spark.conf.set(threshold, "0")
          assert(Stats.statsOnlyCount(spark, t) == 25L)
        } finally spark.conf.unset(threshold)
      }
      assert(job == 1)
    } finally sc.removeSparkListener(listener)
  }
}
