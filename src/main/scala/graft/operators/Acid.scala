package graft.operators

import graft.Tables
import graft.sources.{DriverScan, OrcIo, OrcMeta}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID,
  TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, GraftScanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.orc.{OrcFileFormat,
  OrcUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/**
 * ACID v1 merge-on-read (SURVEY.md §2.10): the reference stores row
 * events `struct<operation, originalTransaction, bucket, rowId,
 * currentTransaction, row>` (`SchemaEvolution.createEventSchema:482-491`)
 * in base + delta files; readers resolve the latest visible version of
 * each (originalTransaction, bucket, rowId) key and drop deletes
 * (`site/_docs/acid.md:26-60`).
 *
 * Spark-first: the latest event per key wins (the rule is stated once,
 * on [[readTable]]), and every event is read by Spark's own ORC reader.
 * A table read resolves a small delta set on the driver, reading the
 * delta files in parallel through the driver-side read that small
 * scans use ([[graft.sources.DriverScan.readFiles]]), and passes the
 * base rows through a broadcast key filter, so the base is never
 * shuffled. A small commit ([[writeDelta]]) and a small minor
 * compaction ([[minorCompact]]) write their one file on the driver
 * with Spark's own ORC writer, and the compaction resolves its events
 * with the same driver resolve as the read. Larger delta sets,
 * and event frames ([[resolve]], [[changesBetween]]), go through the
 * one window dedup, [[latestPerKey]]: one shuffle on the row key, then
 * a filter. Compaction (the reference's major compaction) rewrites a
 * resolved read.
 *
 * Scale: one cut, [[driverMergeLimit]], bounds what the driver holds
 * for each of its three users: the delta files a read resolves, the
 * delta files a minor compaction merges, and the estimated size of a
 * local frame a commit writes. Above it everything runs as Spark jobs.
 * The window partitions by (origTxn, bucket, rowId) — exactly the
 * reference's bucket layout, so skew is bounded by bucket count;
 * delta sets are typically ≪ base so AQE's skew handling plus the
 * bucket key keeps partitions even at 100 TB.
 */
object Acid {

  val OpInsert = 0
  val OpUpdate = 1
  val OpDelete = 2

  /** Run independent Spark actions from a small driver pool (guide
    * §2.6 "overlap independent jobs"): the ACID gates are chains of
    * many SMALL jobs (fixture delta writes, per-delta tallies, as-of
    * scans) whose wall cost is half driver-side gaps — planning, ORC
    * sidecar IO, FS renames — that sequential execution serializes
    * (measured r18: q_acid_purge wall 13.9 s vs job-sum 7.1 s). Each
    * thunk must touch an independent output; results keep submission
    * order, so downstream logic is deterministic. 3 in flight fills
    * the gaps without starving any single job's stages. */
  private[graft] def inParallel[T](work: Seq[() => T]): Seq[T] =
    if (work.lengthCompare(1) <= 0) work.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(3, work.size))
      try {
        val futures = work.map(w =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T = w()
          }))
        try futures.map(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // a failed thunk must not leave SIBLING thunks mutating
            // table directories while the caller unwinds (a retry or
            // heal pass assumes no live writer): cancel everything
            // queued/running and WAIT for the pool to quiesce before
            // rethrowing — and rethrow the ORIGINAL exception, not the
            // ExecutionException wrapper callers/tests never matched on
            pool.shutdownNow()
            pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
            throw Option(e.getCause).getOrElse(e)
        }
      } finally { pool.shutdown() }
    }

  /** A `delta_M` (one transaction) or `delta_A_B` (a minor-compacted
    * range) event directory and the txn range [low, high] it holds. */
  private[graft] final case class Delta(name: String, low: Long, high: Long)

  /**
   * A table directory's ACID layout (`site/_docs/acid.md:26-60`), listed
   * and parsed once: `base_N/` holds plain rows, the compacted state as
   * of txn N; `delta_M/` and `delta_A_B/` hold events. Both are ordered
   * NUMERICALLY ("base_10" < "base_2" lexically, and a compaction crash
   * can legitimately leave two bases behind). Names of any other shape —
   * `_tmp_base_*` staging, `.purged_old_*` / `.purge_tmp_*` purge
   * debris — are not part of the table.
   */
  private[graft] final case class Layout(dir: String, fs: FileSystem,
      bases: Seq[(String, Long)], deltas: Seq[Delta]) {
    /** Txn of the newest base; Long.MinValue when there is none. */
    def baseTxn: Long = bases.lastOption.fold(Long.MinValue)(_._2)
    def newestBase: (String, Long) = {
      require(bases.nonEmpty, s"no base_N directory under $dir")
      bases.last
    }
    /** Deltas not folded into the newest base. A straddling range
      * (delta_A_B with A ≤ baseTxn < B) stays visible; its events
      * ≤ baseTxn are the base's own history and readers drop them. */
    def visible: Seq[Delta] = deltas.filter(_.high > baseTxn)
    def names: Seq[String] = bases.map(_._1) ++ deltas.map(_.name)
    def delete(name: String): Unit = fs.delete(new Path(s"$dir/$name"), true)
  }

  private val BaseName = """base_(\d+)""".r
  private val DeltaName = """delta_(\d+)(?:_(\d+))?""".r

  private[graft] def layout(spark: SparkSession, tableDir: String): Layout = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq
    Layout(tableDir, fs,
      names.collect { case n @ BaseName(t) => n -> t.toLong }.sortBy(_._2),
      names.collect { case n @ DeltaName(lo, hi) =>
        Delta(n, lo.toLong, Option(hi).getOrElse(lo).toLong)
      }.sortBy(d => (d.low, d.high)))
  }

  /** The latest event per row key (originalTransaction, bucket, rowId),
    * deletes included: one shuffle on the key. Ties at equal
    * currentTransaction go to the higher operation code, as in
    * [[readTable]]'s rule; events equal on both tie arbitrarily. */
  private def latestPerKey(events: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("originalTransaction"), col("bucket"), col("rowId"))
      .orderBy(col("currentTransaction").desc, col("operation").desc)
    events
      .withColumn("_version_rank", row_number().over(w))
      .filter(col("_version_rank") === 1)
      .drop("_version_rank")
  }

  /** Resolve base+delta event rows to current-state rows. Input must
    * have the ACID event columns plus payload columns nested under
    * `row`. */
  def resolve(events: DataFrame): DataFrame =
    latestPerKey(events)
      .filter(col("operation") =!= OpDelete)
      .select(col("row.*"))

  /** The reference's ACID stats user-metadata key and its
    * "inserts,updates,deletes" serialization
    * (`OrcAcidUtils.java:27-33`, `AcidStats.java:24-60`). */
  val AcidStatsKey = "hive.acid.stats"

  case class AcidStats(inserts: Long, updates: Long, deletes: Long) {
    def serialize: String = s"$inserts,$updates,$deletes"
    def +(o: AcidStats): AcidStats =
      AcidStats(inserts + o.inserts, updates + o.updates, deletes + o.deletes)
  }

  object AcidStats {
    def parse(s: String): AcidStats = {
      val p = s.split(",")
      AcidStats(p(0).toLong, p(1).toLong, p(2).toLong)
    }
  }

  /**
   * Event-type counts of the events above txn `afterTxn` — what the
   * reference tallies per delta file while writing.
   *
   * Deliberately tallied over FULL rows (`.rdd`), never an aggregate:
   * ORC files carrying the exact ACID event schema cannot be read
   * through the vectorized reader at all. Spark's
   * OrcColumnarBatchReader detects the Hive-ACID pattern in the FILE
   * schema (OrcUtils checkAcidSchema; `SchemaEvolution
   * .checkAcidSchema:468-476` in the reference) and remaps requested
   * top-level ids into the inner `row` struct's children, so a pruned
   * scan (a `count()`, a projected aggregate) throws
   * ArrayIndexOutOfBoundsException, and no formulation — schema-forced
   * full width, count(struct(*)) pinned against ColumnPruning — gets
   * past it; the ACID metadata columns are exactly what the remap
   * hides. The row-oriented reader is the only path to them, and
   * `AcidSpec`'s canary test pins the quirk. Every frame that scans
   * ACID-schema ORC either references all six event columns (resolve,
   * compaction, CDC) or goes through here.
   */
  private def tally(events: DataFrame,
      afterTxn: Long = Long.MinValue): AcidStats = {
    val opIdx = events.schema.fieldIndex("operation")
    val ctIdx = events.schema.fieldIndex("currentTransaction")
    events.rdd
      .filter(_.getLong(ctIdx) > afterTxn)
      .map(r => r.getInt(opIdx) match {
        case OpInsert => AcidStats(1L, 0L, 0L)
        case OpUpdate => AcidStats(0L, 1L, 0L)
        case OpDelete => AcidStats(0L, 0L, 1L)
        case _ => AcidStats(0L, 0L, 0L)
      })
      .fold(AcidStats(0L, 0L, 0L))(_ + _)
  }

  /** The tallies of a driver-held event set, from its operation codes. */
  private def countOps(ops: Iterator[Int]): AcidStats =
    ops.foldLeft(AcidStats(0L, 0L, 0L)) { (s, o) => o match {
      case OpInsert => s.copy(inserts = s.inserts + 1)
      case OpUpdate => s.copy(updates = s.updates + 1)
      case OpDelete => s.copy(deletes = s.deletes + 1)
      case _ => s
    }}

  private val AcidStatsFile = "_acid_stats.orc"

  /** Write `stats` as the sidecar of `outPath`, on the FileSystem the
    * session's Hadoop configuration (settings made on the session
    * included) gives the data files. */
  private def writeStatsSidecar(spark: SparkSession, outPath: String,
      stats: AcidStats): Unit =
    OrcMeta.writeMetadataFile(s"$outPath/$AcidStatsFile",
      Map(AcidStatsKey -> stats.serialize),
      spark.sessionState.newHadoopConf())

  /** Read back the `hive.acid.stats` entry of a dataset directory from
    * its carrier file; None when the directory has none. */
  def readAcidStats(spark: SparkSession, path: String): Option[AcidStats] = {
    val carrier = new Path(path, AcidStatsFile)
    if (!carrier.getFileSystem(spark.sessionState.newHadoopConf())
        .exists(carrier)) None
    else graft.sources.OrcMeta.userMetadata(spark, carrier.toString)
      .filter(col("key") === AcidStatsKey).select(col("value")).collect()
      .headOption.map(r => AcidStats.parse(r.getString(0)))
  }

  /** Output file count for a compaction rewrite: track the INPUT byte
    * volume against a target file size ([[graft.sources.OrcIo.merge]]'s
    * rule), never the shuffle-partition count — compaction exists to
    * produce fewer, larger files, and a compactor that fans a few MB
    * of deltas into 32 shards re-creates the small-file problem it is
    * meant to fix. At gate scale this is one file; at 100 TB it is
    * thousands, each near the target size. */
  private def sizedFileCount(l: Layout, dirs: Seq[String],
      targetFileBytes: Long = 256L * 1024 * 1024): Int = {
    val bytes = dirs.map(d =>
      l.fs.getContentSummary(new Path(s"${l.dir}/$d")).getLength).sum
    math.max(1L, bytes / targetFileBytes).toInt
  }

  /** Major compaction: resolve then rewrite as a plain base dataset,
    * recording the event tallies under `hive.acid.stats` like the
    * reference's writer (a compacted base carries only inserts). */
  def compact(events: DataFrame, outPath: String): Unit = {
    val spark = events.sparkSession
    OrcIo.write(resolve(events), outPath)
    // count the written output from its footers: counting the resolve
    // plan would column-prune the event scan (see [[tally]])
    writeStatsSidecar(spark, outPath,
      AcidStats(Stats.statsOnlyCount(spark, outPath), 0L, 0L))
  }

  /** Write a delta directory of raw events plus its ACID stats.
    *
    * A commit whose optimized plan is a non-streaming local relation of
    * at most [[driverMergeLimit]] estimated bytes (a transaction's event
    * batch built on the driver) is written on the driver as one file
    * ([[writeOnDriver]]) and tallied from the same rows: no Spark job.
    *
    * Any other frame is written by a Spark job and tallied from the
    * written files ([[tally]]), as [[minorCompact]]'s window path is:
    * the counts describe exactly the files the stats ride with, and the
    * frame is not evaluated twice. */
  def writeDelta(events: DataFrame, outPath: String): Unit = {
    val spark = events.sparkSession
    val stats = events.queryExecution.optimizedPlan match {
      case local: LocalRelation if !local.isStreaming &&
          local.stats.sizeInBytes <= driverMergeLimit(spark) =>
        writeOnDriver(spark, local.schema, local.data.iterator, outPath)
        val op = local.schema.fieldIndex("operation")
        val opType = local.schema(op).dataType
        countOps(local.data.iterator.filterNot(_.isNullAt(op))
          .map(_.get(op, opType).asInstanceOf[Number].intValue))
      case _ =>
        OrcIo.write(events, outPath)
        tally(spark.read.orc(outPath))
    }
    writeStatsSidecar(spark, outPath, stats)
  }

  /** Write `rows` of `schema` as the one data file of directory
    * `outPath`, on the driver, with no Spark job. The file is the one a
    * one-task [[OrcIo.write]] leaves: Spark's own ORC output writer
    * (`OrcFileFormat.prepareWrite`, so its Spark-version metadata and
    * date rebasing too) writes it, with the session's Hadoop
    * configuration and a default [[OrcIo.write]]'s options. Like that
    * overwrite it deletes the directory first. The file is staged under
    * a hidden `_temporary-` name and renamed into place, and `_SUCCESS`
    * follows; a failed write leaves only the hidden file. */
  private def writeOnDriver(spark: SparkSession, schema: StructType,
      rows: Iterator[InternalRow], outPath: String): Unit = {
    val options = OrcIo.writeOptions()
    val job = Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(options))
    val factory =
      new OrcFileFormat().prepareWrite(spark, job, options, schema)
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0),
        0))
    val dir = new Path(outPath)
    val fs = dir.getFileSystem(job.getConfiguration)
    if (fs.exists(dir))
      require(fs.delete(dir, true), s"cannot overwrite $dir")
    val name = s"part-00000-${java.util.UUID.randomUUID}-c000" +
      factory.getFileExtension(task)
    val staged = new Path(dir, s"_temporary-$name")
    val w = factory.newInstance(staged.toString, schema, task)
    try rows.foreach(w.write) finally w.close()
    require(fs.rename(staged, new Path(dir, name)),
      s"rename $staged into $dir failed")
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** Orders rows lifted to ACID event form — the ONE fixture shape
    * every MOR gate writes (bucket = key % 4, the writer-assigned
    * layout; origTxn 1). Payload prices stay unrounded: updated
    * prices are a double multiply, bit-identical in any IEEE-754
    * engine, so oracles compare raw. Was previously copied per gate —
    * nine drift-prone definitions. */
  private[graft] def ordersAsEvents(src: DataFrame, op: Int,
      txn: Long): DataFrame =
    src.select(
      lit(op).as("operation"),
      lit(1L).as("originalTransaction"),
      (col("o_orderkey") % 4).cast("int").as("bucket"),
      col("o_orderkey").as("rowId"),
      lit(txn).as("currentTransaction"),
      struct(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus")).as("row"))

  /** One delta of a gate fixture: the fixture's orders rows with
    * `o_orderkey % mod == 0`, as `op` events at `txn`. Updates scale
    * the price by `factor`; inserts move the key to key + 2·10¹²,
    * disjoint from every ScaleUp id domain. */
  private final case class FixtureDelta(txn: Long, op: Int, mod: Int,
      factor: Double = 1.0)

  /** The [[morQuery]] events as directories: %10 updated at txn 2,
    * %7 deleted at txn 3. */
  private val MorDeltas = Seq(FixtureDelta(2L, OpUpdate, 10, 1.10),
    FixtureDelta(3L, OpDelete, 7))
  /** [[MorDeltas]] plus fresh inserts at txn 4, so all three
    * operations shape a count. */
  private val LedgerDeltas = MorDeltas :+ FixtureDelta(4L, OpInsert, 19)
  /** Four single-txn deltas whose modular masses form non-trivial
    * trigger groups at every sf under quota = |orders|/12. */
  private val TriggerDeltas = Seq(FixtureDelta(2L, OpUpdate, 11, 1.05),
    FixtureDelta(3L, OpUpdate, 13, 1.07), FixtureDelta(4L, OpDelete, 17),
    FixtureDelta(5L, OpInsert, 19))

  /** The orders payload every ACID gate fixture carries. */
  private def fixtureOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))

  /** Write `orders` as `base_1` plus `deltas` under a fresh scratch
    * table directory — every modular gate fixture is written here. The
    * directories are independent, so they are written in parallel.
    * Returns the table directory. */
  private def writeFixture(orders: DataFrame, tag: String,
      deltas: Seq[FixtureDelta]): String = {
    val t = s"${OrcIo.scratchDir(tag)}/t"
    inParallel((() => OrcIo.write(orders, s"$t/base_1")) +:
      deltas.map { d => () =>
        val rows = orders.filter(col("o_orderkey") % d.mod === 0)
        writeDelta(ordersAsEvents(d.op match {
          case OpUpdate =>
            rows.withColumn("o_totalprice", col("o_totalprice") * d.factor)
          case OpInsert =>
            rows.withColumn("o_orderkey", col("o_orderkey") + 2000000000000L)
          case _ => rows
        }, d.op, d.txn), s"$t/delta_${d.txn}")
      })
    t
  }

  /**
   * Minor compaction (`site/_docs/acid.md:26-60`): merge several delta
   * directories into one without touching the base. Unlike major
   * compaction this KEEPS event form — the latest event per
   * (origTxn, bucket, rowId) survives, including deletes, which must
   * continue to mask base rows. Output directory is named
   * `delta_<minTxn>_<maxTxn>` like the reference's compactor.
   *
   * When the chosen deltas' files total at most [[driverMergeLimit]]
   * bytes, their events are resolved on the driver by [[readTable]]'s
   * driver resolve and the winners written as one file in
   * (originalTransaction, bucket, rowId) order ([[writeOnDriver]]),
   * tallied from the winners: no Spark job. Above the cut the events go
   * through [[latestPerKey]] and a Spark write. Either way events equal
   * on txn and operation tie as [[readTable]] says.
   * Returns the merged directory path.
   */
  def minorCompact(spark: SparkSession, tableDir: String,
      subset: Option[Seq[String]] = None): String = {
    val l = layout(spark, tableDir)
    val deltas = subset.fold(l.deltas)(s =>
      l.deltas.filter(d => s.contains(d.name)))
    require(deltas.nonEmpty, s"no delta_* directories under $tableDir")
    require(subset.forall(_.distinct.size == deltas.size),
      s"not all of ${subset.get.mkString(", ")} are deltas of $tableDir")
    val dirs = deltas.map(_.name)
    val merged = s"delta_${deltas.map(_.low).min}_${deltas.map(_.high).max}"
    val out = s"$tableDir/$merged"
    val files = dirs.flatMap(d => OrcMeta.listing(spark, s"$tableDir/$d"))
    if (files.nonEmpty &&
        files.map(_._2.length).sum <= driverMergeLimit(spark)) {
      val (schema, latest) = latestOnDriver(spark, files, _ => true).get
      val winners = latest.toSeq.sortBy(_._1)(KeyOrder).map(_._2)
      writeOnDriver(spark, schema, winners.iterator.map(_.event), out)
      writeStatsSidecar(spark, out, countOps(winners.iterator.map(_.op)))
    } else {
      val events = dirs.map(d => spark.read.orc(s"$tableDir/$d"))
        .reduce(_.unionByName(_))
      OrcIo.write(latestPerKey(events).repartition(sizedFileCount(l, dirs)),
        out)
      // tally from the written output: one cheap scan instead of
      // re-running the window, and the counts describe exactly the files
      // the stats ride with
      writeStatsSidecar(spark, out, tally(spark.read.orc(out)))
    }
    // a lone `delta_A_B` compacts into its own name
    dirs.filter(_ != merged).foreach(l.delete)
    out
  }

  /** [[readTable]] with snapshot isolation: resolve the table AS OF
    * transaction `asOfTxn` — deltas beyond the snapshot are skipped at
    * the METADATA level (directory-name txn ranges, nothing read), and
    * any straggler events inside a kept minor-compacted range are
    * filtered on `currentTransaction`. This is the time-travel read
    * every versioned lake offers; on the reference's layout it is pure
    * delta-list pruning, so the snapshot read costs no more than the
    * current-state read. */
  def readTableAsOf(spark: SparkSession, tableDir: String, asOfTxn: Long,
      rowIdCol: String = "id", buckets: Int = 4): DataFrame =
    readTable(spark, tableDir, rowIdCol, buckets, Some(asOfTxn))

  /**
   * Directory-layout merge-on-read (`site/_docs/acid.md:26-60`): a
   * table directory holds `base_N/` (plain rows, the compacted state as
   * of txn N) plus `delta_M/` event directories (M > N). A base row is
   * an insert at txn N keyed (N, rowId % buckets, rowId), rowId being
   * its `rowIdCol`. Delta discovery is a metadata listing. The resolve
   * rule:
   *  - the visible events are those with currentTransaction > N (a
   *    straddling range's earlier events are the base's own history)
   *    and, for a snapshot, ≤ `asOf`;
   *  - per key the latest visible event wins: the highest
   *    currentTransaction; at equal txn the higher operation code, so
   *    a delete beats an update beats an insert (Hive's merger also
   *    lets the delete win); on both equal, the event read last
   *    (deltas in txn order, files by name, rows in file order);
   *  - a winner shadows the base row whose key it has, i.e. when its
   *    originalTransaction is N and its bucket is rowId % buckets;
   *  - the table is the unshadowed base rows plus the payload rows of
   *    the winners that are not deletes.
   *
   * With no visible delta the base rows are returned as they are. When
   * the visible delta files total at most [[driverMergeLimit]] bytes
   * (the measured crossover, lowered to
   * `spark.sql.autoBroadcastJoinThreshold`; `-1` turns this path off),
   * their events are read here on the driver, with no Spark job, by
   * Spark's ORC reader (one file per driver-pool thread), and resolved
   * in a map. The base rows then pass a broadcast filter on
   * the shadowed row ids, with no shuffle, and the winners' rows union
   * in by name as a local relation. Above the cut, the base rows lifted
   * to events and the deltas' events go through [[latestPerKey]], one
   * shuffle on the key, where events equal on txn and operation tie
   * arbitrarily.
   *
   * The driver path keeps every base row whose rowId is null or
   * repeated, where the window keeps one per key; the ACID writers
   * produce neither.
   */
  def readTable(spark: SparkSession, tableDir: String,
      rowIdCol: String = "id", buckets: Int = 4,
      asOf: Option[Long] = None): DataFrame = {
    val l = layout(spark, tableDir)
    val (base, baseTxn) = l.newestBase
    // a snapshot OLDER than the newest base is unanswerable: the base
    // folded every event ≤ baseTxn, so lifting it and filtering to the
    // snapshot would fabricate an empty/partial before-state (every
    // update would classify as an insert downstream) — fail loudly
    asOf.foreach(t => require(t >= baseTxn,
      s"history before base_$baseTxn has been compacted away " +
        s"(requested snapshot txn=$t under $tableDir)"))
    // snapshot pruning: a delta whose LOW txn exceeds the snapshot is
    // invisible wholesale (metadata-only skip)
    val deltas = l.visible.filter(d => asOf.forall(_ >= d.low))
    val baseRows = spark.read.orc(s"$tableDir/$base")
    // each delta is listed once: both paths read the files listed here,
    // and their statuses give the driver path its byte count
    val listed = deltas.map(d =>
      OrcMeta.listing(spark, s"$tableDir/${d.name}"))
    val files = listed.map(_.map(_._1))
    if (deltas.isEmpty) baseRows
    else if (listed.flatten.map(_._2.length).sum <= driverMergeLimit(spark))
      mergeOnDriver(spark, baseRows, listed.flatten,
        t => t > baseTxn && asOf.forall(t <= _),
        (o, b, id) => o == baseTxn && b == id % buckets, rowIdCol)
    else {
      val baseEvents = baseRows.select(
        lit(OpInsert).as("operation"),
        lit(baseTxn).as("originalTransaction"),
        // bucket derivation must match the writer's layout; the
        // engine's convention is rowId % buckets (the reference's
        // bucket field is likewise writer-assigned, `acid.md:26-60`)
        (col(rowIdCol) % buckets).cast("int").as("bucket"),
        col(rowIdCol).as("rowId"),
        lit(baseTxn).as("currentTransaction"),
        struct(baseRows.columns.map(col): _*).as("row"))
      // the visibility filters of the rule: events ≤ baseTxn would tie
      // with the base row at currentTransaction == baseTxn or resurrect
      // pre-base states; this also makes [[restoreTo]]'s crash window
      // safe (straddling deltas survive until after the base rename,
      // and the new base shadows their folded prefix here)
      val all = files.filter(_.nonEmpty).foldLeft(baseEvents) { (acc, fs) =>
        acc.unionByName(spark.read.orc(fs: _*)
          .filter(col("currentTransaction") > baseTxn))
      }
      resolve(asOf.map(t =>
        all.filter(col("currentTransaction") <= t)).getOrElse(all))
    }
  }

  /** The most delta-file bytes [[readTable]] resolves on the driver:
    * below where the driver path stops winning ([[minorCompact]] and
    * [[writeDelta]] share the cut, see [[driverMergeLimit]]). A sweep
    * (local[4] on 4 vCPUs; a 150k-row base, two deltas of half updates
    * and half deletes; median of 7 reads plus a count and sum; two
    * runs) timed
    * driver against window at 337–374 / 854–954 ms for 64 KB of delta
    * files, 405–425 / 747–794 ms for 0.22 MB, 456–510 / 577–626 ms for
    * 0.43 MB, 570–646 / 556–690 ms for 0.65 MB and 659–694 /
    * 628–690 ms for 0.86 MB. The cap is the 0.22 MB point. */
  private[graft] val DriverMergeMaxBytes = 220L * 1000

  /** The one driver-path cut, [[DriverMergeMaxBytes]] lowered to
    * `spark.sql.autoBroadcastJoinThreshold` (Spark's bound on what it
    * collects to the driver), so `-1` turns every driver path off. It
    * bounds the delta files [[readTable]] resolves and [[minorCompact]]
    * merges on the driver, and the estimated size of the local frame
    * [[writeDelta]] writes there. */
  private[graft] def driverMergeLimit(spark: SparkSession): Long =
    math.min(DriverMergeMaxBytes,
      spark.sessionState.conf.autoBroadcastJoinThreshold)

  /** A key's winning event in [[latestOnDriver]]: its
    * currentTransaction, its operation and the event row. */
  private final case class Winner(txn: Long, op: Int, event: InternalRow)

  /** Row keys (originalTransaction, bucket, rowId) in ascending order,
    * nulls first: the order [[latestPerKey]]'s window sorts them in. */
  private val KeyOrder: Ordering[(Any, Any, Any)] = {
    def opt(v: Any): Option[Long] = Option(v).map(_.asInstanceOf[Long])
    Ordering.by { case (o, b, id) => (opt(o), opt(b), opt(id)) }
  }

  /** The driver resolve shared by [[readTable]] and [[minorCompact]]:
    * the events of `files` (a [[OrcMeta.listing]], in its order) whose
    * currentTransaction is `visible`, reduced to the latest per key
    * (originalTransaction, bucket, rowId) by [[readTable]]'s rule,
    * deletes included. The files are read in parallel on the driver,
    * with no Spark job, by the reader a scan uses
    * ([[DriverScan.readFiles]]), at the full width of the event schema
    * the first file's tail holds: a column-pruned read of an
    * ACID-schema file throws (see [[tally]]). Every file must have that
    * schema up to the order of its top-level fields, as `unionByName`
    * asks. Keys hold the fields' values as longs (null when null). The
    * schema comes back beside the winners, whose rows follow it; None
    * when there are no files. */
  private def latestOnDriver(spark: SparkSession,
      files: Seq[(String, OrcMeta.TailKey)], visible: Long => Boolean)
      : Option[(StructType, collection.Map[(Any, Any, Any), Winner])] =
    files.headOption.map { case (_, first) =>
      val conf = spark.sessionState.conf
      val hadoopConf = spark.sessionState.newHadoopConf()
      val schema =
        OrcUtils.toCatalystSchema(OrcMeta.tail(first, hadoopConf).getSchema)
      val read = GraftScanBridge.orcReader(conf, hadoopConf, schema,
        new StructType(), schema, Nil,
        new OrcFileFormat().supportBatch(spark, schema))
      val Seq(op, orig, bucket, rowId, txn) = Seq("operation",
          "originalTransaction", "bucket", "rowId", "currentTransaction")
        .map { n =>
          val (i, t) = (schema.fieldIndex(n), schema(n).dataType)
          (e: InternalRow) => if (e.isNullAt(i)) null
            else e.get(i, t).asInstanceOf[Number].longValue: Any
        }
      val byName = schema.fields.sortBy(_.name)
      val events = DriverScan.readFiles(conf, hadoopConf,
          files.map(_._2.split), (file, tail) => {
        val s = OrcUtils.toCatalystSchema(tail.getSchema)
        require(s.fields.sortBy(_.name).sameElements(byName),
          s"event schema of ${file.toPath} differs from the first file's: " +
            s"$s, $schema")
        read(file, tail)
      }) { rows =>
        val copy = UnsafeProjection.create(schema)
        rows.filter(e => visible(txn(e).asInstanceOf[Long]))
          .map(copy(_).copy()).toVector
      }
      val latest =
        scala.collection.mutable.HashMap[(Any, Any, Any), Winner]()
      for ((fileEvents, _) <- events; e <- fileEvents) {
        val k = (orig(e), bucket(e), rowId(e))
        val (t, o) = (txn(e).asInstanceOf[Long], op(e).asInstanceOf[Long].toInt)
        if (latest.get(k).forall(w =>
            t > w.txn || (t == w.txn && o >= w.op)))
          latest(k) = Winner(t, o, e)
      }
      (schema, latest)
    }

  /** [[readTable]]'s driver path: resolve the events of the delta
    * `files` that are `visible` by txn ([[latestOnDriver]]), then
    * filter out the base rows whose key a winner `shadows` (given its
    * originalTransaction, bucket and rowId) and append the winners
    * that are not deletes. */
  private def mergeOnDriver(spark: SparkSession, baseRows: DataFrame,
      files: Seq[(String, OrcMeta.TailKey)], visible: Long => Boolean,
      shadows: (Long, Long, Long) => Boolean, rowIdCol: String)
      : DataFrame =
    latestOnDriver(spark, files, visible).fold(baseRows) {
      case (schema, latest) =>
        val shadowed = latest.keys.collect {
          case (o: Long, b: Long, id: Long) if shadows(o, b, id) => id
        }.toArray.sorted
        val kept = if (shadowed.isEmpty) baseRows else {
          val ids = spark.sparkContext.broadcast(shadowed)
          val unshadowed = udf((id: java.lang.Long) => id == null ||
            java.util.Arrays.binarySearch(ids.value, id.longValue) < 0)
          baseRows.filter(unshadowed(col(rowIdCol).cast("long")))
        }
        val row = schema.fieldIndex("row")
        val rowType = schema(row).dataType.asInstanceOf[StructType]
        val rows = latest.values.collect {
          case w if w.op != OpDelete => w.event.getStruct(row, rowType.length)
        }.toSeq
        if (rows.isEmpty) kept
        else kept.unionByName(GraftScanBridge.localFrame(spark, rowType, rows))
    }

  /**
   * Correctness-gate query for minor compaction: the same deterministic
   * base/update/delete set as [[morQuery]], but materialized as a
   * base_1 + delta_2 + delta_3 directory layout, minor-compacted into
   * one delta_2_3 range, then resolved via [[readTable]]. The oracle is
   * identical to q_acid_mor — minor compaction must not change
   * resolution.
   */
  def minorCompactQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = writeFixture(fixtureOrders(spark, sfDir), "acid_minor_q",
      MorDeltas)
    minorCompact(spark, t)
    readTable(spark, t, rowIdCol = "o_orderkey")
      .orderBy(col("o_orderkey"))
  }

  /**
   * Swap `state` in as the table's `base_txn`, crash-safe — the shared
   * tail of [[majorCompact]] and [[restoreTo]]. Ordered so every
   * intermediate state is readable:
   *   1. stage under `_tmp_base_txn`, a name the layout ignores (crash
   *      → table untouched, stray staging dir inert);
   *   2. drop `early` and a colliding `base_txn` (an already-compacted
   *      table is its own input);
   *   3. rename the staged base into place — [[readTable]]'s numeric
   *      max now picks it, and every older delta's events ≤ txn are
   *      shadowed by its currentTransaction > baseTxn filter;
   *   4. drop the rest of the old layout last — it is invisible behind
   *      the new base already.
   * Returns the new base path.
   */
  private def swapInBase(spark: SparkSession, l: Layout, txn: Long,
      state: DataFrame, early: Seq[String] = Nil): String = {
    val tmp = s"${l.dir}/_tmp_base_$txn"
    OrcIo.write(state.repartition(sizedFileCount(l, l.names)), tmp)
    // count the WRITTEN base from its footers, not `state`: counting the
    // resolve plan would column-prune the delta scans (see [[tally]])
    writeStatsSidecar(spark, tmp,
      AcidStats(Stats.statsOnlyCount(spark, tmp), 0L, 0L))
    val newBase = s"base_$txn"
    (early :+ newBase).filter(l.names.contains).foreach(l.delete)
    val dst = new Path(s"${l.dir}/$newBase")
    // Hadoop rename reports failure by RETURNING FALSE, not throwing;
    // proceeding to the deletes below would strand the only current
    // state in the ignored _tmp_ dir — fail loudly before any delete
    require(l.fs.rename(new Path(tmp), dst),
      s"rename $tmp -> $dst failed; aborting before deletes")
    l.names.filter(_ != newBase).foreach(l.delete)
    dst.toString
  }

  /**
   * Major compaction over a table directory (`site/_docs/acid.md:26-60`):
   * resolve base+deltas to current state, rewrite as a new `base_N`
   * (N = highest delta txn), drop the old base and deltas. After it,
   * reads touch a single plain directory — the "every N deltas" rewrite
   * that keeps 100 TB MOR read amplification bounded. Returns the new
   * base path.
   */
  def majorCompact(spark: SparkSession, tableDir: String,
      rowIdCol: String = "id", buckets: Int = 4): String = {
    val l = layout(spark, tableDir)
    val maxTxn = (l.bases.map(_._2) ++ l.deltas.map(_.high)).max
    swapInBase(spark, l, maxTxn, readTable(spark, tableDir, rowIdCol, buckets))
  }

  /**
   * Correctness-gate query for major compaction: the same deterministic
   * layout as [[minorCompactQuery]], major-compacted into a single
   * plain `base_3`, then read back through [[readTable]] (now a pure
   * base passthrough). Oracle identical to q_acid_mor — compaction must
   * not change state, and the new base must carry `hive.acid.stats`.
   */
  def majorCompactQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = writeFixture(fixtureOrders(spark, sfDir), "acid_major_q",
      MorDeltas)
    val newBase = majorCompact(spark, t, rowIdCol = "o_orderkey")
    require(readAcidStats(spark, newBase).exists(_.inserts > 0),
      s"major compaction must carry $AcidStatsKey")
    readTable(spark, t, rowIdCol = "o_orderkey")
      .orderBy(col("o_orderkey"))
  }

  /**
   * Delta-compaction TRIGGER — the push-side twin of
   * [[graft.operators.Scale.compactionPlan]]: q_compact_plan bins a
   * file inventory toward a target size; this walks a live MOR
   * table's DELTA LAYOUT and proposes the minor compactions that
   * keep read amplification bounded. Policy: deltas in TRANSACTION
   * order are binned by an event quota — group g holds the deltas
   * whose preceding cumulative event count lands in
   * [g·quota, (g+1)·quota) — and every group with ≥ 2 deltas becomes
   * one proposed `delta_low_high` minor compaction. Quota binning
   * rides txn order, NOT size order (the [[graft.operators.Scale]]
   * sorted-fill), because a merged delta must span a CONSECUTIVE txn
   * range to remain a valid delta_A_B directory.
   *
   * Scale shape: the planning path is METADATA-scale — one directory
   * listing plus one count per delta (thousands of deltas at 100 TB,
   * never corpus rows); the plan frame is delta-count-sized and the
   * grouping walk runs driver-side like every other model-sized
   * artifact (Holt series, k-means centroids).
   */
  def compactionTrigger(spark: SparkSession, tableDir: String,
      quota: Long): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    val l = layout(spark, tableDir)
    // the per-delta count jobs are independent — overlapped
    val deltas = inParallel(l.visible.map { d => () =>
      val s = tally(spark.read.orc(s"$tableDir/${d.name}"), l.baseTxn)
      (d.low, d.high, s.inserts + s.updates + s.deletes)
    })
    var cum = 0L
    val planned = deltas.map { case (lo, hi, ne) =>
      val grp = cum / quota
      cum += ne
      (lo, hi, ne, grp)
    }
    val byGrp = planned.groupBy(_._4)
    val out = planned.map { case (lo, hi, ne, grp) =>
      val g = byGrp(grp)
      (lo, hi, ne, grp, g.map(_._1).min, g.map(_._2).max,
        g.length.toLong, g.map(_._3).sum, g.length >= 2)
    }
    import spark.implicits._
    out.toDF("low_txn", "high_txn", "n_events", "grp",
      "grp_low", "grp_high", "grp_deltas", "grp_events", "do_merge")
      .orderBy(col("low_txn"))
  }

  /** Correctness gate for [[compactionTrigger]]: four deterministic
    * single-txn deltas over an orders base (update %11 at txn 2,
    * update %13 at txn 3, delete %17 at txn 4, insert key+2e12 %19
    * at txn 5), quota = |orders|/12 so the modular masses form
    * non-trivial groups at every sf. The oracle replays the counts
    * from the same modular rules and the quota binning as a prefix
    * window. */
  def compactionTriggerQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val orders = fixtureOrders(spark, sfDir)
    val t = writeFixture(orders, "acid_trigger_q", TriggerDeltas)
    compactionTrigger(spark, t, math.max(1L, orders.count() / 12))
  }

  /**
   * Execute a [[compactionTrigger]] plan, given as its collected rows
   * (grp, low_txn, high_txn, do_merge) — the other half of the
   * trigger's planner/executor pair (the trigger decides WHICH delta
   * groups have accumulated enough events to merge; this runs each
   * `do_merge` group as ONE subset minor compaction into its
   * `delta_<grpLow>_<grpHigh>` range). Groups below the quota are
   * left untouched — merging singletons would churn files for no
   * read-amplification win. Returns (grp, mergedDir) for the
   * executed groups.
   *
   * Scale shape: group count is metadata-sized (one row per delta
   * dir); each group's merge is the standard one-shuffle event-form
   * window, cost ∝ the group's events — exactly the work the trigger
   * quota bounded.
   */
  private[graft] def executeTriggerPlan(spark: SparkSession,
      tableDir: String, rows: Seq[(Long, Long, Long, Boolean)])
      : Seq[(Long, String)] = {
    def dirName(lo: Long, hi: Long) =
      if (lo == hi) s"delta_$lo" else s"delta_${lo}_$hi"
    // each group's merge touches a DISJOINT set of delta directories —
    // independent jobs, overlapped (results keep group order)
    inParallel(rows.groupBy(_._1).toSeq.sortBy(_._1)
      .filter(_._2.head._4)
      .map { case (grp, members) => () =>
        val dirs = members.map(m => dirName(m._2, m._3))
        grp -> minorCompact(spark, tableDir, Some(dirs))
      })
  }

  /** Correctness gate for [[executeTriggerPlan]]: the trigger fixture
    * (four modular deltas, quota = |orders|/12), planned then
    * EXECUTED. Hashes one row per planned group — the group's shape
    * (replayed by the oracle's prefix-quota binning), whether it
    * merged, the number of delta directories now covering its range
    * (1 if merged, its original count otherwise — layout = plan), and
    * the post-execution resolved row count (modular replay —
    * execution must not change resolution). */
  def triggerExecQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = fixtureOrders(spark, sfDir)
    val t = writeFixture(orders, "acid_trigexec_q", TriggerDeltas)
    val quota = math.max(1L, orders.count() / 12)
    // ONE collect serves both the executor and the gate columns
    // (compactionTrigger's frame is driver-local, but a second
    // collect after execution would be a latent re-evaluation hazard
    // if it ever became lazy)
    val planRows = compactionTrigger(spark, t, quota)
      .select(col("grp"), col("low_txn"), col("high_txn"),
        col("grp_low"), col("grp_high"), col("grp_deltas"),
        col("grp_events"), col("do_merge"))
      .collect()
    val plan = planRows.map(r => (r.getLong(0), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
    executeTriggerPlan(spark, t,
      planRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(7))))
    val post = layout(spark, t).deltas
    val resolvedRows = readTable(spark, t, rowIdCol = "o_orderkey")
      .rdd.count()
    plan.distinct.sortBy(_._1).map { case (grp, lo, hi, nd, ne, merged) =>
      val covering = post.count(p => p.low >= lo && p.high <= hi).toLong
      (grp, lo, hi, nd, ne, merged, covering, resolvedRows)
    }.toSeq.toDF("grp", "grp_low", "grp_high", "grp_deltas",
      "grp_events", "merged", "post_dirs", "resolved_rows")
      .orderBy(col("grp"))
  }

  /**
   * Correctness-gate query: synthesize a deterministic base+delta set
   * from orders —
   *   base:   every order inserted at txn 1;
   *   delta1: orders with o_orderkey % 10 == 0 updated at txn 2
   *           (totalprice × 1.10);
   *   delta2: orders with o_orderkey % 7 == 0 deleted at txn 3.
   * Resolution must yield updated-but-not-deleted state; the oracle
   * recomputes it with SQL CASE/filters.
   */
  def morQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.load(spark, sfDir, "orders")
    val base = ordersAsEvents(orders, OpInsert, 1L)
    val updates = ordersAsEvents(
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.10),
      OpUpdate, 2L)
    val deletes = ordersAsEvents(
      orders.filter(col("o_orderkey") % 7 === 0), OpDelete, 3L)
    resolve(base.unionAll(updates).unionAll(deletes))
      .orderBy(col("o_orderkey"))
  }

  /**
   * Correctness-gate query for snapshot time travel: the
   * [[minorCompactQuery]] base_1/delta_2/delta_3 layout read AS OF
   * txn 2 — the txn-2 updates are visible, the txn-3 deletes are not
   * (delta_3 pruned at the metadata level, never read). The oracle is
   * the mor oracle WITHOUT the delete filter: time travel must equal
   * the state the table had at the snapshot.
   */
  def timeTravelQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = writeFixture(fixtureOrders(spark, sfDir), "acid_asof_q",
      MorDeltas)
    readTableAsOf(spark, t, asOfTxn = 2L, rowIdCol = "o_orderkey")
      .orderBy(col("o_orderkey"))
  }

  /**
   * Change-data capture between two snapshots of a MOR table
   * directory: every logical row touched in (fromTxn, toTxn], with
   * its change class (`insert` / `update` / `delete`), its old row
   * (state as of `fromTxn`) and its new row (last event at or before
   * `toTxn`). This is the read every incremental downstream consumer
   * of a versioned lake wants — "give me what changed since my last
   * sync" — and on the reference's directory layout (`acid.md:26-60`)
   * it is DELTA-DRIVEN: only delta directories whose txn range
   * intersects the window are read at all (directory-name pruning,
   * the [[readTableAsOf]] device), so the cost scales with the CHANGE
   * volume plus one key-pruned old-value lookup — never with table
   * size, and never as a diff of two full snapshots.
   *
   * Shape at 100 TB: the window deltas reduce per (bucket, rowId) to
   * the LAST event (a per-key window, thousands of partitions); the
   * old values come from the `fromTxn` snapshot via one join on the
   * touched keys. Classification: last event is a delete → `delete`
   * (rows never present at `fromTxn` and deleted inside the window
   * collapse to nothing and are dropped); otherwise an old row exists
   * → `update`, else `insert`.
   *
   * `fromTxn` must be at or after the newest base's txn: a compaction
   * folded all earlier history into the base, so an older before-
   * snapshot cannot be reconstructed — [[readTableAsOf]] raises
   * "history before base_N has been compacted away" rather than
   * silently classifying every update as an insert and dropping
   * deletes against an empty before-state.
   */
  def changesBetween(spark: SparkSession, tableDir: String,
      fromTxn: Long, toTxn: Long, rowIdCol: String = "id",
      buckets: Int = 4): DataFrame = {
    // metadata pruning: keep a delta only if its txn RANGE intersects
    // (fromTxn, toTxn]
    val winDirs = layout(spark, tableDir).deltas
      .filter(d => d.high > fromTxn && d.low <= toTxn)
    require(winDirs.nonEmpty,
      s"no delta directories intersect ($fromTxn, $toTxn] under $tableDir")
    val win = winDirs.map(d => spark.read.orc(s"$tableDir/${d.name}"))
      .reduce(_.unionByName(_))
      .filter(col("currentTransaction") > fromTxn &&
        col("currentTransaction") <= toTxn)
    // the window references every event column, so the delta scan is
    // never column-pruned (see [[tally]])
    val last = latestPerKey(win)
      .select(col("bucket"), col("rowId"), col("operation"),
        col("currentTransaction").as("change_txn"), col("row"))
    val before = readTableAsOf(spark, tableDir, fromTxn, rowIdCol, buckets)
    val old = before.select(
      (col(rowIdCol) % buckets).cast("int").as("bucket"),
      col(rowIdCol).as("rowId"),
      struct(before.columns.map(col): _*).as("old_row"))
    last.join(old, Seq("bucket", "rowId"), "left")
      .withColumn("change_type",
        when(col("operation") === OpDelete, lit("delete"))
          .when(col("old_row").isNotNull, lit("update"))
          .otherwise(lit("insert")))
      // a row born and deleted entirely inside the window was never
      // visible at either snapshot — not a change between them
      .filter(!(col("change_type") === "delete" && col("old_row").isNull))
      .select(col("rowId"), col("change_type"), col("change_txn"),
        col("old_row"),
        when(col("operation") === OpDelete, lit(null)).otherwise(col("row"))
          .as("new_row"))
  }

  /**
   * Roll a MOR table back to snapshot `txn` — the recovery path after
   * a bad write lands: the `txn` state ([[readTableAsOf]], future
   * deltas pruned at the metadata level) is rewritten as a fresh
   * `base_txn` (size-targeted files, the compaction rule), and ALL
   * prior directories are dropped — the rolled-back future because it
   * is exactly what restore erases, and the pre-snapshot past because
   * a delta without its base is unreadable anyway (this is
   * [[majorCompact]] pinned at a snapshot rather than at the head).
   * Time travel restarts from the restore point, the usual lake
   * RESTORE contract. Returns the new base path.
   */
  def restoreTo(spark: SparkSession, tableDir: String, txn: Long,
      rowIdCol: String = "id", buckets: Int = 4): String = {
    val l = layout(spark, tableDir)
    // only FULLY-future deltas (low txn > txn) go before the rename (a
    // crash mid-way reads as a partial rollback, re-runnable). A
    // STRADDLING range (delta_A_B with A ≤ txn < B) holds (A, txn]
    // events of the snapshot and must survive until after the rename;
    // a re-run after a crash there reconstructs the identical snapshot
    swapInBase(spark, l, txn,
      readTableAsOf(spark, tableDir, txn, rowIdCol, buckets),
      early = l.deltas.filter(_.low > txn).map(_.name))
  }

  /** The deterministic CDC fixture layout (base_1 + delta_2 updates
    * %10 / inserts %13 at key + 1e12 / delta_3 deletes %7), shared by
    * [[cdcQuery]] and the streaming delta tail gate. Returns the
    * table directory. */
  private[graft] def cdcFixture(spark: SparkSession, sfDir: String)
      : String = {
    val orders = fixtureOrders(spark, sfDir)
    val dir = OrcIo.scratchDir("acid_cdc_q")
    val updates = ordersAsEvents(
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.10),
      OpUpdate, 2L)
    val inserts = ordersAsEvents(
      orders.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey",
          col("o_orderkey") + lit(1000000000000L))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus", lit("I")),
      OpInsert, 2L)
    // the three fixture directories are independent — overlap them
    inParallel(Seq(
      () => OrcIo.write(orders, s"$dir/t/base_1"),
      () => writeDelta(updates.unionByName(inserts), s"$dir/t/delta_2"),
      () => writeDelta(ordersAsEvents(
        orders.filter(col("o_orderkey") % 7 === 0),
        OpDelete, 3L), s"$dir/t/delta_3")))
    s"$dir/t"
  }

  /** Correctness-gate query for [[restoreTo]]: build the CDC fixture
    * (updates + inserts at txn 2, deletes at txn 3), roll back to
    * txn 2, and read the restored table — the txn-3 deletes must be
    * gone, the txn-2 updates and inserts present, the layout a single
    * stats-carrying base. The oracle is the txn-2 state from orders
    * math. */
  def restoreQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val tableDir = cdcFixture(spark, sfDir)
    val newBase = restoreTo(spark, tableDir, txn = 2L,
      rowIdCol = "o_orderkey")
    require(readAcidStats(spark, newBase).exists(_.inserts > 0),
      s"restored base must carry $AcidStatsKey")
    readTable(spark, tableDir, rowIdCol = "o_orderkey")
      .orderBy(col("o_orderkey"))
  }

  /**
   * Correctness-gate query for [[changesBetween]]: the deterministic
   * [[morQuery]] layout plus an insert population —
   *   base_1:  every order at txn 1;
   *   delta_2: %10 keys updated (price × 1.10) AND %13 keys
   *            re-inserted as NEW rows at key + 10^12 with
   *            price + 1000 (the offset keeps synthesized keys
   *            disjoint from every ScaleUp id domain);
   *   delta_3: %7 keys deleted.
   * CDC over (1, 3] must classify each touched key once: deletes win
   * over earlier updates (%70 keys), inserts have no old row, and the
   * old/new prices witness the actual payloads. The oracle replays
   * the classification as CASE logic over `orders`.
   */
  def cdcQuery(spark: SparkSession, sfDir: String): DataFrame = {
    changesBetween(spark, cdcFixture(spark, sfDir), fromTxn = 1L,
      toTxn = 3L, rowIdCol = "o_orderkey")
      .select(col("rowId").as("o_orderkey"), col("change_type"),
        col("change_txn"),
        col("old_row.o_totalprice").as("old_price"),
        col("new_row.o_totalprice").as("new_price"))
      .orderBy(col("o_orderkey"))
  }

  /**
   * Metadata-path COUNT(*) on a MOR table — the lakehouse fast path
   * (Delta/Iceberg answer COUNT from manifests; Hive ACID from ORC
   * footers): under the writer discipline this layout enforces
   * (every delete names a live rowId exactly once, every insert a
   * fresh one, updates replace in place), the live-row count is
   * base_rows + inserts − deletes — NO resolve window, no payload
   * comparison, no per-row merge. Straddling minor-compacted deltas
   * follow [[readTable]]'s rule: events ≤ baseTxn are the base's own
   * folded history and are excluded from the tallies.
   *
   * CONTRACT BOUNDARY: the ledger is exact as long as no
   * delta-inserted row is later deleted AND the pair minor-compacted
   * away — [[minorCompact]] folds an insert→delete chain to the lone
   * delete (latest event per key), which drops the insert from the
   * tally while the delete still subtracts. That is why the gate
   * carries the resolve-path count and a `consistent` witness rather
   * than trusting the fast path blind; the spec pins the annihilation
   * case flipping the witness false. (Major compaction resets the
   * ledger entirely — a fresh base — and is always safe.)
   *
   * Cost shape: the base contributes a count-only scan (ORC answers
   * it from stripe footers); each delta contributes one full-row
   * [[tally]] — cost stays delta-bound, not base-bound, and nothing
   * resolves. The gate ALSO runs the full resolve-path count and
   * hashes the equality — the invariant the fast path rests on.
   */
  def fastCount(spark: SparkSession, tableDir: String): DataFrame = {
    val l = layout(spark, tableDir)
    val (base, baseTxn) = l.newestBase
    val baseCnt = spark.read.orc(s"$tableDir/$base")
      .agg(count(lit(1)).as("n_base"))
    val s = inParallel(l.visible.map(d => () =>
        tally(spark.read.orc(s"$tableDir/${d.name}"), baseTxn)))
      .foldLeft(AcidStats(0L, 0L, 0L))(_ + _)
    val tallies = spark.range(1).select(lit(s.inserts).as("n_ins"),
      lit(s.updates).as("n_upd"), lit(s.deletes).as("n_del"))
    baseCnt.crossJoin(broadcast(tallies))
      .withColumn("meta_count",
        col("n_base") + col("n_ins") - col("n_del"))
  }

  /** Correctness gate: the [[morQuery]]-style layout plus a fresh
    * insert delta (keys + 2·10¹² at txn 4, o_orderkey % 19), so all
    * three operations shape the count; the fast-path count must equal
    * the resolve-path count, and the oracle replays both from the
    * modular rules. */
  def fastCountQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val t = writeFixture(fixtureOrders(spark, sfDir), "acid_fastcount_q",
      LedgerDeltas)
    // .rdd.count(), NOT .agg(count): a count() over the resolve plan
    // prunes the delta read schema (see [[tally]])
    val scanCount = readTable(spark, t, rowIdCol = "o_orderkey").rdd.count()
    fastCount(spark, t)
      .select(col("n_base"), col("n_ins"), col("n_upd"), col("n_del"),
        col("meta_count"), lit(scanCount).as("scan_count"),
        (col("meta_count") === lit(scanCount)).as("consistent"))
  }

  /**
   * GDPR right-to-be-forgotten purge across HISTORY: physically
   * rewrite every file of the MOR layout — the base and every delta —
   * dropping all events whose rowId is in the subject key set, while
   * PRESERVING the directory/txn structure so time travel keeps
   * working for everything else. This is the compliance operation a
   * versioned lake must support that a takedown DELETE delta cannot
   * provide: a delete only hides keys from the PRESENT, while every
   * historical snapshot (and RESTORE) would resurrect them. Erasure
   * wins over time travel, by construction.
   *
   * Mechanics: the base is plain ORC — a vectorized filtered rewrite
   * through a temp dir + atomic-ish swap. Deltas are ACID-schema ORC,
   * which the vectorized reader cannot read at all (see [[tally]]) —
   * each rewrites through the row reader (`.rdd.filter` +
   * createDataFrame on the original schema), and its ACID-stats
   * sidecar is recomputed. Cost ∝ table + history size — inherent to
   * physical erasure — parallel per file split like any scan; the
   * subject key set broadcasts (erasure requests are small).
   */
  def purgeKeys(spark: SparkSession, tableDir: String,
      keys: Set[Long], rowIdCol: String): Unit = {
    import spark.implicits._
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // Crash self-heal (ADVICE r13): a crash inside swapIn's two-rename
    // window leaves the live base_/delta_ dir ABSENT, with the only
    // complete copy at dot-prefixed .purged_old_<d> — which readTable
    // ignores, so without healing a delta's history silently vanishes
    // from every subsequent read and a purge re-run cannot restore it
    // (it only lists visible dirs). On entry: restore any stranded
    // aside copy whose live dir is missing, drop post-swap aside
    // debris, and drop half-written tmp dirs. Re-purging a restored
    // dir is idempotent, so the heal is always safe.
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .foreach { n =>
        val p = new Path(root, n)
        if (n.startsWith(".purged_old_")) {
          val live = new Path(root, n.stripPrefix(".purged_old_"))
          if (!fs.exists(live))
            require(fs.rename(p, live),
              s"purge crash-heal restore failed for $n")
          else fs.delete(p, true)
        } else if (n.startsWith(".purge_tmp_")) {
          fs.delete(p, true)
        }
      }
    val l = layout(spark, tableDir)
    val bcast = spark.sparkContext.broadcast(keys)
    // the subject keys as a BROADCAST dimension for the base anti-join
    // (ADVICE r13): isInCollection(keys) embeds the whole set in the
    // plan as an In/InSet literal, which for a purge request scaling
    // with table size grows the serialized plan unboundedly; a
    // broadcast left_anti ships the set once as a hashed relation
    val keysDf = broadcast(keys.toSeq.toDF(rowIdCol))
    // rename-aside swap: every intermediate state keeps one complete
    // copy of the directory (a delete-before-rename window would lose
    // the whole base/delta — data loss far beyond the erasure
    // request — if the rename failed or the process died between the
    // two calls)
    def swapIn(d: String): Unit = {
      val dst = new Path(root, d)
      // dot-prefixed so a crash leftover is never part of the layout
      val old = new Path(root, s".purged_old_$d")
      fs.delete(old, true) // clear any debris from a prior crash
      require(fs.rename(dst, old), s"purge aside-rename failed for $dst")
      require(fs.rename(new Path(root, s".purge_tmp_$d"), dst),
        s"purge swap failed for $dst")
      fs.delete(old, true)
    }
    // each directory's rewrite touches only its own files and swap
    // names — independent jobs, overlapped (the sequential loop was
    // half driver-side gaps: per-dir planning + sidecars + renames)
    inParallel(l.bases.map { case (b, _) => () =>
      OrcIo.write(spark.read.orc(s"$tableDir/$b")
        .join(keysDf, Seq(rowIdCol), "left_anti"),
        s"$tableDir/.purge_tmp_$b")
      swapIn(b)
    } ++ l.deltas.map { d => () =>
      val df = spark.read.orc(s"$tableDir/${d.name}")
      val idIdx = df.schema.fieldIndex("rowId")
      // the RDD-backed frame reads the ORIGINAL files lazily while
      // writing to the temp dir — no read-while-overwrite hazard;
      // writeDelta recomputes the ACID-stats sidecar from the
      // surviving events (no ORC vectorized path involved)
      writeDelta(spark.createDataFrame(
          df.rdd.filter(r => !bcast.value.contains(r.getLong(idIdx))),
          df.schema),
        s"$tableDir/.purge_tmp_${d.name}")
      swapIn(d.name)
    })
    ()
  }

  /** Correctness gate for [[purgeKeys]]: the fastCount layout
    * (base_1 + update delta_2 + delete delta_3 + insert delta_4 at
    * +2·10¹²), then purge of every rowId ≡ 0 (mod 23) across history.
    * The gate reads the table AS OF txn 2, 3, and 4 and hashes, per
    * snapshot: the row count, the count of purged keys still visible
    * (MUST be 0 — the erasure-beats-time-travel witness), and a
    * control class count (mod 5) proving untargeted history is
    * untouched. All counts replay from modular arithmetic on orders. */
  def purgeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the mod-3 third of orders: erasure semantics are fixture-size-
    // independent and this is the costliest fixture gate (4 dirs
    // written + all rewritten + 3 as-of row-reader scans) — the sf1
    // re-gate still exercises scale
    val orders = fixtureOrders(spark, sfDir)
      .filter(col("o_orderkey") % 3 === 0)
    val t = writeFixture(orders, "acid_purge_q", LedgerDeltas)
    val subjects = orders
      .select(col("o_orderkey"))
      .unionByName(orders.filter(col("o_orderkey") % 19 === 0)
        .select((col("o_orderkey") + 2000000000000L)
          .as("o_orderkey")))
      .filter(col("o_orderkey") % 23 === 0)
      .collect().map(_.getLong(0)).toSet
    purgeKeys(spark, t, subjects, rowIdCol = "o_orderkey")
    // the three as-of snapshot scans are independent — overlapped
    val out = inParallel(Seq(2L, 3L, 4L).map { asOf => () =>
      val counts = readTableAsOf(spark, t, asOf, rowIdCol = "o_orderkey")
        .rdd.map { r =>
          val k = r.getLong(0)
          (1L, if (k % 23 == 0) 1L else 0L,
            if (k % 5 == 0) 1L else 0L)
        }
        .fold((0L, 0L, 0L)) { (a, b) =>
          (a._1 + b._1, a._2 + b._2, a._3 + b._3)
        }
      (asOf, counts._1, counts._2, counts._3)
    })
    out.toDF("asof_txn", "n_rows", "n_purged_visible", "n_mod5")
      .orderBy("asof_txn")
  }
}
