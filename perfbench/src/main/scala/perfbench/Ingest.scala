package perfbench

import graft.operators.Acid
import graft.sources.OrcIo
import graft.streaming.StreamingIngest
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * `ingest`: writes beside reads. Each step commits a seeded update and
 * delete batch with `Acid.writeDelta`, reads current state back with
 * `Acid.readTable`, drains a landed events file through
 * `StreamingIngest.orcSink` and reads the sink with `OrcIo.read`.
 * Minor compaction runs every [[Ingest.MinorEvery]] steps and major
 * compaction every [[Ingest.MajorEvery]]. Batch sizes follow TPC-H's
 * refresh functions (see [[Ingest.RefreshOrders]]). Every read is
 * checked against [[IngestModel]].
 */
final class Ingest(run: Run, dataDir: java.io.File) extends Workload {
  import Ingest._
  private val spark = run.spark
  private val rng = new scala.util.Random(run.seed)
  private lazy val src = Data.cached(spark, dataDir, s"orders_${Data.OrdersRows}",
    Data.orders(spark, Data.OrdersRows))

  private var initial: Seq[OrderRow] = Nil
  private var baseRaw = 0L

  // state of the fixture the loop runs on (the last build's)
  private var dir: java.io.File = _
  private var model: IngestModel = _
  private var txn = 1L
  private var baseTxn = 1L

  private var committedRows = 0L
  private var rawUser = 0L
  private var written = 0L
  private val fresh = scala.collection.mutable.ArrayBuffer.empty[Double]

  def expect(): Unit = {
    initial = Expectations.cached(dataDir, s"ingest_${Data.OrdersRows}") {
      spark.read.parquet(src).collect().toVector.map(r => OrderRow(r.getLong(0),
        r.getLong(1), math.round(r.getDouble(2) * 100), r.getString(3)))
    }
    baseRaw = initial.map(IngestModel.rawBytes).sum
  }

  def inputs: Seq[(String, Any)] = Seq(
    "base_rows" -> Data.OrdersRows, "base_raw_bytes" -> baseRaw,
    "updates_per_step" -> RefreshOrders, "deletes_per_step" -> RefreshOrders,
    "events_per_step" -> s"${RefreshOrders * LinesMin}-${RefreshOrders * LinesMax}",
    "minor_compact_every" -> MinorEvery, "major_compact_every" -> MajorEvery,
    "table_bytes" -> Files.dataBytes(new java.io.File(table)))

  private def table = new java.io.File(dir, "table").getPath
  private def sink = new java.io.File(dir, "sink")

  def build(d: java.io.File): SetupRec = {
    val t0 = System.nanoTime()
    dir = d
    model = new IngestModel(initial)
    txn = 1L; baseTxn = 1L
    run.tracer.span("orcio.write")(
      OrcIo.write(spark.read.parquet(src), s"$table/base_1"))
    val state = run.tracer.action("acid.mor_read")(
      run.collect(stateQuery(), Data.OrdersRows).head)
    require(toState(state) == model.tableState, s"fresh base_1 read $state")
    SetupRec((System.nanoTime() - t0) / 1e9, Files.dataBytes(new java.io.File(table)), baseRaw)
  }

  /** One untimed cycle: the first streams, deltas and compactions in a
    * JVM pay engine start-up, and `writeDelta` times fall over the
    * first four steps. */
  def warmup(): Unit = {
    cycle(warm = true)
    committedRows = 0L; rawUser = 0L; written = 0L; fresh.clear()
  }

  /** Current state, aggregated. */
  private def stateQuery() =
    Acid.readTable(spark, table, rowIdCol = "o_orderkey").agg(
      count(lit(1)), sum(round(col("o_totalprice") * 100).cast("long")),
      sum(col("o_custkey")), sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)))

  private def toState(r: Row): TableState =
    TableState(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))

  /** Three cycles take about 26 s on four cores. They also put the
    * median latency inside the drains' samples and the 11th largest,
    * the tail, inside the merge-on-read reads' samples, rather than on
    * the edge between two kinds of operation. */
  val minRounds = 3

  /** One compaction cycle: [[MajorEvery]] steps with a minor compaction
    * after every [[MinorEvery]]th and a major compaction at the end. The
    * loop runs whole cycles, so every run holds the same mix of steps
    * and compactions wherever the timed window would otherwise cut the
    * sawtooth. */
  def iterate(i: Int): Unit = cycle(warm = false)

  private def cycle(warm: Boolean): Unit =
    (1 to MajorEvery).foreach { s =>
      step(warm)
      if (s == MajorEvery) op("acid.major_compact", warm)(major())
      else if (s % MinorEvery == 0) op("acid.minor_compact", warm)(minor())
    }

  private def op(kind: String, warm: Boolean)(body: => Check): Op =
    if (warm) run.warmup(kind)(body) else run.op(kind)(body)

  /** One step; its batch and events file are drawn before any timing. */
  private def step(warm: Boolean): Unit = {
    txn += 1
    val batch = model.nextBatch(rng, txn, RefreshOrders, RefreshOrders)
    val lines = Seq.fill(RefreshOrders)(LinesMin + rng.nextInt(LinesMax - LinesMin + 1)).sum
    val events = model.nextEvents(rng, txn.toInt, lines)
    land(events)
    val deltaDir = new java.io.File(table, s"delta_$txn")
    val start = System.nanoTime()
    val commit = op("acid.delta_write", warm) {
      run.tracer.action("acid.delta_write")(Acid.writeDelta(eventsOf(batch), deltaDir.getPath))
      Check(ok = true, batch.userRows.toLong)
    }
    if (commit.failed) return
    model.apply(batch)
    val read = op("acid.mor_read", warm) {
      run.count("acid.live_deltas", new java.io.File(table).list()
        .count(_.startsWith("delta_")).toDouble)
      val r = run.tracer.action("acid.mor_read")(run.collect(stateQuery(), Data.OrdersRows).head)
      Check.equal(1, toState(r), model.tableState)
    }
    val sinkBefore = Files.dataBytes(sink)
    val drain = op("stream.drain", warm) {
      val q = run.tracer.action("stream.drain") {
        val q = StreamingIngest.orcSink(
          spark.readStream.schema(EventSchema).orc(landing.getPath),
          sink.getPath, new java.io.File(dir, "checkpoint").getPath)
        q.awaitTermination()
        q
      }
      q.exception.foreach(e => throw e)
      run.count("stream.rows", events.size.toDouble)
      Check(ok = true, events.size.toLong)
    }
    if (drain.failed) return
    model.landed(events)
    val sinkRead = op("orcio.sink_read", warm) {
      val r = run.collect(run.tracer.span("orcio.open")(OrcIo.read(spark, sink.getPath))
        .agg(count(lit(1)), sum(col("amount_cents")), max(col("batch"))),
        model.sinkState.rows).head
      Check.equal(1, SinkState(r.getLong(0), r.getLong(1), r.getInt(2)), model.sinkState)
    }
    val visible = System.nanoTime()
    if (!warm) {
      committedRows += batch.userRows + events.size
      rawUser += batch.updates.map(IngestModel.rawBytes).sum +
        batch.deletes.map(IngestModel.rawBytes).sum + events.map(IngestModel.rawBytes).sum
      written += Files.dataBytes(deltaDir) + Files.dataBytes(sink) - sinkBefore
      if (!read.failed && !sinkRead.failed) fresh += (visible - start) / 1e6
    }
  }

  private def landing = new java.io.File(dir, "landing")

  /** Write an events file with the ORC core writer, as an upstream
    * producer would, beside the landing directory, and move it in, so
    * the stream never lists a partial file. No Spark job runs here. */
  private def land(events: Seq[EventRow]): Unit = {
    import org.apache.hadoop.hive.ql.exec.vector.LongColumnVector
    val name = s"b${events.head.batch}.orc"
    val stage = new java.io.File(dir, s"staging/$name")
    stage.getParentFile.mkdirs()
    landing.mkdirs()
    val schema = org.apache.orc.TypeDescription.fromString(
      "struct<event_id:bigint,user_id:bigint,amount_cents:bigint,batch:int>")
    val w = org.apache.orc.OrcFile.createWriter(new org.apache.hadoop.fs.Path(stage.getPath),
      org.apache.orc.OrcFile.writerOptions(new org.apache.hadoop.conf.Configuration())
        .setSchema(schema).overwrite(true))
    try {
      val b = schema.createRowBatch()
      val c = b.cols.map(_.asInstanceOf[LongColumnVector].vector)
      events.foreach { e =>
        val r = b.size
        c(0)(r) = e.eventId; c(1)(r) = e.userId; c(2)(r) = e.amountCents; c(3)(r) = e.batch
        b.size += 1
        if (b.size == b.getMaxSize) { w.addRowBatch(b); b.reset() }
      }
      if (b.size > 0) w.addRowBatch(b)
    } finally w.close()
    require(stage.renameTo(new java.io.File(landing, name)), s"cannot land $stage")
  }

  /** A transaction as ACID events; every event keys the row by
    * (current base txn, key % 4, key), the identity `Acid.readTable`
    * gives base rows. */
  private def eventsOf(b: TxnBatch) = {
    def ev(op: Int, r: OrderRow) = Row(op, baseTxn, (r.key % 4).toInt, r.key, b.txn,
      Row(r.key, r.custkey, r.priceCents / 100.0, r.status))
    spark.createDataFrame(java.util.Arrays.asList(
      (b.updates.map(ev(Acid.OpUpdate, _)) ++ b.deletes.map(ev(Acid.OpDelete, _))): _*),
      DeltaSchema)
  }

  private def minor(): Check = {
    val out = run.tracer.action("acid.minor_compact")(Acid.minorCompact(spark, table))
    val bytes = Files.dataBytes(new java.io.File(out))
    written += bytes
    run.count("acid.compact_bytes", bytes.toDouble)
    Check(ok = true, 0L)
  }

  private def major(): Check = {
    val out = run.tracer.action("acid.major_compact")(
      Acid.majorCompact(spark, table, rowIdCol = "o_orderkey"))
    baseTxn = txn
    val bytes = Files.dataBytes(new java.io.File(new java.net.URI(out).getPath))
    written += bytes
    run.count("acid.compact_bytes", bytes.toDouble)
    Check(ok = true, 0L)
  }

  def rowsDelivered: Long = committedRows
  def freshnessMs: Seq[Double] = fresh.toSeq
  def bytesWritten: Long = written
  def userBytes: Long = rawUser
}

object Ingest {
  /** Compaction cadence, in steps: chosen so that a run (a warm-up
    * cycle and three timed ones) holds each kind of compaction four
    * times, not taken from a trace. */
  val MinorEvery = 2
  val MajorEvery = 4
  /** Orders one step updates, and as many it deletes: the size of a
    * TPC-H refresh function, SF × 1500 orders, at the scale of the
    * 150k-row base (SF 0.1). */
  val RefreshOrders = 150
  /** Events one step lands per new order: one per lineitem, and TPC-H
    * gives each new order of its refresh function 1 to 7 lineitems,
    * uniformly, so a step lands about 600. */
  val LinesMin = 1
  val LinesMax = 7

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("amount_cents", LongType), StructField("batch", IntegerType)))

  val DeltaSchema: StructType = StructType(Seq(
    StructField("operation", IntegerType),
    StructField("originalTransaction", LongType),
    StructField("bucket", IntegerType),
    StructField("rowId", LongType),
    StructField("currentTransaction", LongType),
    StructField("row", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderstatus", StringType))))))
}
