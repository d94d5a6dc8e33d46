package perfbench

import scala.collection.mutable

/** One current-state row of the `ingest` table (the four `orders`
  * columns the ACID fixture carries). Prices are kept in cents so the
  * expected sums are exact. */
final case class OrderRow(key: Long, custkey: Long, priceCents: Long,
    status: String)

/** A seeded ACID transaction: rows rewritten with new values, and keys
  * deleted. Keys are distinct across the two lists. */
final case class TxnBatch(txn: Long, updates: Seq[OrderRow],
    deletes: Seq[OrderRow]) {
  def userRows: Int = updates.size + deletes.size
}

/** One landed events file for the streaming sink. */
final case class EventRow(eventId: Long, userId: Long, amountCents: Long,
    batch: Int)

/** What a fresh read of the table must return. */
final case class TableState(rows: Long, priceCents: Long, custkeySum: Long,
    statusF: Long)

/** What a fresh read of the sink directory must return. */
final case class SinkState(rows: Long, amountCents: Long, maxBatch: Int)

/**
 * The benchmark's own model of the transactions it applied, kept
 * without any ORC or ACID code: a key → row map for the table and
 * running totals for the sink. Every `ingest` read is checked against
 * it, so a merge-on-read, compaction or sink defect shows as a wrong
 * answer rather than as a timing.
 */
final class IngestModel(initial: Iterable[OrderRow]) {
  private val rows = mutable.HashMap.empty[Long, OrderRow]
  // live keys in a dense array so a uniform sample is O(1) per key
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  initial.foreach(put)

  private var sinkRows = 0L
  private var sinkAmount = 0L
  private var sinkMaxBatch = -1
  private var nextEventId = 0L

  private def put(r: OrderRow): Unit = {
    if (!rows.contains(r.key)) { slot(r.key) = keys.size; keys += r.key }
    rows(r.key) = r
  }

  private def remove(key: Long): Unit = {
    val i = slot.remove(key).getOrElse(
      throw new IllegalArgumentException(s"delete of absent key $key"))
    val last = keys.remove(keys.size - 1)
    if (last != key) { keys(i) = last; slot(last) = i }
    rows.remove(key)
  }

  def liveRows: Int = keys.size

  /** Draw the next transaction from `rng`: `nUpdates` live rows get a
    * new price and status, `nDeletes` other live rows are deleted. */
  def nextBatch(rng: scala.util.Random, txn: Long, nUpdates: Int,
      nDeletes: Int): TxnBatch = {
    require(nUpdates + nDeletes <= keys.size,
      s"batch of ${nUpdates + nDeletes} keys over ${keys.size} live rows")
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < nUpdates + nDeletes)
      picked += keys(rng.nextInt(keys.size))
    val (up, del) = picked.toSeq.splitAt(nUpdates)
    TxnBatch(txn,
      up.map(k => rows(k).copy(
        priceCents = 100000L + rng.nextInt(49900000),
        status = IngestModel.Statuses(rng.nextInt(3)))),
      del.map(rows))
  }

  /** Record a committed transaction. */
  def apply(b: TxnBatch): Unit = {
    b.updates.foreach(put)
    b.deletes.foreach(r => remove(r.key))
  }

  def tableState: TableState = {
    var price = 0L; var cust = 0L; var f = 0L
    rows.valuesIterator.foreach { r =>
      price += r.priceCents; cust += r.custkey
      if (r.status == "F") f += 1
    }
    TableState(rows.size.toLong, price, cust, f)
  }

  /** Draw the next events file for the stream. */
  def nextEvents(rng: scala.util.Random, batch: Int, n: Int): Seq[EventRow] =
    (0 until n).map { _ =>
      nextEventId += 1
      EventRow(nextEventId, rng.nextInt(100000).toLong,
        1L + rng.nextInt(1000000), batch)
    }

  /** Record an events file the sink has committed. */
  def landed(events: Seq[EventRow]): Unit = events.foreach { e =>
    sinkRows += 1; sinkAmount += e.amountCents
    sinkMaxBatch = math.max(sinkMaxBatch, e.batch)
  }

  def sinkState: SinkState = SinkState(sinkRows, sinkAmount, sinkMaxBatch)
}

object IngestModel {
  val Statuses: Vector[String] = Vector("F", "O", "P")

  /** Raw bytes of one user row as the benchmark counts them: fixed-width
    * fields at their width, strings at their UTF-8 length. */
  def rawBytes(r: OrderRow): Long = 8L + 8L + 8L + r.status.getBytes("UTF-8").length
  def rawBytes(e: EventRow): Long = 8L + 8L + 8L + 4L
}
