package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IngestModelSpec extends AnyFunSuite {
  private def rows = (1L to 10L).map(k =>
    OrderRow(k, 100 + k, 1000 * k, if (k % 2 == 0) "F" else "O"))

  test("the initial state sums the base rows") {
    val m = new IngestModel(rows)
    assert(m.tableState == TableState(10, 55000, 1055, 5))
    assert(m.liveRows == 10)
    assert(m.sinkState == SinkState(0, 0, -1))
  }

  test("a batch rewrites its updated rows and removes its deleted rows") {
    val m = new IngestModel(rows)
    val b = TxnBatch(2, Seq(OrderRow(3, 103, 7, "F")), Seq(rows(9), rows(0)))
    m.apply(b)
    // keys 1 and 10 gone; key 3 now 7 cents and status F
    assert(m.tableState == TableState(8, 55000 - 3000 + 7 - 10000 - 1000,
      1055 - 110 - 101, 5 - 1 + 1))
    assert(m.liveRows == 8)
    assertThrows[IllegalArgumentException](m.apply(TxnBatch(3, Nil, Seq(rows(0)))))
  }

  test("drawn batches touch distinct live keys and are fixed by the seed") {
    def draw() = {
      val m = new IngestModel(rows)
      val rng = new scala.util.Random(7)
      (1 to 3).map { t =>
        val b = m.nextBatch(rng, t + 1L, 3, 2)
        m.apply(b)
        b
      }
    }
    val batches = draw()
    assert(batches == draw())
    val deleted = scala.collection.mutable.Set.empty[Long]
    batches.foreach { b =>
      val keys = (b.updates ++ b.deletes).map(_.key)
      assert(keys.distinct.size == 5 && b.userRows == 5)
      assert(keys.forall(k => !deleted(k)), "a batch touched a deleted key")
      deleted ++= b.deletes.map(_.key)
    }
    assert(deleted.size == 6)
  }

  test("a batch larger than the live rows is refused") {
    val m = new IngestModel(rows)
    assertThrows[IllegalArgumentException](
      m.nextBatch(new scala.util.Random(1), 2, 8, 3))
  }

  test("landed events accumulate into the sink state") {
    val m = new IngestModel(rows)
    val rng = new scala.util.Random(3)
    val a = m.nextEvents(rng, 2, 4)
    val b = m.nextEvents(rng, 3, 2)
    assert((a ++ b).map(_.eventId) == (1L to 6L))
    m.landed(a)
    m.landed(b)
    assert(m.sinkState == SinkState(6, (a ++ b).map(_.amountCents).sum, 3))
  }

  test("raw bytes count fixed-width fields at width and strings at length") {
    assert(IngestModel.rawBytes(OrderRow(1, 2, 3, "F")) == 25)
    assert(IngestModel.rawBytes(EventRow(1, 2, 3, 4)) == 28)
  }
}
