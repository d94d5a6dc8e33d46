package perfbench

/** A workload: fixtures built by [[build]], operations issued by
  * [[iterate]] from one closed-loop client. */
trait Workload {
  /** Answers computed from the parquet sources; not timed. */
  def expect(): Unit
  /** Build the fixtures in `dir` and read them back fresh; returns
    * what the build wrote, for write amplification. */
  def build(dir: java.io.File): SetupRec
  /** Issue untimed rounds of every kind of operation on the fixture:
    * JIT, codegen and first-use class loading belong to setup, not to
    * the first timed operations. */
  def warmup(): Unit
  /** One round of the closed loop: one or more timed operations. */
  def iterate(i: Int): Unit
  /** Rounds every run completes, however long they take, so a slow host
    * changes the timings but not the mix of operations measured. */
  def minRounds: Int
  /** Rows the loop delivered: decoded, returned or committed. */
  def rowsDelivered: Long
  /** Freshness samples in ms, one or more per round (each workload
    * defines what it times). */
  def freshnessMs: Seq[Double]
  def bytesWritten: Long
  def userBytes: Long
  def inputs: Seq[(String, Any)]
}

/** One fixture build. */
final case class SetupRec(seconds: Double, bytesWritten: Long, userBytes: Long)

/** Raw width of a row: fixed-width fields at their width, strings at
  * their UTF-8 length. */
object RawBytes {
  import org.apache.spark.sql.types._
  def of(r: org.apache.spark.sql.Row): Long =
    r.schema.fields.indices.map { i =>
      if (r.isNullAt(i)) 0L
      else r.schema(i).dataType match {
        case LongType | DoubleType | TimestampType => 8L
        case IntegerType | DateType => 4L
        case StringType => r.getString(i).getBytes("UTF-8").length.toLong
        case t => throw new IllegalArgumentException(s"no raw width for $t")
      }
    }.sum
}
