package perfbench

import graft.operators.Stats
import graft.sources.{OrcIo, OrcMeta}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/**
 * `lookup`: point, range and footer-only requests against a sorted,
 * bloom-indexed `lineitem`. Each request opens the table fresh with
 * `OrcIo.read` (or `OrcIo.readEvolved` for the schema-evolution kind),
 * as a caller without a handle cache does, so driver-side work —
 * opening, planning, skipping — dominates.
 */
final class Lookup(run: Run, dataDir: java.io.File) extends Workload {
  import Lookup._
  private val spark = run.spark
  private val rng = new scala.util.Random(run.seed)
  private lazy val src = Data.cached(spark, dataDir,
    s"lineitem_${Data.LineitemRows}", Data.lineitem(spark, Data.LineitemRows))

  private var e: LookupExpect = _
  private var table: String = _
  private var returned = 0L
  private var lastWrite: SetupRec = _
  private val fresh = mutable.ArrayBuffer.empty[Double]

  def expect(): Unit = e = Expectations.cached(dataDir, s"lookup_${Data.LineitemRows}") {
    val df = spark.read.parquet(src)
    val aggs = df.columns.toSeq.flatMap(c => Seq(min(c), max(c)))
    val extremes = df.agg(aggs.head, aggs.tail: _*).head()
    val colRange = df.columns.zipWithIndex.map { case (c, i) =>
      c -> (canonical(extremes.get(2 * i)), canonical(extremes.get(2 * i + 1)))
    }.toMap
    val rows = df.rdd.map { r =>
      (r.getLong(0), r.getLong(1), Run.fingerprint(r), RawBytes.of(r),
        r.getDouble(4))
    }.collect()
    val byOk = mutable.TreeMap.empty[Long, (Long, Long)]
    val pk = mutable.HashMap.empty[Long, (Long, Long)]
    rows.foreach { case (ok, p, fp, _, _) =>
      val (c, f) = byOk.getOrElse(ok, (0L, 0L)); byOk(ok) = (c + 1, f + fp)
      val (c2, f2) = pk.getOrElse(p, (0L, 0L)); pk(p) = (c2 + 1, f2 + fp)
    }
    LookupExpect(byOk.keysIterator.toArray,
      byOk.valuesIterator.map(_._1).scanLeft(0L)(_ + _).toArray,
      byOk.valuesIterator.map(_._2).scanLeft(0L)(_ + _).toArray,
      pk.toMap, rows.map(_._4).sum, rows.map(_._5).sum, colRange)
  }

  def inputs: Seq[(String, Any)] = Seq(
    "rows" -> Data.LineitemRows,
    "orc_files" -> new java.io.File(table).list().count(_.endsWith(".orc")),
    "orc_bytes" -> Files.dataBytes(new java.io.File(table)),
    "raw_bytes" -> e.rawBytes,
    "deck" -> Deck.mkString(","))

  def build(dir: java.io.File): SetupRec = {
    val t0 = System.nanoTime()
    val path = new java.io.File(dir, "lineitem").getPath
    run.tracer.span("orcio.write") {
      OrcIo.write(spark.read.parquet(src)
        .repartitionByRange(Files4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
        path, bloomColumns = Seq("l_partkey"))
    }
    val n = run.tracer.action("orcio.fresh_read")(OrcIo.read(spark, path).count())
    require(n == Data.LineitemRows, s"fresh read of $path returned $n rows")
    table = path
    lastWrite = SetupRec((System.nanoTime() - t0) / 1e9,
      Files.dataBytes(new java.io.File(path)), e.rawBytes)
    lastWrite
  }

  /** [[WarmDecks]] untimed decks. */
  def warmup(): Unit = (1 to WarmDecks).foreach(_ => rng.shuffle(Deck).foreach(request(_, warm = true)))

  /** Fourteen decks take about 20 s on four cores, and put the 11th
    * largest latency, the tail, inside the slowest kind's samples
    * rather than on the edge between two kinds. */
  val minRounds = 14

  /** One deck: every kind once, in a seeded order. The loop runs whole
    * decks, so every run holds the same mix. */
  def iterate(i: Int): Unit = rng.shuffle(Deck).foreach { k =>
    val o = request(k, warm = false)
    if (!o.failed) {
      returned += o.rows
      if (k == "fresh_count") fresh += o.ms
    }
  }

  private def fp(rows: Array[org.apache.spark.sql.Row]): (Long, Long) =
    (rows.length.toLong, rows.map(Run.fingerprint).sum)

  private def open() = run.tracer.span("orcio.open")(OrcIo.read(spark, table))

  private def request(kind: String, warm: Boolean): Op = {
    val ex = e
    import ex._
    val n = okKeys.length
    // draw the parameters before timing starts
    val body: () => Check = kind match {
      case "ok_point" =>
        val i = rng.nextInt(n); val k = okKeys(i)
        () => {
          val rows = run.collect(open().filter(col("l_orderkey") === k), Data.LineitemRows)
          val got = fp(rows)
          Check.equal(rows.length, got, (okCnt(i + 1) - okCnt(i), okFp(i + 1) - okFp(i)))
        }
      case "pk_point" =>
        val p = rng.nextInt(Data.PartKeys.toInt).toLong
        () => {
          val rows = run.collect(open().filter(col("l_partkey") === p), Data.LineitemRows)
          Check.equal(rows.length, fp(rows), pk.getOrElse(p, (0L, 0L)))
        }
      case "absent" =>
        val (c, k) =
          if (rng.nextBoolean()) ("l_orderkey", okKeys(n - 1) + 1 + rng.nextInt(n))
          else ("l_partkey", Data.PartKeys + rng.nextInt(Data.PartKeys.toInt).toLong)
        () => {
          val rows = run.collect(open().filter(col(c) === k), Data.LineitemRows)
          Check.equal(rows.length, rows.length, 0)
        }
      case "evolved_point" =>
        val i = rng.nextInt(n); val k = okKeys(i)
        () => {
          val rows = run.collect(run.tracer.span("orcio.open")(
            OrcIo.readEvolved(spark, table, Evolved)).filter(col("l_orderkey") === k),
            Data.LineitemRows)
          // a widened or re-typed value prints as the original did, so
          // the first eleven fields fingerprint like the parquet row;
          // the added column must read as null
          val fps = rows.map(r => Run.fingerprint(Row.fromSeq(r.toSeq.take(11))))
          Check.equal(rows.length, (rows.length.toLong, fps.sum, rows.count(_.isNullAt(11))),
            (okCnt(i + 1) - okCnt(i), okFp(i + 1) - okFp(i), rows.length))
        }
      case "range" =>
        val i = rng.nextInt(n); val j = math.min(n - 1, i + RangeKeys)
        val (lo, hi) = (okKeys(i), okKeys(j))
        () => {
          val rows = run.collect(open().filter(col("l_orderkey").between(lo, hi)),
            Data.LineitemRows)
          Check.equal(rows.length, fp(rows), (okCnt(j + 1) - okCnt(i), okFp(j + 1) - okFp(i)))
        }
      case "fresh_count" =>
        () => {
          val r = run.collect(open().agg(count(lit(1))), Data.LineitemRows).head
          Check.equal(1, r.getLong(0), Data.LineitemRows)
        }
      case "stats_count" =>
        () => {
          val c = run.tracer.action("stats.footer")(Stats.statsOnlyCount(spark, table))
          Check.equal(1, c, Data.LineitemRows)
        }
      case "col_stats" =>
        () => {
          val rows = run.tracer.action("stats.footer")(
            Stats.statsOnlyColumnStats(spark, table).collect())
          val diff = colStatsDiff(rows.toSeq, colRange, qtySum)
          Check(diff.isEmpty, rows.length, diff.mkString("; "),
            known = diff.nonEmpty && diff.forall(_.stringMerged))
        }
      case "stripe_stats" =>
        () => {
          val rows = run.tracer.action("orcmeta.footer")(
            OrcMeta.stripeStats(spark, table).collect())
          val values = rows.filter(_.getAs[String]("column") == "l_orderkey")
            .map(_.getAs[Long]("count")).sum
          Check.equal(rows.length, values, Data.LineitemRows)
        }
      case "rowindex" =>
        () => {
          val rows = run.tracer.action("orcmeta.footer")(
            OrcMeta.rowGroupIndex(spark, table, Seq("l_orderkey")).collect())
          Check.equal(rows.length, rows.map(_.getAs[Long]("count")).sum, Data.LineitemRows)
        }
    }
    if (warm) run.warmup(kind)(body()) else run.op(kind)(body())
  }

  def rowsDelivered: Long = returned
  def freshnessMs: Seq[Double] = fresh.toSeq
  def bytesWritten: Long = lastWrite.bytesWritten
  def userBytes: Long = lastWrite.userBytes
}

object Lookup {
  private val Files4 = 4
  /** Orderkeys a range request spans: about 800 rows, a "narrow" range
    * well inside one ORC row group (10,000 rows, ORC's default index
    * stride), so that a range touches at most two row groups. */
  val RangeKeys = 200
  /** One deck: one request of each kind. The kinds are the ones the
    * workload is defined by, each once, so no chosen proportion weighs
    * on the medians; `fresh_count` gives the workload its freshness
    * samples. */
  val Deck: Seq[String] = Seq("ok_point", "pk_point", "absent", "range",
    "evolved_point", "fresh_count", "stats_count", "col_stats",
    "stripe_stats", "rowindex")
  /** Decks of warm-up. Request latencies fall over the first four to
    * five decks of a JVM (a traced run read a mean of 217 ms over the
    * first 20 requests and 135 ms from the 60th on), so a shorter
    * warm-up leaves that fall in the timed loop, where it sets the
    * tail. */
  val WarmDecks = 5

  /** A value in the form its expectation keeps: timestamps as epoch ms. */
  private def canonical(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime
    case other => other
  }

  /** The value a `min_str`/`max_str` rendering of a column of type `t`
    * stands for, or None if it stands for none. */
  private def parse(t: DataType, s: String): Option[Any] = scala.util.Try(t match {
    case LongType => s.toLong
    case IntegerType => s.toInt
    case DoubleType => s.toDouble
    case TimestampType => java.sql.Timestamp.valueOf(s).getTime
    case _ => s
  }).toOption.filter(_ != null)

  /** A field of a `statsOnlyColumnStats` answer that differs from the
    * source. `stringMerged` marks the minimum or maximum of a numeric
    * column, whose per-file values the engine merges as strings. */
  final case class StatDiff(field: String, got: Any, want: Any, stringMerged: Boolean) {
    override def toString = s"$field got $got, want $want"
  }

  /** The fields of a `statsOnlyColumnStats` answer over `lineitem` that
    * differ from the source: every column's `n_values`, `min_str` and
    * `max_str`, and the `l_quantity` sum. */
  def colStatsDiff(rows: Seq[Row], colRange: Map[String, (Any, Any)],
      qtySum: Double): Seq[StatDiff] = {
    val by = rows.map(r => r.getAs[String]("column") -> r).toMap
    Data.LineitemColumns.flatMap { case (c, t) =>
      val numeric = Set[DataType](LongType, IntegerType, DoubleType)(t)
      by.get(c) match {
        case None => Seq(StatDiff(c, "no row", "a row", stringMerged = false))
        case Some(r) =>
          val (lo, hi) = colRange(c)
          def extreme(f: String, want: Any) = {
            val s = r.getAs[String](f)
            if (parse(t, s).contains(want)) Nil
            else Seq(StatDiff(s"$c.$f", s, want, stringMerged = numeric))
          }
          val n = r.getAs[Long]("n_values")
          val sum = if (c == "l_quantity") Some(r.getAs[Double]("sum_val")) else None
          (if (n == Data.LineitemRows) Nil
           else Seq(StatDiff(s"$c.n_values", n, Data.LineitemRows, stringMerged = false))) ++
            sum.filter(_ != qtySum).map(x => StatDiff(s"$c.sum_val", x, qtySum, stringMerged = false)) ++
            extreme("min_str", lo) ++ extreme("max_str", hi)
      }
    } ++ (by.keySet -- Data.LineitemColumns.map(_._1)).map(c =>
      StatDiff(c, "a row", "no row", stringMerged = false))
  }

  /** Reader schema for `evolved_point`: the file's columns in order with
    * l_linenumber widened int→bigint and l_tax re-typed double→string,
    * plus l_added, which no file has. */
  val Evolved: StructType = StructType(Data.LineitemColumns.map {
    case ("l_linenumber", _) => StructField("l_linenumber", LongType)
    case ("l_tax", _) => StructField("l_tax", StringType)
    case (n, t) => StructField(n, t)
  } :+ StructField("l_added", StringType))
}

/** Answers for `lookup`, from the parquet source: per-orderkey counts
  * and fingerprints as prefix sums over the sorted keys, per-partkey
  * counts and fingerprints, raw bytes, the l_quantity sum and every
  * column's (min, max), timestamps as epoch ms. */
final case class LookupExpect(okKeys: Array[Long], okCnt: Array[Long],
    okFp: Array[Long], pk: Map[Long, (Long, Long)], rawBytes: Long,
    qtySum: Double, colRange: Map[String, (Any, Any)])
