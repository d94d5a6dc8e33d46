package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.orc.TypeDescription.Category
import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Reader for ORC files containing UNION-typed columns (SURVEY.md §1.2,
 * §7.4 "hard parts").
 *
 * Spark has no union type and its ORC datasource rejects
 * `uniontype<...>` schemas outright; the reference treats unions as
 * first-class (`UnionTreeReader`, `TreeReaderFactory.java:1865`;
 * `OrcUnion` Writable). This reader scans such files through the ORC
 * library's vectorized batches and encodes each union as
 * `struct<tag: tinyint, field0: t0, …, fieldN: tN>` — exactly one
 * fieldK non-null per row, selected by tag — which is the documented
 * Spark-side model for ORC unions and round-trips losslessly.
 *
 * Scale: one Spark task per file (parallelize over the file list);
 * within a task the scan is the same stripe-ordered vectorized batch
 * iteration Spark's own reader performs. For stripe-level splits the
 * reader options accept `range(offset, len)` — single-file-per-task is
 * adequate for the union corpus (union files are rare, and each file
 * scans sequentially at full stripe bandwidth).
 */
object UnionOrc {

  /** ORC TypeDescription → Spark schema; unions become tagged structs. */
  def toSparkType(t: TypeDescription): DataType = t.getCategory match {
    case Category.BOOLEAN => BooleanType
    case Category.BYTE => ByteType
    case Category.SHORT => ShortType
    case Category.INT => IntegerType
    case Category.LONG => LongType
    case Category.FLOAT => FloatType
    case Category.DOUBLE => DoubleType
    case Category.STRING | Category.CHAR | Category.VARCHAR => StringType
    case Category.BINARY => BinaryType
    case Category.DATE => DateType
    case Category.TIMESTAMP => TimestampType
    case Category.DECIMAL =>
      DecimalType(t.getPrecision, t.getScale)
    case Category.LIST =>
      ArrayType(toSparkType(t.getChildren.get(0)))
    case Category.MAP =>
      MapType(toSparkType(t.getChildren.get(0)),
        toSparkType(t.getChildren.get(1)))
    case Category.STRUCT =>
      import scala.jdk.CollectionConverters._
      StructType(t.getFieldNames.asScala.zip(t.getChildren.asScala).map {
        case (n, c) => StructField(n, toSparkType(c))
      }.toSeq)
    case Category.UNION =>
      import scala.jdk.CollectionConverters._
      StructType(
        StructField("tag", ByteType) +:
          t.getChildren.asScala.zipWithIndex.map { case (c, i) =>
            StructField(s"field$i", toSparkType(c))
          }.toSeq)
    case other => sys.error(s"unsupported ORC category: $other")
  }

  /** Value of column vector `v` at logical row `r` as a Spark value. */
  private def readValue(v: ColumnVector, t: TypeDescription, r0: Int): Any = {
    val r = if (v.isRepeating) 0 else r0
    if (!v.noNulls && v.isNull(r)) return null
    (v, t.getCategory) match {
      case (lv: LongColumnVector, Category.BOOLEAN) => lv.vector(r) != 0
      case (lv: LongColumnVector, Category.BYTE) => lv.vector(r).toByte
      case (lv: LongColumnVector, Category.SHORT) => lv.vector(r).toShort
      case (lv: LongColumnVector, Category.INT) => lv.vector(r).toInt
      case (lv: LongColumnVector, Category.LONG) => lv.vector(r)
      case (lv: LongColumnVector, Category.DATE) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(lv.vector(r)))
      case (dv: DoubleColumnVector, Category.FLOAT) => dv.vector(r).toFloat
      case (dv: DoubleColumnVector, Category.DOUBLE) => dv.vector(r)
      case (bv: BytesColumnVector, Category.BINARY) =>
        java.util.Arrays.copyOfRange(bv.vector(r), bv.start(r),
          bv.start(r) + bv.length(r))
      case (bv: BytesColumnVector, _) => // string group
        new String(bv.vector(r), bv.start(r), bv.length(r), "UTF-8")
      case (tv: TimestampColumnVector, Category.TIMESTAMP) =>
        val ts = new java.sql.Timestamp(tv.time(r))
        ts.setNanos(tv.nanos(r)); ts
      case (dv: DecimalColumnVector, Category.DECIMAL) =>
        dv.vector(r).getHiveDecimal.bigDecimalValue()
          .setScale(t.getScale)
      case (lv: ListColumnVector, Category.LIST) =>
        val off = lv.offsets(r).toInt; val len = lv.lengths(r).toInt
        (0 until len).map(i =>
          readValue(lv.child, t.getChildren.get(0), off + i))
      case (mv: MapColumnVector, Category.MAP) =>
        val off = mv.offsets(r).toInt; val len = mv.lengths(r).toInt
        (0 until len).map(i =>
          readValue(mv.keys, t.getChildren.get(0), off + i) ->
            readValue(mv.values, t.getChildren.get(1), off + i)).toMap
      case (sv: StructColumnVector, Category.STRUCT) =>
        Row.fromSeq(sv.fields.zipWithIndex.map { case (f, i) =>
          readValue(f, t.getChildren.get(i), r)
        }.toSeq)
      case (uv: UnionColumnVector, Category.UNION) =>
        val tag = uv.tags(r)
        val nChildren = t.getChildren.size()
        Row.fromSeq(tag.toByte +: (0 until nChildren).map { i =>
          if (i == tag) readValue(uv.fields(i), t.getChildren.get(i), r)
          else null
        })
      case (v, c) => sys.error(s"unsupported vector ${v.getClass}/$c")
    }
  }

  /** Schema of an ORC file (unions encoded as tagged structs). A
    * non-struct root type — legal in ORC, unreadable by stock Spark —
    * becomes a single column named `value`. */
  def schemaOf(path: String, maxLength: Long = Long.MaxValue): StructType =
    OrcMeta.withReader(path, maxLength = maxLength) { reader =>
      toSparkType(reader.getSchema) match {
        case st: StructType if reader.getSchema.getCategory ==
          Category.STRUCT => st
        case other => StructType(Seq(StructField("value", other)))
      }
    }

  /**
   * Full-fidelity row iterator over one file, usable on driver or
   * executor. Timestamps keep nanosecond precision here; converting
   * into a Spark DataFrame truncates them to microseconds
   * (`TimestampType`'s resolution) — golden-content tests compare at
   * this layer for that reason.
   */
  def localRows(p: String, maxLength: Long = Long.MaxValue): Iterator[Row] = {
    val reader = OrcFile.createReader(new Path(p),
      OrcFile.readerOptions(new Configuration()).maxLength(maxLength))
    val fileSchema = reader.getSchema
    val rows = reader.rows()
    val batch = fileSchema.createRowBatch()
    new Iterator[Row] {
      private var i = 0
      private var exhausted = false
      private def advance(): Unit =
        if (i >= batch.size && !exhausted) {
          exhausted = !rows.nextBatch(batch)
          i = 0
          if (exhausted) { rows.close(); reader.close() }
        }
      override def hasNext: Boolean = { advance(); !exhausted }
      private val rootIsStruct =
        fileSchema.getCategory == Category.STRUCT
      override def next(): Row = {
        advance()
        val r =
          if (rootIsStruct)
            Row.fromSeq(batch.cols.zipWithIndex.map { case (c, ci) =>
              readValue(c, fileSchema.getChildren.get(ci), i)
            }.toSeq)
          else Row(readValue(batch.cols(0), fileSchema, i))
        i += 1
        r
      }
    }
  }

  /** Read ORC files (union-typed or not) into a DataFrame. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val schema = schemaOf(paths.head)
    val rdd = spark.sparkContext
      .parallelize(paths, math.max(1, paths.size))
      .flatMap(p => localRows(p))
    spark.createDataFrame(rdd, schema)
  }
}
