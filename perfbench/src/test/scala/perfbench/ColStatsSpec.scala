package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ColStatsSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("column", StringType),
    StructField("n_values", LongType), StructField("min_str", StringType),
    StructField("max_str", StringType), StructField("sum_val", DoubleType)))

  private val ts0 = java.sql.Timestamp.valueOf("1992-01-01 00:00:00")
  private val ts1 = java.sql.Timestamp.valueOf("2001-12-29 00:00:00")
  private val want: Map[String, (Any, Any)] = Data.LineitemColumns.map {
    case ("l_shipdate", _) => "l_shipdate" -> (ts0.getTime, ts1.getTime)
    case (c, LongType) => c -> (0L, 149999L)
    case (c, IntegerType) => c -> (1, 7)
    case (c, DoubleType) => c -> (0.5, 50.0)
    case (c, _) => c -> ("A", "R")
  }.toMap

  private def render(v: Any): String = v match {
    case ms: Long if ms > 1000000000L => new java.sql.Timestamp(ms).toString
    case other => other.toString
  }

  private def answer(edit: (String, (Long, String, String)) => (Long, String, String) =
      (_, x) => x): Seq[Row] =
    Data.LineitemColumns.map { case (c, _) =>
      val (n, lo, hi) = edit(c, (Data.LineitemRows, render(want(c)._1), render(want(c)._2)))
      new GenericRowWithSchema(Array(c, n, lo, hi, if (c == "l_quantity") 9.0 else 0.0), schema)
    }

  test("a right answer has no differences") {
    assert(Lookup.colStatsDiff(answer(), want, 9.0).isEmpty)
  }

  test("a numeric maximum merged as a string is the known defect") {
    // "70437" > "149999" as strings: the maximum of a second file wins
    val d = Lookup.colStatsDiff(answer {
      case ("l_orderkey", (n, lo, _)) => (n, lo, "70437")
      case (_, x) => x
    }, want, 9.0)
    assert(d.map(_.field) == Seq("l_orderkey.max_str"))
    assert(d.forall(_.stringMerged))
  }

  test("any other difference is a wrong answer no defect explains") {
    def unexplained(rows: Seq[Row], sum: Double = 9.0) =
      Lookup.colStatsDiff(rows, want, sum).exists(!_.stringMerged)
    assert(unexplained(answer {
      case ("l_returnflag", (n, _, hi)) => (n, "N", hi)
      case (_, x) => x
    }))
    assert(unexplained(answer {
      case ("l_tax", (_, lo, hi)) => (Data.LineitemRows - 1, lo, hi)
      case (_, x) => x
    }))
    assert(unexplained(answer(), sum = 10.0))
    assert(unexplained(answer().filterNot(_.getString(0) == "l_suppkey")))
    assert(unexplained(answer {
      case ("l_shipdate", (n, lo, _)) => (n, lo, "1999-01-01 00:00:00.0")
      case (_, x) => x
    }))
  }

  test("an extreme that is no value of the column's type is a difference") {
    val d = Lookup.colStatsDiff(answer {
      case ("l_partkey", (n, _, hi)) => (n, null, hi)
      case (_, x) => x
    }, want, 9.0)
    assert(d.map(_.field) == Seq("l_partkey.min_str"))
  }
}
