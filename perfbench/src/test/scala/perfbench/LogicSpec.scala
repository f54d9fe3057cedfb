package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class LogicSpec extends AnyFunSuite {
  import Logic._

  test("median of an even-sized sample is the lower middle value") {
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](median(Nil))
  }

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(tailPercentile(10).isEmpty)
    assert(tailPercentile(19).isEmpty)
    assert(tailPercentile(20).contains(50.0))
    assert(tailPercentile(40).contains(75.0))
    assert(tailPercentile(99).contains(75.0))
    assert(tailPercentile(100).contains(90.0))
    assert(tailPercentile(1000).contains(99.0))
    assert(tailPercentile(10000).contains(99.9))
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 90) == 90.0)
    assert(xs.count(_ > percentile(xs, 90)) == 10)
  }

  test("failed_frac counts failures against attempts") {
    assert(failedFrac(0, 10) == 0.0)
    assert(failedFrac(3, 12) == 0.25)
    assertThrows[IllegalArgumentException](failedFrac(0, 0))
    assertThrows[IllegalArgumentException](failedFrac(5, 4))
  }

  test("call order is a seeded permutation, independent of input order") {
    val ops = (1 to 20).map(i => s"op$i")
    val a = callOrder(ops, seed = 7, pass = 1)
    assert(a.sorted == ops.sorted)
    assert(callOrder(ops.reverse, seed = 7, pass = 1) == a)
    assert(callOrder(ops, seed = 8, pass = 1) != a)
    assert(callOrder(ops, seed = 7, pass = 2) != a)
  }

  private def sig(cols: Seq[String], rows: Row*): Sig =
    signature(cols, rows.iterator)

  test("signature ignores row and column order but not multiplicity") {
    val s = sig(Seq("a", "b"), Row(1, "x"), Row(2, "y"))
    assert(sig(Seq("a", "b"), Row(2, "y"), Row(1, "x")) == s)
    assert(sig(Seq("b", "a"), Row("x", 1), Row("y", 2)) == s)
    assert(sig(Seq("a", "b"), Row(1, "x"), Row(2, "y"), Row(2, "y")) != s)
    assert(sig(Seq("a", "c"), Row(1, "x"), Row(2, "y")) != s)
    assert(s.rows == 2)
  }

  test("signature normalises doubles, decimals and NaN as check.py does") {
    def one(v: Any): Sig = sig(Seq("v"), Row(v))
    assert(one(0.1 + 0.2) == one(0.3))
    assert(one(1.0000004) == one(1.0))
    assert(one(1.000001) != one(1.0))
    assert(one(-0.0) == one(0.0))
    assert(one(-1e-9) == one(0.0))
    assert(one(1.5f) == one(1.5))
    assert(one(new java.math.BigDecimal("2.50")) == one(2.5))
    assert(norm(Double.NaN) == "NaN")
    assert(one(null) != one("null"))
    assert(one("1") != one(1))
  }

  test("signature reads structs and maps by sorted key") {
    val ab = StructType(Seq(StructField("a", IntegerType),
      StructField("b", DoubleType)))
    val ba = StructType(Seq(StructField("b", DoubleType),
      StructField("a", IntegerType)))
    assert(norm(new GenericRowWithSchema(Array(1, 2.0), ab)) ==
      norm(new GenericRowWithSchema(Array(2.0, 1), ba)))
    assert(norm(Map("y" -> 1, "x" -> 2)) == norm(Map("x" -> 2, "y" -> 1)))
    assert(norm(Seq(1, 2)) != norm(Seq(2, 1)))
  }
}
