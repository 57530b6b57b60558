package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The digest rule must reproduce the Python canon of the DuckDB
  * cross-check byte for byte; the expected strings come from Python's
  * `format(x, ".6g")` and `hashlib.sha256`.
  */
class CanonSpec extends AnyFunSuite {

  test("floats render as Python %.6g") {
    val cases = Seq(
      0.1 -> "0.1", 123456789.0 -> "1.23457e+08", 1e-5 -> "1e-05",
      0.0001234567 -> "0.000123457", 100.0 -> "100", -2.5 -> "-2.5",
      1234567.0 -> "1.23457e+06", 123456.0 -> "123456", 0.5 -> "0.5",
      1.0 / 3 -> "0.333333", 2.675 -> "2.675", -0.0 -> "-0",
      999999.5 -> "1e+06", 1e16 -> "1e+16", 5e-324 -> "4.94066e-324")
    cases.foreach { case (x, want) => assert(Canon.g6(x) == want, s"g6($x)") }
  }

  test("cells: NULL for null and NaN, Python booleans") {
    assert(Canon.cell(null) == "NULL")
    assert(Canon.cell(Double.NaN) == "NULL")
    assert(Canon.cell(true) == "True")
    assert(Canon.cell(false) == "False")
    assert(Canon.cell(42L) == "42")
    assert(Canon.cell(Array[Byte](1, -1)) == "01ff")
  }

  test("digest sorts columns by name and rows by value") {
    val cols = Seq("z", "y", "x", "w")
    val rows = Seq(Row("b", 1.5, null, true), Row("a", 2.0, "x", false))
    assert(Canon.digestRows(cols, rows) == "db5b7199f5e36ec8")
    assert(Canon.digestRows(cols, rows.reverse) == "db5b7199f5e36ec8")
  }
}
