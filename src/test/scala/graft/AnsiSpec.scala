package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side integer steps of the bounded loops throw where Spark's
  * ANSI arithmetic throws on the same operands, and agree with it where it
  * returns a value in range.
  */
class AnsiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sparkLong(sql: String): Long = spark.sql(s"SELECT $sql").head().getLong(0)

  private def sparkThrows(sql: String): Unit = {
    intercept[ArithmeticException](spark.sql(s"SELECT $sql").collect()); ()
  }

  test("a BIGINT product or sum overflow throws") {
    intercept[ArithmeticException](Math.multiplyExact(Long.MaxValue / 2 + 1, 2L))
    sparkThrows(s"${Long.MaxValue / 2 + 1}L * 2L")
    intercept[ArithmeticException](Math.addExact(Long.MaxValue, 1L))
    sparkThrows(s"${Long.MaxValue}L + 1L")
    assert(Math.multiplyExact(Long.MaxValue / 2, 2L) == sparkLong(s"${Long.MaxValue / 2}L * 2L"))
  }

  test("a DECIMAL(38,0) intermediate past 38 digits throws") {
    val max = BigInt("9" * 38)
    assert(Ansi.dec38(max) == max && Ansi.dec38(-max) == -max)
    intercept[ArithmeticException](Ansi.dec38(max + 1))
    intercept[ArithmeticException](Ansi.dec38(BigInt(10).pow(37) * 10))
    sparkThrows(s"CAST(1${"0" * 37} AS DECIMAL(38,0)) * 10")
  }

  test("DIV truncates toward zero and throws on a zero divisor or a non-BIGINT quotient") {
    for ((a, b) <- Seq((-7L, 2L), (7L, -2L), (-7L, -2L), (999999999L, 1000L)))
      assert(Ansi.div(a, b) == sparkLong(s"${a}L DIV ${b}L"), s"$a DIV $b")
    intercept[ArithmeticException](Ansi.div(1L, 0L))
    sparkThrows("1L DIV 0L")
    intercept[ArithmeticException](Ansi.div(Long.MinValue, -1L))
    // Spark wraps a DECIMAL DIV quotient outside BIGINT to its low 64 bits;
    // the driver step fails instead, as the oracle's CAST(… AS BIGINT) does
    intercept[ArithmeticException](Ansi.div(BigInt(10).pow(30), 1))
    assert(sparkLong(s"CAST(1${"0" * 30} AS DECIMAL(38,0)) DIV 1") == BigInt(10).pow(30).toLong)
    assert(Ansi.div(BigInt(10).pow(30), BigInt(10).pow(12)) ==
      sparkLong(s"CAST(1${"0" * 30} AS DECIMAL(38,0)) DIV CAST(1${"0" * 12} AS DECIMAL(38,0))"))
  }
}
