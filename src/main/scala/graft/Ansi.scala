package graft

/** Spark's ANSI integer arithmetic for the driver-side steps of a bounded
  * loop ([[Bounded]]), so a loop moved off SQL equals its SQL statement
  * bit for bit and fails where that statement fails. BIGINT `*`, `+` and
  * `sum` are `Math.multiplyExact` and `Math.addExact`; here:
  *  - a DECIMAL(38,0) intermediate throws past 38 digits
  *  - `DIV` truncates toward zero and throws on a zero divisor or a
  *    quotient outside BIGINT. (Spark's DECIMAL `DIV` wraps such a
  *    quotient to its low 64 bits; the DuckDB statements' `CAST(… AS
  *    BIGINT)` fails, and so does this.)
  */
object Ansi {

  private val Dec38 = BigInt(10).pow(38)

  /** `x` as a DECIMAL(38,0) value: throws when it needs more than 38 digits. */
  def dec38(x: BigInt): BigInt =
    if (x.abs < Dec38) x else throw new ArithmeticException(s"$x overflows DECIMAL(38,0)")

  /** `a DIV b`, a BIGINT. */
  def div(a: BigInt, b: BigInt): Long = {
    if (b == 0) throw new ArithmeticException(s"$a DIV 0: division by zero")
    val q = a / b
    if (!q.isValidLong) throw new ArithmeticException(s"$a DIV $b overflows BIGINT")
    q.toLong
  }
}
