package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Deterministic numeric helpers.
  *
  * Floating-point SUM is order-dependent, and at 1000 executors the
  * combine order is nondeterministic — so every "money" aggregate goes
  * through exact DECIMAL arithmetic and only the final scalar is cast
  * back to DOUBLE. That makes results bit-identical at any parallelism
  * (and lets the DuckDB oracle hash-match them).
  */
object Exact {
  private val M = DecimalType(18, 6)
  // Final double conversions go through DECIMAL(25,4): with ≤4 real
  // decimal places and ≤2^53 scaled magnitude the decimal→double cast is
  // exactly rounded in every engine (DuckDB's int128→double cast is NOT
  // correctly rounded at scale 12 / 21-digit scaled values).
  private val OUT = DecimalType(25, 4)

  /** Cast to exact decimal for order-independent aggregation. */
  def money(c: Column): Column = c.cast(M)

  /** Exact decimal → deterministic double (see OUT note above). */
  def exactDouble(c: Column): Column = c.cast(OUT).cast(DoubleType)

  /** Exact decimal sum, surfaced as a deterministic double. */
  def dsum(c: Column): Column = exactDouble(sum(money(c)))

  /** Exact sum of a decimal product `a * (1 - b)` (revenue pattern). */
  def revenue(price: Column, discount: Column): Column =
    exactDouble(sum(money(price) * (lit(1).cast(M) - money(discount))))

  /** A double as a DuckDB DOUBLE literal holding the same bits. A bare
    * decimal literal is DECIMAL in DuckDB, and DECIMAL→DOUBLE is
    * double-rounded (measured: 1-ulp drift on 13% of PQ recon errors);
    * strtod parses the E-form correctly rounded, and Java's
    * `Double.toString` round-trips — so `toString`, suffixed `e0`
    * unless it is E-notation already. */
  def duckDouble(d: Double): String = {
    val s = d.toString
    require(s.toDouble == d, s"double literal $s does not round-trip")
    if (s.exists(c => c == 'e' || c == 'E')) s else s + "e0"
  }

  /** DuckDB's ORDERED double sum of a list expression — (((0.0 + t1) +
    * t2) + ...), not `list_sum` — which is exactly Spark's
    * `aggregate(seq, 0D, (a, x) -> a + x)`: 0.0 + t1 == t1 in IEEE, so
    * the sums are bit-identical. */
  def duckSum(terms: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $terms), (acc, x) -> acc + x)"

  /** Render a timestamp as a day string — identical across engines. */
  def dayStr(c: Column): Column = date_format(c, "yyyy-MM-dd")
}
