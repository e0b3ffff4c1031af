package perfbench

import org.apache.spark.sql.Row

/** Result comparison for the correctness gates. */
object Check {
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: Row, y: Row) => sameRows(Seq(x), Seq(y))
    case _ => a == b
  }

  /** Equal row lists (in order); doubles may differ in summation order. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && (0 until x.size).forall(i => same(x.get(i), y.get(i)))
    }
}
