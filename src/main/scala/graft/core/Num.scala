package graft.core

/** Shared numeric conventions for the cross-engine exactness discipline. */
object Num {

  /** Spark's `round(col, 6)` on the driver: decimal-string HALF_UP — the
    * same rounding the distributed side and DuckDB's round() apply. Every
    * driver-side fit loop (PCA power iteration, ridge gradient steps) MUST
    * round through this one helper so the engine-mirroring convention
    * cannot drift between copies.
    */
  def round6(x: Double): Double =
    BigDecimal.decimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark's `least` / `greatest` over two non-null doubles: NaN orders
    * above every number, so `least` drops it and `greatest` keeps it.
    */
  def sqlLeast(a: Double, b: Double): Double = if (a.isNaN) b else if (b.isNaN) a else math.min(a, b)
  def sqlGreatest(a: Double, b: Double): Double = if (a.isNaN || b.isNaN) Double.NaN else math.max(a, b)
}
