package perfbench

import scala.collection.mutable

/** Sample statistics. Percentiles are nearest-rank over the sorted samples. */
object Stats {

  /** Nearest-rank position (1-based) of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.length) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  val Ladder: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of [[Ladder]] that has at least ten samples
    * beyond its rank, with its value; None when even the median has fewer
    * than ten samples above it (n < 20).
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Ladder.reverse.find(p => xs.length - rank(p, xs.length) >= 10)
      .map(p => (p, percentile(xs, p)))
}

/** Operation outcomes of one run. A failed operation (it threw, or its
  * output check said no) is counted as attempted and failed and never
  * contributes a timing sample.
  */
final class Recorder {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted0 = 0L
  private var failed0 = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Time `op`, then judge its output with `check` (untimed). Returns the
    * output when both succeed.
    */
  def run[T](kind: String)(op: => T)(check: T => Boolean): Option[T] = {
    val t0 = System.nanoTime()
    val out = try Right(op) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict: Either[String, T] = out match {
      case Left(e) => Left(s"$kind threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(v) =>
        val ok = try check(v) catch { case e: Throwable => false }
        if (ok) Right(v) else Left(s"$kind: output check failed")
    }
    synchronized {
      attempted0 += 1
      verdict match {
        case Right(_) => samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        case Left(why) =>
          failed0 += 1
          if (failures.length < 20) failures += why
      }
    }
    verdict.toOption
  }

  /** A check on state rather than on one operation's output (for example
    * the stores at the end of a run): counted like an operation, untimed.
    */
  def check(what: String)(ok: => Boolean): Boolean =
    run("check:" + what)(())(_ => ok).isDefined

  /** A further timing of an operation that already succeeded. */
  def sample(kind: String, ms: Double): Unit =
    synchronized(samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms)

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def failureNotes: Seq[String] = synchronized(failures.toList)
  def times(kind: String): Seq[Double] = synchronized(samples.get(kind).map(_.toList).getOrElse(Nil))
  def timesOf(kinds: Seq[String]): Seq[Double] = kinds.flatMap(times)
}
