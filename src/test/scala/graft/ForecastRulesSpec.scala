package graft

import graft.forecast.Forecast
import graft.forecast.Forecast.{Fc, MdDay}
import org.scalatest.funsuite.AnyFunSuite

/** The forecast layer's per-series rules, without Spark, against hand-rolled
  * mirrors of the reference loops (`backend/app/services/forecast.py:210-254`,
  * `forecast_reliability.py:57-158`) written the reference's way: a fold
  * loop that breaks, plain unquantized means, nulls skipped by every average.
  */
class ForecastRulesSpec extends AnyFunSuite {

  private def mean(xs: Seq[Double]) = xs.sum / xs.length

  /** forecast.py:210-254, naive predictor: (folds, mae, rmse, mape, smape, score). */
  private def mirrorBacktest(s0: Seq[Double], folds: Int, h: Int, windowN: Int)
      : Option[(Long, Double, Double, Double, Double, Double)] = {
    val s = s0.takeRight(windowN + folds * h)
    val per = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    var t = 0
    var stop = false
    while (t < folds && !stop) {
      val train = s.dropRight((t + 1) * h)
      val test = s.slice(train.length, train.length + h)
      if (train.length < 8 || test.length < h) stop = true
      else {
        val p = train.last
        per += Seq(
          mean(test.map(a => math.abs(a - p))),
          math.sqrt(mean(test.map(a => (a - p) * (a - p)))),
          mean(test.map(a => math.abs(a - p) / math.max(math.abs(a), 1e-6))) * 100.0,
          mean(test.map { a =>
            val d = math.abs(a) + math.abs(p)
            math.abs(a - p) / (if (d == 0.0) 1.0 else d)
          }) * 100.0)
        t += 1
      }
    }
    if (per.isEmpty) None else {
      val Seq(mae, rmse, mape, smape) = (0 until 4).map(i => mean(per.map(_(i)).toSeq))
      Some((per.length.toLong, mae, rmse, mape, smape,
        math.max(0.0, math.min(100.0, 100.0 - (mape + smape) / 2.0))))
    }
  }

  /** forecast_reliability.py:57-158 over value_sum, nulls skipped:
    * (folds, mape_agg, rmse_agg, smape_agg, instability, score).
    */
  private def mirrorReliability(y0: Seq[Option[Double]], days: Int, folds: Int, h: Int)
      : Option[(Long, Option[Double], Option[Double], Option[Double], Option[Double], Int)] = {
    val y = y0.takeRight(days)
    val n = y.length
    val eff = math.min(folds, math.max(n - (h + 1), 0))
    def avg(xs: Seq[Option[Double]]) = Some(xs.flatten).filter(_.nonEmpty).map(mean)
    val per = (0 until eff).flatMap { k =>
      val trainEnd = n - (eff - k) * h
      if (trainEnd < 1) None else {
        val p = y(trainEnd - 1)
        val pairs = y.slice(trainEnd, trainEnd + h).map(a => for (av <- a; pv <- p) yield (av, pv))
        Some((
          avg(pairs.map(_.map { case (a, p) => (a - p) * (a - p) })).map(math.sqrt),
          avg(pairs.map(_.map { case (a, p) => math.abs(a - p) / (math.abs(a) + 1e-9) })).map(_ * 100.0),
          avg(pairs.map(_.map { case (a, p) =>
            2.0 * math.abs(a - p) / (math.abs(a) + math.abs(p) + 1e-9) })).map(_ * 100.0)))
      }
    }
    if (per.isEmpty) None else {
      val mapes = per.flatMap(_._2)
      val mapeAgg = avg(per.map(_._2))
      val instability =
        if (per.length >= 2) (if (mapes.isEmpty) None else Some((mapes.max - mapes.min) / 10.0))
        else Some(0.0)
      val score = (for (m <- mapeAgg; i <- instability) yield 100.0 - m / 2.0 - i)
        .map(v => math.max(0.0, math.min(100.0, v))).getOrElse(100.0).toInt
      Some((per.length.toLong, mapeAgg, avg(per.map(_._1)), avg(per.map(_._3)), instability, score))
    }
  }

  // the library floors MAPE terms at 1e-8 (backtest) or 1e-6 (reliability)
  // so the mean does not depend on summation order; the mirror does not
  private def close(a: Double, b: Double, tol: Double = 1e-5) =
    assert(math.abs(a - b) <= tol * math.max(1.0, math.abs(b)), s"$a vs $b")

  private def closeOpt(a: Option[Double], b: Option[Double], tol: Double = 1e-5) = (a, b) match {
    case (Some(x), Some(y)) => close(x, y, tol)
    case _ => assert(a == b, s"$a vs $b")
  }

  private def assertBacktest(md: Seq[MdDay], filled: Seq[Double], folds: Int = 5, h: Int = 7,
                             windowN: Int = 90): Unit = {
    val got = Forecast.backtestSeries(md, folds, h, windowN)
    val want = mirrorBacktest(filled, folds, h, windowN)
    assert(got.isDefined == want.isDefined, s"$got vs $want")
    for (g <- got; w <- want) {
      assert(g.folds == w._1)
      close(g.avgMae, w._2); close(g.avgRmse, w._3); close(g.avgMape, w._4)
      close(g.avgSmape, w._5); close(g.score, w._6)
    }
  }

  private def assertReliability(md: Seq[MdDay], days: Int = 90, folds: Int = 5, h: Int = 7): Unit = {
    val got = Forecast.reliabilitySeries(md, days, folds, h)
    val want = mirrorReliability(md.map(_.sum), days, folds, h)
    assert(got.isDefined == want.isDefined, s"$got vs $want")
    for (g <- got; w <- want) {
      assert(g.folds == w._1)
      closeOpt(g.mapeAgg, w._2, 1e-3); closeOpt(g.rmseAgg, w._3); closeOpt(g.smapeAgg, w._4)
      closeOpt(g.instability, w._5, 1e-3)
      assert(g.score == w._6)
    }
  }

  private def sums(vals: Seq[Double]): Seq[MdDay] =
    vals.zipWithIndex.map { case (v, d) => MdDay(20000 + d, Some(v)) }

  test("backtest gap-fills missing days with 0.0 before folding") {
    val missing = Set(12, 13, 20, 33)
    val v = (d: Int) => 5.0 + (d % 7)
    val md = (0 until 40).filterNot(missing).map(d => MdDay(d, Some(v(d)), Some(1.0), Some(2.0)))
    assert(Forecast.dailyValues(md).map(_._1) == (0 until 40))
    assert(Forecast.dailyValues(md).filter(p => missing(p._1)).forall(_._2 == 0.0))
    assertBacktest(md, (0 until 40).map(d => if (missing(d)) 0.0 else v(d)))
  }

  test("value fallback is Python `or`: null and 0.0 fall through to avg, then count, then 0.0") {
    assert(Forecast.fallbackValue(MdDay(0, Some(0.0), Some(3.0), Some(2.0))) == 3.0)
    assert(Forecast.fallbackValue(MdDay(0, None, Some(0.0), Some(2.0))) == 2.0)
    assert(Forecast.fallbackValue(MdDay(0, Some(0.0), None, Some(0.0))) == 0.0)
    assert(Forecast.fallbackValue(MdDay(0, None, None, None)) == 0.0)
    assert(Forecast.fallbackValue(MdDay(0, Some(-1.5), Some(3.0), None)) == -1.5)
    // every third day sums to 0.0 and backtests on its avg
    val md = (0 until 30).map(d =>
      MdDay(d, Some(if (d % 3 == 0) 0.0 else 10.0 + d), Some(4.0 + d), Some(2.0)))
    assertBacktest(md, (0 until 30).map(d => if (d % 3 == 0) 4.0 + d else 10.0 + d))
  }

  test("backtest folds stop at the first train_len < 8") {
    // m = 30, h = 7: train 23, 16, 9 are valid, 2 breaks
    val vals = (0 until 30).map(i => 10.0 + (i % 5) + (if (i % 4 == 0) 3.0 else 0.0))
    assert(Forecast.backtestSeries(sums(vals)).map(_.folds).contains(3L))
    assertBacktest(sums(vals), vals)
    // windowN + folds * h trims the series first: 10 + 2*3 = 16 points, both folds valid
    assertBacktest(sums(vals), vals, folds = 2, h = 3, windowN = 10)
  }

  test("a series with no valid fold emits no row") {
    assert(Forecast.backtestSeries(sums((0 until 14).map(_.toDouble))).isEmpty) // train 7 < 8
    assert(Forecast.backtestSeries(Nil).isEmpty)
    assert(Forecast.reliabilitySeries(Nil).isEmpty)
  }

  test("an all-zero series backtests perfect, forecasts zeros and pads a zero contract") {
    val zeros = sums(Seq.fill(30)(0.0))
    val bt = Forecast.backtestSeries(zeros).get
    assert(bt.folds == 3 && bt.avgMae == 0.0 && bt.avgMape == 0.0 && bt.avgSmape == 0.0 && bt.score == 100.0)
    assertBacktest(zeros, Seq.fill(30)(0.0))
    val fc = Forecast.holdLastSeries(zeros.map(r => r.day -> r.sum), 7)
    assert(fc.map(_.day) == (20030 until 20037))
    assert(fc.forall(f => f.yhat.contains(0.0) && f.lower.contains(0.0) && f.upper.contains(0.0)))
    val contract = Forecast.dailyContractSeries(zeros, 7)
    assert(contract.length == 7 && contract.forall(c => c.yhat == 0.0 && c.upper == 0.0))
    assertReliability(zeros)
  }

  test("reliability needs n > horizon + 1 points") {
    assert(Forecast.reliabilitySeries(sums(Seq.fill(8)(1.0)), horizon = 7).isEmpty)
    assertReliability(sums(Seq.fill(8)(1.0)))
    val nine = sums((0 until 9).map(i => 1.0 + i))
    assert(Forecast.reliabilitySeries(nine).map(_.folds).contains(1L))
    assertReliability(nine)
    assertReliability(sums((0 until 20).map(i => 100.0 + i)))
    assertReliability(sums((0 until 120).map(i => 3.0 + (i % 9))), days = 90)
  }

  test("null value_sum is skipped the way SQL avg skips it; an all-null series scores 100") {
    val base = (0 until 30).map(i => Option(10.0 + (i % 6)))
    // folds 3 over 30 points: train ends at 9, 16, 23. Day 15 nulls fold 1's
    // naive value (every metric of that fold is null, the fold still counts);
    // day 25 is a null inside fold 2's test block
    val holes = base.updated(25, None).updated(15, None)
    assertReliability(holes.zipWithIndex.map { case (v, d) => MdDay(d, v) }, folds = 3)
    val r = Forecast.reliabilitySeries(holes.zipWithIndex.map { case (v, d) => MdDay(d, v) }, folds = 3).get
    assert(r.folds == 3L && r.mapeAgg.isDefined)
    val allNull = (0 until 20).map(d => MdDay(d, None))
    val n = Forecast.reliabilitySeries(allNull).get
    assert(n.folds == 2L && n.mapeAgg.isEmpty && n.instability.isEmpty && n.score == 100)
    assertReliability(allNull)
  }

  test("contract: strictly future, bounds ordered and widened, padded to 7 from the last row") {
    val fc = Seq(Fc(5, Some(5.0), Some(9.0), Some(2.0)), Fc(3, Some(1.0), None, None),
      Fc(6, Some(Double.NaN), Some(0.0), Some(1.0)), Fc(7, Some(10.0), Some(3.0), Some(4.0)))
    val future = Forecast.strictlyFutureSeries(fc, lastObs = 4)
    assert(future.map(_.day) == Seq(5, 6, 7))
    val c = Forecast.normalizeSeries(future)
    assert(c.map(_.day) == (5 to 11))
    assert(c.head.lower == 2.0 && c.head.upper == 9.0)
    assert(c(1).yhat == 0.0 && c(2).upper == 10.0)
    assert(c.drop(3).forall(r => r.yhat == 0.0 && r.date.isEmpty))
    assert(c.head.date.contains("1970-01-06") && c.head.metricDate == "1970-01-06T00:00:00Z")
  }
}
