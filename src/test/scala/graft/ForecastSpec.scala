package graft

import graft.forecast.{ArimaLite, Forecast}
import org.apache.spark.sql.functions._

/** Forecast chain invariants (SURVEY.md M2/M7/M8; reference semantics from
  * `backend/app/services/forecast.py` + `routers/forecast.py:109-154`).
  */
class ForecastSpec extends SparkSpec {
  import spark.implicits._

  private def series(n: Int, f: Int => Double) =
    (0 until n).map(i => (1L, "m", java.sql.Date.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(i)), f(i)))
      .toDF("source_id", "metric", "metric_date", "value")

  test("M2: short series (<14) => hold-last with bounds == yhat") {
    val fc = Forecast.holdLastForecast(series(5, _ + 1.0), horizon = 7)
      .orderBy("target_date").collect()
    assert(fc.length == 7)
    assert(fc.forall(_.getAs[Double]("yhat") == 5.0))
    assert(fc.forall(r => r.getAs[Double]("yhat_lower") == 5.0 && r.getAs[Double]("yhat_upper") == 5.0))
    assert(fc.head.getAs[java.sql.Date]("target_date").toString == "2025-01-06") // strictly future
  }

  test("M2: long series (>=14, sarimax-absent mode) => hold-last, bounds 0") {
    val fc = Forecast.holdLastForecast(series(20, _ + 1.0), horizon = 7).collect()
    assert(fc.forall(_.getAs[Double]("yhat") == 20.0))
    assert(fc.forall(r => r.getAs[Double]("yhat_lower") == 0.0 && r.getAs[Double]("yhat_upper") == 0.0))
  }

  test("M2: all-zero series => zero forecasts") {
    val fc = Forecast.holdLastForecast(series(20, _ => 0.0), horizon = 7).collect()
    assert(fc.forall(r => r.getAs[Double]("yhat") == 0.0 && r.getAs[Double]("yhat_upper") == 0.0))
  }

  test("seasonal-naive: weekday-periodic series forecasts periodically") {
    // 28 days of a pure period-7 pattern: value = 10 + (day mod 7)
    val fc = Forecast.seasonalNaiveForecast(series(28, i => 10.0 + (i % 7)), horizon = 10)
      .orderBy("target_date").collect()
    assert(fc.length == 10)
    assert(fc.forall(_.getAs[String]("method") == "seasonal_naive"))
    // day 28 has phase 0, so yhat repeats 10,11,...,16,10,11,12 — the phase
    // wraps at step 8 instead of flatlining at the last value
    val expect = (28 until 38).map(i => 10.0 + (i % 7))
    assert(fc.map(_.getAs[Double]("yhat")).toSeq == expect)
    // a perfectly periodic series has zero lag-7 residuals => bands floor at
    // sqrt(1e-12) width around yhat
    fc.foreach { r =>
      assert(math.abs(r.getAs[Double]("yhat_upper") - r.getAs[Double]("yhat")) < 1e-5)
    }
    assert(fc.head.getAs[java.sql.Date]("target_date").toString == "2025-01-29")
  }

  test("seasonal-naive: trending series gets nonzero bands; short series holds last") {
    val fc = Forecast.seasonalNaiveForecast(series(28, i => i.toDouble), horizon = 7)
      .orderBy("target_date").collect()
    // residuals are all exactly 7 => sd ~ 0 band? no: r=7 constant, var of
    // squares around 0 convention: sum(49)/(nr-1) > 0 => bands 1.645*sd wide
    assert(fc.forall(r => r.getAs[Double]("yhat_upper") > r.getAs[Double]("yhat")))
    assert(fc.map(_.getAs[Double]("yhat")).toSeq == (21 until 28).map(_.toDouble).toSeq)
    val short = Forecast.seasonalNaiveForecast(series(4, _ + 1.0), horizon = 7)
      .orderBy("target_date").collect()
    assert(short.forall(_.getAs[String]("method") == "naive_hold_last"))
    assert(short.forall(_.getAs[Double]("yhat") == 4.0))
    assert(short.forall(r => r.getAs[Double]("yhat_lower") == 4.0 && r.getAs[Double]("yhat_upper") == 4.0))
  }

  test("SarimaLite: periodic history forecasts periodic, trend extrapolates") {
    // 35 days of weekday shape: the seasonal difference zeroes out, so the
    // forecast must repeat the period exactly with zero-width bands
    val periodic = (0 until 35).map(i => 10.0 + (i % 7)).toArray
    val fc = ArimaLite.seasonalForecast(periodic, 10)
    fc.zipWithIndex.foreach { case (p, i) =>
      assert(math.abs(p.yhat - (10.0 + ((35 + i) % 7))) < 1e-9, s"step $i: ${p.yhat}")
    }
    // seasonal trend: linear + weekly shape extrapolates both
    val mixed = (0 until 35).map(i => 0.5 * i + 3.0 * (i % 7)).toArray
    val fc2 = ArimaLite.seasonalForecast(mixed, 7)
    fc2.zipWithIndex.foreach { case (p, i) =>
      val expect = 0.5 * (35 + i) + 3.0 * ((35 + i) % 7)
      assert(math.abs(p.yhat - expect) < 1e-6, s"step $i: ${p.yhat} vs $expect")
    }
    // bands widen with horizon (nonzero sigma on a noisy-ish series)
    val noisy = (0 until 40).map(i => (i % 7) + (if (i % 3 == 0) 1.0 else 0.0)).toArray
    val fc3 = ArimaLite.seasonalForecast(noisy, 7)
    assert(fc3.last.hi - fc3.last.lo >= fc3.head.hi - fc3.head.lo)
    // short series falls back to the non-seasonal path
    val short = Array(1.0, 2.0, 3.0)
    assert(ArimaLite.seasonalForecast(short, 3).map(_.yhat)
      .sameElements(ArimaLite.forecast(short, 3).map(_.yhat)))
  }

  test("M8: contract normalizer emits exactly 7 ordered rows with lower<=yhat<=upper") {
    val messy = Seq(
      (1L, "m", java.sql.Date.valueOf("2025-02-01"), 5.0, 9.0, 2.0, "v"), // swapped bounds
      (1L, "m", java.sql.Date.valueOf("2025-02-02"), 10.0, 3.0, 4.0, "v"), // yhat above upper
      (1L, "m", java.sql.Date.valueOf("2025-02-03"), Double.NaN, 0.0, 1.0, "v"))
      .toDF("source_id", "metric", "target_date", "yhat", "yhat_lower", "yhat_upper", "model_version")
    val out = Forecast.normalizeContract(messy).orderBy("metric_date").collect()
    assert(out.length == 7)
    out.foreach { r =>
      assert(r.getAs[Double]("yhat_lower") <= r.getAs[Double]("yhat"))
      assert(r.getAs[Double]("yhat") <= r.getAs[Double]("yhat_upper"))
    }
    assert(out(0).getAs[Double]("yhat_lower") == 2.0 && out(0).getAs[Double]("yhat_upper") == 9.0)
    assert(out(1).getAs[Double]("yhat_upper") == 10.0) // widened to include yhat
    assert(out(2).getAs[Double]("yhat") == 0.0) // NaN -> 0
    assert(out.drop(3).forall(_.getAs[Double]("yhat") == 0.0)) // pads
    assert(out.drop(3).forall(_.isNullAt(out.head.fieldIndex("date")))) // pads lack legacy date
    assert(out.map(_.getAs[String]("metric_date")).forall(_.endsWith("T00:00:00Z")))
  }

  test("M7: reliability matches a hand-rolled reference mirror") {
    // deterministic series; mirror forecast_reliability.py:57-124 in plain Scala
    val n = 30; val folds = 3; val h = 4; val days = 30
    val y = (0 until n).map(i => 10.0 + (i % 5)).toArray
    val md = (0 until n).map(i =>
        (9L, "x", java.sql.Date.valueOf(java.time.LocalDate.of(2025, 3, 1).plusDays(i)), y(i)))
      .toDF("source_id", "metric", "metric_date", "value_sum")
    val got = Forecast.reliability(md, days = days, folds = folds, horizon = h).collect().head
    // mirror
    val effFolds = math.min(folds, math.max(n - (h + 1), 0))
    val stats = (0 until effFolds).flatMap { k =>
      val trainEnd = n - (effFolds - k) * h
      if (trainEnd < 1) None else {
        val last = y(trainEnd - 1)
        val test = y.slice(trainEnd, trainEnd + h)
        val mape = test.map(a => math.abs(a - last) / (math.abs(a) + 1e-9)).sum * 100.0 / test.length
        Some(mape)
      }
    }
    val mapeAgg = stats.sum / stats.length
    val instability = if (stats.length >= 2) (stats.max - stats.min) / 10.0 else 0.0
    val score = math.max(0, math.min(100, (100 - mapeAgg / 2.0 - instability).toInt))
    assert(got.getAs[Long]("folds") == effFolds.toLong)
    // library MAPE quantizes terms at 1e-6 for cross-engine reproducibility;
    // tolerance covers that deliberate quantization, not FP noise
    assert(math.abs(got.getAs[Double]("mape_agg") - mapeAgg) < 1e-3)
    assert(got.getAs[Int]("score") == score)
  }

  test("the per-series pass returns the pure rules' rows, per series, null value_sum included") {
    import graft.forecast.Forecast.MdDay
    val day0 = java.time.LocalDate.of(2025, 3, 1)
    // two series; series 2 has gap days, a 0.0 sum that falls back to avg, and null sums
    val rows = (0 until 40).flatMap { i =>
      val d = java.sql.Date.valueOf(day0.plusDays(i))
      Seq((1L, "a", d, Option(10.0 + (i % 6)), Option(2.0), 3L)) ++
        (if (i % 9 == 4) Nil
         else Seq((2L, "b", d, if (i % 11 == 3) None else Some(if (i % 5 == 0) 0.0 else 1.0 + i),
           Option(7.0), 2L)))
    }
    val md = rows.toDF("source_id", "metric", "metric_date", "value_sum", "value_avg", "value_count")
    def pure(sid: Long) = rows.filter(_._1 == sid).map { case (_, _, d, s, a, c) =>
      MdDay(d.toLocalDate.toEpochDay.toInt, s, a, Some(c.toDouble)) }
    val bt = Forecast.backtest(md).orderBy("source_id").collect()
    val rel = Forecast.reliability(md).orderBy("source_id").collect()
    for ((sid, i) <- Seq(1L, 2L).zipWithIndex) {
      val b = Forecast.backtestSeries(pure(sid)).get
      assert(bt(i).getAs[Long]("source_id") == sid)
      assert(bt(i).toSeq.drop(2) == Seq(b.folds, b.avgMae, b.avgRmse, b.avgMape, b.avgSmape, b.score))
      val r = Forecast.reliabilitySeries(pure(sid)).get
      assert(rel(i).toSeq.drop(2) == Seq(r.folds, r.mapeAgg.get, r.rmseAgg.get, r.smapeAgg.get,
        r.instability.get, r.score))
      val fc = Forecast.dailyContract(md).filter(col("source_id") === sid).orderBy("target_date").collect()
      assert(fc.map(_.getAs[String]("metric_date")).toSeq ==
        Forecast.dailyContractSeries(pure(sid), 7).map(_.metricDate))
      assert(fc.map(_.getAs[Double]("yhat")).toSeq == Forecast.dailyContractSeries(pure(sid), 7).map(_.yhat))
    }
    assert(Forecast.fetchSeries(md).filter(col("source_id") === 2L).count() == 40)
    assert(bt.head.schema.map(_.dataType.simpleString) ==
      Seq("bigint", "string", "bigint", "double", "double", "double", "double", "double"))
    assert(rel.head.schema.map(_.dataType.simpleString) ==
      Seq("bigint", "string", "bigint", "double", "double", "double", "double", "int"))
  }

  test("ArimaLite: deterministic, trend-following, ordered bands") {
    val y = Array.tabulate(30)(i => 2.0 * i + 5.0)
    val f1 = ArimaLite.forecast(y, 7)
    val f2 = ArimaLite.forecast(y, 7)
    assert(f1.map(_.yhat).toSeq == f2.map(_.yhat).toSeq)
    assert(f1.last.yhat > y.last, "linear trend continues upward")
    f1.foreach(p => assert(p.lo <= p.yhat && p.yhat <= p.hi))
    assert(f1(1).hi - f1(1).lo >= f1(0).hi - f1(0).lo, "bands widen with horizon")
  }
}
