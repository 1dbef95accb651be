package graft.forecast

import graft.core.Num.{sqlGreatest, sqlLeast}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Forecasting chain (SURVEY.md §2.5) — the deterministic parts of the
  * reference's forecaster.
  *
  * The per-series rules (gap-fill + value fallback, hold-last, strictly
  * future, the 7-row contract, the backtest and reliability folds) are plain
  * functions over one series' day-sorted values, as in the reference's
  * per-series loop; each DataFrame entry point runs them for every series in
  * ONE `groupByKey(series).flatMapGroups` pass ([[perSeries]]). A series is
  * tens to hundreds of rows, so re-deriving fold tables through joins and
  * window ranks cost far more in Spark jobs than the arithmetic itself.
  *
  * The SARIMAX fit itself (`backend/app/services/forecast.py:68-92`) is not
  * numerically reproducible on the JVM; the reference degrades to a
  * deterministic fallback chain whenever statsmodels is unavailable, the
  * series is short, or the fit throws (`forecast.py:46-66,113-125,175-197`) —
  * that chain is implemented exactly here and is the correctness-testable
  * surface. An ARIMA(1,1,1) CSS fit lives in [[ArimaLite]] for trend quality.
  */
object Forecast {

  // ---- per-series rules: plain functions over one series, rows sorted by
  //      day (epoch days). Nullable inputs are Options, with Spark's
  //      avg/sum/count/min/max semantics: nulls are skipped, an all-null
  //      aggregate is null.

  /** A metric_daily row of one series: day (epoch days) and the nullable
    * daily aggregates.
    */
  final case class MdDay(day: Int, sum: Option[Double], avg: Option[Double] = None,
                         count: Option[Double] = None)

  /** A forecast row of one series: target day (epoch days) and nullable
    * yhat/bounds.
    */
  final case class Fc(day: Int, yhat: Option[Double], lower: Option[Double], upper: Option[Double])

  /** A row of the 7-row forecast contract; `date` is None on pad rows. */
  final case class ContractRow(day: Int, yhat: Double, lower: Double, upper: Double,
                               date: Option[String], metricDate: String)

  /** Rolling-origin backtest summary of one series ([[backtest]]). */
  final case class BacktestScore(folds: Long, avgMae: Double, avgRmse: Double,
                                 avgMape: Double, avgSmape: Double, score: Double)

  /** Reliability summary of one series ([[reliability]]); the metric
    * aggregates are None when every fold's metric is null.
    */
  final case class ReliabilityScore(folds: Long, mapeAgg: Option[Double], rmseAgg: Option[Double],
                                    smapeAgg: Option[Double], instability: Option[Double], score: Int)

  /** Value fallback chain (`forecast.py:33`, Python `or`): the first of
    * value_sum, value_avg, value_count that is neither null nor 0.0, else 0.0
    * — the per-row twin of [[graft.operators.DailyKpi.valueFallback]].
    */
  def fallbackValue(r: MdDay): Double =
    Iterator(r.sum, r.avg, r.count).flatten.find(_ != 0.0).getOrElse(0.0)

  /** Calendar-day gap fill of one day-sorted series: every day from the first
    * to the last, missing days as 0.0 (rows sharing a day are all kept).
    */
  def gapFill(series: Seq[(Int, Double)]): Seq[(Int, Double)] =
    if (series.isEmpty) series else {
      val byDay = series.groupBy(_._1)
      (series.head._1 to series.last._1).flatMap(d => byDay.getOrElse(d, Seq(d -> 0.0)))
    }

  /** Series builder rule (`forecast.py:22-37`): fallback chain, then gap fill. */
  def dailyValues(md: Seq[MdDay]): Seq[(Int, Double)] = gapFill(md.map(r => r.day -> fallbackValue(r)))

  /** Spark's `sequence(from, to)`: inclusive, stepping down when from > to. */
  private def steps(from: Int, to: Int): Range = from to to by (if (from <= to) 1 else -1)

  /** M2 hold-last rule for one day-sorted series (see [[holdLastForecast]]). */
  def holdLastSeries(series: Seq[(Int, Option[Double])], horizon: Int, minPoints: Int = 14): Seq[Fc] =
    if (series.isEmpty) Nil else {
      val total = sumOpt(series.map(_._2))
      val (lastDay, lastVal) = series.last
      val allZero = total.exists(_ == 0.0)
      val yhat = if (allZero) Some(0.0) else lastVal
      val band = if (allZero) Some(0.0) else if (series.length < minPoints) lastVal else Some(0.0)
      steps(1, horizon).map(step => Fc(lastDay + step, yhat, band, band))
    }

  /** M9 strictly-future rule (`routers/forecast.py:193-201`): rows after the
    * series' last observed day, ascending, at most 7.
    */
  def strictlyFutureSeries(fc: Seq[Fc], lastObs: Int): Seq[Fc] =
    fc.filter(_.day > lastObs).sortBy(_.day).take(7)

  /** M8 contract rule for one series (see [[normalizeContract]]). */
  def normalizeSeries(fc: Seq[Fc]): Seq[ContractRow] = {
    def fin(v: Option[Double]): Double = v.filter(x => !x.isNaN && !x.isInfinite).getOrElse(0.0)
    def iso(day: Int): String = java.time.LocalDate.ofEpochDay(day).toString
    val kept = fc.sortBy(_.day).take(7).map { f =>
      val y = fin(f.yhat); val lo = fin(f.lower); val hi = fin(f.upper)
      ContractRow(f.day, y, math.min(math.min(lo, hi), y), math.max(math.max(lo, hi), y),
        Some(iso(f.day)), iso(f.day) + "T00:00:00Z")
    }
    val pads = kept.lastOption.filter(_ => kept.length < 7).toSeq.flatMap { last =>
      steps(1, 7 - kept.length).map { i =>
        ContractRow(last.day + i, 0.0, 0.0, 0.0, None, iso(last.day + i) + "T00:00:00Z")
      }
    }
    kept ++ pads
  }

  /** GET /api/forecast/daily for one day-sorted metric_daily series:
    * [[dailyValues]], hold-last over max(horizon, 7) days, strictly future,
    * 7-row contract.
    */
  def dailyContractSeries(md: Seq[MdDay], horizon: Int): Seq[ContractRow] =
    if (md.isEmpty) Nil else {
      val fc = holdLastSeries(dailyValues(md).map { case (d, v) => d -> Some(v) }, math.max(horizon, 7))
      normalizeSeries(strictlyFutureSeries(fc, md.last.day))
    }

  /** M6 rule for one day-sorted metric_daily series (see [[backtest]]);
    * None when no fold is valid.
    */
  def backtestSeries(md: Seq[MdDay], folds: Int = 5, horizon: Int = 7,
                     windowN: Int = 90): Option[BacktestScore] = {
    val tail = dailyValues(md).map(_._2).takeRight(math.max(0, windowN + folds * horizon))
    val m = tail.length
    val stats = steps(0, folds - 1).flatMap { t =>
      val trainLen = m - (t + 1) * horizon
      // break rule: train >= 8 and the naive value exists
      if (trainLen < 8 || trainLen > m) None else {
        val p = tail(trainLen - 1)
        val test = tail.slice(trainLen, trainLen + horizon).toSeq
        if (test.isEmpty) None
        else Some((
          mean(test.map(a => math.abs(a - p))),
          math.sqrt(mean(test.map(a => StrictMath.pow(a - p, 2)))),
          stableMean(test.map(a => math.abs(a - p) / math.max(math.abs(a), 1e-6)), 1e8) * 100.0,
          mean(test.map { a =>
            val d = math.abs(a) + math.abs(p)
            math.abs(a - p) / (if (d == 0.0) 1.0 else d)
          }) * 100.0))
      }
    }
    if (stats.isEmpty) None else {
      val avgMape = stableMean(stats.map(_._3), 1e8)
      val avgSmape = mean(stats.map(_._4))
      Some(BacktestScore(stats.length, mean(stats.map(_._1)), mean(stats.map(_._2)), avgMape, avgSmape,
        math.max(0.0, sqlLeast(100.0, 100.0 - (avgMape + avgSmape) / 2.0))))
    }
  }

  /** M7 rule for one day-sorted metric_daily series, value_sum only (see
    * [[reliability]]); None when no fold is valid.
    */
  def reliabilitySeries(md: Seq[MdDay], days: Int = 90, folds: Int = 5,
                        horizon: Int = 7): Option[ReliabilityScore] = {
    val h = math.max(1, horizon)
    val y = md.map(_.sum).takeRight(math.max(0, days))
    val n = y.length
    val effFolds = math.min(folds, math.max(n - (h + 1), 0))
    val stats = steps(0, folds - 1).filter(_ < effFolds).flatMap { kf =>
      val trainEnd = n - (effFolds - kf) * h
      if (trainEnd < 1) None // "if not train: continue"
      else {
        val p = y(trainEnd - 1)
        val pairs = y.slice(trainEnd, trainEnd + h).map(a => for (av <- a; pv <- p) yield (av, pv))
        def term(f: (Double, Double) => Double) = pairs.map(_.map(f.tupled))
        Some((
          meanOpt(term((a, p) => StrictMath.pow(a - p, 2))).map(math.sqrt),
          stableMeanOpt(term((a, p) => math.abs(a - p) / (math.abs(a) + 1e-9)), 1e6).map(_ * 100.0),
          meanOpt(term((a, p) => 2.0 * math.abs(a - p) / (math.abs(a) + math.abs(p) + 1e-9))).map(_ * 100.0)))
      }
    }
    if (stats.isEmpty) None else {
      val mapes = stats.flatMap(_._2)
      val mapeAgg = stableMeanOpt(stats.map(_._2), 1e6)
      val instability =
        if (stats.length >= 2) mapes.reduceOption(sqlGreatest).map(_ - mapes.reduce(sqlLeast)).map(_ / 10.0)
        else Some(0.0)
      // greatest/least skip nulls, so a null mape_agg scores 100
      val raw = for (m <- mapeAgg; i <- instability) yield sqlLeast(100.0, 100.0 - m / 2.0 - i)
      Some(ReliabilityScore(stats.length, mapeAgg, meanOpt(stats.map(_._1)), meanOpt(stats.map(_._3)),
        instability, math.floor(math.max(0.0, raw.getOrElse(100.0))).toLong.toInt))
    }
  }

  /** W5 persistence MAPE (`forecast.py:258-270`, GET /api/forecast/health)
    * over day-sorted metric_daily series: each [[dailyValues]] series
    * predicts every value with the one before it, and the terms of all
    * series pool into one [[stableAvg]] mean x 100 — the rule of
    * `mape(value, lag(value))` over [[fetchSeries]]. None without a single
    * (actual, prior) pair.
    */
  def persistenceMape(series: Seq[Seq[MdDay]]): Option[Double] = {
    val terms = series.flatMap { md =>
      val v = dailyValues(md).map(_._2)
      v.zip(v.drop(1)).map { case (p, a) => math.abs(a - p) / sqlGreatest(math.abs(a), 1e-6) }
    }
    if (terms.isEmpty) None else Some(stableMean(terms, 1e8) * 100.0)
  }

  // Spark's double semantics: avg/sum over non-null values (null when there
  // are none); least/greatest are graft.core.Num's
  private def mean(xs: Seq[Double]): Double = xs.sum / xs.length
  private def sumOpt(xs: Seq[Option[Double]]): Option[Double] =
    if (xs.exists(_.isDefined)) Some(xs.flatten.sum) else None
  private def meanOpt(xs: Seq[Option[Double]]): Option[Double] =
    Some(xs.flatten).filter(_.nonEmpty).map(mean)

  /** Row-level twin of [[stableAvg]]: each term floored at `scale` into an
    * exact integer sum, so the mean does not depend on summation order.
    */
  private def stableMean(xs: Seq[Double], scale: Double): Double =
    xs.map(x => BigInt(math.floor(x * scale).toLong)).sum.toDouble / scale / xs.length
  private def stableMeanOpt(xs: Seq[Option[Double]], scale: Double): Option[Double] =
    Some(xs.flatten).filter(_.nonEmpty).map(stableMean(_, scale))

  // ---- the one distributed pass ----------------------------------------

  /** Runs `rule` once per series: `df` grouped by `keys` in one
    * `groupByKey(series).flatMapGroups` pass (the
    * [[graft.anomaly.AnomalyService.iforestRouterScores]] shape). Each group
    * reaches `rule` as (epoch day, nullable `valueCols` as doubles), sorted by
    * `dayCol`; rows without a day are skipped. Every output row is prefixed
    * with the series' key values; output fields named in `dates` carry epoch
    * days and leave as DateType.
    */
  private def perSeries(df: DataFrame, keys: Seq[String], dayCol: String, valueCols: Seq[String],
                        out: Seq[StructField], dates: Set[String] = Set.empty)
                       (rule: Array[(Int, IndexedSeq[Option[Double]])] => Seq[Seq[Any]]): DataFrame = {
    val in = df.select((keys.map(col) :+ unix_date(col(dayCol).cast("date")).as("__day")) ++
        valueCols.map(c => col(c).cast("double")): _*)
      .filter(col("__day").isNotNull)
    val nk = keys.length
    val keySchema = StructType(in.schema.take(nk))
    val outSchema = StructType(keySchema ++ out)
    in.groupByKey(r => Row.fromSeq(r.toSeq.take(nk)))(Encoders.row(keySchema))
      .flatMapGroups { (key: Row, rows: Iterator[Row]) =>
        val series = rows.map { r =>
          (r.getInt(nk), (nk + 1 until r.length).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))
        }.toArray.sortBy(_._1)
        rule(series).iterator.map(o => Row.fromSeq(key.toSeq ++ o))
      }(Encoders.row(outSchema))
      .select(outSchema.fieldNames.toSeq.map(f =>
        if (dates(f)) date_from_unix_date(col(f)).as(f) else col(f)): _*)
  }

  /** [[perSeries]] over metric_daily: each series as day-sorted [[MdDay]]s.
    * Reading only value_sum (`valueCols`) leaves avg and count None.
    */
  private def perMdSeries(metricDaily: DataFrame, keys: Seq[String], out: Seq[StructField],
                          dates: Set[String] = Set.empty,
                          valueCols: Seq[String] = Seq("value_sum", "value_avg", "value_count"))
                         (rule: Seq[MdDay] => Seq[Seq[Any]]): DataFrame =
    perSeries(metricDaily, keys, "metric_date", valueCols, out, dates) { rows =>
      rule(rows.toSeq.map { case (d, v) => MdDay(d, v(0), v.lift(1).flatten, v.lift(2).flatten) })
    }

  private def dbl(name: String) = StructField(name, DoubleType)
  private def nullable(v: Option[Double]): Any = v.getOrElse(null)

  /** Series builder (`forecast.py:22-37`): metric_daily -> per-series daily
    * values with the falsy-0.0 fallback chain, gap-filled to calendar days.
    */
  def fetchSeries(metricDaily: DataFrame, keys: Seq[String] = Seq("source_id", "metric")): DataFrame =
    perMdSeries(metricDaily, keys, Seq(StructField("metric_date", IntegerType), dbl("value")),
        Set("metric_date")) { md =>
      dailyValues(md).map { case (d, v) => Seq[Any](d, v) }
    }

  /** M2 — deterministic forecast chain for horizon `h`, per series:
    *   - all-zero series        => zeros, bounds zero         (forecast.py:46-52)
    *   - n < minPoints (14)     => hold-last, bounds = yhat   (forecast.py:113-125)
    *   - else (SARIMAX absent)  => hold-last, bounds zero     (forecast.py:56-66)
    * Target dates are strictly future: last observed day + 1..h
    * (forecast.py:54,79).
    */
  def holdLastForecast(series: DataFrame, horizon: Int, minPoints: Int = 14,
                       keys: Seq[String] = Seq("source_id", "metric"),
                       modelVersion: String = "sarimax-0.1"): DataFrame =
    perSeries(series, keys, "metric_date", Seq("value"),
        Seq(StructField("target_date", IntegerType), dbl("yhat"), dbl("yhat_lower"), dbl("yhat_upper"),
          StructField("model_version", StringType)), Set("target_date")) { rows =>
      holdLastSeries(rows.map { case (d, v) => d -> v(0) }.toSeq, horizon, minPoints).map(f =>
        Seq[Any](f.day, nullable(f.yhat), nullable(f.lower), nullable(f.upper), modelVersion))
    }

  /** M3 — moving-average fallback forecaster with residual-sd bands
    * (the unmounted seasonal router, `backend/app/schemas/forecast.py:122-143`):
    * window = min(14, n); yhat = mean of the last window values; CI = z * sd
    * of residuals vs the MA (sample variance, floor 1e-12), z from the fixed
    * table; series with n < 7 flatline at the last value
    * (`schemas/forecast.py:81-97`, method "naive_hold_last").
    */
  val zTable: Map[Int, Double] = Map(50 -> 0.0, 68 -> 1.0, 80 -> 1.282, 85 -> 1.440,
    90 -> 1.645, 95 -> 1.960, 97 -> 2.170, 98 -> 2.326, 99 -> 2.576)

  def maForecast(series: DataFrame, horizon: Int, ci: Int = 90,
                 keys: Seq[String] = Seq("source_id", "metric")): DataFrame = {
    val z = zTable.getOrElse(ci, 1.645)
    val k = keys.map(col)
    val wDesc = Window.partitionBy(k: _*).orderBy(col("metric_date").desc)
    val tail14 = series.withColumn("__rd", row_number().over(wDesc)).filter(col("__rd") <= 14)
    val stats = tail14.groupBy(k: _*).agg(
      count(lit(1)).as("w"),
      avg(col("value")).as("ma"),
      max(col("metric_date")).as("last_date"),
      max_by(col("value"), col("metric_date")).as("last_val"))
    val resid = tail14.join(stats, keys)
      .groupBy(k: _*).agg(
        (sum(pow(col("value") - col("ma"), 2)) /
          greatest(first(col("w")) - 1, lit(1L))).as("var"),
        first(col("w")).as("w2"))
      .withColumn("sd", when(col("w2") > 1, sqrt(greatest(col("var"), lit(1e-12)))).otherwise(0.0))
      .select((k :+ col("sd")): _*)
    val nAll = series.groupBy(k: _*).agg(count(lit(1)).as("n"))
    val per = stats.join(resid, keys).join(nAll, keys)
    per.select(k ++ Seq(col("n"), col("ma"), col("sd"), col("last_date"), col("last_val"),
        explode(sequence(lit(1), lit(horizon))).as("step")): _*)
      .select(k ++ Seq(
        date_add(col("last_date"), col("step")).as("target_date"),
        when(col("n") < 7, col("last_val")).otherwise(col("ma")).as("yhat"),
        when(col("n") < 7, col("last_val")).otherwise(col("ma") - lit(z) * col("sd")).as("yhat_lower"),
        when(col("n") < 7, col("last_val")).otherwise(col("ma") + lit(z) * col("sd")).as("yhat_upper"),
        when(col("n") < 7, lit("naive_hold_last")).otherwise(lit("moving_average")).as("method")): _*)
  }

  /** Weekly seasonal-naive forecaster — the deterministic counterpart of the
    * reference's unmounted seasonal router (`backend/app/schemas/forecast.py:36-60`,
    * SARIMAX (1,1,1)(0,1,1,7)): a weekday-shaped series forecasts weekday-shaped.
    *
    * yhat(T + h) = value(T + h - period*ceil(h/period)) — the most recent
    * observation with the same phase; over a gap-filled daily series this is
    * the tail row at rd = period - (h-1) % period (rd = 1 is the last day).
    * CI = z * sd of the one-season-lag residuals value(t) - value(t-period)
    * (sample variance, floor 1e-12 — the [[maForecast]] convention); the
    * residual squares are summed as decimals so shuffle order cannot perturb
    * the band. Series with n < period flatline at the last value
    * ("naive_hold_last", same fallback contract as [[maForecast]]).
    *
    * One aggregation + one window rank + two thin joins; every series is
    * forecast in a single distributed plan, no per-series loop.
    */
  def seasonalNaiveForecast(series0: DataFrame, horizon: Int, period: Int = 7, ci: Int = 90,
                            keys: Seq[String] = Seq("source_id", "metric")): DataFrame = {
    val z = zTable.getOrElse(ci, 1.645)
    val k = keys.map(col)
    // the series feeds THREE branches (per-series aggregates, lag residuals,
    // tail rows); materialize once so each branch doesn't re-run the whole
    // upstream (events scan -> daily agg -> gap-fill)
    val series = series0.localCheckpoint(true)
    val wDesc = Window.partitionBy(k: _*).orderBy(col("metric_date").desc)
    val wAsc = Window.partitionBy(k: _*).orderBy(col("metric_date").asc)
    val per = series.groupBy(k: _*).agg(
      count(lit(1)).as("n"),
      max(col("metric_date")).as("last_date"),
      max_by(col("value"), col("metric_date")).as("last_val"))
    val resid = series.withColumn("__lag", lag(col("value"), period).over(wAsc))
      .filter(col("__lag").isNotNull)
      .withColumn("__r", col("value") - col("__lag"))
      .groupBy(k: _*).agg(
        count(lit(1)).as("nr"),
        (sum(floor(col("__r") * col("__r") * 1e6).cast("decimal(38,0)")).cast("double") / 1e6 /
          greatest(count(lit(1)) - 1, lit(1L))).as("__var"))
      .withColumn("sd", when(col("nr") > 1, sqrt(greatest(col("__var"), lit(1e-12)))).otherwise(0.0))
      .select((k :+ col("sd")): _*)
    val tail = series.withColumn("rd_src", row_number().over(wDesc))
      .filter(col("rd_src") <= period)
      .select(k ++ Seq(col("rd_src"), col("value").as("season_val")): _*)
    val stepped = per.join(resid, keys, "left")
      .withColumn("sd", coalesce(col("sd"), lit(0.0)))
      .select(k ++ Seq(col("n"), col("last_date"), col("last_val"), col("sd"),
        explode(sequence(lit(1), lit(horizon))).as("step")): _*)
      .withColumn("rd_src", lit(period) - (col("step") - 1) % period)
    stepped.join(tail, keys :+ "rd_src", "left")
      .select(k ++ Seq(
        date_add(col("last_date"), col("step")).as("target_date"),
        when(col("n") < period, col("last_val")).otherwise(col("season_val")).as("yhat"),
        when(col("n") < period, col("last_val"))
          .otherwise(col("season_val") - lit(z) * col("sd")).as("yhat_lower"),
        when(col("n") < period, col("last_val"))
          .otherwise(col("season_val") + lit(z) * col("sd")).as("yhat_upper"),
        when(col("n") < period, lit("naive_hold_last")).otherwise(lit("seasonal_naive")).as("method")): _*)
  }

  // ---- M5: error metrics (forecast.py:134-156) as aggregate columns over
  //      (actual, pred) pairs. Two epsilon conventions exist in the
  //      reference; both are kept (see reliabilitySeries for the 1e-9 one,
  //      whose terms reach ~5e12 and are therefore floored at 1e-6, not 1e-8).
  /** Order-independent mean: terms summed as DECIMAL(38,18) so partial-agg /
    * shuffle order can't perturb the result. MAPE terms over gap-filled
    * series reach ~1e8 (eps denominators on filled zeros), where plain double
    * summation is order-sensitive at the 1e-6 level.
    */
  private[graft] def stableAvg(term: Column): Column =
    sum(floor(term * 1e8).cast("decimal(38,0)")).cast("double") / 1e8 / count(term)

  def mae(a: Column, p: Column): Column = avg(abs(a - p))
  def rmse(a: Column, p: Column): Column = sqrt(avg(pow(a - p, 2)))
  /** MAPE with denom = max(|actual|, eps) (forecast.py:134-139). */
  def mape(a: Column, p: Column, eps: Double = 1e-6): Column =
    stableAvg(abs(a - p) / greatest(abs(a), lit(eps))) * 100.0
  /** sMAPE with 0-denominator -> 1.0 (forecast.py:152-156). */
  def smape(a: Column, p: Column): Column =
    avg(abs(a - p) / when(abs(a) + abs(p) === 0.0, 1.0).otherwise(abs(a) + abs(p))) * 100.0
  def bias(a: Column, p: Column): Column = avg(p - a)

  /** M6 — rolling-origin backtest with the naive (statsmodels-absent)
    * predictor (`forecast.py:210-254`): series = gap-filled tail of
    * window_n + folds*horizon points; fold t trains on all but the last
    * (t+1)*horizon points and predicts the next block with the last train
    * value; fold valid while train >= 8 and test is a full block;
    * score = clamp(100 - (avg_mape+avg_smape)/2, 0, 100). Series without a
    * valid fold emit no row. Rule: [[backtestSeries]].
    */
  def backtest(metricDaily: DataFrame, folds: Int = 5, horizon: Int = 7, windowN: Int = 90,
               keys: Seq[String] = Seq("source_id", "metric")): DataFrame =
    perMdSeries(metricDaily, keys, backtestFields) { md =>
      backtestSeries(md, folds, horizon, windowN).toSeq.map(backtestRow)
    }

  /** [[backtest]]'s output columns after the series key, and one row of them. */
  private[graft] val backtestFields: Seq[StructField] = StructField("folds", LongType, nullable = false) +:
    Seq("avg_mae", "avg_rmse", "avg_mape", "avg_smape", "score").map(dbl)
  private[graft] def backtestRow(b: BacktestScore): Seq[Any] =
    Seq[Any](b.folds, b.avgMae, b.avgRmse, b.avgMape, b.avgSmape, b.score)

  /** M7 — persisted reliability scorer
    * (`backend/app/services/forecast_reliability.py:57-158`): last `days`
    * value_sum points (NOT gap-filled, NOT fallback-chained), folds clamped
    * to n-(horizon+1), naive last-train-value predictor, eps=1e-9 metric
    * variants (smape doubled numerator), instability=(max_mape-min_mape)/10,
    * score = int(clamp(100 - mape_agg/2 - instability, 0, 100)).
    * Rule: [[reliabilitySeries]].
    */
  def reliability(metricDaily: DataFrame, days: Int = 90, folds: Int = 5, horizon: Int = 7,
                  keys: Seq[String] = Seq("source_id", "metric")): DataFrame =
    perMdSeries(metricDaily, keys, reliabilityFields, valueCols = Seq("value_sum")) { md =>
      reliabilitySeries(md, days, folds, horizon).toSeq.map(reliabilityRow)
    }

  /** [[reliability]]'s output columns after the series key, and one row of them. */
  private[graft] val reliabilityFields: Seq[StructField] = StructField("folds", LongType, nullable = false) +:
    Seq("mape_agg", "rmse_agg", "smape_agg", "instability").map(dbl) :+ StructField("score", IntegerType)
  private[graft] def reliabilityRow(r: ReliabilityScore): Seq[Any] =
    Seq[Any](r.folds, nullable(r.mapeAgg), nullable(r.rmseAgg), nullable(r.smapeAgg),
      nullable(r.instability), r.score)

  /** The contract's output columns after the series key (`target_date` as
    * epoch days, leaving as DateType), and one row of them.
    */
  private[graft] val contractFields = Seq(StructField("target_date", IntegerType),
    dbl("yhat"), dbl("yhat_lower"), dbl("yhat_upper"),
    StructField("date", StringType), StructField("metric_date", StringType))

  private[graft] def contractRow(c: ContractRow): Seq[Any] =
    Seq[Any](c.day, c.yhat, c.lower, c.upper, c.date.orNull, c.metricDate)

  /** M8+M9 — forecast contract normalizer
    * (`backend/app/routers/forecast.py:109-154`): order bounds (swap), widen
    * to include yhat, non-finite -> 0, sort ascending, trim to 7 rows, pad
    * with zero rows continuing the date sequence; `metric_date` as UTC
    * midnight `...T00:00:00Z`; legacy `date` only on non-padded rows.
    * Rule: [[normalizeSeries]].
    */
  def normalizeContract(forecast: DataFrame, keys: Seq[String] = Seq("source_id", "metric")): DataFrame =
    perSeries(forecast, keys, "target_date", Seq("yhat", "yhat_lower", "yhat_upper"),
        contractFields, Set("target_date")) { rows =>
      normalizeSeries(rows.map { case (d, v) => Fc(d, v(0), v(1), v(2)) }.toSeq).map(contractRow)
    }

  /** GET /api/forecast/daily over metric_daily: every series through
    * [[dailyContractSeries]] (fetchSeries -> holdLastForecast -> strictly
    * future -> normalizeContract) in one pass; same columns as
    * [[normalizeContract]].
    */
  def dailyContract(metricDaily: DataFrame, horizon: Int = 7,
                    keys: Seq[String] = Seq("source_id", "metric")): DataFrame =
    perMdSeries(metricDaily, keys, contractFields, Set("target_date")) { md =>
      dailyContractSeries(md, horizon).map(contractRow)
    }
}
