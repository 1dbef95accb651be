package graft.api

import graft.forecast.Forecast
import graft.operators.{DailyKpi, Relational, Windows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thin Scala façade mirroring the reference's endpoint surface
  * (SURVEY.md §2.8; `backend/openapi.json` paths) — each method is a pure
  * function from DataFrames to a DataFrame, so any transport (HTTP shim,
  * notebook, job) can wrap it. Auth/observability middleware is transport
  * concern and intentionally out of scope (SURVEY.md §7.5).
  *
  * @param sources   dimension (id, name) — always broadcast in joins
  * @param metricDaily the daily aggregate store
  */
final class GraftApi(sources: DataFrame, metricDaily: DataFrame) {

  private def resolveSource(sourceName: String): DataFrame =
    sources.filter(col("name") === sourceName).select(col("id").as("source_id"))

  private def filtered(sourceName: String, metric: String,
                       startDate: Option[String], endDate: Option[String]): DataFrame = {
    var df = metricDaily.join(broadcast(resolveSource(sourceName)), "source_id")
      .filter(col("metric") === metric)
    startDate.foreach(s => df = df.filter(col("metric_date") >= lit(s)))
    endDate.foreach(e => df = df.filter(col("metric_date") <= lit(e)))
    df
  }

  /** GET /api/metrics/daily (`routers/metrics.py:60-119`). */
  def metricsDaily(sourceName: String, metric: String,
                   startDate: Option[String] = None, endDate: Option[String] = None,
                   agg: String = "sum", descending: Boolean = false,
                   limit: Option[Int] = None): DataFrame = {
    val base = filtered(sourceName, metric, startDate, endDate)
      .withColumn("value_avg", DailyKpi.safeAvg(col("value_sum"), col("value_count")))
    val unified = DailyKpi.withUnifiedValue(base, agg)
      .orderBy(if (descending) col("metric_date").desc else col("metric_date").asc)
    limit.map(unified.limit).getOrElse(unified)
  }

  /** GET /api/metrics/daily serialized with the FULL envelope contract,
    * error path included: an unsupported `agg` returns the error envelope
    * (`routers/metrics.py:90-94` raising 400 → `schemas/common.py` fail())
    * instead of throwing, and — mirroring the reference exactly — an
    * unknown source returns an OK envelope with EMPTY data
    * (`routers/metrics.py:80-88`: `_fetch_metric_daily(...) or []`), not an
    * error. A transport shim maps ok=false to its status code.
    */
  def metricsDailyJson(sourceName: String, metric: String,
                       startDate: Option[String] = None, endDate: Option[String] = None,
                       agg: String = "sum", descending: Boolean = false,
                       limit: Option[Int] = None,
                       generatedAt: String = java.time.Instant.now().toString): String = {
    // empty string counts as UNSET, exactly like the reference's
    // `(agg or "sum")` (routers/metrics.py) — only a NON-empty agg outside
    // the supported set earns the error envelope
    val aggNorm = Option(agg).filter(_.nonEmpty).getOrElse("sum")
      .toLowerCase(java.util.Locale.ROOT)
    if (!Set("sum", "avg", "count").contains(aggNorm))
      Envelope.fail("UNSUPPORTED_AGG",
        s"Unsupported agg '$agg'. Use one of: sum, avg, count",
        sourceName = Some(sourceName), metric = Some(metric),
        params = Seq("agg" -> agg), generatedAt = generatedAt)
    else
      Envelope.ok(metricsDaily(sourceName, metric, startDate, endDate, aggNorm,
          descending, limit),
        sourceName = Some(sourceName), metric = Some(metric),
        params = Seq("agg" -> aggNorm) ++ limit.map(l => "limit" -> l.toString),
        generatedAt = generatedAt)
  }

  /** GET /api/metrics/anomaly/rolling with the envelope contract: an
    * unresolvable source returns the `UNKNOWN_SOURCE` error envelope — this
    * endpoint family is where the reference uses the fail() path
    * (`routers/anomaly_iforest.py:52`, 404) rather than empty-ok. The
    * existence probe is a bounded action on the broadcast-sized sources dim
    * (the reference runs the same lookup query per request). Parameter
    * bounds stay `require`s: the reference validates those at the FastAPI
    * Query layer (422), not in the envelope.
    */
  def anomalyRollingJson(sourceName: String, metric: String,
                         startDate: Option[String] = None, endDate: Option[String] = None,
                         window: Int = 7, zThresh: Double = 3.0,
                         generatedAt: String = java.time.Instant.now().toString): String =
    if (resolveSource(sourceName).isEmpty)
      Envelope.fail("UNKNOWN_SOURCE", s"Unknown source: $sourceName",
        sourceName = Some(sourceName), metric = Some(metric), generatedAt = generatedAt)
    else
      Envelope.ok(anomalyRolling(sourceName, metric, startDate, endDate, window, zThresh),
        sourceName = Some(sourceName), metric = Some(metric),
        params = Seq("window" -> window.toString, "z_thresh" -> zThresh.toString),
        generatedAt = generatedAt)

  /** GET /api/metrics/names (`services/metrics_fetch.py:118-141`). */
  def metricNames(sourceName: Option[String] = None): DataFrame = {
    val scoped = sourceName.map(n =>
      metricDaily.join(broadcast(resolveSource(n)), "source_id")).getOrElse(metricDaily)
    Relational.distinctSorted(scoped, "metric")
  }

  /** GET /api/sources (`routers/sources.py:12`). */
  def listSources(): DataFrame = sources.orderBy("name")

  /** GET /api/metrics/anomaly/rolling (`routers/metrics.py:158-261`). */
  def anomalyRolling(sourceName: String, metric: String,
                     startDate: Option[String] = None, endDate: Option[String] = None,
                     window: Int = 7, zThresh: Double = 3.0,
                     valueField: String = "value_sum"): DataFrame = {
    require(window >= 2 && window <= 365, "window in [2,365]")
    require(zThresh > 0, "z_thresh > 0")
    val series = filtered(sourceName, metric, startDate, endDate)
      .withColumn("value", col(valueField))
    Windows.zScorePartial(series, window, zThresh, Seq("source_id"))
      .select(col("metric_date"), col("value"), col("z"), col("is_outlier"))
      .orderBy("metric_date")
  }

  /** GET /api/forecast/daily (`routers/forecast.py:160-231`): generate via
    * the deterministic chain, strictly-future filter, normalize to the
    * 7-row contract — one per-series pass ([[Forecast.dailyContract]]).
    */
  def forecastDaily(sourceName: String, metric: String, horizon: Int = 7): DataFrame =
    Forecast.dailyContract(filtered(sourceName, metric, None, None), horizon)
      .orderBy("metric_date")

  /** POST /api/forecast/backtest (`routers/forecast.py` + M6). */
  def backtest(sourceName: String, metric: String, folds: Int = 5, horizon: Int = 7,
               windowN: Int = 90): DataFrame =
    Forecast.backtest(filtered(sourceName, metric, None, None), folds, horizon, windowN)

  /** GET /api/forecast/reliability (M7). */
  def reliability(sourceName: String, metric: String, days: Int = 90, folds: Int = 5,
                  horizon: Int = 7): DataFrame =
    Forecast.reliability(filtered(sourceName, metric, None, None), days, folds, horizon)

  /** GET /api/forecast/health (W5 persistence MAPE, forecast.py:258-270). */
  def forecastHealth(sourceName: String, metric: String, windowN: Int = 90): DataFrame = {
    val series = Forecast.fetchSeries(filtered(sourceName, metric, None, None))
    val lagged = Windows.lagPersistence(series, Seq("source_id", "metric"))
      .filter(col("pred").isNotNull)
    lagged.agg(Forecast.mape(col("value"), col("pred")).as("mape"))
      .withColumn("window_n", lit(windowN))
  }

  /** GET /api/metrics/export/csv (S8, `services/metrics_calc.py:61-85`):
    * fixed column order; write with `.option("header", true).csv(path)` or
    * serialize driver-side for API parity.
    */
  def exportCsv(sourceName: String, metric: String,
                startDate: Option[String] = None, endDate: Option[String] = None): DataFrame =
    filtered(sourceName, metric, startDate, endDate)
      .withColumn("value_avg", DailyKpi.safeAvg(col("value_sum"), col("value_count")))
      .withColumn("value", col("value_sum"))
      .select("metric_date", "source_id", "metric", "value", "value_count", "value_sum", "value_avg")
      .orderBy("metric_date")
}
