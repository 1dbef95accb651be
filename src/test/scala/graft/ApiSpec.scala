package graft

import graft.api.GraftApi
import graft.forecast.Forecast
import graft.ingest.Ingest
import org.apache.spark.sql.functions._

/** API façade + remaining operator coverage (S3 strict gate, S8 export, M3). */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sources = Seq((1, "demo"), (2, "other")).toDF("id", "name")
  private lazy val md = (0 until 20).map { i =>
    (1L, "events_total", java.sql.Date.valueOf(java.time.LocalDate.of(2025, 6, 1).plusDays(i)),
      100.0 + i, 50.0 + i, 2L)
  }.toDF("source_id", "metric", "metric_date", "value_sum", "value_avg", "value_count")
  private lazy val api = new GraftApi(sources, md)

  test("metricsDaily: agg selector + ordering + limit") {
    val rows = api.metricsDaily("demo", "events_total", agg = "avg", descending = true,
      limit = Some(3)).collect()
    assert(rows.length == 3)
    assert(rows.head.getAs[java.sql.Date]("metric_date").toString == "2025-06-20")
    assert(rows.head.getAs[Double]("value") == 119.0 / 2) // safeAvg recompute
  }

  test("metricNames + sources + unknown source behaves") {
    assert(api.metricNames().as[String].collect().toSeq == Seq("events_total"))
    assert(api.listSources().count() == 2)
    assert(api.metricsDaily("nope", "events_total").count() == 0)
  }

  test("forecastDaily returns the exactly-7-row contract, strictly future") {
    val out = api.forecastDaily("demo", "events_total").collect()
    assert(out.length == 7)
    assert(out.head.getAs[String]("metric_date") == "2025-06-21T00:00:00Z")
  }

  test("reliability + backtest + health run end-to-end through the facade") {
    // n=20, h=7: only folds with train_end >= 1 survive => 2 valid folds
    val rel = api.reliability("demo", "events_total").collect().head
    assert(rel.getAs[Long]("folds") == 2L)
    assert(rel.getAs[Int]("score") >= 0 && rel.getAs[Int]("score") <= 100)
    val bt = api.backtest("demo", "events_total", folds = 2, horizon = 3).collect().head
    assert(bt.getAs[Long]("folds") == 2L)
    val h = api.forecastHealth("demo", "events_total").collect().head
    assert(h.getAs[Double]("mape") >= 0.0)
  }

  test("facade reliability and forecastDaily equal the DataFrame-level results for the series") {
    val one = col("source_id") === 1L && col("metric") === "events_total"
    assert(api.reliability("demo", "events_total").collect().toSeq ==
      Forecast.reliability(md).filter(one).collect().toSeq)
    val daily = api.forecastDaily("demo", "events_total")
    val frame = Forecast.normalizeContract(Forecast.holdLastForecast(Forecast.fetchSeries(md), 7))
      .filter(one).orderBy("metric_date")
    assert(daily.columns.toSeq == frame.columns.toSeq)
    assert(daily.collect().toSeq == frame.collect().toSeq)
  }

  test("exportCsv has the fixed reference header order") {
    val cols = api.exportCsv("demo", "events_total").columns.toSeq
    assert(cols == Seq("metric_date", "source_id", "metric", "value", "value_count", "value_sum", "value_avg"))
  }

  test("S3 strict gate counts violations; header preflight checks synonyms") {
    val raw = Seq(("2025-07-13 00:00:00", "4", "m"), ("bad", "5", "m"))
      .toDF("ts_raw", "value_raw", "metric_raw")
    assert(Ingest.strictGateViolations(Ingest.cleanRows(raw)) == 1L)
    assert(Ingest.strictHeaderOk(Seq(("a", "b")).toDF("Timestamp", "Qty")))
    assert(!Ingest.strictHeaderOk(Seq(("a", "b")).toDF("Timestamp", "notvalue")))
  }

  test("S9 envelope: null fields serialize explicitly, not dropped") {
    import graft.api.Envelope
    val df = Seq((1L, Some(2.5)), (2L, None: Option[Double])).toDF("id", "score")
    val json = Envelope.ok(df, generatedAt = "2026-01-01T00:00:00Z")
    assert(json.contains("""{"id":2,"score":null}"""),
      "a null field must appear as an explicit null, keeping row key sets uniform")
    assert(json.contains("""{"id":1,"score":2.5}"""))
  }

  test("S9 error path: facade returns the reference's envelope verdicts") {
    // unsupported agg -> error envelope (metrics.py:90-94)
    val bad = spark.read.json(Seq(
      api.metricsDailyJson("demo", "events_total", agg = "median",
        generatedAt = "2026-01-01T00:00:00Z")).toDS).collect().head
    assert(!bad.getAs[Boolean]("ok") && bad.isNullAt(bad.fieldIndex("data")))
    val err = bad.getStruct(bad.fieldIndex("error"))
    assert(err.getAs[String]("code") == "UNSUPPORTED_AGG")
    assert(err.getAs[String]("message").contains("median"))
    // unknown source on metrics/daily -> OK envelope with EMPTY data
    // (metrics.py `or []`), NOT an error
    val empty = spark.read.json(Seq(
      api.metricsDailyJson("nope", "events_total",
        generatedAt = "2026-01-01T00:00:00Z")).toDS).collect().head
    assert(empty.getAs[Boolean]("ok"))
    // unknown source on anomaly/rolling -> UNKNOWN_SOURCE error envelope
    // (anomaly_iforest.py:52)
    val unk = spark.read.json(Seq(
      api.anomalyRollingJson("nope", "events_total",
        generatedAt = "2026-01-01T00:00:00Z")).toDS).collect().head
    assert(!unk.getAs[Boolean]("ok"))
    assert(unk.getStruct(unk.fieldIndex("error")).getAs[String]("code") == "UNKNOWN_SOURCE")
    // happy path -> ok with data and the normalized agg in meta.params
    val good = spark.read.json(Seq(
      api.metricsDailyJson("demo", "events_total", agg = "AVG",
        generatedAt = "2026-01-01T00:00:00Z")).toDS).collect().head
    assert(good.getAs[Boolean]("ok"))
    assert(good.getSeq[org.apache.spark.sql.Row](good.fieldIndex("data")).nonEmpty)
    // empty agg counts as unset -> OK envelope defaulting to sum, exactly
    // like the reference's `(agg or "sum")` — NOT an UNSUPPORTED_AGG error
    val blank = spark.read.json(Seq(
      api.metricsDailyJson("demo", "events_total", agg = "",
        generatedAt = "2026-01-01T00:00:00Z")).toDS).collect().head
    assert(blank.getAs[Boolean]("ok"),
      "empty agg must default to sum like the reference, not error")
  }

  test("S9 envelope: a literal dotted column name serializes (not a nested path)") {
    import graft.api.Envelope
    val df = Seq((1L, 2.5)).toDF("id", "rate.ppm")
    val json = Envelope.ok(df, generatedAt = "2026-01-01T00:00:00Z")
    assert(json.contains(""""rate.ppm":2.5"""),
      "a column literally named a.b must resolve as itself, not as struct a field b")
  }

  test("S9 envelope: ok/fail JSON matches the reference shape and round-trips") {
    import graft.api.Envelope
    val df = Seq((1L, "events_total", 2.5)).toDF("source_id", "metric", "value")
    val okJson = Envelope.ok(df, sourceName = Some("demo"), metric = Some("events_total"),
      params = Seq("agg" -> "sum"), generatedAt = "2026-01-01T00:00:00Z")
    // round-trip through a JSON parser: the envelope must be valid JSON with
    // the canonical fields in the reference's shape
    val parsed = spark.read.json(Seq(okJson).toDS).collect().head
    assert(parsed.getAs[Boolean]("ok"))
    assert(parsed.isNullAt(parsed.fieldIndex("error")))
    val metaRow = parsed.getStruct(parsed.fieldIndex("meta"))
    assert(metaRow.getAs[String]("version") == "0.7.0" &&
      metaRow.getAs[String]("source_name") == "demo" &&
      metaRow.getAs[String]("generated_at") == "2026-01-01T00:00:00Z")
    val data = parsed.getSeq[org.apache.spark.sql.Row](parsed.fieldIndex("data"))
    assert(data.length == 1 && data.head.getAs[String]("metric") == "events_total")
    val failJson = Envelope.fail("UNKNOWN_SOURCE", "Unknown source: \"nope\"",
      sourceName = Some("nope"), generatedAt = "2026-01-01T00:00:00Z")
    val f = spark.read.json(Seq(failJson).toDS).collect().head
    assert(!f.getAs[Boolean]("ok") && f.isNullAt(f.fieldIndex("data")))
    val err = f.getStruct(f.fieldIndex("error"))
    assert(err.getAs[String]("code") == "UNKNOWN_SOURCE" &&
      err.getAs[String]("message").contains("\"nope\""), "quotes must escape cleanly")
  }

  test("M3 moving-average forecast: window 14 mean with z*sd bands") {
    val series = (0 until 20).map(i =>
        (1L, "m", java.sql.Date.valueOf(java.time.LocalDate.of(2025, 6, 1).plusDays(i)), 10.0))
      .toDF("source_id", "metric", "metric_date", "value")
    val fc = Forecast.maForecast(series, horizon = 3, ci = 95).collect()
    assert(fc.length == 3)
    assert(fc.forall(_.getAs[Double]("yhat") == 10.0))
    assert(fc.forall(r => math.abs(r.getAs[Double]("yhat_upper") - (10.0 + 1.960 * 1e-6)) < 1e-9))
    val short = Forecast.maForecast(series.limit(3), horizon = 2).collect()
    assert(short.forall(_.getAs[String]("method") == "naive_hold_last"))
  }
}
