package graft

import graft.api.{Envelope, GraftApi}
import graft.forecast.Forecast
import graft.ingest.Ingest
import graft.operators.{DailyKpi, Relational, Windows}
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** API façade + remaining operator coverage (S3 strict gate, S8 export, M3).
  * Every endpoint is checked against the DataFrame rule it mirrors, over an
  * in-memory and a parquet-backed store.
  */
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

  // ---- the slice path against the DataFrame rules, endpoint by endpoint

  /** A store with two sources of two metrics each over 45 days: gaps (every
    * fifth day of source 2), a null sum, a zero sum, a zero count (null
    * value_avg), a null stored avg, a spike, and a flat tail with one
    * outlier (sigma = 0 windows).
    */
  private lazy val wide = {
    val d0 = java.time.LocalDate.of(2025, 5, 1)
    (for {
      sid <- Seq(1L, 2L); metric <- Seq("events_total", "latency_ms"); i <- 0 until 45
      if !(sid == 2L && i % 5 == 3)
    } yield {
      val v = if (metric == "latency_ms" && i >= 35) (if (i == 42) 60.0 else 50.0)
        else if (i == 30) 900.0 else 100.0 + (i * 7 % 11) + sid
      val sum = if (i == 12) None else if (i == 20) Some(0.0) else Some(v)
      val count = if (i == 17) 0L else 1L + i % 3
      (sid, metric, java.sql.Date.valueOf(d0.plusDays(i)), sum, if (i == 8) None else sum.map(_ / 2),
        count)
    }).toDF("source_id", "metric", "metric_date", "value_sum", "value_avg", "value_count")
  }
  private lazy val wideSources = Seq((1, "demo"), (2, "other"), (3, "empty")).toDF("id", "name")

  private def tempStore(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/metric_daily"

  /** `wide` written and read back as the pipeline stores it (date-partitioned parquet). */
  private lazy val widePath = {
    val p = tempStore("graft_api")
    Store.overwriteMetricDaily(wide, p)
    p
  }

  /** The DataFrame rules the endpoints mirror, over `store` joined to the named source. */
  private final class Frames(srcs: DataFrame, store: DataFrame) {
    private def ids(name: String) = broadcast(srcs.filter(col("name") === name).select(col("id").as("source_id")))
    def filtered(name: String, metric: String, start: Option[String] = None,
                 end: Option[String] = None): DataFrame = {
      var df = store.join(ids(name), "source_id").filter(col("metric") === metric)
      start.foreach(s => df = df.filter(col("metric_date") >= lit(s)))
      end.foreach(e => df = df.filter(col("metric_date") <= lit(e)))
      df
    }
    private def withAvg(df: DataFrame) =
      df.withColumn("value_avg", DailyKpi.safeAvg(col("value_sum"), col("value_count")))
    def metricsDaily(name: String, metric: String, start: Option[String], end: Option[String],
                     agg: String, descending: Boolean, limit: Option[Int]): DataFrame = {
      val u = DailyKpi.withUnifiedValue(withAvg(filtered(name, metric, start, end)), agg)
        .orderBy(if (descending) col("metric_date").desc else col("metric_date").asc)
      limit.map(u.limit).getOrElse(u)
    }
    def anomalyRolling(name: String, metric: String, start: Option[String], end: Option[String],
                       window: Int, zThresh: Double): DataFrame =
      Windows.zScorePartial(filtered(name, metric, start, end).withColumn("value", col("value_sum")),
          window, zThresh, Seq("source_id"))
        .select(col("metric_date"), col("value"), col("z"), col("is_outlier")).orderBy("metric_date")
    def metricNames(name: Option[String]): DataFrame =
      Relational.distinctSorted(name.map(n => store.join(ids(n), "source_id")).getOrElse(store), "metric")
    def forecastDaily(name: String, metric: String): DataFrame =
      Forecast.dailyContract(filtered(name, metric), 7).orderBy("metric_date")
    def health(name: String, metric: String): DataFrame =
      Windows.lagPersistence(Forecast.fetchSeries(filtered(name, metric)), Seq("source_id", "metric"))
        .filter(col("pred").isNotNull)
        .agg(Forecast.mape(col("value"), col("pred")).as("mape")).withColumn("window_n", lit(90))
    def exportCsv(name: String, metric: String, start: Option[String], end: Option[String]): DataFrame =
      withAvg(filtered(name, metric, start, end)).withColumn("value", col("value_sum"))
        .select("metric_date", "source_id", "metric", "value", "value_count", "value_sum", "value_avg")
        .orderBy("metric_date")
  }

  private val At = "2026-01-01T00:00:00Z"

  /** Same columns, types, rows (doubles compared by value, nulls as nulls)
    * and envelope bytes.
    */
  private def same(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.dtypes.toSeq == want.dtypes.toSeq, s"$what: columns and types")
    assert(got.collect().toSeq == want.collect().toSeq, s"$what: rows")
    assert(Envelope.ok(got, generatedAt = At) == Envelope.ok(want, generatedAt = At), s"$what: envelope")
  }

  private def endpointsMatch(label: String, srcs: DataFrame, store: => DataFrame,
                             names: Seq[String], metrics: Seq[String]): Unit = {
    def api = new GraftApi(srcs, store)
    val f = new Frames(srcs, store)
    same(s"$label listSources", api.listSources(), srcs.orderBy("name"))
    same(s"$label metricNames()", api.metricNames(), f.metricNames(None))
    val ranges = Seq(None -> None, Some("2025-05-10") -> Some("2025-06-02"), Some("2025-06-01") -> None)
    for (n <- names) {
      same(s"$label metricNames($n)", api.metricNames(Some(n)), f.metricNames(Some(n)))
      for (m <- metrics) {
        val at = s"$label $n/$m"
        for (agg <- Seq("sum", "avg", "count"); desc <- Seq(false, true); limit <- Seq(None, Some(3)))
          same(s"$at metricsDaily($agg, desc=$desc, $limit)",
            api.metricsDaily(n, m, agg = agg, descending = desc, limit = limit),
            f.metricsDaily(n, m, None, None, agg, desc, limit))
        for ((lo, hi) <- ranges.tail)
          same(s"$at metricsDaily($lo..$hi)", api.metricsDaily(n, m, lo, hi),
            f.metricsDaily(n, m, lo, hi, "sum", descending = false, None))
        for (window <- Seq(2, 7); (lo, hi) <- ranges.take(2))
          same(s"$at anomalyRolling($window, $lo..$hi)", api.anomalyRolling(n, m, lo, hi, window, 3.0),
            f.anomalyRolling(n, m, lo, hi, window, 3.0))
        same(s"$at forecastDaily", api.forecastDaily(n, m), f.forecastDaily(n, m))
        same(s"$at backtest", api.backtest(n, m), Forecast.backtest(f.filtered(n, m)))
        same(s"$at backtest(2, 3, 20)", api.backtest(n, m, 2, 3, 20), Forecast.backtest(f.filtered(n, m), 2, 3, 20))
        same(s"$at reliability", api.reliability(n, m), Forecast.reliability(f.filtered(n, m)))
        same(s"$at reliability(30, 3, 5)", api.reliability(n, m, 30, 3, 5),
          Forecast.reliability(f.filtered(n, m), 30, 3, 5))
        same(s"$at forecastHealth", api.forecastHealth(n, m), f.health(n, m))
        for ((lo, hi) <- ranges.take(2))
          same(s"$at exportCsv($lo..$hi)", api.exportCsv(n, m, lo, hi), f.exportCsv(n, m, lo, hi))
        assert(api.metricsDailyJson(n, m, generatedAt = At) ==
          Envelope.ok(f.metricsDaily(n, m, None, None, "sum", descending = false, None),
            sourceName = Some(n), metric = Some(m), params = Seq("agg" -> "sum"), generatedAt = At))
      }
    }
  }

  test("every endpoint equals its DataFrame rule over the in-memory md") {
    endpointsMatch("md", sources, md, Seq("demo", "other", "nope"), Seq("events_total", "nope"))
  }

  test("every endpoint equals its DataFrame rule over the in-memory and parquet-backed store") {
    val names = Seq("demo", "other", "empty")
    val metrics = Seq("events_total", "latency_ms")
    endpointsMatch("in-memory", wideSources, wide, names, metrics)
    endpointsMatch("parquet", wideSources, spark.read.parquet(widePath), names, metrics)
    val anomaly = new GraftApi(wideSources, spark.read.parquet(widePath))
      .anomalyRolling("demo", "latency_ms", window = 7).collect()
    assert(anomaly.exists(r => r.getAs[Any]("z") == 1e9) && anomaly.exists(r => r.getAs[Any]("z") == 0.0),
      "the flat tail must reach both sigma = 0 branches")
  }

  test("a name carried by two ids serves both, as the join does") {
    val twice = Seq((1, "demo"), (2, "demo"), (2, "demo")).toDF("id", "name")
    val api = new GraftApi(twice, spark.read.parquet(widePath))
    val f = new Frames(twice, spark.read.parquet(widePath))
    def bag(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    same("names", api.metricNames(Some("demo")), f.metricNames(Some("demo")))
    assert(bag(api.metricsDaily("demo", "events_total")) ==
      bag(f.metricsDaily("demo", "events_total", None, None, "sum", descending = false, None)))
    assert(bag(api.reliability("demo", "events_total")) ==
      bag(Forecast.reliability(f.filtered("demo", "events_total"))))
    assert(bag(api.anomalyRolling("demo", "events_total")) ==
      bag(f.anomalyRolling("demo", "events_total", None, None, 7, 3.0)))
  }

  test("write-then-read: a rewrite of metric_daily is served on the next read") {
    val path = tempStore("graft_api_ryw")
    Store.overwriteMetricDaily(wide, path)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def sums(): Map[String, Double] = {
      val env = mapper.readTree(new GraftApi(wideSources, spark.read.parquet(path))
        .metricsDailyJson("demo", "events_total", generatedAt = At))
      assert(env.get("ok").asBoolean)
      val rows = env.get("data").elements()
      Iterator.continually(rows).takeWhile(_.hasNext).map(_.next())
        .map(r => r.get("metric_date").asText -> r.get("value_sum").asDouble).toMap
    }
    val before = sums()
    assert(sums() == before) // served from the cached slice
    val day = "2025-05-10"
    Store.overwriteMetricDaily(wide.filter(col("metric_date") === lit(day))
      .withColumn("value_sum", col("value_sum") + 1000.0), path)
    val after = sums()
    assert(after(day) == before(day) + 1000.0)
    assert(after - day == before - day, "only the rewritten date changes")
  }

  test("after a source's first request on a snapshot, GraftApi starts no Spark job") {
    val path = tempStore("graft_api_jobs")
    Store.overwriteMetricDaily(wide, path)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    /** Jobs started inside GraftApi for one request: the caller's own read
      * (one schema-inference job) runs and drains before the count starts.
      */
    def request(call: GraftApi => String): Int = {
      val store = spark.read.parquet(path)
      org.apache.spark.ListenerDrain(sc)
      jobs.set(0)
      call(new GraftApi(wideSources, store))
      org.apache.spark.ListenerDrain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      assert(request(_.metricsDailyJson("demo", "events_total")) >= 1, "the first request scans the slice")
      val later = Seq[(String, GraftApi => String)](
        "metricsDailyJson" -> (_.metricsDailyJson("demo", "events_total", startDate = Some("2025-05-10"))),
        "anomalyRollingJson" -> (_.anomalyRollingJson("demo", "latency_ms")),
        "metricNames" -> (a => Envelope.ok(a.metricNames(Some("demo")))),
        "reliability" -> (a => Envelope.ok(a.reliability("demo", "events_total"))),
        "listSources" -> (a => Envelope.ok(a.listSources())),
        "forecastDaily" -> (a => Envelope.ok(a.forecastDaily("demo", "latency_ms"))),
        "backtest" -> (a => Envelope.ok(a.backtest("demo", "events_total"))),
        "forecastHealth" -> (a => Envelope.ok(a.forecastHealth("demo", "events_total"))),
        "exportCsv" -> (a => Envelope.ok(a.exportCsv("demo", "events_total"))),
        "unknown source" -> (_.anomalyRollingJson("nope", "events_total")))
      for ((name, call) <- later) assert(request(call) == 0, s"$name started a job")
    } finally sc.removeSparkListener(listener)
  }
}
