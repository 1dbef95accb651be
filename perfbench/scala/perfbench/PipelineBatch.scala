package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.anomaly.AnomalyService
import graft.api.{Envelope, GraftApi}
import graft.forecast.Forecast
import graft.ingest.Ingest
import graft.operators.{DailyKpi, Windows}
import graft.store.Store
import Tracer.span

/** One caller runs the reference flow end to end, again and again, each
  * time into fresh stores: raw CSV -> clean -> dedup -> clean_events ->
  * metric_daily -> iforest + rolling z -> backtest + reliability -> one
  * read of each of six GraftApi endpoints, for one series.
  *
  * Chosen because it puts the work in ingest parsing, the aggregation
  * shuffle, per-series model CPU and the partitioned writes, and ends in
  * the per-request fixed cost of the API (planning, job scheduling,
  * listing and scanning the date-partitioned store); it never touches the
  * ledgered stores. Each filter's output is materialised at its hand-off
  * (written, checkpointed or collected), so the time of a stage lands in
  * the span of the layer that did it.
  */
final class PipelineBatch(ctx: Ctx) extends Workload {
  import ctx.spark
  // 24 sources x 3 metrics = 72 series, 30 days, 6 events a day:
  // ~13k raw events, sized so one run of the flow takes a few seconds
  private val Sources = 24
  private val Days = 30
  private val PerDay = 6
  private val SpikeEvery = 7

  private var dir = ""
  private var file: Gen.EventFile = _
  private var csv = ""
  private var csvBytes = 0L
  private var iter = 0
  private var lastOut = ""

  private var warm: Gen.EventFile = _
  private var warmCsv = ""
  private var sources: DataFrame = _
  private val json = new ObjectMapper()

  /** The endpoints the serve stage reads, in order. */
  val Endpoints: Seq[String] = Seq("metricsDailyJson", "anomalyRollingJson", "metricNames",
    "reliability", "listSources", "forecastDaily")
  private def name(src: Int) = f"src-$src%03d"

  def setup(d: String): Unit = {
    dir = d
    file = Gen.events(ctx.seed, Sources, Days, PerDay, SpikeEvery)
    csv = s"$dir/raw/events.csv"
    csvBytes = Flows.writeLines(csv, file.lines)
    // the warm-up runs every plan of the flow once; a small input is enough
    warm = Gen.events(ctx.seed + 1, 4, Days, 2, SpikeEvery)
    warmCsv = s"$dir/raw/warmup.csv"
    Flows.writeLines(warmCsv, warm.lines)
    sources = spark.createDataFrame(
      (1 to Sources).map(s => Row(s.toLong, name(s))).asJava,
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
  }

  private case class Out(path: String, stats: org.apache.spark.sql.Row,
                         iforest: Set[(Long, String, String)], zflags: Set[(Long, String, String)],
                         backtestRows: Int, reliabilityRows: Int, series: Int,
                         served: Seq[(String, JsonNode, Double)], visibleMs: Double)

  private def flagged(rows: Array[org.apache.spark.sql.Row]): Set[(Long, String, String)] =
    rows.map(r => (r.getAs[Number]("source_id").longValue, r.getAs[String]("metric"),
      r.getAs[java.sql.Date]("metric_date").toString)).toSet

  private def once(f: Gen.EventFile, csv: String): Out = span("op", "pipeline") {
    val t0 = Flows.nowMs
    val out = s"$dir/iter-$iter"
    iter += 1
    val ce = s"$out/clean_events"
    val md = s"$out/metric_daily"
    val (stats, deduped) = span("ingest", "clean+dedup") {
      val cleaned = Ingest.cleanRows(Flows.rawEvents(spark, csv))
      val st = Ingest.ingestStats(cleaned).head()
      val dd = Ingest.dedupInsert(Flows.validRows(cleaned), None, Flows.Keys, "seq")
        .drop("seq").localCheckpoint()
      (st, dd)
    }
    span("store", "writeCleanEvents")(Store.writeCleanEvents(deduped, ce))
    val daily = span("operators", "DailyKpi.aggregate")(
      DailyKpi.aggregate(Store.readCleanEvents(spark, ce)).localCheckpoint())
    span("store", "overwriteMetricDaily")(Store.overwriteMetricDaily(daily, md))
    val visible = Flows.nowMs - t0
    val mdv = DailyKpi.withUnifiedValue(spark.read.parquet(md), "sum")
    val (iforest, series) = span("anomaly", "iforestRouterScores") {
      val scored = AnomalyService.iforestRouterScores(mdv).toDF().localCheckpoint()
      (flagged(scored.filter(col("is_outlier")).collect()),
        scored.select("source_id", "metric").distinct().count().toInt)
    }
    val z = span("operators", "Windows.zScorePartial")(flagged(
      Windows.zScorePartial(mdv, 7, 3.0, Seq("source_id", "metric"))
        .filter(col("is_outlier")).collect()))
    val (bt, rel) = span("forecast", "backtest+reliability") {
      val mdr = spark.read.parquet(md)
      (Forecast.backtest(mdr).collect().length, Forecast.reliability(mdr).collect().length)
    }
    Out(out, stats, iforest, z, bt, rel, series, serve(f, md), visible)
  }

  /** One request per endpoint through the API, for the first spiked series:
    * (endpoint, parsed envelope, request ms).
    */
  private def serve(f: Gen.EventFile, md: String): Seq[(String, JsonNode, Double)] = {
    val (src, metric, _) = f.spikes.head
    val n = name(src)
    Endpoints.map { e =>
      val t0 = Flows.nowMs
      val out = span("api", e) {
        val a = new GraftApi(sources, spark.read.parquet(md))
        e match {
          case "metricsDailyJson" => a.metricsDailyJson(n, metric)
          case "anomalyRollingJson" => a.anomalyRollingJson(n, metric)
          case "metricNames" => Envelope.ok(a.metricNames(Some(n)))
          case "reliability" => Envelope.ok(a.reliability(n, metric))
          case "listSources" => Envelope.ok(a.listSources())
          case "forecastDaily" => Envelope.ok(a.forecastDaily(n, metric))
        }
      }
      val ms = Flows.nowMs - t0
      val env = json.readTree(out)
      Tracer.count("api.rows_returned", rows(env).length)
      (e, env, ms)
    }
  }

  private def rows(env: JsonNode): Seq[JsonNode] = env.get("data").elements().asScala.toSeq

  /** Every envelope is ok with the row count the truth gives, and the
    * series' daily sums equal the truth's, day by day.
    */
  private def servedOk(f: Gen.EventFile, served: Seq[(String, JsonNode, Double)]): Boolean = {
    val (src, metric, _) = f.spikes.head
    val days = f.truth.days(src, metric)
    def expected(e: String) = e match {
      case "metricsDailyJson" | "anomalyRollingJson" => days.length
      case "metricNames" => Gen.Metrics.length
      case "reliability" => 1
      case "listSources" => Sources
      case "forecastDaily" => 7
    }
    def sumsMatch(env: JsonNode) = rows(env).zip(days).forall { case (r, d) =>
      r.get("metric_date").asText == Gen.date(d) &&
        f.truth.cells((src, metric, d))._1 == r.get("value_sum").asDouble
    }
    served.map(_._1) == Endpoints && served.forall { case (e, env, _) =>
      env.get("ok").asBoolean && rows(env).length == expected(e) &&
        (e != "metricsDailyJson" || sumsMatch(env))
    }
  }

  private def correct(f: Gen.EventFile)(o: Out): Boolean = {
    val truth = f.truth
    val nSeries = truth.cells.keys.map(k => (k._1, k._2)).toSet.size
    val statsOk = o.stats.getAs[Long]("n_rows") == f.rows &&
      o.stats.getAs[Long]("n_skipped") == f.malformed &&
      o.stats.getAs[Long]("n_valid") == f.rows - f.malformed
    val mdOk = truth.matches(spark.read.parquet(s"${o.path}/metric_daily").collect().toSeq)
    val spikes = f.spikes.map { case (s, m, d) => (s.toLong, m, Gen.date(d)) }
    val spikesOk = spikes.forall(o.iforest.contains) && spikes.forall(o.zflags.contains)
    statsOk && mdOk && spikesOk && o.series == nSeries &&
      o.backtestRows == nSeries && o.reliabilityRows == nSeries && servedOk(f, o.served)
  }

  private def step(rec: Recorder, f: Gen.EventFile = file, in: String = csv): Unit = {
    rec.run("pipeline")(once(f, in))(correct(f)).foreach { o =>
      rec.sample("visible", o.visibleMs)
      o.served.foreach(r => rec.sample("read", r._3))
    }
    if (lastOut.nonEmpty) Flows.deleteDir(lastOut)
    lastOut = s"$dir/iter-${iter - 1}"
  }

  def warmup(): Unit = step(new Recorder, warm, warmCsv)

  def measure(rec: Recorder, seconds: Double): Unit = Flows.repeatWithin(seconds)(step(rec))

  def finalChecks(rec: Recorder): Unit = ()

  val primary: Seq[String] = Seq("pipeline")

  def generic(rec: Recorder): (Double, Double, Double) = {
    val t = rec.times("pipeline")
    (file.rows * t.length / (t.sum / 1000), Stats.median(t), Stats.median(rec.times("visible")))
  }

  def figures(rec: Recorder): Seq[Figure] = {
    val t = rec.times("pipeline")
    Seq(Figure("pipeline_events_per_s", file.rows * t.length / (t.sum / 1000), "events/s", t.length),
      Figure("pipeline_run_p50_ms", Stats.median(t), "ms", t.length),
      Figure("api_read_p50_ms", Stats.median(rec.times("read")), "ms", rec.times("read").length))
  }

  def inputBytes: Long = csvBytes
  def storeBytes: Long = Flows.dirBytes(lastOut)

  override def counters(rec: Recorder): Map[String, Double] = Map(
    "ingest.rows_in" -> file.rows.toDouble * rec.times("pipeline").length,
    "ingest.valid_share" -> (file.rows - file.malformed).toDouble / file.rows,
    "ingest.dup_share" -> file.duplicates.toDouble / file.rows,
    "anomaly.series" -> (Sources * Gen.Metrics.length).toDouble,
    "store.files_per_partition" -> (Flows.filesPerPartition(s"$lastOut/clean_events") +
      Flows.filesPerPartition(s"$lastOut/metric_daily")) / 2)
}
