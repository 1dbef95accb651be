package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.forecast.Forecast
import graft.forecast.Forecast.MdDay
import graft.operators.{Relational, Windows}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scala façade mirroring the reference's endpoint surface (SURVEY.md §2.8;
  * `backend/openapi.json` paths). Auth/observability middleware is a
  * transport concern and out of scope (SURVEY.md §7.5).
  *
  * Every endpoint answers from one driver-side slice: the `metricDaily` rows
  * of the requested source, i.e. of every id its name carries in `sources`,
  * as the join of the reference's query matches them. The endpoint's rule
  * then runs as plain Scala over the slice ([[Windows.zScoreSeries]], the
  * per-series rules of [[Forecast]]) and the method returns an
  * already-ordered local DataFrame with the columns and types of the
  * DataFrame rules it mirrors ([[Windows.zScorePartial]],
  * [[Forecast.dailyContract]], [[Forecast.backtest]], ...). Serializing it
  * with [[Envelope.ok]] starts no Spark job.
  *
  * When `metricDaily` is a bare file relation (`spark.read.parquet(path)`),
  * slices are kept in the companion's cache, keyed by the relation's
  * snapshot: a digest of its already-listed files (path, length, mtime), its
  * schema, format and options. A rewrite of the store writes new files, so a
  * relation read after it lists a new snapshot and misses: reads see their
  * writes with no version file, no extra file-system call and nothing on the
  * write path. The first request for a source on a snapshot runs one
  * `filter(source_id).collect()` job; later requests for it — through any
  * `GraftApi` over the same files — run none. Any other plan is sliced per
  * request. `sources` (a broadcast-sized dim) is collected once per
  * instance; a local `sources` (`createDataFrame`, `toDF`) collects without a
  * job.
  *
  * `metric_date` is the store's DATE column; date bounds are cast to DATE
  * as Spark casts a string compared with a date.
  *
  * @param sources     dimension (id, name)
  * @param metricDaily the daily aggregate store
  */
final class GraftApi(sources: DataFrame, metricDaily: DataFrame) {
  import GraftApi._

  private val spark = metricDaily.sparkSession
  private val schema = metricDaily.schema
  private def at(name: String): Int = schema.fieldIndex(name)
  private lazy val iSid = at("source_id")
  private lazy val iMetric = at("metric")
  private lazy val iDate = {
    require(schema("metric_date").dataType == DateType, "metric_date must be a DATE column")
    at("metric_date")
  }

  private lazy val sourceRows = sources.collect().toSeq
  private lazy val snap = snapshot(metricDaily)

  /** The `sources` rows named `sourceName`. */
  private def named(sourceName: String): Seq[Row] = {
    val i = sources.schema.fieldIndex("name")
    sourceRows.filter(r => sourceName != null && sourceName == r.get(i))
  }

  /** The source's slice: the rows whose `source_id` is an id named
    * `sourceName`, each once per `sources` row carrying that id (the join's
    * multiplicity).
    */
  private def slice(sourceName: String): Seq[Row] = {
    val iId = sources.schema.fieldIndex("id")
    val ids = named(sourceName).map(_.get(iId)).filter(_ != null)
    val distinct = ids.distinct
    if (ids.isEmpty) Nil else {
      val rows = cached(snap.map(Key(_, distinct.toSet))) {
        metricDaily.filter(col("source_id").isin(distinct: _*)).collect()
      }.toSeq
      if (distinct.length == ids.length) rows
      else rows.flatMap(r => Seq.fill(ids.count(_ == r.get(iSid)))(r))
    }
  }

  private def day(r: Row): Option[Int] = Option(r.get(iDate)).map(DateTimeUtils.anyToDays)

  /** `metric_date >= lit(s)`'s right side: the string cast to DATE, null
    * (no row passes) or an error on a malformed string as the session's
    * ANSI mode decides.
    */
  private def bound(s: String): Option[Int] = {
    val mode = if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) EvalMode.ANSI else EvalMode.LEGACY
    Option(Cast(Literal(s), DateType, None, mode).eval()).map(_.asInstanceOf[Int])
  }

  /** The slice's rows of one metric within the inclusive date bounds. */
  private def series(sourceName: String, metric: String,
                     startDate: Option[String], endDate: Option[String]): Seq[Row] = {
    val lo = startDate.map(bound)
    val hi = endDate.map(bound)
    slice(sourceName).filter { r =>
      val d = day(r)
      metric != null && metric == r.get(iMetric) &&
        lo.forall(b => d.zip(b).exists { case (x, y) => x >= y }) &&
        hi.forall(b => d.zip(b).exists { case (x, y) => x <= y })
    }
  }

  /** Each series (one per source id) of one metric as day-sorted [[MdDay]]s,
    * rows without a day skipped, after its key values (source_id, metric).
    */
  private def mdSeries(sourceName: String, metric: String): Seq[(Seq[Any], Seq[MdDay])] = {
    val cols = Seq("value_sum", "value_avg", "value_count").map(schema.fieldNames.indexOf(_))
    def value(r: Row, i: Int) = if (i < 0) None else num(r.get(i))
    series(sourceName, metric, None, None).groupBy(_.get(iSid)).toSeq.map { case (sid, rows) =>
      Seq(sid, metric) -> rows.flatMap(r => day(r).map(d =>
        MdDay(d, value(r, cols(0)), value(r, cols(1)), value(r, cols(2))))).sortBy(_.day)
    }
  }

  /** A per-series rule over [[mdSeries]], laid out as [[Forecast]]'s pass
    * lays it out: the key columns, then `out`, whose `target_date` leaves
    * epoch days as a DATE.
    */
  private def bySeries(sourceName: String, metric: String, out: Seq[StructField])
                      (rule: Seq[MdDay] => Seq[Seq[Any]]): (Seq[StructField], Seq[Seq[Any]]) = {
    val dates = out.map(_.name == "target_date")
    val fields = Seq(schema(iSid), schema(iMetric)) ++ out.zip(dates).map { case (f, d) =>
      if (d) f.copy(dataType = DateType) else f
    }
    val rows = mdSeries(sourceName, metric).flatMap { case (key, md) =>
      rule(md).map(o => key ++ o.zip(dates).map { case (v, d) =>
        if (d) DateTimeUtils.toJavaDate(v.asInstanceOf[Int]) else v
      })
    }
    (fields, rows)
  }

  /** The joined layout (source_id first, then the other store columns) with
    * `value_avg` recomputed by [[graft.operators.DailyKpi.safeAvg]].
    */
  private def kpi(rows: Seq[Row]): (Seq[StructField], Seq[Seq[Any]]) = {
    val order = iSid +: schema.indices.filter(_ != iSid)
    val (fields, put) = withColumn(order.map(schema(_)), StructField("value_avg", DoubleType))
    val iSum = at("value_sum"); val iCount = at("value_count")
    (fields, rows.map(r => put(order.map(r.get), safeAvg(r.get(iSum), r.get(iCount)))))
  }

  private def byDate(fields: Seq[StructField], rows: Seq[Seq[Any]], descending: Boolean = false) = {
    val i = fields.indexWhere(_.name == "metric_date")
    val key = (r: Seq[Any]) => Option(r(i)).map(DateTimeUtils.anyToDays)
    // asc puts nulls first, desc last, as orderBy does
    rows.sortBy(key)(if (descending) Ordering[Option[Int]].reverse else Ordering[Option[Int]])
  }

  /** GET /api/metrics/daily (`routers/metrics.py:60-119`). */
  def metricsDaily(sourceName: String, metric: String,
                   startDate: Option[String] = None, endDate: Option[String] = None,
                   agg: String = "sum", descending: Boolean = false,
                   limit: Option[Int] = None): DataFrame = {
    require(Set("sum", "avg", "count", "distinct").contains(agg), s"bad agg: $agg")
    require(limit.forall(_ >= 0), "limit >= 0")
    val (base, rows) = kpi(series(sourceName, metric, startDate, endDate))
    val iSrc = base.indexWhere(_.name == s"value_$agg")
    require(iSrc >= 0, s"no column value_$agg")
    val (fields, put) = withColumn(base, base(iSrc).copy(name = "value"))
    val sorted = byDate(fields, rows.map(r => put(r, r(iSrc))), descending)
    local(fields, limit.fold(sorted)(sorted.take))
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
    * existence probe looks the name up in the collected sources dim (the
    * reference runs the same lookup query per request). Parameter bounds
    * stay `require`s: the reference validates those at the FastAPI Query
    * layer (422), not in the envelope.
    */
  def anomalyRollingJson(sourceName: String, metric: String,
                         startDate: Option[String] = None, endDate: Option[String] = None,
                         window: Int = 7, zThresh: Double = 3.0,
                         generatedAt: String = java.time.Instant.now().toString): String =
    if (named(sourceName).isEmpty)
      Envelope.fail("UNKNOWN_SOURCE", s"Unknown source: $sourceName",
        sourceName = Some(sourceName), metric = Some(metric), generatedAt = generatedAt)
    else
      Envelope.ok(anomalyRolling(sourceName, metric, startDate, endDate, window, zThresh),
        sourceName = Some(sourceName), metric = Some(metric),
        params = Seq("window" -> window.toString, "z_thresh" -> zThresh.toString),
        generatedAt = generatedAt)

  /** GET /api/metrics/names (`services/metrics_fetch.py:118-141`). Without a
    * source it reads the whole store, one Spark job per request.
    */
  def metricNames(sourceName: Option[String] = None): DataFrame = {
    val names = sourceName match {
      case Some(n) => slice(n).map(_.get(iMetric)).distinct.sortBy(utf8)
      case None => Relational.distinctSorted(metricDaily, "metric").collect().toSeq.map(_.get(0))
    }
    local(Seq(schema(iMetric)), names.map(Seq(_)))
  }

  /** GET /api/sources (`routers/sources.py:12`). */
  def listSources(): DataFrame = {
    val i = sources.schema.fieldIndex("name")
    local(sources.schema, sourceRows.sortBy(r => utf8(r.get(i))).map(_.toSeq))
  }

  /** GET /api/metrics/anomaly/rolling (`routers/metrics.py:158-261`):
    * [[Windows.zScoreSeries]] per source id, rows by date.
    */
  def anomalyRolling(sourceName: String, metric: String,
                     startDate: Option[String] = None, endDate: Option[String] = None,
                     window: Int = 7, zThresh: Double = 3.0,
                     valueField: String = "value_sum"): DataFrame = {
    require(window >= 2 && window <= 365, "window in [2,365]")
    require(zThresh > 0, "z_thresh > 0")
    val iv = at(valueField)
    val fields = Seq(schema(iDate), schema(iv).copy(name = "value"),
      StructField("z", DoubleType), StructField("is_outlier", BooleanType))
    val rows = series(sourceName, metric, startDate, endDate).groupBy(_.get(iSid)).values.toSeq
      .flatMap { rs =>
        val sorted = rs.sortBy(day)
        val zs = Windows.zScoreSeries(sorted.map(r => num(r.get(iv))).toIndexedSeq, window, zThresh)
        sorted.zip(zs).map { case (r, (z, outlier)) => Seq(r.get(iDate), r.get(iv), z.getOrElse(null), outlier) }
      }
    local(fields, byDate(fields, rows))
  }

  /** GET /api/forecast/daily (`routers/forecast.py:160-231`): generate via
    * the deterministic chain, strictly-future filter, normalize to the
    * 7-row contract ([[Forecast.dailyContractSeries]]), rows by metric_date.
    */
  def forecastDaily(sourceName: String, metric: String, horizon: Int = 7): DataFrame = {
    val (fields, rows) = bySeries(sourceName, metric, Forecast.contractFields) { md =>
      Forecast.dailyContractSeries(md, horizon).map(Forecast.contractRow)
    }
    val i = fields.indexWhere(_.name == "metric_date")
    local(fields, rows.sortBy(r => utf8(r(i))))
  }

  /** POST /api/forecast/backtest (`routers/forecast.py` + M6). */
  def backtest(sourceName: String, metric: String, folds: Int = 5, horizon: Int = 7,
               windowN: Int = 90): DataFrame = {
    val (fields, rows) = bySeries(sourceName, metric, Forecast.backtestFields) { md =>
      Forecast.backtestSeries(md, folds, horizon, windowN).toSeq.map(Forecast.backtestRow)
    }
    local(fields, rows)
  }

  /** GET /api/forecast/reliability (M7). */
  def reliability(sourceName: String, metric: String, days: Int = 90, folds: Int = 5,
                  horizon: Int = 7): DataFrame = {
    val (fields, rows) = bySeries(sourceName, metric, Forecast.reliabilityFields) { md =>
      Forecast.reliabilitySeries(md, days, folds, horizon).toSeq.map(Forecast.reliabilityRow)
    }
    local(fields, rows)
  }

  /** GET /api/forecast/health (W5 persistence MAPE, forecast.py:258-270). */
  def forecastHealth(sourceName: String, metric: String, windowN: Int = 90): DataFrame =
    local(Seq(StructField("mape", DoubleType), StructField("window_n", IntegerType, nullable = false)),
      Seq(Seq(Forecast.persistenceMape(mdSeries(sourceName, metric).map(_._2)).getOrElse(null), windowN)))

  /** GET /api/metrics/export/csv (S8, `services/metrics_calc.py:61-85`):
    * fixed column order; write with `.option("header", true).csv(path)` or
    * serialize driver-side for API parity.
    */
  def exportCsv(sourceName: String, metric: String,
                startDate: Option[String] = None, endDate: Option[String] = None): DataFrame = {
    val (base, rows) = kpi(series(sourceName, metric, startDate, endDate))
    val picks = Seq("metric_date", "source_id", "metric", "value_sum", "value_count", "value_sum",
      "value_avg").map(n => base.indexWhere(_.name == n))
    val fields = picks.map(base(_)).updated(3, base(picks(3)).copy(name = "value"))
    local(fields, byDate(fields, rows.map(r => picks.map(r(_)))))
  }

  /** A local DataFrame (a `LocalRelation`) of already-computed rows. */
  private def local(fields: Seq[StructField], rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, StructType(fields))
}

/** The slice cache shared by every [[GraftApi]] in the JVM (the serve path
  * builds a new `GraftApi` per request).
  *
  * Bound: [[SliceRows]] rows in all. An entry of n rows charges n + 1 (the
  * one is for its key: a 64-hex-digit digest and the id set), the least
  * recently used entries leave first, and a slice of [[SliceRows]] rows or
  * more is served but not kept. A six-column metric_daily row held as a
  * collected `Row` measured 186 bytes of heap (Spark's `SizeEstimator`, 64-bit
  * JVM with compressed pointers: boxed values, a `String` per metric name, a
  * `java.sql.Date`); a key with its map entry is about 220 bytes. So the
  * cache holds at most about 22 MB.
  */
object GraftApi {

  /** Row budget of the slice cache. */
  val SliceRows: Int = 100000

  /** A snapshot digest and the slice's source ids. */
  private final case class Key(snapshot: String, ids: Set[Any])

  // access-ordered: iteration starts at the least recently used entry
  private val slices = new java.util.LinkedHashMap[Key, Array[Row]](16, 0.75f, true)
  private var held = 0L

  /** `load`'s rows, kept under `key` while the budget allows; without a key
    * (not a file relation) `load` runs every time.
    */
  private def cached(key: Option[Key])(load: => Array[Row]): Array[Row] = key match {
    case None => load
    case Some(k) =>
      slices.synchronized(Option(slices.get(k))).getOrElse {
        val rows = load
        slices.synchronized {
          if (rows.length < SliceRows && !slices.containsKey(k)) {
            slices.put(k, rows)
            held += rows.length + 1
            val it = slices.values.iterator
            while (held > SliceRows) { held -= it.next().length + 1; it.remove() }
          }
        }
        rows
      }
  }

  /** The snapshot of a bare file relation: a digest of its listed files
    * (path, length, mtime), schema, format and options, read off the
    * relation's file index with no file-system call. None for any other plan.
    */
  private[api] def snapshot(df: DataFrame): Option[String] = df.queryExecution.analyzed match {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case files: PartitioningAwareFileIndex =>
          val md = MessageDigest.getInstance("SHA-256")
          def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
          add(fs.fileFormat.getClass.getName)
          add(df.schema.json)
          fs.options.toSeq.sorted.foreach { case (k, v) => add(k); add(v) }
          files.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
            .foreach { case (p, len, mtime) => add(p); add(len.toString); add(mtime.toString) }
          Some(md.digest().map("%02x".format(_)).mkString)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** Spark's cast to double of a numeric value; None for null. */
  private def num(v: Any): Option[Double] = Option(v).map(_.asInstanceOf[Number].doubleValue)

  /** [[graft.operators.DailyKpi.safeAvg]]: sum / count unless count is 0 or null. */
  private def safeAvg(sum: Any, count: Any): Any = (num(sum), num(count)) match {
    case (Some(s), Some(c)) if c != 0.0 => s / c
    case _ => null
  }

  /** A string column's sort key: nulls first, then UTF-8 byte order. */
  private def utf8(v: Any): Option[UTF8String] = Option(v).map(s => UTF8String.fromString(s.toString))
  private implicit val utf8Order: Ordering[UTF8String] = (a, b) => a.compareTo(b)

  /** Spark's `withColumn` on a row layout: the field replaces the one of the
    * same name in place, or is appended; the returned function does the
    * same to a row's values.
    */
  private def withColumn(fields: Seq[StructField], f: StructField): (Seq[StructField], (Seq[Any], Any) => Seq[Any]) = {
    val i = fields.indexWhere(_.name == f.name) match { case -1 => fields.length; case j => j }
    (fields.patch(i, Seq(f), 1), (vs, v) => vs.patch(i, Seq(v), 1))
  }
}
