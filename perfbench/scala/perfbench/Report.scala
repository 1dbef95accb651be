package perfbench

import Tracer.{Acc, Span}

/** Metric names and units of the result line, and the per-layer report
  * computed from a traced phase's spans.
  */
object Report {

  /** End-to-end metrics, reported by every workload (`--trace 0`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
    "visible_p50_ms" -> "ms",
    "peak_rss_mb" -> "MB",
    "store_bytes_per_input_byte" -> "ratio")

  /** Per-layer metrics (`--trace 1`); a layer a workload bypasses reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.busy_ms" -> "ms", "ingest.rows_in" -> "count", "ingest.valid_share" -> "ratio",
    "ingest.dup_share" -> "ratio",
    "store.busy_ms" -> "ms", "store.files_written" -> "count", "store.bytes_written" -> "bytes",
    "store.fs_write_ops" -> "count", "store.fs_read_ops" -> "count",
    "store.files_per_partition" -> "ratio",
    "operators.busy_ms" -> "ms", "operators.shuffle_write_bytes" -> "bytes",
    "operators.spill_bytes" -> "bytes",
    "anomaly.busy_ms" -> "ms", "anomaly.task_ms" -> "ms", "anomaly.task_skew" -> "ratio",
    "anomaly.series" -> "count",
    "forecast.busy_ms" -> "ms", "forecast.jobs" -> "count",
    "api.metricsDailyJson.p50_ms" -> "ms", "api.anomalyRollingJson.p50_ms" -> "ms",
    "api.metricNames.p50_ms" -> "ms", "api.reliability.p50_ms" -> "ms",
    "api.listSources.p50_ms" -> "ms", "api.forecastDaily.p50_ms" -> "ms",
    "api.plan_ms" -> "ms", "api.jobs_per_request" -> "count", "api.driver_gap_ms" -> "ms",
    "api.files_scanned_per_request" -> "count", "api.rows_scanned_per_row_returned" -> "ratio",
    "streaming.busy_ms" -> "ms", "streaming.compact_ms" -> "ms", "streaming.retire_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count", "streaming.fs_rename_ops" -> "count",
    "dedup.busy_ms" -> "ms", "dedup.pairs_found" -> "count", "dedup.planted_recall" -> "ratio",
    "text.busy_ms" -> "ms", "text.dsir_append_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_covered_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.core_utilization" -> "ratio", "spark.gc_ms" -> "ms",
    "trace.timed_wall_ms" -> "ms", "unattributed_ms" -> "ms", "trace.overhead_share" -> "ratio",
    "failed_share" -> "ratio")

  /** Total duration and count per `layer/name` span, for the detail line. */
  def spanTotals(spans: Seq[Span]): String =
    Json.obj(spans.groupBy(s => s"${s.layer}/${s.name}").toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> Json.obj(Seq("ms" -> Json.num(ss.map(_.durMs).sum), "count" -> ss.length.toString))
    })

  private val WriteOps = Seq("create", "rename", "delete", "mkdirs")
  private val ReadOps = Seq("open", "list", "stat")

  /** Layer metrics of one traced phase.
    *
    * `spans` are every span that ended in the phase; a root span (parent 0)
    * is one timed operation. Self time is a span's duration minus its
    * children's; the layers' self times plus `unattributed_ms` (the root
    * spans' own self time: benchmark code) add up to
    * `trace.timed_wall_ms`, the summed duration of the timed operations.
    */
  def layers(spans: Seq[Span], acc: Long => Acc, wallMs: Double, cores: Int, gcMs: Double,
             counters: Map[String, Double]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def self(s: Span) = s.durMs - children.getOrElse(s.id, Nil).map(_.durMs).sum
    def of(layer: String) = spans.filter(_.layer == layer)
    def sum(ss: Seq[Span])(f: Acc => Long): Double = ss.map(s => f(acc(s.id)).toDouble).sum
    def fs(ss: Seq[Span], ops: Seq[String]) = ss.map(s => ops.map(acc(s.id).fs).sum.toDouble).sum
    def busy(layer: String) = of(layer).map(self).sum
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def per(x: Double, n: Double) = if (n == 0) 0.0 else x / n
    def intervals(s: Span) = acc(s.id).intervals

    val roots = spans.filter(_.parent == 0)
    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(s: Span): Long =
      if (s.parent == 0 || !byId.contains(s.parent)) s.id else rootOf(byId(s.parent))
    val subtree = spans.groupBy(rootOf)
    val coveredByRoot = roots.map(r =>
      Tracer.covered(subtree.getOrElse(r.id, Nil).flatMap(intervals), r.startMs, r.endMs))
    val timedWall = roots.map(_.durMs).sum

    val api = of("api")
    val anomaly = of("anomaly")
    val streaming = of("streaming")
    val store = of("store")
    // skew of the anomaly layer's heaviest stage (the per-series scoring)
    val skew = anomaly.flatMap(s => acc(s.id).stageTimes).filter(_.nonEmpty) match {
      case Nil => 0.0
      case stages => val heavy = stages.maxBy(_.sum); per(heavy.max, med(heavy))
    }
    val named = (layer: String, name: String) => of(layer).filter(_.name == name)
    val endpoints = Seq("metricsDailyJson", "anomalyRollingJson", "metricNames", "reliability",
      "listSources", "forecastDaily")

    Map(
      "ingest.busy_ms" -> busy("ingest"),
      "store.busy_ms" -> busy("store"),
      "store.files_written" -> sum(store)(_.filesWritten.sum()),
      "store.bytes_written" -> sum(store)(_.bytesWritten.sum()),
      "store.fs_write_ops" -> fs(store, WriteOps),
      "store.fs_read_ops" -> fs(store, ReadOps),
      "operators.busy_ms" -> busy("operators"),
      "operators.shuffle_write_bytes" -> sum(of("operators"))(_.shuffleWrite.sum()),
      "operators.spill_bytes" -> sum(of("operators"))(_.spill.sum()),
      "anomaly.busy_ms" -> busy("anomaly"),
      "anomaly.task_ms" -> sum(anomaly)(_.taskMs.sum()),
      "anomaly.task_skew" -> skew,
      "forecast.busy_ms" -> busy("forecast"),
      "forecast.jobs" -> sum(of("forecast"))(_.jobs.sum()),
      "api.plan_ms" -> per(sum(api)(_.planMs.sum()), api.length),
      "api.jobs_per_request" -> per(sum(api)(_.jobs.sum()), api.length),
      "api.driver_gap_ms" -> per(api.map(s =>
        s.durMs - Tracer.covered(intervals(s), s.startMs, s.endMs)).sum, api.length),
      "api.files_scanned_per_request" -> per(sum(api)(_.filesScanned.sum()), api.length),
      "api.rows_scanned_per_row_returned" ->
        per(sum(api)(_.rowsScanned.sum()), counters.getOrElse("api.rows_returned", 0.0)),
      "streaming.busy_ms" -> busy("streaming"),
      "streaming.compact_ms" -> named("streaming", "compactMinhashStore").map(_.durMs).sum,
      "streaming.retire_ms" -> named("streaming", "retireMinhashStore").map(_.durMs).sum,
      "streaming.jobs_per_batch" ->
        per(sum(streaming)(_.jobs.sum()), counters.getOrElse("streaming.batches", 0.0)),
      "streaming.fs_rename_ops" -> fs(streaming, Seq("rename")),
      "dedup.busy_ms" -> busy("dedup"),
      "text.busy_ms" -> busy("text"),
      "text.dsir_append_ms" -> med(named("text", "appendDsir").map(_.durMs)),
      "spark.jobs" -> sum(spans)(_.jobs.sum()),
      "spark.stages" -> sum(spans)(_.stages.sum()),
      "spark.tasks" -> sum(spans)(_.tasks.sum()),
      "spark.job_covered_ms" -> coveredByRoot.sum,
      "spark.driver_gap_ms" -> (timedWall - coveredByRoot.sum),
      "spark.core_utilization" -> per(sum(spans)(_.taskMs.sum()), wallMs * cores),
      "spark.gc_ms" -> gcMs,
      "trace.timed_wall_ms" -> timedWall,
      "unattributed_ms" -> roots.map(self).sum
    ) ++ endpoints.map(e => s"api.$e.p50_ms" -> med(named("api", e).map(_.durMs))) ++
      counters.filter { case (k, _) => PerLayer.exists(_._1 == k) }
  }
}
