package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.core.Graft

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>` (normally launched by perfbench/run.py).
  *
  * A run starts the engine's own session (`Graft.localSession` with every
  * core), sets the workload up [[SetupReps]] times and keeps the last,
  * warms up, then measures for `--seconds`. With `--trace 0` it prints the
  * end-to-end metrics; with `--trace 1` it measures the first half
  * untraced and the second half traced and prints the per-layer metrics,
  * including the tracing overhead between the two halves.
  */
object Main {
  val SetupReps = 3

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "pipeline_batch" => new PipelineBatch(ctx)
    case "corpus_cycle" => new CorpusCycle(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--selftest")) { SelfTest.run(); return }
    if (argv.contains("--train")) { train(argv(argv.indexOf("--work") + 1)); return }
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")

    if (trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Graft.localSession("perfbench", cores)
    if (trace) {
      // drop any file-system instance cached before the counting one was configured
      org.apache.hadoop.fs.FileSystem.closeAll()
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration)
      Tracer.install(spark)
    }
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val w = workload(name, Ctx(spark, seed))

    val setupS = (0 until SetupReps).map { i =>
      val t0 = Flows.nowMs
      w.setup(s"$work/setup-$i")
      if (i > 0) Flows.deleteDir(s"$work/setup-${i - 1}")
      (Flows.nowMs - t0) / 1000
    }
    val tw = Flows.nowMs
    w.warmup()
    val warmS = (Flows.nowMs - tw) / 1000

    val rec = new Recorder
    val untraced = new Recorder
    val (metrics, extra) = if (!trace) {
      w.measure(rec, seconds)
      w.finalChecks(rec)
      val (thru, p50, vis) = w.generic(rec)
      val m = Map(
        "setup_s" -> (sessionS + Stats.median(setupS) + warmS),
        "throughput_per_s" -> thru, "op_p50_ms" -> p50, "visible_p50_ms" -> vis,
        "peak_rss_mb" -> Flows.rss(),
        "store_bytes_per_input_byte" -> w.storeBytes.toDouble / w.inputBytes)
      (Report.EndToEnd.map { case (k, u) => (k, m(k), u) }, Seq("figures" -> figures(w, rec)))
    } else {
      w.measure(untraced, seconds / 2)
      Tracer.reset()
      Tracer.enabled = true
      val gc0 = gcMs
      val t0 = Flows.nowMs
      w.measure(rec, seconds / 2)
      val wallMs = Flows.nowMs - t0
      Tracer.enabled = false
      val gc = gcMs - gc0
      val (spans, acc) = Tracer.snapshot()
      val counters = Tracer.counters ++ w.counters(rec)
      w.finalChecks(rec)
      val overhead = Stats.median(rec.timesOf(w.primary)) / Stats.median(untraced.timesOf(w.primary)) - 1
      val m = Report.layers(spans, acc, wallMs, cores, gc, counters) ++ Map(
        "trace.overhead_share" -> overhead,
        "failed_share" -> (rec.failed + untraced.failed).toDouble / (rec.attempted + untraced.attempted))
      (Report.PerLayer.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) },
        Seq("figures" -> figures(w, rec), "spans_ms" -> Report.spanTotals(spans)))
    }
    val detail = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "trace" -> trace.toString,
      "cores" -> cores.toString,
      "session_s" -> Json.num(sessionS), "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmS)) ++ extra ++ Seq(
      "failures" -> (untraced.failureNotes ++ rec.failureNotes).map(Json.str).mkString("[", ",", "]")))
    println(detail)
    val (attempted, failed) = (rec.attempted + untraced.attempted, rec.failed + untraced.failed)
    val correct = failed == 0
    println(resultLine(correct, attempted, failed, metrics))
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The build's training run: set every workload up and warm it once, so
    * that the JVM has loaded the classes a run needs when it dumps them into
    * the class-data-sharing archive at exit.
    */
  private def train(work: String): Unit = {
    val spark = Graft.localSession("perfbench", Runtime.getRuntime.availableProcessors())
    Seq("pipeline_batch", "corpus_cycle").foreach { name =>
      val w = workload(name, Ctx(spark, 1))
      w.setup(s"$work/$name")
      w.warmup()
    }
    spark.stop()
  }

  /** The workload's figures under their workload-specific names, with sample counts and
    * the tail percentile (highest with at least ten samples beyond it) of
    * every timed operation kind.
    */
  private def figures(w: Workload, rec: Recorder): String = {
    val named = w.figures(rec).map(f => f.name -> Json.obj(Seq(
      "value" -> Json.num(f.value), "unit" -> Json.str(f.unit), "samples" -> f.samples.toString)))
    val failed = "failed_share" -> Json.obj(Seq(
      "value" -> Json.num(rec.failed.toDouble / math.max(1L, rec.attempted)),
      "unit" -> Json.str("ratio"), "samples" -> rec.attempted.toString))
    val tails = (w.primary :+ "visible").flatMap { k =>
      val t = rec.times(k)
      Stats.tail(t).map { case (p, v) => s"${k}_tail" -> Json.obj(Seq(
        "percentile" -> Json.num(p), "value" -> Json.num(v), "unit" -> Json.str("ms"),
        "samples" -> t.length.toString))
      }
    }
    Json.obj(named ++ Seq(failed) ++ tails)
  }

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
}

/** Minimal JSON writer: values arrive already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a finite number")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
