package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Ctx(spark: SparkSession, seed: Long)

/** An end-to-end figure in the units a user of that workload sees. */
final case class Figure(name: String, value: Double, unit: String, samples: Int)

/** One benchmark workload. `setup` may run several times (each call starts
  * over in a fresh directory, with the same seed); the last one is kept.
  */
trait Workload {
  def setup(dir: String): Unit
  /** Run the operations once untimed, so JIT and codegen caches are warm. */
  def warmup(): Unit
  /** Issue operations until `seconds` have passed. */
  def measure(rec: Recorder, seconds: Double): Unit
  /** Checks on the final state of the stores. */
  def finalChecks(rec: Recorder): Unit
  /** The operation kinds whose latency is the workload's headline. */
  def primary: Seq[String]
  /** (items per second, median primary ms, median write-to-visible ms). */
  def generic(rec: Recorder): (Double, Double, Double)
  /** The workload's figures under their workload-specific names, with sample counts. */
  def figures(rec: Recorder): Seq[Figure]
  def inputBytes: Long
  def storeBytes: Long
  /** Layer counters (rows in, pairs found, ...) over the operations `rec`
    * recorded, for the traced report.
    */
  def counters(rec: Recorder): Map[String, Double] = Map.empty
}

object Flows {
  val Keys: Seq[String] = Seq("source_id", "ts", "metric")

  def writeLines(path: String, lines: Seq[String]): Long = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.asJava)
    Files.size(p)
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach((f: Path) => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** Parquet files per leaf partition directory of a store. */
  def filesPerPartition(path: String): Double = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return 0.0
    val s = Files.walk(p)
    val files = try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toList finally s.close()
    val dirs = files.map(_.getParent).distinct
    if (dirs.isEmpty) 0.0 else files.length.toDouble / dirs.length
  }

  /** An events CSV, through the engine's tolerant reader and
    * column resolution, as the (ts_raw, value_raw, metric_raw) frame
    * `Ingest.cleanRows` takes.
    */
  def rawEvents(spark: SparkSession, csv: String): DataFrame = {
    val raw = graft.ingest.Ingest.readCsvTolerant(spark, csv)
    val c = graft.ingest.Ingest.resolveColumns(raw)
    raw.select(col("source").cast("long").as("source_id"),
      col(c("ts").get).as("ts_raw"), col(c("value").get).as("value_raw"),
      col(c("metric").get).as("metric_raw"), col("seq").cast("long").as("seq"))
  }

  /** Clean rows ready for the clean_events store. */
  def validRows(cleaned: DataFrame): DataFrame =
    cleaned.filter(col("warn").isNull)
      .select(col("source_id"), col("ts"), col("metric"), col("value"), col("seq"))

  def rss(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) Runtime.getRuntime.totalMemory() / 1048576.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def nowMs: Double = System.nanoTime() / 1e6

  /** Repeat `step` while the next one, taking as long as the slowest so
    * far, would still end within `seconds`; at least once.
    */
  def repeatWithin(seconds: Double)(step: => Unit): Unit = {
    val end = nowMs + seconds * 1000
    var slowest = 0.0
    do {
      val t0 = nowMs
      step
      slowest = math.max(slowest, nowMs - t0)
    } while (nowMs + slowest <= end)
  }
}
