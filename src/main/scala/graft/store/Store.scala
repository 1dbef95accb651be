package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table layout for the persistent stores (SURVEY.md §4: the reference's
  * secondary indexes map to partition layout + parquet min/max skipping).
  *
  * clean_events partitions by event date: date-range queries prune whole
  * partitions before any I/O (the `PartitionFilters` line in the plan), and
  * the daily KPI recompute overwrites exactly the touched date partitions
  * (dynamic partition overwrite) — the Spark-native equivalent of the
  * reference's keyed upserts. At 100 TB add a second level (e.g. bucket by
  * source_id) so per-source scans prune further; the API stays the same.
  */
object Store {

  /** Append clean events, partitioned by UTC event date. */
  def writeCleanEvents(events: DataFrame, path: String): Unit =
    events.withColumn("event_date", to_date(col("ts")))
      .write.mode("append").partitionBy("event_date").parquet(path)

  def readCleanEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Overwrite only the partitions present in `metricDaily` (dynamic mode). */
  def overwriteMetricDaily(metricDaily: DataFrame, path: String): Unit =
    overwritePartitions(metricDaily, path, "metric_date")

  /** True when a date-filtered scan of `df` prunes partitions (plan audit). */
  def prunesPartitions(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains("PartitionFilters: [") && !l.contains("PartitionFilters: []"))

  /** Per-date-partition parquet file stats: (event_date, n_files, bytes).
    * Drives [[compactCleanEvents]]' partition selection.
    */
  def partitionFileStats(spark: SparkSession, path: String): Seq[(String, Int, Long)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("event_date="))
      .map { dir =>
        val files = fs.listStatus(dir.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        (dir.getPath.getName.stripPrefix("event_date="), files.length, files.map(_.getLen).sum)
      }
  }

  /** Compact the small-file debris a micro-batch append sink accumulates
    * (one file per trigger per date): rewrite every date partition whose
    * file count exceeds what its byte size justifies at `targetBytes` per
    * file, using ONE job with a shuffle keyed on the partition column (each
    * date lands in one task => one output file; oversized dates split via
    * `spark.sql.files.maxRecordsPerFile` if set). Dynamic partition overwrite
    * replaces only the compacted dates; untouched dates keep their files.
    * The rewrite materializes (local checkpoint) before overwriting because
    * Spark refuses to overwrite a path it is concurrently reading — on a
    * real cluster swap this for a temp-dir write + atomic rename.
    * Returns the compacted date strings.
    */
  def compactCleanEvents(spark: SparkSession, path: String,
                         targetBytes: Long = 128L << 20): Seq[String] = {
    val todo = partitionFileStats(spark, path).collect {
      case (date, nFiles, bytes)
        if nFiles > math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt) => date
    }
    if (todo.nonEmpty) {
      val compacted = readCleanEvents(spark, path)
        .filter(col("event_date").cast("string").isin(todo: _*))
        .repartition(todo.length, col("event_date"))
        .localCheckpoint(true)
      overwritePartitions(compacted, path, "event_date")
    }
    todo
  }

  /** Write a table bucketed (and sorted) on the join key: two tables
    * bucketed the same way join WITHOUT a shuffle — each bucket pair joins
    * locally. At 100 TB this turns every recurring fact-fact join on the
    * bucketing key into a scan-side merge; the one-time bucketing shuffle
    * is paid at write time instead of on every query.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** Two-level clean-events layout: date partitions (range pruning) PLUS
    * source_id buckets inside each date (hash pruning + shuffle-free joins
    * and aggregations on the bucket key). This is the SURVEY §4 "secondary
    * index" at 100 TB: a per-source scan prunes to (dates x 1 bucket), and
    * recurring source-keyed joins read co-located buckets instead of
    * shuffling the fact table. Catalog-backed (`saveAsTable`) because bucket
    * metadata lives in the table catalog, not the directory layout.
    */
  def writeCleanEventsBucketed(events: DataFrame, table: String,
                               numBuckets: Int = 32): Unit =
    events.withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .bucketBy(numBuckets, "source_id").sortBy("source_id")
      .format("parquet").saveAsTable(table)

  /** Range-clustered rewrite: lay the table out globally sorted on the ONE
    * hot filter column (`repartitionByRange` + in-partition sort), so each
    * output file covers a DISJOINT value range and parquet footer min/max
    * stats line up with range predicates — the scan then skips whole row
    * groups before decoding a byte. This is the third layout lever next to
    * date partitions (categorical/range pruning at PLAN time) and buckets
    * (join/agg co-location): clustering prunes at READ time on a continuous
    * column partitioning would explode into millions of directories.
    * At 100 TB: cluster each date partition by the hot measure once at
    * compaction time; the write-side sort is paid once, every range scan
    * after it reads only the overlapping files. Measure the effect with
    * [[scanOutputRows]] — the StoreSpec case pins it to >= 4x.
    */
  def writeRangeClustered(df: DataFrame, path: String, sortCol: String,
                          numFiles: Int = 32): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Morton (Z-order) key: interleave the low `bits` bits of two bucket
    * ids, a's bit i at position 2i, b's at 2i+1 — a space-filling curve, so
    * rows close in EITHER dimension stay close in the one-dimensional sort
    * order. Pure bit arithmetic, codegen-friendly, no UDF.
    */
  def mortonKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                bits: Int): org.apache.spark.sql.Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(
          shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(
          shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-order-clustered rewrite: lay the table out along a Morton curve over
    * TWO hot filter columns. [[writeRangeClustered]]'s linear sort makes
    * min/max skipping perfect on its one column and useless on every other;
    * the Z-curve trades a little of that to make BOTH columns skippable —
    * with 2k files, a narrow filter on either column overlaps only
    * ~sqrt-proportionally many files' min/max ranges (the Delta/Iceberg
    * OPTIMIZE ZORDER layout, rebuilt on plain parquet).
    *
    * Bucketization is uniform `width_bucket` over the observed min/max (one
    * bounded stats pass); at 100 TB swap in approx-quantile boundaries for
    * heavy skew — the curve math is unchanged. The write-side sort is paid
    * once at compaction time, like the range-clustered path.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int = 32, bits: Int = 10): Unit = {
    val s = df.agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    if (s.isNullAt(0)) { // empty input: no stats to bucket on — write as-is
      df.write.mode("overwrite").parquet(path)
      return
    }
    val n = 1 << bits
    def bucket(c: String, lo: Double, hi: Double) =
      if (lo == hi) lit(0L)
      else least(greatest(width_bucket(col(c).cast("double"), lit(lo), lit(hi),
        lit(n)) - 1, lit(0L)), lit((n - 1).toLong))
    val z = mortonKey(bucket(colA, s.getDouble(0), s.getDouble(1)),
      bucket(colB, s.getDouble(2), s.getDouble(3)), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z") // projection after the sort: file order is preserved
      .write.mode("overwrite").parquet(path)
  }

  /** Rows the parquet scans actually DELIVERED for `df`'s plan — i.e. what
    * survived row-group min/max skipping, measured from the executed scan
    * nodes' own metrics (runs the plan). The ratio of this number between a
    * [[writeRangeClustered]] layout and an unclustered one under the same
    * range filter is the I/O-skipping evidence a layout claim needs —
    * `PushedFilters` in the plan text only proves the filter was OFFERED
    * to the reader, not that any byte was skipped.
    */
  def scanOutputRows(df: DataFrame): Long = {
    val qe = df.queryExecution
    qe.toRdd.count()
    qe.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
  }

  /** Overwrite only the `partCol` partitions present in `df`: dynamic
    * partition overwrite as a per-write option, so the shared session conf
    * stays untouched and a concurrent writer in the same session never sees
    * (or loses) this write's mode.
    */
  private[graft] def overwritePartitions(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
}
