package graft

import graft.store.Store
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def events(days: Int) = (0 until days).flatMap { d =>
    (0 until 3).map(h =>
      (1L, java.sql.Timestamp.valueOf(s"2025-09-${"%02d".format(d + 1)} 0$h:00:00"), "m", 1.0 + d))
  }.toDF("source_id", "ts", "metric", "value")

  test("date-partitioned clean store prunes partitions on date filters") {
    val path = Files.createTempDirectory("graft_store").toString + "/clean"
    Store.writeCleanEvents(events(5), path)
    val filtered = Store.readCleanEvents(spark, path)
      .filter(col("event_date") === "2025-09-03")
    assert(Store.prunesPartitions(filtered), "date filter must reach PartitionFilters")
    assert(filtered.count() == 3)
  }

  test("compaction merges small-file partitions, preserves data, skips healthy ones") {
    val path = Files.createTempDirectory("graft_store3").toString + "/clean"
    // 4 appends => 4+ files per date partition (micro-batch debris)
    (0 until 4).foreach(_ => Store.writeCleanEvents(events(2), path))
    val statsBefore = Store.partitionFileStats(spark, path)
    assert(statsBefore.forall(_._2 >= 4), s"expected small-file debris: $statsBefore")
    val beforeRows = Store.readCleanEvents(spark, path)
      .select("source_id", "ts", "metric", "value").collect().map(_.toString).sorted
    val compacted = Store.compactCleanEvents(spark, path)
    assert(compacted.toSet == Set("2025-09-01", "2025-09-02"))
    val statsAfter = Store.partitionFileStats(spark, path)
    assert(statsAfter.forall(_._2 == 1), s"one file per date after compaction: $statsAfter")
    val afterRows = Store.readCleanEvents(spark, path)
      .select("source_id", "ts", "metric", "value").collect().map(_.toString).sorted
    assert(afterRows.sameElements(beforeRows), "compaction must not change the data")
    // second pass: nothing left to compact
    assert(Store.compactCleanEvents(spark, path).isEmpty)
  }

  test("co-bucketed tables join without a shuffle") {
    // saveAsTable writes under spark.sql.warehouse.dir; a fresh JVM's
    // in-memory catalog forgets the table but the directory persists, so
    // clear both before writing to keep the test rerunnable
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("bkt_a", "bkt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete())
        dir.delete()
      }
    }
    val a = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "av")
    val b = (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("k", "bv")
    Store.writeBucketed(a, "bkt_a", "k", numBuckets = 8)
    Store.writeBucketed(b, "bkt_b", "k", numBuckets = 8)
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-bucketed join must not shuffle:\n$plan")
    assert(joined.count() == 200)
  }

  test("two-level layout: date partitions prune AND bucket-keyed agg avoids the shuffle") {
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    spark.sql("DROP TABLE IF EXISTS clean_bkt")
    val dir = new java.io.File(wh, "clean_bkt")
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
    val ev = (0 until 4).flatMap { d =>
      (1 to 50).map(s =>
        (s.toLong, java.sql.Timestamp.valueOf(s"2025-09-${"%02d".format(d + 1)} 01:00:00"), "m", 1.0))
    }.toDF("source_id", "ts", "metric", "value")
    Store.writeCleanEventsBucketed(ev, "clean_bkt", numBuckets = 8)
    // date filter prunes partitions
    val byDate = spark.table("clean_bkt").filter(col("event_date") === "2025-09-02")
    assert(Store.prunesPartitions(byDate), "date filter must reach PartitionFilters")
    assert(byDate.count() == 50)
    // an aggregation on the bucket key needs no exchange before the agg
    val agg = spark.table("clean_bkt").groupBy("source_id").agg(sum("value"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucket-keyed aggregation must not shuffle:\n$plan")
    assert(agg.count() == 50)
  }

  test("range-clustered layout: the same filter decodes >= 4x fewer rows than unclustered") {
    val base = Files.createTempDirectory("graft_cluster").toString
    val rows = (1 to 100000).map(i => ((i * 7919) % 100000, s"payload_$i"))
      .toDF("value", "payload")
    // same file count both layouts — only the VALUE->file mapping differs
    rows.repartition(8).write.mode("overwrite").parquet(s"$base/plain")
    Store.writeRangeClustered(rows, s"$base/clustered", "value", numFiles = 8)
    def filtered(p: String) = spark.read.parquet(p)
      .filter(col("value") >= 40000 && col("value") < 42000)
    // correctness first: identical answers from both layouts
    assert(filtered(s"$base/plain").count() == 2000L)
    assert(filtered(s"$base/clustered").count() == 2000L)
    // the evidence: clustered row-group stats line up with the range, so
    // the scan delivers ~1 file's rows; the plain layout decodes everything
    val plainRows = Store.scanOutputRows(filtered(s"$base/plain"))
    val clusteredRows = Store.scanOutputRows(filtered(s"$base/clustered"))
    assert(plainRows >= 50000L,
      s"unclustered scan should decode most rows, got $plainRows")
    assert(clusteredRows * 4 <= plainRows,
      s"clustered scan must skip >= 4x ($clusteredRows vs $plainRows)")
  }

  test("z-ordered layout skips on BOTH columns; linear sort only on its own") {
    val base = Files.createTempDirectory("graft_zorder").toString
    // two independent pseudo-uniform columns: the adversarial case for a
    // linear sort (sorting on a randomizes b completely)
    val rows = (1 to 100000).map(i =>
      ((i.toLong * 7919L) % 100000L, (i.toLong * 104729L) % 100000L, s"payload_$i"))
      .toDF("a", "b", "payload")
    rows.repartition(32).write.mode("overwrite").parquet(s"$base/plain")
    Store.writeRangeClustered(rows, s"$base/lin_a", "a", numFiles = 32)
    Store.writeZOrdered(rows, s"$base/zorder", "a", "b", numFiles = 32)
    def filt(p: String, c: String) = spark.read.parquet(p)
      .filter(col(c) >= 40000 && col(c) < 45000)
    // correctness: every layout answers identically
    for (layout <- Seq("plain", "lin_a", "zorder"); c <- Seq("a", "b"))
      assert(filt(s"$base/$layout", c).count() == 5000L, s"$layout/$c")
    val zA = Store.scanOutputRows(filt(s"$base/zorder", "a"))
    val zB = Store.scanOutputRows(filt(s"$base/zorder", "b"))
    val linA = Store.scanOutputRows(filt(s"$base/lin_a", "a"))
    val linB = Store.scanOutputRows(filt(s"$base/lin_a", "b"))
    val plainA = Store.scanOutputRows(filt(s"$base/plain", "a"))
    // the linear sort is perfect on its own column and useless off it
    assert(linA * 4 <= plainA, s"linear layout must skip on a ($linA vs $plainA)")
    assert(linB >= 90000L, s"linear layout can't skip on b, got $linB")
    // the curve skips on BOTH: >= 2x vs the unclustered/off-column scans
    assert(zA * 2 <= plainA, s"z-order must skip on a ($zA vs $plainA)")
    assert(zB * 2 <= linB, s"z-order must skip on b ($zB vs $linB)")
  }

  test("dynamic partition overwrite touches only recomputed dates") {
    val base = Files.createTempDirectory("graft_store2").toString + "/md"
    val v1 = Seq(
      (java.sql.Date.valueOf("2025-09-01"), 1L, "m", 10.0),
      (java.sql.Date.valueOf("2025-09-02"), 1L, "m", 20.0))
      .toDF("metric_date", "source_id", "metric", "value_sum")
    Store.overwriteMetricDaily(v1, base)
    // recompute only 09-02 with a new value; 09-01 must survive
    val v2 = Seq((java.sql.Date.valueOf("2025-09-02"), 1L, "m", 99.0))
      .toDF("metric_date", "source_id", "metric", "value_sum")
    Store.overwriteMetricDaily(v2, base)
    val out = spark.read.parquet(base).orderBy("metric_date").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("value_sum") == 10.0)
    assert(out(1).getAs[Double]("value_sum") == 99.0)
  }

  test("overwriteMetricDaily is dynamic per write: the session conf stays untouched") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    val base = Files.createTempDirectory("graft_store3").toString + "/md"
    def day(d: String, v: Double) = (java.sql.Date.valueOf(d), 1L, "m", v)
    Store.overwriteMetricDaily(Seq(day("2025-09-01", 1.0), day("2025-09-02", 2.0), day("2025-09-03", 3.0))
      .toDF("metric_date", "source_id", "metric", "value_sum"), base)
    // every job of the rewrite carries the session's SQL confs as local
    // properties: none may see the mode set on the session
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Store.overwriteMetricDaily(Seq(day("2025-09-02", 20.0)).toDF("metric_date", "source_id", "metric",
        "value_sum"), base)
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(seen.isEmpty, s"a job of the write saw $key in the session conf: $seen")
    assert(spark.conf.getOption(key) == before)
    val out = spark.read.parquet(base).orderBy("metric_date").collect()
      .map(r => r.getAs[java.sql.Date]("metric_date").toString -> r.getAs[Double]("value_sum")).toSeq
    assert(out == Seq("2025-09-01" -> 1.0, "2025-09-02" -> 20.0, "2025-09-03" -> 3.0),
      "partitions absent from the write must survive it")
  }
}
