package graft

import graft.store.{BatchStore, Ledger}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A parquet committer whose first task commit succeeds and every later
  * one throws: under the v2 committer the first task's files are already
  * in the job's output dir when the job fails — the torn write a staged
  * publish must keep invisible.
  */
class TornWriteCommitter(out: Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  override def commitTask(c: TaskAttemptContext): Unit =
    if (TornWriteCommitter.commits.getAndIncrement() == 0) super.commitTask(c)
    else throw new java.io.IOException("injected task-commit failure")
}

object TornWriteCommitter {
  val commits = new java.util.concurrent.atomic.AtomicInteger(0)
}

class BatchStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_batchstore_$tag").toString
  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  test("publish: a crashed write leaves only an invisible .staging-<id>; the replay lands") {
    val dir = s"${tmp("publish")}/half"
    BatchStore.publish(fs, dir, 0L)(Seq(1L, 2L).toDF("id").write.parquet(_))
    val crash = intercept[IllegalStateException] {
      BatchStore.publish(fs, dir, 1L) { staging =>
        Seq(3L).toDF("id").write.parquet(staging)
        throw new IllegalStateException("crash after the staged write")
      }
    }
    assert(crash.getMessage.contains("crash"))
    assert(fs.exists(new Path(s"$dir/.staging-1")), "the staged rows stay behind")
    assert(!fs.exists(new Path(s"$dir/batch=1")) && !Ledger.landed(fs, dir, 1L))
    assert(rows(spark.read.parquet(dir).select("id")) == Set("[1]", "[2]"),
      "readers must not see the staged rows")
    assert(BatchStore.dataIds(fs, dir) == Seq(0L))
    BatchStore.publish(fs, dir, 1L)(Seq(3L).toDF("id").write.parquet(_))
    assert(!fs.exists(new Path(s"$dir/.staging-1")), "the replay clears the staging dir")
    assert(Ledger.landed(fs, dir, 1L))
    assert(rows(spark.read.parquet(dir).select("id")) == Set("[1]", "[2]", "[3]"))
  }

  test("swap: reads go around the .prev window and recover heals it") {
    val dir = s"${tmp("swap")}/half"
    // a swap onto a half that does not exist yet just lands the staging
    BatchStore.replace(fs, dir, "t")(Seq(1L).toDF("id").write.parquet(_))
    assert(rows(spark.read.parquet(dir)) == Set("[1]"))
    val staging = BatchStore.stage(fs, dir, "t")(Seq(2L).toDF("id").write.parquet(_))
    assert(staging.getName == ".half-t" && rows(spark.read.parquet(dir)) == Set("[1]"))
    // crash between the two renames: only dir.prev holds the store
    assert(fs.rename(new Path(dir), new Path(s"$dir.prev")))
    assert(BatchStore.active(fs, dir) == s"$dir.prev")
    assert(rows(spark.read.parquet(BatchStore.active(fs, dir))) == Set("[1]"))
    BatchStore.recover(fs, dir)
    assert(fs.exists(new Path(dir)) && !fs.exists(new Path(s"$dir.prev")))
    assert(BatchStore.active(fs, dir) == dir)
    BatchStore.swap(fs, staging, dir)
    assert(rows(spark.read.parquet(dir)) == Set("[2]"))
    assert(!fs.exists(new Path(s"$dir.prev")) && !fs.exists(staging))
    assert(BatchStore.activeOpt(fs, s"${tmp("swap")}/none").isEmpty)
  }

  test("has data: marker-only and empty batch dirs are tombstones") {
    val dir = tmp("hasdata")
    BatchStore.publish(fs, dir, 1L)(Seq(1L).toDF("id").write.parquet(_))
    fs.mkdirs(new Path(s"$dir/batch=2"))
    BatchStore.writeFile(fs, new Path(s"$dir/batch=3/_SUCCESS"), "")
    BatchStore.writeFile(fs, new Path(s"$dir/batch=4/.part-0.crc"), "x")
    assert(BatchStore.hasData(fs, new Path(s"$dir/batch=1")))
    Seq(2, 3, 4).foreach(id => assert(!BatchStore.hasData(fs, new Path(s"$dir/batch=$id"))))
    assert(BatchStore.batchIds(fs, dir) == Seq(1L, 2L, 3L, 4L))
    assert(BatchStore.dataIds(fs, dir) == Seq(1L))
    assert(rows(BatchStore.readBatches(spark, fs, dir).get) == Set("[1,1]"))
    assert(BatchStore.batchIds(fs, s"$dir/missing").isEmpty)
  }

  test("liveness: strictly-greater retirement, and a retired key re-enters later") {
    val data = Seq((1L, "a", 1L), (2L, "b", 1L), (1L, "a2", 2L), (3L, "c", 2L),
      (1L, "a3", 4L)).toDF("doc_id", "v", "batch")
    // retirement 3 names doc 1; retirement 2 names doc 3 (published AT 2)
    val retired = Some(Seq((1L, 3L), (3L, 2L)).toDF("doc_id", "batch"))
    val alive = BatchStore.alive(data, retired, Seq("doc_id" -> "doc_id"))
      .select("v").as[String].collect().toSet
    // doc 1 dies at batches 1 and 2 (3 > k) and re-enters at 4; doc 3 at
    // batch 2 survives a retirement at the SAME id (strictly greater)
    assert(alive == Set("b", "c", "a3"))
    assert(BatchStore.alive(data, None, Seq("doc_id" -> "doc_id")).count() == 5)
    // composite keys must match on the same retirement row
    val comp = Seq((1L, "x", 0L), (1L, "y", 0L)).toDF("k1", "k2", "batch")
    val rk = Some(Seq((1L, "x", 1L)).toDF("k1", "k2", "batch"))
    assert(BatchStore.alive(comp, rk, Seq("k1" -> "k1", "k2" -> "k2"))
      .select("k2").as[String].collect().toSeq == Seq("y"))
  }

  /** Run `body` with every parquet write job failing after its first task
    * commit; returns the failure.
    */
  private def tornWrite(body: => Unit): Throwable = {
    val confs = Seq(
      "spark.sql.parquet.output.committer.class" -> classOf[TornWriteCommitter].getName,
      // several write tasks, so one commits before another fails
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    TornWriteCommitter.commits.set(0)
    try intercept[Exception](body)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("torn write jobs never publish: drift daily and live-count batches") {
    import graft.operators.Drift
    val events = (0 until 400).map(i => (s"m${i % 23}", i)).toDF("metric", "i")
    val day = 20000L
    val (torn, clean) = (tmp("torn_daily"), tmp("clean_daily"))
    tornWrite(Drift.appendDailyDriftCounts(events, $"metric", torn, day))
    assert(TornWriteCommitter.commits.get() >= 2, "the write job must fail after a task commit")
    assert(!fs.exists(new Path(s"$torn/days/batch=$day")), "a torn day must stay invisible")
    assert(!Ledger.landed(fs, s"$torn/days", day))
    assert(Drift.appendDailyDriftCounts(events, $"metric", torn, day), "the replay must land")
    assert(Drift.appendDailyDriftCounts(events, $"metric", clean, day))
    def dayCounts(p: String) = rows(spark.read.parquet(s"$p/days/batch=$day"))
    assert(dayCounts(torn) == dayCounts(clean) && dayCounts(clean).size == 23)

    val feats = Seq("metric" -> $"metric")
    val base = events.filter($"i" < 200)
    val (tornLive, cleanLive) = (tmp("torn_live"), tmp("clean_live"))
    Seq(tornLive, cleanLive).foreach(Drift.buildDriftStore(base, feats, _))
    tornWrite(Drift.appendDriftCounts(events, feats, tornLive, 1L))
    assert(TornWriteCommitter.commits.get() >= 2, "the write job must fail after a task commit")
    assert(!fs.exists(new Path(s"$tornLive/cur/batch=1")) &&
      !Ledger.landed(fs, s"$tornLive/cur", 1L))
    assert(Drift.appendDriftCounts(events, feats, tornLive, 1L))
    assert(Drift.appendDriftCounts(events, feats, cleanLive, 1L))
    assert(rows(Drift.psiFromStore(spark, tornLive)) == rows(Drift.psiFromStore(spark, cleanLive)))
  }

  test("torn builds never publish: drift, daily drift, DSIR and decontamination stores") {
    import graft.dedup.Dedup
    import graft.operators.Drift
    import graft.text.TextOps
    val docs = (0 until 400).map(i => (i.toLong, s"w${i % 37} w${i % 11} w${i % 5} w${i % 3}",
      s"m${i % 23}", i % 5)).toDF("doc_id", "text", "metric", "d")
    val feats = Seq("metric" -> $"metric")
    // builder, the halves whose batches it lands, a read of the built store
    val builds: Seq[(String => Unit, Seq[String], String => DataFrame)] = Seq(
      (Drift.buildDriftStore(docs, feats, _), Seq("base", "cur"), Drift.psiFromStore(spark, _)),
      (Drift.buildDailyDriftStore(docs, date_add(lit("2024-01-01").cast("date"), $"d"),
        $"metric", _), Seq("days"), p => spark.read.parquet(s"$p/days")),
      (TextOps.saveDsir(docs, $"d" === 0, 1 << 10, _), Seq("buckets"),
        p => spark.read.parquet(s"$p/buckets")),
      (Dedup.buildDecontamStore(docs, _, m = 1 << 12), Seq("shingles", "words"),
        p => spark.read.parquet(s"$p/shingles").crossJoin(spark.read.parquet(s"$p/words")
          .agg(count(lit(1)).as("n_words"), sum($"word").as("bits")))))
    for ((build, halves, read) <- builds) {
      val (torn, clean) = (tmp("torn_build"), tmp("clean_build"))
      tornWrite(build(torn))
      assert(TornWriteCommitter.commits.get() >= 2, "the write job must fail after a task commit")
      // readers skip dot-prefixed entries: only the others are published
      for (h <- halves) {
        val published = (try fs.listStatus(new Path(s"$torn/$h")).toSeq
          catch { case _: java.io.FileNotFoundException => Seq.empty })
          .map(_.getPath.getName).filterNot(_.startsWith("."))
        assert(published.isEmpty, s"a torn build published $published under $torn/$h")
      }
      build(torn)
      build(clean)
      assert(rows(read(torn)) == rows(read(clean)) && rows(read(clean)).nonEmpty)
    }
  }
}
