package graft

import graft.ingest.Ingest
import graft.multimodal.Multimodal
import graft.operators.DailyKpi
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IngestStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("tolerant CSV read drops fully-blank rows, resolves fuzzy columns") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "in.csv")
    java.nio.file.Files.writeString(f.toPath,
      "Timestamp,Amount,Name\n2025-07-13,100,events_total\n,,\n2025-07-14,101,events_total\n")
    val df = Ingest.readCsvTolerant(spark, f.getAbsolutePath)
    assert(df.count() == 2)
    val resolved = Ingest.resolveColumns(df)
    assert(resolved("ts").contains("Timestamp"))
    assert(resolved("value").contains("Amount"))
    assert(resolved("metric").contains("Name"))
  }

  test("NDJSON read surfaces bad lines as corrupt records") {
    val dir = Files.createTempDirectory("graft_json").toFile
    val f = new java.io.File(dir, "in.ndjson")
    java.nio.file.Files.writeString(f.toPath,
      """{"timestamp":"2025-09-20T00:00:00Z","value":5}""" + "\n" +
        "this is not json\n" +
        """{"timestamp":"2025-09-21T00:00:00Z","value":7}""" + "\n")
    // Spark disallows querying only the corrupt-record column — materialize
    // full rows first (the real pipeline caches the parsed batch anyway).
    val rows = Ingest.readJsonTolerant(spark, f.getAbsolutePath).collect()
    assert(rows.length == 3)
    assert(rows.count(r => !r.isNullAt(r.fieldIndex("_corrupt_record"))) == 1)
  }

  test("cleanRows: coercion failures produce warnings, metric defaults") {
    val raw = Seq(
      ("2025-07-13 00:00:00", "4", null.asInstanceOf[String]),
      ("not-a-date", "5", "m"),
      ("2025-07-14 00:00:00", "junk", "m"))
      .toDF("ts_raw", "value_raw", "metric_raw")
    val out = Ingest.cleanRows(raw).collect()
    assert(out(0).isNullAt(out(0).fieldIndex("warn")) && out(0).getAs[String]("metric") == "events_total")
    assert(out(1).getAs[String]("warn") == "invalid_timestamp")
    assert(out(2).getAs[String]("warn") == "invalid_value")
  }

  test("warningsSummary caps distinct reasons and counts per reason") {
    val raw = Seq(
      ("bad", "1", "m"), ("bad2", "2", "m"), ("2025-07-13 00:00:00", "junk", "m"),
      ("2025-07-13 00:00:00", "4", "m"))
      .toDF("ts_raw", "value_raw", "metric_raw")
    val w = Ingest.warningsSummary(Ingest.cleanRows(raw)).collect()
    assert(w.map(r => r.getAs[String]("warn") -> r.getAs[Long]("n")).toMap ==
      Map("invalid_timestamp" -> 2L, "invalid_value" -> 1L))
    assert(Ingest.warningsSummary(Ingest.cleanRows(raw), cap = 1).count() == 1)
  }

  test("dedupInsert: first write wins within batch and against store") {
    val t0 = java.sql.Timestamp.valueOf("2025-07-13 00:00:00")
    val batch = Seq((1L, t0, "m", 10.0, 1L), (1L, t0, "m", 99.0, 2L))
      .toDF("source_id", "ts", "metric", "value", "arrival")
    val store = Seq((2L, t0, "m", 5.0, 0L))
      .toDF("source_id", "ts", "metric", "value", "arrival")
    val out = Ingest.dedupInsert(batch, Some(store), Seq("source_id", "ts", "metric"), "arrival")
    assert(out.count() == 1 && out.select("value").as[Double].head() == 10.0)
    val out2 = Ingest.dedupInsert(
      batch.unionByName(store), Some(store), Seq("source_id", "ts", "metric"), "arrival")
    assert(out2.count() == 1) // store row excluded by anti-join
  }

  test("streaming ingestAndRefresh reproduces batch KPI aggregation") {
    val base = Files.createTempDirectory("graft_stream").toString
    val in = s"$base/in"; val cleanStore = s"$base/clean"; val kpi = s"$base/kpi"
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2025-09-20 01:00:00"), "events_total", 4.0),
      (1L, java.sql.Timestamp.valueOf("2025-09-20 02:00:00"), "events_total", 5.0),
      (1L, java.sql.Timestamp.valueOf("2025-09-21 01:00:00"), "events_total", 7.0),
      (1L, java.sql.Timestamp.valueOf("2025-09-20 01:00:00"), "events_total", 4.0)) // dup key
      .toDF("source_id", "ts", "metric", "value")
    events.write.mode("overwrite").parquet(in)
    val q = StreamingPipeline.ingestAndRefresh(
      StreamingPipeline.readEventStream(spark, in), cleanStore, kpi, s"$base/ckpt").start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(kpi).orderBy("metric_date").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Double]("value_sum") == 9.0 && got(0).getAs[Long]("value_count") == 2L)
    assert(got(1).getAs[Double]("value_sum") == 7.0)

    // incremental batch: only 09-21 is touched; 09-20 aggregates must survive
    Seq((1L, java.sql.Timestamp.valueOf("2025-09-21 05:00:00"), "events_total", 3.0))
      .toDF("source_id", "ts", "metric", "value")
      .write.mode("append").parquet(in)
    val q2 = StreamingPipeline.ingestAndRefresh(
      StreamingPipeline.readEventStream(spark, in), cleanStore, kpi, s"$base/ckpt").start()
    q2.awaitTermination(60000)
    val got2 = spark.read.parquet(kpi).orderBy("metric_date").collect()
    assert(got2.length == 2)
    assert(got2(0).getAs[Double]("value_sum") == 9.0, "untouched date must survive the refresh")
    assert(got2(1).getAs[Double]("value_sum") == 10.0, "touched date recomputed with the new event")
  }

  test("ingestAndRefresh fails on an unreadable clean store instead of re-ingesting its keys") {
    val base = Files.createTempDirectory("graft_stream_bad").toString
    val in = s"$base/in"; val cleanStore = s"$base/clean"
    val event = Seq((1L, java.sql.Timestamp.valueOf("2025-09-20 01:00:00"), "events_total", 4.0))
      .toDF("source_id", "ts", "metric", "value")
    def run() = StreamingPipeline.ingestAndRefresh(
      StreamingPipeline.readEventStream(spark, in), cleanStore, s"$base/kpi", s"$base/ckpt")
      .start().awaitTermination(60000)
    event.write.parquet(in)
    run()
    // a part file that is not parquet, larger than the real one, so even a
    // one-row probe of the store (Spark reads the largest file first) hits it
    val bad = java.nio.file.Paths.get(cleanStore, "event_date=2025-09-20",
      "part-99999-unreadable.snappy.parquet")
    Files.writeString(bad, "not parquet " * 8192)
    event.write.mode("append").parquet(in) // the stored key again
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    Files.delete(bad)
    assert(spark.read.parquet(cleanStore).count() == 1L,
      "a store that cannot be read must fail the batch, not be taken as empty")
  }

  test("streaming dedup drops within-watermark duplicates with bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_micros
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Double)] // (source, ts_us, metric, value)
    val events = input.toDF()
      .select(col("_1").as("source_id"), timestamp_micros(col("_2")).as("ts"),
        col("_3").as("metric"), col("_4").as("value"))
    val q = StreamingPipeline.dedupStream(events).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      val h = 3600L * 1000000
      input.addData((1L, h, "m", 1.0), (1L, h, "m", 2.0), (2L, h, "m", 3.0))
      q.processAllAvailable()
      // same-batch duplicate key dropped, first occurrence kept
      assert(spark.table("dedup_out").count() == 2)
      input.addData((1L, h, "m", 4.0), (1L, h + 1, "m", 5.0)) // cross-batch dup + new key
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select("source_id", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((1L, 1.0), (2L, 3.0), (1L, 5.0)), s"got $rows")
    } finally q.stop()
  }

  test("streaming minhash dedup store: restart + replay match the batch miner bit-identically") {
    import graft.dedup.Dedup
    val base = Files.createTempDirectory("graft_mhd").toString
    val in = s"$base/in"; val store = s"$base/store"
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text about spark incremental dedup stores"),
      (4L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (5L, "the quick brown fox jumps over the lazy dog today"),
      (6L, "completely different text about spark incremental dedup stores"),
      (7L, "unrelated corpus row carrying no shared shingles at all here")
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("doc_a"), col("doc_b"), col("jaccard"))
        .collect().map(_.toString).sorted.toSeq
    b1.write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.minhashDedupBatch(store)).start()
    q1.awaitTermination(60000)
    // restart from the same checkpoint with a second delivery: cross-batch
    // dups (5 of 1/2, 6 of 3) must surface against the HISTORICAL buckets
    b2.write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.minhashDedupBatch(store)).start()
    q2.awaitTermination(60000)
    val batchPairs = canon(Dedup.minhashLshPairs(
      Dedup.wordShingles(b1.unionByName(b2), 3), numPerms = 16, bands = 4,
      threshold = 0.8, maxBucket = Int.MaxValue))
    val streamed = canon(spark.read.parquet(s"$store/pairs"))
    assert(streamed == batchPairs,
      "incremental pair store == uncapped batch miner over the unioned corpus")
    val pairsSet = spark.read.parquet(s"$store/pairs")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((1L, 2L), (1L, 5L), (2L, 5L), (3L, 6L)).subsetOf(pairsSet),
      s"expected exact-dup pairs missing: $pairsSet")

    // crash recovery: replayed batch ids are no-ops (the _batches ledger),
    // and a re-sent doc under a NEW batch id is also a no-op (doc-id
    // idempotency) — neither may duplicate pairs or store rows
    val store2 = s"$base/store2"
    val body = StreamingPipeline.minhashDedupBatch(store2) _
    body(b1, 0L)
    body(b1, 0L) // replayed id
    body(b2, 1L)
    body(b2, 1L) // replayed id
    body(b1, 2L) // re-sent docs, fresh id
    assert(canon(spark.read.parquet(s"$store2/pairs")) == batchPairs,
      "replays and re-sent docs must not change the pair store")
    assert(spark.read.parquet(s"$store2/sets").count() == 7L,
      "one sets row per distinct doc")

    // small-files maintenance: compaction preserves pairs, sets, and the
    // append ledger (replays stay refused), and a post-compaction batch
    // still dedups against the compacted history
    assert(StreamingPipeline.compactMinhashStore(spark, store2) > 0)
    assert(canon(spark.read.parquet(s"$store2/pairs")) == batchPairs,
      "compaction changed the pair store")
    assert(spark.read.parquet(s"$store2/sets").count() == 7L)
    body(b1, 0L) // replay of a compacted id
    assert(canon(spark.read.parquet(s"$store2/pairs")) == batchPairs,
      "replay of a compacted batch id must stay a no-op")
    body(b1, 3L) // re-sent docs after compaction: doc-id idempotency holds
    assert(canon(spark.read.parquet(s"$store2/pairs")) == batchPairs)
    assert(spark.read.parquet(s"$store2/sets").count() == 7L)
  }

  test("streaming dsir store: restart + replay keep scoring == the monolithic fit") {
    import graft.text.TextOps
    val base = Files.createTempDirectory("graft_dsirstream").toString
    val in = s"$base/in"; val store = s"$base/dsir"
    def df(rows: Seq[(Long, String, String)]) = rows.toDF("doc_id", "text", "lang")
    val prefix = df(Seq((0L, "alpha beta gamma", "en"), (1L, "noise one two", "de")))
    val b1 = df(Seq((2L, "alpha alpha beta", "en"), (3L, "noise three four", "fr")))
    val b2 = df(Seq((4L, "beta gamma gamma", "en"), (5L, "five noise six", "zh")))
    val isT = col("lang") === "en"
    TextOps.saveDsir(prefix, isT, m = 256, store)
    def drain(): Unit = StreamingPipeline.maintain(
        StreamingPipeline.readColumnsStream(spark, in,
          "doc_id LONG, text STRING, lang STRING"), s"$base/ck")(
        StreamingPipeline.dsirAppendBatch(store, isT))
      .start().awaitTermination(60000)
    b1.write.mode("overwrite").parquet(in)
    drain()
    // restart on the same checkpoint with a second delivery: only the new
    // files may land, under fresh batch ids
    b2.write.mode("append").parquet(in)
    drain()
    val all = prefix.unionByName(b1).unionByName(b2)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    val fresh = canon(TextOps.dsirSample(TextOps.dsirScore(all,
      TextOps.dsirBucketLlr(all.filter(isT), all, m = 256), m = 256)))
    assert(canon(TextOps.scoreWithDsir(all, store)) == fresh,
      "stream-grown store must score like the monolithic fit")
    // crash recovery: a foreachBatch replay of an already-committed batch
    // id is a no-op (the buckets/batch=<id+1> commit marker)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(store),
      spark.sparkContext.hadoopConfiguration)
    val landed = fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/buckets"))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).filter(_ >= 1L)
    assert(landed.nonEmpty)
    StreamingPipeline.dsirAppendBatch(store, isT)(b2, landed.max - 1)
    assert(canon(TextOps.scoreWithDsir(all, store)) == fresh,
      "replayed batch id must not double-count")
  }

  test("minhash store retirement: tombstone liveness, resurrection, physical compaction") {
    import graft.dedup.Dedup
    val base = Files.createTempDirectory("graft_mh_ret").toString
    val store = s"$base/store"
    val d1 = (1L, "the quick brown fox jumps over the lazy dog every day")
    val d2 = (2L, "the quick brown fox jumps over the lazy dog every day")
    val d3 = (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val d4 = (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val d3new = (3L, "the quick brown fox jumps over the lazy dog every night")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("doc_a"), col("doc_b"), col("jaccard"))
        .collect().map(_.toString).sorted.toSeq
    def mine(rows: Seq[(Long, String)]): Seq[String] =
      canon(Dedup.minhashLshPairs(Dedup.wordShingles(rows.toDF("doc_id", "text"), 3),
        numPerms = 16, bands = 4, threshold = 0.8, maxBucket = Int.MaxValue))
    val body = StreamingPipeline.minhashDedupBatch(store) _
    body(Seq(d1, d2, d3, d4).toDF("doc_id", "text"), 0L)
    assert(canon(StreamingPipeline.readDedupPairs(spark, store)) ==
      mine(Seq(d1, d2, d3, d4)), "baseline pairs before any retirement")
    // doc 2 leaves the corpus, doc 3's text changes: retire both
    assert(StreamingPipeline.retireMinhashStore(spark, store,
      Seq(2L, 3L).toDF("doc_id"), 1L))
    // PRE-compaction: tombstones are logical — pairs with a dead endpoint
    // must be invisible while the raw store still carries them
    assert(canon(StreamingPipeline.readDedupPairs(spark, store)) ==
      mine(Seq(d1, d4)), "retired endpoints must hide their pairs")
    // resurrection: the changed doc re-enters with NEW text and must mine
    // fresh pairs (strictly-greater rule: retirement at 1 cannot eat rows
    // appended at 2)
    body(Seq(d3new).toDF("doc_id", "text"), 2L)
    assert(canon(StreamingPipeline.readDedupPairs(spark, store)) ==
      mine(Seq(d1, d4, d3new)), "re-entered doc must pair by its new text only")
    // retire replay refused
    assert(!StreamingPipeline.retireMinhashStore(spark, store,
      Seq(99L).toDF("doc_id"), 1L))
    // compaction applies retirements physically: the RAW pairs read now
    // equals the view, and the dead sets rows are gone
    assert(StreamingPipeline.compactMinhashStore(spark, store) > 0)
    assert(canon(spark.read.parquet(s"$store/pairs")) == mine(Seq(d1, d4, d3new)),
      "compacted raw pairs must equal the liveness view")
    assert(spark.read.parquet(s"$store/sets").select("doc_id").distinct().count() == 3L,
      "retired sets rows must be physically gone")
    // mid-blank crash simulation: a leftover (already-applied) retirement
    // row reappears — the max-id base makes it harmless
    Seq(3L).toDF("doc_id").write.mode("overwrite")
      .parquet(s"$store/retired/batch=1")
    assert(canon(StreamingPipeline.readDedupPairs(spark, store)) ==
      mine(Seq(d1, d4, d3new)),
      "stale applied retirement must not re-kill compacted rows")
    // and the next maintenance cycle finishes the blanking
    StreamingPipeline.compactMinhashStore(spark, store)
    assert(canon(StreamingPipeline.readDedupPairs(spark, store)) ==
      mine(Seq(d1, d4, d3new)))
    // post-retirement append still dedups against the surviving history
    body(Seq((5L, d3new._2)).toDF("doc_id", "text"), 4L)
    assert(canon(StreamingPipeline.readDedupPairs(spark, store)) ==
      mine(Seq(d1, d4, d3new, (5L, d3new._2))),
      "appends after a retirement cycle must keep full parity")
  }

  test("streaming feature store: restart + replay keep the refit == monolithic fit") {
    import graft.operators.Logit
    val base = Files.createTempDirectory("graft_fstore").toString
    val in = s"$base/in"; val store = s"$base/features"
    // a deterministic row-wise transform (feature + label derivation)
    val t: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.select(col("id"), col("x1"), col("x2"),
        (col("x1") * 2 - col("x2") > 10).cast("double").as("y"))
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, (i % 19).toDouble, ((i * 5) % 13).toDouble) }.toDF("id", "x1", "x2")
    def stream() = StreamingPipeline.maintain(
      StreamingPipeline.readColumnsStream(spark, in, "id BIGINT, x1 DOUBLE, x2 DOUBLE"),
      s"$base/ck") { (b, id) => StreamingPipeline.frameAppendBatch(store, t)(b, id + 1) }.start()
    // prefix generation lands as batch=0; two streamed deliveries across a
    // restart land as batch=1, batch=2
    StreamingPipeline.frameAppendBatch(store, t)(mk(0, 100), 0L)
    mk(100, 160).write.mode("overwrite").parquet(in)
    stream().awaitTermination(60000)
    mk(160, 220).write.mode("append").parquet(in)
    stream().awaitTermination(60000)
    val grown = spark.read.parquet(store).select("id", "x1", "x2", "y")
    assert(grown.count() == 220)
    val refit = Logit.fit(grown, Seq("x1", "x2"), "y")
    val mono = Logit.fit(t(mk(0, 220)), Seq("x1", "x2"), "y")
    assert(refit == mono, "refit from the grown store must equal the monolithic fit")
    // replays of committed ids — the prefix build's and a stream batch's —
    // are no-ops (directory existence is the ledger)
    StreamingPipeline.frameAppendBatch(store, t)(mk(0, 100), 0L)
    StreamingPipeline.frameAppendBatch(store, t)(mk(100, 160), 1L)
    assert(spark.read.parquet(store).count() == 220,
      "replayed batch ids must not duplicate feature rows")
    assert(Logit.fit(spark.read.parquet(store).select("id", "x1", "x2", "y"),
      Seq("x1", "x2"), "y") == mono)
    // torn staging (crash after the staged write, before the rename): the
    // leftover .staging dir is invisible to readers (dot-prefixed) and a
    // replay of that id deletes it, rewrites, and lands the batch ONCE
    val torn = new java.io.File(s"$store/.staging-3"); torn.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(torn, "junk.parquet").toPath, "not parquet")
    assert(spark.read.parquet(store).count() == 220,
      "a torn staging dir must be invisible to store readers")
    StreamingPipeline.frameAppendBatch(store, t)(mk(220, 240), 3L)
    assert(!torn.exists(), "the replay must clear the torn staging dir")
    assert(spark.read.parquet(store).count() == 240)
  }

  test("streaming LM maintainer: restart + replay score like the monolithic fit") {
    import graft.text.TextOps
    val base = Files.createTempDirectory("graft_lms").toString
    val in = s"$base/in"; val store = s"$base/lm"
    val b1 = (0L until 12L).map(i => (i, s"the cat sat on the mat row$i end"))
      .toDF("doc_id", "text")
    val b2 = (12L until 20L).map(i => (i, s"the dog ran past the door row$i end"))
      .toDF("doc_id", "text")
    val all = b1.unionByName(b2)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    b1.write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.lmAppendBatch(store)).start()
    q1.awaitTermination(60000)
    assert(canon(TextOps.scoreWithLm(b1, store)) == canon(TextOps.trigramBackoffNll(b1)),
      "after the first delivery the store must score like a fit on it")
    // restart from the same checkpoint with a second delivery
    b2.write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.lmAppendBatch(store)).start()
    q2.awaitTermination(60000)
    val mono = canon(TextOps.trigramBackoffNll(all))
    assert(canon(TextOps.scoreWithLm(all, store)) == mono,
      "accumulated count deltas diverged from the monolithic fit")
    // foreachBatch replays are no-ops (the uni commit marker refuses)
    StreamingPipeline.lmAppendBatch(store)(b1, 0L)
    StreamingPipeline.lmAppendBatch(store)(b2, 1L)
    assert(canon(TextOps.scoreWithLm(all, store)) == mono,
      "replayed batch ids must not double-count")
    // compaction between triggers preserves scores and the ledger
    assert(TextOps.compactLm(spark, store) == 4)
    assert(canon(TextOps.scoreWithLm(all, store)) == mono)
    StreamingPipeline.lmAppendBatch(store)(b1, 0L)
    assert(canon(TextOps.scoreWithLm(all, store)) == mono,
      "replay of a compacted batch id must stay a no-op")
  }

  test("streaming decontamination route: verdict union == batch audit; replays are no-ops") {
    import graft.dedup.Dedup
    val base = Files.createTempDirectory("graft_route").toString
    val in = s"$base/in"; val store = s"$base/decontam"; val out = s"$base/out"
    val bench = Seq(
      (900L, "alpha beta gamma delta epsilon zeta"),
      (901L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    Dedup.buildDecontamStore(bench, store, n = 3, k = 4, m = 1 << 16)
    val b1 = Seq(
      (1L, "alpha beta gamma delta unrelated tail words here"),
      (2L, "nothing shared with any benchmark row at all")
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (3L, "prefix words then one two three four five"),
      (4L, "another fully disjoint document body text")
    ).toDF("doc_id", "text")
    b1.write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.decontamRouteBatch(store, out)).start()
    q1.awaitTermination(60000)
    b2.write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.decontamRouteBatch(store, out)).start()
    q2.awaitTermination(60000)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("doc_id"), col("n_shingles"), col("n_bloom_pos"),
          col("n_present"), col("contaminated"))
        .collect().map(_.toString).sorted.toSeq
    val batchAudit = canon(Dedup.bloomContamination(
      Dedup.wordShingles(b1.unionByName(b2), 3),
      Dedup.wordShingles(bench, 3), k = 4, m = 1 << 16))
    assert(canon(spark.read.parquet(out)) == batchAudit,
      "streamed verdict union != one-shot batch audit")
    // the contaminated docs are exactly the two that share trigrams
    val flagged = spark.read.parquet(out).filter(col("contaminated"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L, 3L), s"wrong routing: $flagged")
    // replayed batch ids are no-ops (directory-existence ledger)
    val body = StreamingPipeline.decontamRouteBatch(store, out) _
    body(b1, 0L)
    assert(canon(spark.read.parquet(out)) == batchAudit,
      "replayed batch id changed the routed output")
  }

  test("streaming decontam appends: grown store routes like a monolithic build") {
    import graft.dedup.Dedup
    val base = Files.createTempDirectory("graft_dappend").toString
    val in = s"$base/in"; val store = s"$base/decontam"
    val suite1 = Seq(
      (900L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val suite2 = Seq(
      (901L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val suite3 = Seq(
      (902L, "red orange yellow green blue indigo violet")
    ).toDF("doc_id", "text")
    Dedup.buildDecontamStore(suite1, store, n = 3, k = 4, m = 1 << 16)
    // two deliveries across a restart: each new suite OR-merges into the
    // stored filter and appends its shingles exactly once
    suite2.write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.decontamAppendBatch(store)).start()
    q1.awaitTermination(60000)
    suite3.write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.decontamAppendBatch(store)).start()
    q2.awaitTermination(60000)
    // probing the grown store must equal a one-shot audit against ALL suites
    val corpus = Seq(
      (1L, "alpha beta gamma delta unrelated tail words here"),
      (2L, "prefix words then one two three four five"),
      (3L, "ending with red orange yellow green blue"),
      (4L, "nothing shared with any benchmark row at all")
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("doc_id"), col("n_shingles"), col("n_bloom_pos"),
          col("n_present"), col("contaminated"))
        .collect().map(_.toString).sorted.toSeq
    val allBench = suite1.unionByName(suite2).unionByName(suite3)
    def routed(): Seq[String] = canon(Dedup.bloomContaminationAgainst(
      Dedup.wordShingles(corpus, 3),
      spark.read.parquet(s"$store/shingles").select(col("shingle")),
      spark.read.parquet(s"$store/words"), k = 4, m = 1 << 16))
    val mono = canon(Dedup.bloomContamination(
      Dedup.wordShingles(corpus, 3), Dedup.wordShingles(allBench, 3),
      k = 4, m = 1 << 16))
    assert(routed() == mono,
      "grown store diverged from a monolithic build over all suites")
    assert(spark.read.parquet(s"$store/shingles").count() ==
      Dedup.wordShingles(allBench, 3).select("shingle").distinct().count(),
      "appended shingle store must stay duplicate-free")
    // foreachBatch replays are no-ops (the shingles/batch marker refuses)
    StreamingPipeline.decontamAppendBatch(store)(suite2, 0L)
    StreamingPipeline.decontamAppendBatch(store)(suite3, 1L)
    assert(routed() == mono, "replayed batch ids changed the store")
    // compaction collapses the batch dirs without changing verdicts
    assert(Dedup.compactDecontamStore(spark, store) == 3)
    assert(routed() == mono, "compaction changed the store")
  }

  test("streaming IVF appends: restart publishes each delivery exactly once") {
    import graft.similarity.Similarity
    val base = Files.createTempDirectory("graft_ivfstream").toString
    val in = s"$base/in"; val store = s"$base/index"
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(mk(0 to 9), numCentroids = 2, iters = 2, store)
    mk(10 to 14).write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readEmbeddingStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.ivfAppendBatch(store)).start()
    q1.awaitTermination(60000)
    mk(15 to 19).write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readEmbeddingStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.ivfAppendBatch(store)).start()
    q2.awaitTermination(60000)
    val cells = spark.read.parquet(s"$store/cells")
    assert(cells.count() == 20L, "every delivered vector lands exactly once")
    assert(cells.select("vec_id").distinct().count() == 20L)
    // the probe sees streamed appends with zero changes
    val probed = Similarity.probeIvfIndex(mk(0 to 19), store, k = 2, nprobe = 1)
    assert(probed.select("neighbor_id").collect().map(_.getLong(0)).toSet
      .exists(_ >= 10L), "streamed vectors never surfaced in search")
  }

  test("streaming LSH appends: restart publishes each delivery exactly once") {
    import graft.similarity.Similarity
    val base = Files.createTempDirectory("graft_lshstream").toString
    val in = s"$base/in"; val store = s"$base/index"
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.buildLshIndex(mk(0 to 9), bits = 4, tables = 4, dim = 8, store)
    mk(10 to 14).write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readEmbeddingStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.lshAppendBatch(store)).start()
    q1.awaitTermination(60000)
    mk(15 to 19).write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readEmbeddingStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.lshAppendBatch(store)).start()
    q2.awaitTermination(60000)
    val vecs = spark.read.parquet(s"$store/vectors")
    assert(vecs.count() == 20L, "every delivered vector lands exactly once")
    assert(vecs.select("vec_id").distinct().count() == 20L)
    // the streamed index answers exactly like the one-shot in-memory search
    val all = mk(0 to 19)
    val stored = Similarity.probeLshIndex(all, store, k = 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
      .collect().map(_.toString).sorted.toSeq
    val mem = Similarity.lshMultiTopKSearch(all, all, k = 3, bits = 4, tables = 4, dim = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
      .collect().map(_.toString).sorted.toSeq
    assert(stored == mem, "streamed index diverged from the one-shot search")
  }

  test("streaming PQ appends: restart publishes each delivery exactly once") {
    import graft.similarity.Similarity
    val base = Files.createTempDirectory("graft_pqstream").toString
    val in = s"$base/in"; val store = s"$base/index"
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.buildPqIndex(mk(0 to 9), m = 2, k = 4, iters = 2, store, dim = 8)
    mk(10 to 14).write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readEmbeddingStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.pqAppendBatch(store)).start()
    q1.awaitTermination(60000)
    mk(15 to 19).write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readEmbeddingStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.pqAppendBatch(store)).start()
    q2.awaitTermination(60000)
    val codes = spark.read.parquet(s"$store/codes")
    assert(codes.select("vec_id").distinct().count() == 20L,
      "every delivered vector lands exactly once")
    // the stream-grown index answers exactly like the in-memory ADC whose
    // codebooks were fit on the same build prefix
    val all = mk(0 to 19)
    val cb = Similarity.pqCodebooks(mk(0 to 9), m = 2, k = 4, iters = 2, dim = 8)
    val stored = Similarity.probePqIndex(all.filter(col("vec_id") < 5), store, k = 3)
      .collect().map(_.toString).sorted.toSeq
    val mem = Similarity.pqAdcTopK(Similarity.pqEncode(all, cb, m = 2, dim = 8), cb,
        all.filter(col("vec_id") < 5), k = 3, m = 2, dim = 8)
      .collect().map(_.toString).sorted.toSeq
    assert(stored == mem, "stream-grown PQ index diverged from the in-memory ADC")
  }

  test("streaming query resumes exactly-once from its checkpoint after a restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_micros
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[(Long, Long, String, Double)]
    def events = input.toDF()
      .select(col("_1").as("source_id"), timestamp_micros(col("_2")).as("ts"),
        col("_3").as("metric"), col("_4").as("value"))
    def start() = events.writeStream
      .format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    val h = 3600L * 1000000
    val q1 = start()
    try {
      input.addData((1L, h, "m", 1.0), (1L, 2 * h, "m", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: committed offsets must not replay
    val q2 = start()
    try {
      input.addData((1L, 3 * h, "m", 3.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = spark.read.parquet(s"$base/out").collect()
    assert(out.length == 3, s"exactly-once resume violated: ${out.length} rows")
    assert(out.map(_.getAs[Double]("value")).sorted.sameElements(Array(1.0, 2.0, 3.0)))
  }

  test("stream-stream interval join matches within the lookback window only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_micros
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(Long, Long, Long)]  // (click_id, user_id, ts_us)
    val errorsIn = MemoryStream[(Long, Long, Long)]  // (err_id, user_id, ts_us)
    val clicks = clicksIn.toDF().select(col("_1").as("click_id"), col("_2").as("user_id"),
      timestamp_micros(col("_3")).as("ts"))
    val errors = errorsIn.toDF().select(col("_1").as("err_id"), col("_2").as("user_id"),
      timestamp_micros(col("_3")).as("err_ts"))
    val q = StreamingPipeline
      .intervalJoinStream(clicks, errors, "user_id", "ts", "err_ts", lookbackMinutes = 60)
      .select(col("click_id"), col("err_id"))
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      val h = 3600L * 1000000
      // err@1h: click@1.5h is within 60 min, click@3h is not; user 2 never errors
      errorsIn.addData((100L, 1L, h))
      clicksIn.addData((1L, 1L, h + h / 2), (2L, 1L, 3 * h), (3L, 2L, h))
      q.processAllAvailable()
      // cross-batch: a later error joins an even later click in a new batch
      errorsIn.addData((101L, 1L, 5 * h))
      clicksIn.addData((4L, 1L, 5 * h + 60L * 1000000))
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 100L), (4L, 101L)), s"got $rows")
    } finally q.stop()
  }

  test("watermarked windowed KPI finalizes windows once and drops late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_micros
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Double)] // (source, ts_us, metric, value)
    val events = input.toDF()
      .select(col("_1").as("source_id"), timestamp_micros(col("_2")).as("ts"),
        col("_3").as("metric"), col("_4").as("value"))
    val q = StreamingPipeline.windowedKpi(events).writeStream
      .format("memory").queryName("wkpi_out").outputMode("append").start()
    try {
      val h = 3600L * 1000000
      input.addData((1L, h, "m", 1.0), (1L, h + 60L * 1000000, "m", 2.0))
      q.processAllAvailable() // watermark still before the window end: nothing emits
      input.addData((1L, 5 * h, "m", 10.0))
      q.processAllAvailable() // watermark -> 3h: [1h,2h) finalizes with sum 3.0
      // a late [1h,2h) event BEHIND the watermark must be dropped, while the
      // 8h event advances the watermark to finalize [5h,6h)
      input.addData((1L, h + 1800L * 1000000, "m", 99.0), (1L, 8 * h, "m", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wkpi_out").collect().map { r =>
        val startUs = r.getTimestamp(r.fieldIndex("window_start")).toInstant.toEpochMilli * 1000
        (startUs, r.getAs[Double]("value_sum"), r.getAs[Long]("value_count"))
      }.toSeq
      val w1 = rows.filter(_._1 == h)
      assert(w1 == Seq((h, 3.0, 2L)), s"late event leaked into a finalized window: $rows")
      assert(rows.filter(_._1 == 5 * h) == Seq((5 * h, 10.0, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming as-of enrichment carries latest error across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_micros
    implicit val sqlCtx = spark.sqlContext
    // (event_id, user_id, ts_us, event_type, value)
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val events = input.toDF()
      .select(col("_1").as("event_id"), col("_2").as("user_id"),
        timestamp_micros(col("_3")).as("ts"), col("_4").as("event_type"), col("_5").as("value"))
    val q = StreamingPipeline.asofEnrichStream(events)
      .writeStream.format("memory").queryName("asof_out").outputMode("append").start()
    try {
      val h = 3600L * 1000000
      // batch 1: error then clicks (one at the SAME ts as the error => inclusive)
      input.addData((1L, 1L, h, "error", 0.5), (2L, 1L, h, "click", 1.0),
        (3L, 1L, 2 * h, "click", 2.0), (4L, 2L, h, "click", 3.0))
      q.processAllAvailable()
      // batch 2: click before any new error (uses carried state), then a new
      // error and a click after it
      input.addData((5L, 1L, 3 * h, "click", 4.0),
        (6L, 1L, 4 * h, "error", 9.5), (7L, 1L, 5 * h, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("asof_out").orderBy("event_id").collect()
        .map(r => (r.getLong(1), Option(r.getAs[java.lang.Long]("err_event_id")).map(_.toLong)))
      // clicks: 2 (ts tie => err 1), 3 (err 1), 4 (user 2, none), 5 (carried
      // err 1), 7 (new err 6)
      assert(rows.map(_._2).toSeq == Seq(Some(1L), Some(1L), None, Some(1L), Some(6L)), rows.mkString(","))
    } finally q.stop()
  }

  test("transformWithState as-of enrichment matches the fMGWS twin (RocksDB state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_micros
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the 4.1 checksum checkpoint manager deadlocks its await on local-FS
    // RocksDB zip uploads; plain checkpoint files are fine for tests
    val prevCk = spark.conf.getOption("spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    val input = MemoryStream[(Long, Long, Long, String, Double)]
    val events = input.toDF()
      .select(col("_1").as("event_id"), col("_2").as("user_id"),
        timestamp_micros(col("_3")).as("ts"), col("_4").as("event_type"), col("_5").as("value"))
    val q = StreamingPipeline.asofEnrichStreamTws(events)
      .writeStream.format("memory").queryName("asof_tws_out").outputMode("append").start()
    try {
      val h = 3600L * 1000000
      input.addData((1L, 1L, h, "error", 0.5), (2L, 1L, h, "click", 1.0),
        (3L, 1L, 2 * h, "click", 2.0), (4L, 2L, h, "click", 3.0))
      q.processAllAvailable()
      input.addData((5L, 1L, 3 * h, "click", 4.0),
        (6L, 1L, 4 * h, "error", 9.5), (7L, 1L, 5 * h, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("asof_tws_out").orderBy("event_id").collect()
        .map(r => Option(r.getAs[java.lang.Long]("err_event_id")).map(_.toLong))
      assert(rows.toSeq == Seq(Some(1L), Some(1L), None, Some(1L), Some(6L)), rows.mkString(","))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevCk match {
        case Some(v) => spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", v)
        case None => spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
    }
  }

  test("streaming rolling-z flags the reference spike golden across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_micros
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Double)]
    val events = input.toDF()
      .select(col("_1").as("source_id"), timestamp_micros(col("_2")).as("ts"),
        col("_3").as("metric"), col("_4").as("value"))
    val q = StreamingPipeline.anomalyStream(events, window = 3, zThresh = 3.0)
      .writeStream.format("memory").queryName("anom_out").outputMode("append").start()
    try {
      // the reference's behavioral golden {10,11,9,10,10,100,10}
      // (backend/tests/test_anomaly_api.py:47-100), split mid-series so the
      // ring buffer must carry across micro-batches
      val day = 86400L * 1000000
      val series = Seq(10.0, 11.0, 9.0, 10.0, 10.0, 100.0, 10.0)
      val (b1, b2) = series.zipWithIndex.splitAt(4)
      input.addData(b1.map { case (v, i) => (1L, (i + 1) * day, "m", v) }: _*)
      q.processAllAvailable()
      input.addData(b2.map { case (v, i) => (1L, (i + 1) * day, "m", v) }: _*)
      q.processAllAvailable()
      val rows = spark.table("anom_out").orderBy("ts_us").collect()
      assert(rows.length == 7)
      val outliers = rows.filter(_.getAs[Boolean]("is_outlier")).map(_.getAs[Double]("value"))
      assert(outliers.toSeq == Seq(100.0), s"only the spike flags: ${outliers.toSeq}")
      // first two points have <2 priors => no z at all
      assert(rows.take(2).forall(_.isNullAt(rows.head.fieldIndex("z"))))
    } finally q.stop()
  }

  test("stateful streaming sessionization closes sessions on gaps and timeouts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_micros
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)] // (user, ts_us, value)
    val events = input.toDF()
      .select(col("_1").as("source_id"), timestamp_micros(col("_2")).as("ts"), col("_3").as("value"))
    val sessions = StreamingPipeline.sessionizeStream(events, gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      val h = 3600L * 1000000
      // user 1: two events 10 min apart (one session), then a 2h gap => new session
      input.addData((1L, h, 10.0), (1L, h + 600L * 1000000, 5.0), (1L, h * 3, 7.0))
      q.processAllAvailable()
      val afterBatch1 = spark.table("sessions_out").collect()
      assert(afterBatch1.length == 1, "intra-batch gap closes the first session")
      assert(afterBatch1.head.getAs[Long]("n_events") == 2 &&
        afterBatch1.head.getAs[Double]("value_sum") == 15.0)
      // advancing the watermark far beyond the open session times it out
      input.addData((2L, h * 10, 1.0))
      q.processAllAvailable()
      input.addData((2L, h * 10 + 1, 1.0)) // extra trigger so timeouts fire
      q.processAllAvailable()
      val all = spark.table("sessions_out").collect()
      assert(all.exists(r => r.getAs[Long]("user_id") == 1L &&
        r.getAs[Long]("session_start_us") == h * 3), "timed-out session emitted")
    } finally q.stop()
  }

  test("multimodal decode plumbing: typed Dataset path matches column path") {
    val docs = Seq((1L, "hello world"), (2L, "another doc")).toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs)
    import Multimodal._
    val ds = media.as[MediaRecord]
    val decoded = Multimodal.decodeMeta(ds).collect().sortBy(_.doc_id)
    val viaCols = Multimodal.metaColumns(media).orderBy("doc_id").collect()
    decoded.zip(viaCols).foreach { case (d, c) =>
      assert(d.byte_len == c.getAs[Long]("byte_len"))
      assert(d.sha256 == c.getAs[String]("sha256"))
      assert(d.width == c.getAs[Int]("width") && d.n_frames == c.getAs[Int]("n_frames"))
    }
  }

  test("real image decode: in-memory PNG and JPEG report true dimensions") {
    import Multimodal._
    def imageBytes(w: Int, h: Int, format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => img.setRGB(x, 0, x * 7919))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }
    val recs = Seq(
      MediaRecord(1L, imageBytes(23, 17, "png"), "image/png"),
      MediaRecord(2L, imageBytes(64, 48, "jpg"), "image/jpeg"),
      MediaRecord(3L, Array[Byte](1, 2, 3), "image/png"), // corrupt -> fake fallback
      MediaRecord(4L, "plain text".getBytes("UTF-8"), "text/fake"))
    val out = Multimodal.decodeMeta(spark.createDataset(recs)).collect()
      .map(m => m.doc_id -> m).toMap
    assert(out(1L).width == 23 && out(1L).height == 17 && out(1L).n_frames == 1)
    assert(out(2L).width == 64 && out(2L).height == 48)
    // undecodable and non-image payloads keep the deterministic fake metadata
    assert(out(3L).width == (3 % 640 + 16) && out(4L).width == (10 % 640 + 16))
    assert(out.size == 4, "decode must stay total")
  }

  test("image decode survives a reader that throws RuntimeException mid-decode") {
    import Multimodal._
    // Valid GIF89a magic + complete logical screen descriptor but NO image
    // descriptor: javax.imageio FINDS the GIF reader, getNumImages(false)
    // returns -1, and getWidth(0) then throws IndexOutOfBoundsException — a
    // RuntimeException, not an IOException. The codec must treat that as
    // undecodable and fall through to the deterministic fake instead of
    // letting one corrupt blob kill a 100 TB scan task.
    val gifNoImage = Array[Byte]('G', 'I', 'F', '8', '9', 'a', 10, 0, 10, 0, 0, 0, 0, 0x3B)
    intercept[IndexOutOfBoundsException] { // prove the payload really does provoke a RuntimeException
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gifNoImage))
      val r = javax.imageio.ImageIO.getImageReaders(iis).next()
      r.setInput(iis, true, true)
      r.getWidth(0)
    }
    val recs = Seq(MediaRecord(7L, gifNoImage, "image/gif"))
    val out = Multimodal.decodeMeta(spark.createDataset(recs)).collect()
    assert(out.length == 1, "decode must stay total")
    assert(out.head.width == (gifNoImage.length % 640 + 16).toInt,
      "RuntimeException from a found reader must fall back to the fake")
  }

  test("real audio decode: in-memory WAV reports true rate/channels/frames") {
    import Multimodal._
    def wavBytes(sr: Float, channels: Int, frames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(sr, 16, channels, true, false)
      val pcm = new Array[Byte](frames * 2 * channels)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val recs = Seq(
      MediaRecord(1L, wavBytes(16000f, 1, 3200), "audio/wav"),
      MediaRecord(2L, wavBytes(44100f, 2, 4410), "audio/wav"),
      MediaRecord(3L, Array[Byte](9, 9, 9), "audio/wav"), // corrupt -> fake fallback
      MediaRecord(4L, "not audio".getBytes("UTF-8"), "text/fake"))
    val out = Multimodal.decodeAudioMeta(spark.createDataset(recs)).collect()
      .map(m => m.doc_id -> m).toMap
    assert(out(1L).sample_rate == 16000 && out(1L).channels == 1 && out(1L).n_frames == 3200L)
    assert(out(1L).duration_ms == 200.0)
    assert(out(2L).sample_rate == 44100 && out(2L).channels == 2 && out(2L).n_frames == 4410L)
    assert(out(2L).duration_ms == 100.0)
    // undecodable and non-audio payloads keep the deterministic fake metadata
    assert(out(3L).sample_rate == Seq(8000, 16000, 44100)(3 % 3) && out(3L).n_frames == 12L)
    assert(out(4L).n_frames == 9L * 4)
    assert(out.size == 4, "decode must stay total")
  }

  test("frame sampling emits every k-th frame with deterministic digests") {
    val docs = Seq((1L, "hello world"), (2L, "a much longer document body here"))
      .toDF("doc_id", "text")
    import Multimodal._
    val ds = Multimodal.asMedia(docs).as[MediaRecord]
    val meta = Multimodal.decodeMeta(ds).collect().map(m => m.doc_id -> m.n_frames).toMap
    val frames = Multimodal.sampleFrames(ds, everyK = 3).collect()
    meta.foreach { case (id, n) =>
      val mine = frames.filter(_.doc_id == id)
      assert(mine.length == (n + 2) / 3, s"doc $id: ${mine.length} frames for n=$n")
      assert(mine.map(_.frame_idx).sorted.sameElements(0 until n by 3))
    }
    val again = Multimodal.sampleFrames(ds, everyK = 3).collect()
    assert(frames.map(_.frame_sha).sorted.sameElements(again.map(_.frame_sha).sorted),
      "frame digests must be deterministic")
  }

  test("recomputeOverwrite only rebuilds touched dates") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2025-09-20 01:00:00"), "m", 1.0),
      (1L, java.sql.Timestamp.valueOf("2025-09-21 01:00:00"), "m", 2.0))
      .toDF("source_id", "ts", "metric", "value")
    val touched = Seq(java.sql.Date.valueOf("2025-09-20")).toDF("metric_date")
    val out = Ingest.recomputeOverwrite(ev, touched).collect()
    assert(out.length == 1 && out.head.getAs[Double]("value_sum") == 1.0)
  }

  test("streaming SCD2 maintainer: late arrivals, restart, replay, heal == monolithic") {
    import graft.operators.Scd
    val base = Files.createTempDirectory("graft_scd").toString
    val in = s"$base/in"; val store = s"$base/scd"
    // b1 carries a change that is a NO-OP given only b1 (u1: a@10, a@30);
    // the LATE b2 change (u1: b@20) must resurrect a@30 as a real version
    val b1 = Seq(("u1", 10L, "a"), ("u1", 30L, "a"), ("u2", 15L, "x"))
      .toDF("k", "ts", "plan")
    val b2 = Seq(("u1", 20L, "b"), ("u3", 5L, "z")).toDF("k", "ts", "plan")
    val all = b1.unionByName(b2)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("k", "plan", "effective_from", "effective_to", "is_current", "version")
        .orderBy("k", "version").collect().map(_.toString).toSeq
    def streamOnce(): Unit = {
      val q = StreamingPipeline.maintain(
        spark.readStream.schema("k STRING, ts BIGINT, plan STRING")
          .option("maxFilesPerTrigger", "16").parquet(in), s"$base/ckpt")(
        StreamingPipeline.scdUpsertBatch(store, Seq("k"), "ts", Seq("plan"))).start()
      q.awaitTermination(60000)
    }
    b1.write.mode("overwrite").parquet(in)
    streamOnce()
    assert(canon(StreamingPipeline.readScdDim(spark, store))
      == canon(Scd.type2(b1, Seq("k"), "ts", Seq("plan"))),
      "after the first delivery the dim must equal a monolithic build on it")
    // u1's a@30 collapsed as a no-op in the first delivery
    assert(StreamingPipeline.readScdDim(spark, store)
      .filter($"k" === "u1").count() == 1)
    // restart from the same checkpoint; the second delivery is EARLIER data
    b2.write.mode("append").parquet(in)
    streamOnce()
    val mono = canon(Scd.type2(all, Seq("k"), "ts", Seq("plan")))
    assert(canon(StreamingPipeline.readScdDim(spark, store)) == mono,
      "late-arriving change failed to resurrect the collapsed version")
    // foreachBatch replays are no-ops (ledger refuses)
    val up = StreamingPipeline.scdUpsertBatch(store, Seq("k"), "ts", Seq("plan")) _
    up(b1, 0L); up(b2, 1L)
    assert(canon(StreamingPipeline.readScdDim(spark, store)) == mono,
      "replayed batch ids must not duplicate versions")
    // a cross-batch duplicate (key, ts) resolves first-write-wins
    up(Seq(("u1", 20L, "DIFFERENT")).toDF("k", "ts", "plan"), 2L)
    assert(canon(StreamingPipeline.readScdDim(spark, store)) == mono,
      "cross-batch duplicate (key, ts) must not overwrite the first write")
    // compaction preserves the dim and keeps replays refused
    assert(StreamingPipeline.compactScdChanges(spark, store) >= 1)
    up(b1, 0L)
    assert(canon(StreamingPipeline.readScdDim(spark, store)) == mono)
    // crash-window heal: plant un-ledgered garbage in u1's bucket under a
    // _pending marker with no matching changes ledger -> the next batch run
    // must rebuild that bucket from ledgered changes only
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(store),
      spark.sparkContext.hadoopConfiguration)
    val bucket = Seq("u1").toDF("k")
      .select(pmod(hash(col("k")), lit(32)).as("b")).head().getInt(0)
    Scd.type2(Seq(("u1", 99L, "GARBAGE")).toDF("k", "ts", "plan"),
        Seq("k"), "ts", Seq("plan"))
      .withColumn("bucket", lit(bucket))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$store/dim_garbage")
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/dim/bucket=$bucket"), true)
    require(fs.rename(
      new org.apache.hadoop.fs.Path(s"$store/dim_garbage/bucket=$bucket"),
      new org.apache.hadoop.fs.Path(s"$store/dim/bucket=$bucket")))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$store/dim/_pending-99"), true)
    out.write(s"$bucket\n".getBytes("UTF-8")); out.close()
    assert(canon(StreamingPipeline.readScdDim(spark, store)) != mono,
      "the planted garbage must be visible before the heal")
    up(Seq(("u9", 50L, "q")).toDF("k", "ts", "plan"), 3L)
    val healed = Scd.type2(all.unionByName(Seq(("u9", 50L, "q")).toDF("k", "ts", "plan")),
      Seq("k"), "ts", Seq("plan"))
    assert(canon(StreamingPipeline.readScdDim(spark, store)) == canon(healed),
      "heal must rebuild the pending bucket from ledgered changes")
  }
}
