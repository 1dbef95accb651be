package graft

import graft.operators.{Drift, Shards}
import org.apache.spark.sql.functions._

class DriftShardSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "cat")

  private val feats = Seq("cat" -> col("cat"))

  test("psi of identical snapshots is exactly zero and stable") {
    val a = corpus((1L, "aa", "x"), (2L, "bb", "y"), (3L, "cc", "x"))
    val r = Drift.psiReport(a, a, feats).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Double]("psi") == 0.0)
    assert(row.getAs[String]("verdict") == "stable")
    assert(row.getAs[Long]("n_buckets") == 2L)
    assert(row.getAs[Long]("n_a") == 3L && row.getAs[Long]("n_b") == 3L)
  }

  test("psi matches the hand-computed two-bucket value and flags hard drift") {
    // A: 90 x / 10 y; B: 10 x / 90 y. K=2, N=100 both sides.
    // pA(x)=91/102, pB(x)=11/102; pA(y)=11/102, pB(y)=91/102.
    // psi = 2 * (80/102) * ln(91/11) ≈ 1.6568 -> far past the 0.2 band.
    val a = corpus((1L to 100L).map(i => (i, "t", if (i <= 90) "x" else "y")): _*)
    val b = corpus((1L to 100L).map(i => (i, "t", if (i <= 10) "x" else "y")): _*)
    val row = Drift.psiReport(a, b, feats).collect().head
    // replay the operator's quantization by hand: per bucket,
    // dnum = (cb+1)(na+k) − (ca+1)(nb+k), l6 = floor(ln(ratio)·1e6 + 0.5),
    // psi = floor(Σ dnum·l6 / ((na+k)(nb+k)) + 0.5) / 1e6
    def term(ca: Long, cb: Long): Double = {
      val dnum = (cb + 1.0) * 102 - (ca + 1.0) * 102
      val l6 = math.floor(math.log(((cb + 1.0) * 102) / ((ca + 1.0) * 102)) * 1e6 + 0.5)
      dnum * l6
    }
    val psi = math.floor((term(90, 10) + term(10, 90)) / (102.0 * 102.0) + 0.5) / 1e6
    assert(row.getAs[Double]("psi") == psi)
    assert(psi > 1.0) // 2·(80/102)·ln(91/11) ≈ 1.66 — far past the 0.2 band
    assert(row.getAs[String]("verdict") == "drifted")
  }

  test("a bucket present on one side only is smoothed, not infinite") {
    val a = corpus((1L, "t", "x"), (2L, "t", "x"))
    val b = corpus((1L, "t", "z"), (2L, "t", "z"))
    val row = Drift.psiReport(a, b, feats).collect().head
    assert(row.getAs[Long]("n_buckets") == 2L)
    assert(!row.getAs[Double]("psi").isInfinite && row.getAs[Double]("psi") > 0)
  }

  test("null feature values count as their own bucket population") {
    val a = Seq((1L, "t", Option("x")), (2L, "t", None))
      .toDF("doc_id", "text", "cat")
    val b = Seq((1L, "t", Option("x")), (2L, "t", Option("x")))
      .toDF("doc_id", "text", "cat")
    val row = Drift.psiReport(a, b, feats).collect().head
    assert(row.getAs[Long]("n_buckets") == 2L) // "x" and the null bucket
    assert(row.getAs[Long]("n_a") == 2L && row.getAs[Long]("n_b") == 2L)
  }

  test("manifest partitions the corpus and checksums move on a 1-char edit") {
    val docs = corpus((1L to 200L).map(i => (i, s"text $i", "c")): _*)
    val m = Shards.manifest(docs, nShards = 8).collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum == 200L)
    assert(m.forall(r => r.getAs[Long]("min_id") <= r.getAs[Long]("max_id")))

    val edited = docs.withColumn("text",
      when(col("doc_id") === 57L, concat(col("text"), lit("!")))
        .otherwise(col("text")))
    val d = Shards.manifestDelta(
        Shards.manifest(docs, 8), Shards.manifest(edited, 8))
      .collect()
    assert(d.count(_.getAs[String]("status") == "changed") == 1)
    assert(d.count(_.getAs[String]("status") == "unchanged") == 7)
    // n_docs unchanged everywhere — only the checksum caught the edit
    assert(d.forall(r => r.getAs[Long]("n_docs_a") == r.getAs[Long]("n_docs_b")))
  }

  test("manifest delta classifies emptied and newborn shards") {
    val a = corpus((1L to 50L).map(i => (i, s"t$i", "c")): _*)
    val b = corpus((51L to 90L).map(i => (i, s"t$i", "c")): _*)
    val d = Shards.manifestDelta(Shards.manifest(a, 4), Shards.manifest(b, 4))
      .collect()
    // disjoint id ranges at 4 shards: every shard present both sides changes;
    // a shard missing on one side must come back added/removed, never null
    assert(d.forall(r => Set("added", "removed", "changed")(r.getAs[String]("status"))))
    assert(d.map(_.getAs[Long]("n_docs_a")).sum == 50L)
    assert(d.map(_.getAs[Long]("n_docs_b")).sum == 40L)
  }

  test("a torn shard-file rewrite is caught by the ledger manifest") {
    val docs = corpus((1L to 200L).map(i => (i, s"text $i", "c")): _*)
      .localCheckpoint(true)
    val ledger = Shards.manifest(docs, 8).localCheckpoint(true)

    // the export a 1000-executor job would run: route rows by the same
    // hex60 mod, one directory per shard
    val dir = java.nio.file.Files.createTempDirectory("graft_shard_export").toString
    docs.withColumn("shard",
        pmod(graft.dedup.Dedup.hex60(col("doc_id").cast("string")), lit(8L)))
      .write.partitionBy("shard").mode("overwrite").parquet(dir)

    // silent corruption: shard 3's file loses its last row (a torn task
    // rewrite that still left a well-formed parquet footer behind)
    val part = spark.read.parquet(s"$dir/shard=3").localCheckpoint(true)
    val maxId = part.agg(max("doc_id")).head().getLong(0)
    part.filter(col("doc_id") =!= maxId)
      .write.mode("overwrite").parquet(s"$dir/shard=3")

    // verification = recompute the manifest from the files and diff it
    val readBack = spark.read.parquet(dir).select("doc_id", "text", "cat")
    val d = Shards.manifestDelta(ledger, Shards.manifest(readBack, 8)).collect()
    assert(d.count(_.getAs[String]("status") == "changed") == 1)
    assert(d.count(_.getAs[String]("status") == "unchanged") == 7)
    val bad = d.find(_.getAs[String]("status") == "changed").get
    assert(bad.getAs[Long]("n_docs_a") == bad.getAs[Long]("n_docs_b") + 1)
  }

  test("packed ledger: removal ripples only from the victim's bin onward") {
    // one shard, 10 docs x 100 tokens, 250-token bins:
    //   bin0 = docs 1-3, bin1 = 4-5, bin2 = 6-8, bin3 = 9-10
    val tokens = ("w " * 99).trim + " w" // exactly 100 whitespace tokens
    val a = corpus((1L to 10L).map(i => (i, tokens, "c")): _*)
    val b = a.filter($"doc_id" =!= 5L) // doc 5 leaves the crawl
    def ledger(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Shards.packedLedger(
        graft.text.TextOps.packSequences(df, budget = 250, shards = 1))
    val d = graft.operators.Shards.ledgerDelta(ledger(a), ledger(b),
        Seq("shard", "bin"), Seq("n_docs", "n_tokens", "first_doc", "checksum"))
      .collect().map(r => r.getAs[Long]("bin") -> r.getAs[String]("status"))
      .toMap
    // everything packed before the victim is byte-identical and reused;
    // every bin from the victim's onward shifts (offsets moved by 100)
    assert(d == Map(0L -> "unchanged", 1L -> "changed",
      2L -> "changed", 3L -> "changed"))
  }

  test("incremental packed ledger: assembly == from-scratch; prefix bins truly reused") {
    // 2 shards (doc_id % 2), 100-token docs, 250-token bins. Per shard the
    // docs pack 2.5 to a bin, so the boundary-bin path (a reused prefix
    // member re-entering the re-pack) is exercised by construction.
    val tokens = ("w " * 99).trim + " w" // exactly 100 whitespace tokens
    val a = corpus((1L to 20L).map(i => (i, tokens, "c")): _*)
    // late-ripple delta: doc 15 revised (shard 1), doc 18 removed (shard 0),
    // doc 21 added (shard 1) — everything before doc 15/18 per shard reuses
    val b = a.filter($"doc_id" =!= 18L)
      .withColumn("text", when($"doc_id" === 15L,
        concat($"text", lit(" extra words here"))).otherwise($"text"))
      .unionByName(corpus((21L, tokens, "c")))
    def units(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", size(graft.text.TextOps.words($"text"))
        .cast("long").as("n_tokens"))
    def pack(df: org.apache.spark.sql.DataFrame) =
      graft.text.TextOps.packSequences(units(df), budget = 250, shards = 2,
        tokenCount = Some(col("n_tokens")))
    val packA = pack(a).localCheckpoint(true)
    val ledgerA = Shards.packedLedger(packA).localCheckpoint(true)
    val delta = graft.dedup.Dedup.corpusDelta(a, b)
    val affected = units(a.join(
        delta.filter($"status".isin("changed", "removed")).select("doc_id"), "doc_id"))
      .unionByName(units(b.join(
        delta.filter($"status".isin("changed", "added")).select("doc_id"), "doc_id")))
      .select("doc_id")
    val assembled = Shards.incrementalPackedLedger(units(b), packA, ledgerA,
      affected, budget = 250, nShards = 2)
    val scratch = Shards.packedLedger(pack(b))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(assembled) == rows(scratch),
      "the incremental assembly must hash-equal the from-scratch export")
    // reuse is real: the pre-ripple prefix bins survive byte-identically
    // (shard 0 re-packs from doc 18, shard 1 from doc 15 — the earlier
    // bins of each shard come straight from ledgerA)
    val la = ledgerA.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("checksum")).toMap
    val asm = assembled.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("checksum")).toMap
    val reusedKeys = asm.keySet.filter(k => la.get(k).contains(asm(k)))
    assert(reusedKeys.exists(_._1 == 0L) && reusedKeys.exists(_._1 == 1L),
      s"both shards must reuse their prefix bins; got $reusedKeys")
    // empty delta: nothing re-packs, the ledger is cycle A verbatim
    val noDelta = Shards.incrementalPackedLedger(units(a), packA, ledgerA,
      affected.limit(0), budget = 250, nShards = 2)
    assert(rows(noDelta) == rows(ledgerA))
    // the incremental PACK FRAME (what cycle 2 reads) is bit-equal to a
    // from-scratch pack of B — the chaining contract q226 rests on
    val frameB = Shards.incrementalPackFrame(units(b), packA, affected,
      budget = 250, nShards = 2)
    val cols = Seq("shard", "bin", "doc_id", "n_tokens", "bin_offset")
    assert(rows(frameB.select(cols.map(col): _*)) ==
      rows(pack(b).select(cols.map(col): _*)))
  }

  test("drift store: delta-maintained counts serve the monolithic report") {
    import graft.operators.Drift
    val a = corpus((1L to 60L).map(i => (i, s"body $i", if (i % 3 == 0) "x" else "y")): _*)
    // B: drop %5==0, flip %7==0 to category z, add 10 fresh docs
    val b = a.filter($"doc_id" % 5 =!= 0L)
      .withColumn("cat", when($"doc_id" % 7 === 0L, "z").otherwise($"cat"))
      .unionByName(corpus((61L to 70L).map(i => (i, s"body $i", "z")): _*))
    val path = sys.props("java.io.tmpdir") + "/graft_drift_spec_p" +
      ProcessHandle.current().pid()
    Drift.buildDriftStore(a, feats, path)
    // leaving = removed + changed-old; arriving = added + changed-new.
    // corpusDeltaOn folds the FEATURE SOURCE column into the hash (the
    // delta contract at Drift.appendDriftCounts): the %7 docs change only
    // `cat`, so a text-only delta would call them 'unchanged' and the
    // store would skew from the monolithic report
    val delta = graft.dedup.Dedup.corpusDeltaOn(a, b, Seq("text", "cat"))
      .localCheckpoint(true)
    val leaving = delta.filter($"status".isin("removed", "changed")).select("doc_id")
    val arriving = delta.filter($"status".isin("added", "changed")).select("doc_id")
    assert(Drift.retireDriftCounts(a.join(leaving, "doc_id"), feats, path, 1L))
    assert(Drift.appendDriftCounts(b.join(arriving, "doc_id"), feats, path, 2L))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val monolithic = rows(Drift.psiReport(a, b, feats))
    assert(rows(Drift.psiFromStore(spark, path)) == monolithic)
    // replays are ledgered no-ops
    assert(!Drift.retireDriftCounts(a.join(leaving, "doc_id"), feats, path, 1L))
    assert(!Drift.appendDriftCounts(b.join(arriving, "doc_id"), feats, path, 2L))
    // compaction folds the batches and changes nothing served
    assert(Drift.compactDriftStore(spark, path))
    assert(rows(Drift.psiFromStore(spark, path)) == monolithic)
    assert(!Drift.compactDriftStore(spark, path)) // single batch left: no-op
  }

  test("daily drift store: backfill + append serves the raw recompute; replayed days are no-ops") {
    import graft.operators.Drift
    import java.sql.Date
    def ev(rows: (String, String)*) =
      rows.map { case (d, m) => (Date.valueOf(d), m) }.toDF("day", "metric")
    val history = ev(
      "2026-03-01" -> "click", "2026-03-01" -> "click", "2026-03-01" -> "err",
      "2026-03-02" -> "click", "2026-03-02" -> "err", "2026-03-02" -> "err",
      "2026-03-03" -> "click", // gap: no 03-04
      "2026-03-05" -> "err", "2026-03-05" -> "err")
    val today = ev("2026-03-06" -> "click", "2026-03-06" -> "err")
    val path = sys.props("java.io.tmpdir") + "/graft_daily_drift_p" +
      ProcessHandle.current().pid()
    Drift.buildDailyDriftStore(history, $"day", $"metric", path)
    val epoch6 = java.time.LocalDate.parse("2026-03-06").toEpochDay
    assert(Drift.appendDailyDriftCounts(today, $"metric", path, epoch6))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // the monolithic monitor over the union (q220's exact shape)
    val all = history.unionByName(today)
      .groupBy("day", "metric").agg(count(lit(1)).as("c"))
    val bc = all.select($"day".cast("string").as("feature"), $"metric".as("bucket"), $"c")
    val ac = all.select(date_add($"day", 1).cast("string").as("feature"),
      $"metric".as("bucket"), $"c")
    val monolithic = rows(Drift.psiFromCounts(ac, bc)
      .filter($"n_a" > 0 && $"n_b" > 0).withColumnRenamed("feature", "day"))
    assert(rows(Drift.dailyDriftFromStore(spark, path)) == monolithic)
    // day pairs: 02 vs 01, 03 vs 02, 06 vs 05 — the gap (04 vs 03 and
    // 05 vs 04) drops out on both engines
    val days = Drift.dailyDriftFromStore(spark, path)
      .select("day").as[String].collect().sorted.toSeq
    assert(days == Seq("2026-03-02", "2026-03-03", "2026-03-06"))
    // at-least-once scheduler: a replayed day is a ledgered no-op and the
    // served report is unchanged (no double counting)
    assert(!Drift.appendDailyDriftCounts(today, $"metric", path, epoch6))
    assert(rows(Drift.dailyDriftFromStore(spark, path)) == monolithic)
    // RETENTION (the un-learn path): retire everything before 03-03 —
    // the 03-02 pair loses its subject, 03-03 loses its baseline, and
    // only the 06-vs-05 pair survives, exactly as if history started at
    // the horizon. Tombstones keep the ledger: a replay of a retired day
    // is STILL a no-op, never a resurrection.
    val horizon = java.time.LocalDate.parse("2026-03-03").toEpochDay
    assert(Drift.retireDailyDriftDays(spark, path, horizon) == 2) // 03-01, 03-02
    val daysAfter = Drift.dailyDriftFromStore(spark, path)
      .select("day").as[String].collect().sorted.toSeq
    assert(daysAfter == Seq("2026-03-06"))
    assert(!Drift.appendDailyDriftCounts(
      ev("2026-03-01" -> "click"), $"metric", path,
      java.time.LocalDate.parse("2026-03-01").toEpochDay),
      "a retired day must not resurrect through the append path")
    assert(Drift.retireDailyDriftDays(spark, path, horizon) == 0,
      "retiring an already-retired range is a counted no-op")
  }

  test("daily drift retention: full retirement serves empty, truncation never unledgers, junk partitions skipped") {
    import graft.operators.Drift
    import java.sql.Date
    def ev(rows: (String, String)*) =
      rows.map { case (d, m) => (Date.valueOf(d), m) }.toDF("day", "metric")
    val path = java.nio.file.Files.createTempDirectory("graft_daily_ret").toString
    Drift.buildDailyDriftStore(
      ev("2026-04-01" -> "a", "2026-04-01" -> "b", "2026-04-02" -> "a"),
      $"day", $"metric", path)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    // a null event day writes a __HIVE_DEFAULT_PARTITION__ dir — retention
    // must skip it (r15 ADVICE 2), not throw on `.drop(6).toLong`
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$path/days/batch=__HIVE_DEFAULT_PARTITION__"))
    val d1 = java.time.LocalDate.parse("2026-04-01").toEpochDay
    // retire EVERYTHING — the store becomes all-tombstones
    assert(Drift.retireDailyDriftDays(spark, path, d1 + 100) == 2)
    // the in-place truncation: at no instant is the ledger dir absent —
    // post-retire it still exists (empty), so a replayed day stays a no-op
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/days/batch=$d1")),
      "truncation must keep the ledger dir")
    assert(!Drift.appendDailyDriftCounts(ev("2026-04-01" -> "a"), $"metric", path, d1),
      "a retired day must stay a ledgered no-op")
    // a fully-retired store has zero parquet files: the report is EMPTY,
    // not an AnalysisException (r15 ADVICE 2)
    val empty = Drift.dailyDriftFromStore(spark, path)
    assert(empty.columns.toSeq ==
      Seq("day", "n_buckets", "n_a", "n_b", "psi", "verdict"))
    assert(empty.count() == 0L)
    // WHY in-place matters — simulate the OLD delete+mkdirs crash window
    // by removing the ledger dir outright: the replay now RE-LANDS the
    // retired day. That resurrection is exactly what the fixed truncation
    // makes impossible.
    require(fs.delete(new org.apache.hadoop.fs.Path(s"$path/days/batch=$d1"), true))
    assert(Drift.appendDailyDriftCounts(ev("2026-04-01" -> "a"), $"metric", path, d1),
      "without the ledger dir the day resurrects — the window the fix closes")
  }

  test("daily drift lifecycle: random append/replay/retire/vacuum interleavings serve the horizon-cut monolith") {
    import graft.operators.Drift
    import graft.store.Ledger
    // deterministic seed: the same three scenarios replay in every CI run
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 3) {
      val path = java.nio.file.Files.createTempDirectory(s"graft_daily_rand$trial").toString
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        spark.sparkContext.hadoopConfiguration)
      val day0 = 20000L + rnd.nextInt(100)
      val nDays = 8 + rnd.nextInt(5)
      val buckets = Seq("a", "b", "c")
      // per-day event rows (a day may be empty — a gap on both engines)
      val byDay: Map[Long, Seq[(java.sql.Date, String)]] =
        (0 until nDays).map { i =>
          val d = day0 + i
          val date = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))
          d -> buckets.flatMap(b => Seq.fill(rnd.nextInt(4))((date, b)))
        }.toMap
      def ev(rows: Seq[(java.sql.Date, String)]) = rows.toDF("day", "metric")
      // appends land in a SHUFFLED order, some days delivered twice (the
      // at-least-once scheduler) — the ledger must keep replays no-ops
      val order = rnd.shuffle(byDay.keys.toSeq)
      order.foreach { d =>
        val landed = Drift.appendDailyDriftCounts(ev(byDay(d)), $"metric", path, d)
        assert(landed, s"first delivery of day $d must land")
        if (rnd.nextBoolean())
          assert(!Drift.appendDailyDriftCounts(ev(byDay(d)), $"metric", path, d),
            s"replayed day $d must be a no-op")
      }
      // retention horizon somewhere inside the range, then the vacuum
      val horizon = day0 + 1 + rnd.nextInt(nDays - 2)
      Drift.retireDailyDriftDays(spark, path, horizon)
      Ledger.vacuumStore(spark, path, horizon, Seq("days"))
      // a retired+vacuumed day re-offered: refused by the watermark rule
      val retiredDay = day0 + rnd.nextInt((horizon - day0).toInt)
      assert(!Drift.appendDailyDriftCounts(ev(byDay(retiredDay)), $"metric",
        path, retiredDay), s"vacuumed day $retiredDay resurrected (trial $trial)")
      // idempotent re-retire and a second (lower) vacuum are both no-ops
      assert(Drift.retireDailyDriftDays(spark, path, horizon) == 0)
      assert(Ledger.vacuumStore(spark, path, horizon - 1, Seq("days")) == 0)
      // the monolith over surviving history: every pre-horizon day simply
      // never existed
      val surviving = byDay.filter(_._1 >= horizon).values.flatten.toSeq
      val expected = Drift.dayPairPsi(ev(surviving)
          .groupBy("day").pivot("metric", buckets).count()
          .select($"day", explode(map(buckets.flatMap(b =>
            Seq(lit(b), coalesce(col(b), lit(0L)))): _*)).as(Seq("bucket", "c")))
          .filter($"c" > 0))
        .collect().map(_.toString).sorted.toSeq
      val served = Drift.dailyDriftFromStore(spark, path)
        .collect().map(_.toString).sorted.toSeq
      assert(served == expected, s"trial $trial: store diverged from the monolith")
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
    }
  }

  test("drift store: stream-grown counts survive kill/restart and replay") {
    import graft.operators.Drift
    import graft.streaming.StreamingPipeline
    val prefix = corpus((1L to 10L).map(i => (i, s"base doc $i", if (i % 2 == 0) "x" else "y")): _*)
    val d2 = corpus((11L to 16L).map(i => (i, s"mid doc $i", "y")): _*)
    val d3 = corpus((17L to 24L).map(i => (i, s"late doc $i", "z")): _*)
    val base = java.nio.file.Files.createTempDirectory("graft_drift_stream").toString
    Drift.buildDriftStore(prefix, feats, s"$base/store")

    def deliver(df: org.apache.spark.sql.DataFrame): Unit =
      df.repartition(2).write.mode("append").parquet(s"$base/in")
    def drain(): Unit =
      StreamingPipeline.maintain(
        spark.readStream.schema("doc_id LONG, text STRING, cat STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/in"), s"$base/ck")(
        StreamingPipeline.driftAppendBatch(s"$base/store", feats)).start().awaitTermination()

    deliver(d2); drain() // session 1 dies after the mid tranche
    deliver(d3); drain() // restart on the same checkpoint
    // at-least-once redelivery of the first committed batch: ledgered no-op
    StreamingPipeline.driftAppendBatch(s"$base/store", feats)(d2, 0L)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val monolithic = rows(Drift.psiReport(
      prefix, prefix.unionByName(d2).unionByName(d3), feats))
    assert(rows(Drift.psiFromStore(spark, s"$base/store")) == monolithic,
      "stream-grown drift report diverges from the monolithic one")
  }

  test("drift rebase: next cycle starts from zero; torn swap serves and heals") {
    import graft.operators.Drift
    val a = corpus((1L to 40L).map(i => (i, s"t $i", if (i % 2 == 0) "x" else "y")): _*)
    val b = a.filter($"doc_id" % 5 =!= 0L) // 8 docs leave
    val path = sys.props("java.io.tmpdir") + "/graft_drift_rebase_p" +
      ProcessHandle.current().pid()
    Drift.buildDriftStore(a, feats, path)
    assert(Drift.retireDriftCounts(a.filter($"doc_id" % 5 === 0L), feats, path, 1L))
    val atB = Drift.psiFromStore(spark, path).collect().head
    assert(atB.getAs[Long]("n_b") == 32L)

    Drift.rebaseDriftBaseline(spark, path)
    val rebased = Drift.psiFromStore(spark, path).collect().head
    assert(rebased.getAs[Double]("psi") == 0.0 && rebased.getAs[Long]("n_a") == 32L,
      "after the retrain is accepted, the monitor restarts from zero")
    // a replay of the pre-rebase batch must stay refused by the kept ledger
    assert(!Drift.retireDriftCounts(a.filter($"doc_id" % 5 === 0L), feats, path, 1L))

    // torn rebase: crash between the live half's two renames — the .prev
    // fallback must serve the SAME zero report, and a re-run heals
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/cur"),
      new org.apache.hadoop.fs.Path(s"$path/cur.prev")))
    assert(Drift.psiFromStore(spark, path).collect().head.getAs[Double]("psi") == 0.0)
    Drift.rebaseDriftBaseline(spark, path) // recoverDir heals, rebase completes
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/cur"))
      && !fs.exists(new org.apache.hadoop.fs.Path(s"$path/cur.prev")))
    // the next cycle measures only movement since the retrain
    assert(Drift.appendDriftCounts(corpus((100L to 109L).map(i => (i, s"n $i", "z")): _*),
      feats, path, 5L))
    val cyc2 = Drift.psiFromStore(spark, path).collect().head
    assert(cyc2.getAs[Long]("n_a") == 32L && cyc2.getAs[Long]("n_b") == 42L)
    assert(cyc2.getAs[Double]("psi") > 0.0)
  }

  test("incremental export reassembles snapshot B exactly, dropping emptied shards") {
    val a = corpus((1L to 120L).map(i => (i, s"doc $i", "c")): _*)
    // B: a removed slice, a revised slice, a few additions
    val b = a.filter($"doc_id" % 11 =!= 0L)
      .withColumn("text",
        when($"doc_id" % 13 === 0L, concat($"text", lit(" v2"))).otherwise($"text"))
      .unionByName(corpus((121L to 130L).map(i => (i, s"doc $i", "c")): _*))
    val assembled = graft.operators.Shards
      .incrementalExport(a, b, nShards = 32)
      .select("doc_id", "text", "cat")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(assembled) == rows(b),
      "reuse+rewrite must reconstruct snapshot B row-for-row")
  }

  test("unchanged docs route to the same shard across snapshots") {
    val a = corpus((1L to 100L).map(i => (i, s"body $i", "c")): _*)
    // remove 20, keep 80 unchanged — the kept docs' shards must not move,
    // so every pair-difference comes only from the removed docs
    val b = a.filter($"doc_id" % 5 =!= 0L)
    val d = Shards.manifestDelta(Shards.manifest(a, 16), Shards.manifest(b, 16))
    val changedOrRemoved = d.filter($"status" =!= "unchanged").count()
    // shards holding none of the 20 removed docs stay byte-identical
    assert(changedOrRemoved < 16L)
    assert(d.filter($"status" === "added").count() == 0L)
  }
}
