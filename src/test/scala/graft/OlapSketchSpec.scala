package graft

import graft.sketch.Sketches
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._

/** Invariants for the OLAP additions and the deterministic sketches. The
  * load-bearing property is partition-order independence: a sketch whose
  * estimate wobbles with shuffle order can never pass a hash-compare gate,
  * and would be non-reproducible at cluster scale.
  */
class OlapSketchSpec extends SparkSpec {
  import spark.implicits._

  test("hll: estimate within 5% at 256 registers and EXACTLY partition-order independent") {
    val df = (1 to 5000).map(i => ("g", s"user_$i")).toDF("grp", "item")
    val est = Sketches.hllDistinct(df, Seq("grp"), col("item"))
      .collect().head.getAs[Double]("estimate")
    // raw HLL at m=256 has ~6.5% typical error; 5000 distinct is outside the
    // small-range-correction zone so the raw estimator applies cleanly
    assert(math.abs(est - 5000.0) / 5000.0 < 0.05, s"estimate $est")

    val perm = Sketches.hllDistinct(df.repartition(7, col("item")), Seq("grp"), col("item"))
      .collect().head.getAs[Double]("estimate")
    assert(perm == est, "estimate must be bit-identical under repartitioning")
  }

  test("hll: duplicates do not move the estimate") {
    val once = (1 to 800).map(i => ("g", s"u$i")).toDF("grp", "item")
    val dup = (1 to 800).flatMap(i => Seq.fill(5)(("g", s"u$i"))).toDF("grp", "item")
    val e1 = Sketches.hllDistinct(once, Seq("grp"), col("item")).collect().head.getAs[Double]("estimate")
    val e5 = Sketches.hllDistinct(dup, Seq("grp"), col("item")).collect().head.getAs[Double]("estimate")
    assert(e1 == e5)
  }

  test("hll: incremental register merges across slices equal the batch sketch bit-exactly") {
    val all = (1 to 3000).map(i => (s"g${i % 2}", s"user_$i")).toDF("grp", "item")
    val slices = Seq(
      all.filter(col("item").substr(6, 10).cast("long") % 3 === 0),
      all.filter(col("item").substr(6, 10).cast("long") % 3 === 1),
      all.filter(col("item").substr(6, 10).cast("long") % 3 === 2))
    // merge slice registers pairwise (a merge TREE, not the input order)
    val merged = slices.map(s => Sketches.hllRegisters(s, Seq("grp"), col("item")))
      .reduceRight((a, b) => Sketches.hllMergeRegisters(a, b, Seq("grp")))
    val inc = Sketches.hllEstimate(merged, Seq("grp")).orderBy("grp").collect()
    val batch = Sketches.hllDistinct(all, Seq("grp"), col("item")).orderBy("grp").collect()
    assert(inc.map(_.toString).toSeq == batch.map(_.toString).toSeq,
      "merge tree must reproduce the single-pass sketch exactly")
    // idempotence: re-merging an already-included slice changes nothing
    val again = Sketches.hllEstimate(
      Sketches.hllMergeRegisters(merged,
        Sketches.hllRegisters(slices.head, Seq("grp"), col("item")), Seq("grp")),
      Seq("grp")).orderBy("grp").collect()
    assert(again.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("streaming hll store: foreachBatch merges reproduce the batch estimate") {
    val base = java.nio.file.Files.createTempDirectory("graft_hll").toString
    val in = s"$base/in"; val store = s"$base/regs"
    val mk = (lo: Int, hi: Int) => (lo to hi)
      .map(i => (i.toLong, java.sql.Timestamp.valueOf("2025-09-20 01:00:00"), "m", 1.0))
      .toDF("source_id", "ts", "metric", "value")
    mk(1, 400).write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readEventStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.hllMergeBatch(store, Seq("metric"), "source_id")).start()
    q1.awaitTermination(60000)
    // second delivery: 200 NEW sources plus 200 re-delivered ones
    mk(201, 600).write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readEventStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.hllMergeBatch(store, Seq("metric"), "source_id")).start()
    q2.awaitTermination(60000)
    val streamed = Sketches.hllEstimate(spark.read.parquet(store), Seq("metric")).collect()
    val batch = Sketches.hllDistinct(mk(1, 600), Seq("metric"), col("source_id")).collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq,
      "incremental store after overlapping deliveries == one-shot batch sketch")
  }

  test("cms: slice-merged cells equal the batch cells; replayed batches are no-ops") {
    val terms = (1 to 2000).map(i => Tuple1(s"t${i % 97}")).toDF("term")
    val slices = Seq(terms.limit(700), terms.offset(700).limit(700), terms.offset(1400))
    val mergedCells = slices.map(Sketches.cmsCells(_))
      .reduceRight(Sketches.cmsMergeCells)
      .orderBy("seed", "cell").collect().map(_.toString).toSeq
    val batchCells = Sketches.cmsCells(terms)
      .orderBy("seed", "cell").collect().map(_.toString).toSeq
    assert(mergedCells == batchCells, "sum-merge tree must equal the one-shot cells")

    // transactional maintenance: a replayed batchId must not double-count
    val store = java.nio.file.Files.createTempDirectory("graft_cms").toString + "/cells"
    StreamingPipeline.cmsMergeBatch(store, "term")(slices(0), 0L)
    StreamingPipeline.cmsMergeBatch(store, "term")(slices(0), 0L) // replay
    StreamingPipeline.cmsMergeBatch(store, "term")(slices(1), 1L)
    StreamingPipeline.cmsMergeBatch(store, "term")(slices(2), 2L)
    val est = Sketches.cmsEstimate(terms, spark.read.parquet(store), "term")
    val truth = terms.groupBy("term").count()
    val joined = est.join(truth, "term").collect()
    joined.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("count"), "CMS never undercounts")
    }
    // d=3 rows over w=1024 cells with 97 terms: expect exact estimates
    assert(joined.forall(r => r.getAs[Long]("est") == r.getAs[Long]("count")),
      "no double counting after the replayed batch")
  }

  test("cms: estimates never undercount and heavy hitters surface on skew") {
    // zipf-ish: token t1 ×1000, t2 ×500, long tail ×1
    val terms = (Seq.fill(1000)("t1") ++ Seq.fill(500)("t2") ++
      (1 to 2000).map(i => s"tail_$i")).toDF("term")
    val top = Sketches.countMinTopK(terms, "term", d = 3, w = 1024, k = 5).collect()
    assert(top.forall(r => r.getAs[Long]("est") >= r.getAs[Long]("cnt")),
      "count-min must overestimate, never undercount")
    assert(top.head.getAs[String]("term") == "t1" && top(1).getAs[String]("term") == "t2")
    assert(top.head.getAs[Long]("cnt") == 1000L && top(1).getAs[Long]("cnt") == 500L)
  }

  test("cms: estimate is exact when a term's cells are collision-free") {
    val terms = (1 to 50).flatMap(i => Seq.fill(i)(s"w$i")).toDF("term")
    // 50 distinct terms in 3×1024 cells: collisions possible but each term's
    // estimate is min over 3 rows, and est == cnt whenever any row is clean
    val all = Sketches.countMinTopK(terms, "term", d = 3, w = 1024, k = 50).collect()
    val exact = all.count(r => r.getAs[Long]("est") == r.getAs[Long]("cnt"))
    assert(exact >= 45, s"only $exact of 50 small-vocab estimates exact")
  }

  test("histogram sketch: slice merge == batch; quantiles within one bin of exact") {
    val rng = new scala.util.Random(5)
    val vals = (1 to 4000).map(_ => ("g", rng.nextDouble() * 900))
    val df = vals.toDF("grp", "v")
    val sk = Sketches.histogramSketch(df, Seq("grp"), col("v"), binWidth = 50.0, numBins = 20)
    val merged = Seq(df.limit(1500), df.offset(1500))
      .map(Sketches.histogramSketch(_, Seq("grp"), col("v"), 50.0, 20))
      .reduce((a, b) => a.unionByName(b).groupBy("grp", "bucket")
        .agg(sum("n").as("n")))
    assert(sk.orderBy("bucket").collect().map(_.toString).toSeq ==
      merged.orderBy("bucket").collect().map(_.toString).toSeq)
    val q = Sketches.histogramQuantiles(sk, Seq("grp"), 50.0).collect()(0)
    val sorted = vals.map(_._2).sorted
    for ((p, col) <- Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")) {
      val exact = sorted(math.ceil(p * sorted.length).toInt - 1)
      val est = q.getAs[Double](col)
      assert(est >= exact && est - exact <= 50.0,
        s"$col: upper-edge estimate $est must cover exact $exact within one bin")
    }
    assert(q.getAs[Long]("n_rows") == 4000L)
  }

  test("auto-sized histogram: bounds pass keeps one-bin error on out-of-range data") {
    // values span [-500, 1400) — the fixed sketch's [0, binWidth*numBins)
    // domain would clamp ~40% of them into the two edge buckets, so its
    // quantiles there are only bounded by the data range; the bounds-pass
    // variant must stay within ONE derived bin everywhere
    val rng = new scala.util.Random(11)
    val vals = (1 to 4000).map(_ => ("g", rng.nextDouble() * 1900 - 500))
    val df = vals.toDF("grp", "v")
    val auto = Sketches.histogramSketchAuto(df, Seq("grp"), col("v"), numBins = 20)
    assert(auto.origin <= vals.map(_._2).min && auto.binWidth > 0)
    val q = Sketches.histogramQuantiles(auto.sketch, Seq("grp"), auto.binWidth,
      origin = auto.origin).collect()(0)
    val sorted = vals.map(_._2).sorted
    for ((p, c) <- Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")) {
      val exact = sorted(math.ceil(p * sorted.length).toInt - 1)
      val est = q.getAs[Double](c)
      assert(est >= exact && est - exact <= auto.binWidth,
        s"$c: $est must cover exact $exact within one derived bin (${auto.binWidth})")
    }
    assert(q.getAs[Long]("n_rows") == 4000L)
    // degenerate inputs don't divide by zero
    val flat = Seq(("g", 7.0), ("g", 7.0)).toDF("grp", "v")
    val af = Sketches.histogramSketchAuto(flat, Seq("grp"), col("v"), numBins = 20)
    assert(af.binWidth == 1.0 && af.sketch.collect().map(_.getAs[Long]("n")).sum == 2L)
  }

  test("streaming histogram store: restart + replay reproduce the batch quantiles bit-identically") {
    val base = java.nio.file.Files.createTempDirectory("graft_hist").toString
    val in = s"$base/in"; val store = s"$base/buckets"
    val mk = (lo: Int, hi: Int) => (lo to hi)
      .map(i => (i.toLong, java.sql.Timestamp.valueOf("2025-09-20 01:00:00"), "m",
        (i % 900).toDouble))
      .toDF("source_id", "ts", "metric", "value")
    mk(1, 1500).write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readEventStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.histMergeBatch(store, Seq("metric"), "value", 50.0, 20)).start()
    q1.awaitTermination(60000)
    // restart from the same checkpoint with a second delivery
    mk(1501, 3000).write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readEventStream(spark, in), s"$base/ckpt")(
      StreamingPipeline.histMergeBatch(store, Seq("metric"), "value", 50.0, 20)).start()
    q2.awaitTermination(60000)
    val batchSk = Sketches.histogramSketch(mk(1, 3000), Seq("metric"), col("value"), 50.0, 20)
    val batchRows = batchSk.orderBy("bucket").collect().map(_.toString).toSeq
    assert(spark.read.parquet(store).orderBy("bucket").collect().map(_.toString).toSeq
      == batchRows, "streamed bucket store == one-shot batch sketch, bit-identical")
    assert(Sketches.histogramQuantiles(spark.read.parquet(store), Seq("metric"), 50.0)
      .collect().map(_.toString).toSeq ==
      Sketches.histogramQuantiles(batchSk, Seq("metric"), 50.0)
        .collect().map(_.toString).toSeq,
      "quantiles off the incremental store match the batch build exactly")

    // crash recovery: re-delivered batch ids must be no-ops (sum-merge is
    // not idempotent — the _batches ledger is what makes this hold)
    val store2 = s"$base/buckets2"
    val body = StreamingPipeline.histMergeBatch(store2, Seq("metric"), "value", 50.0, 20) _
    body(mk(1, 1000), 0L)
    body(mk(1, 1000), 0L) // replay
    body(mk(1001, 2000), 1L)
    body(mk(1001, 2000), 1L) // replay
    body(mk(2001, 3000), 2L)
    assert(spark.read.parquet(store2).orderBy("bucket").collect().map(_.toString).toSeq
      == batchRows, "replayed ids are no-ops; final store == batch sketch")
  }

  test("bloom: no false negatives ever; fp rate tracks the analytic bound; state stays bounded") {
    val members = (1 to 2000).map(i => s"item_$i").toDF("item")
    // production-shaped sizing: kn/m = 0.12, analytic fp ~ 1.7e-4
    val words = Sketches.bloomWords(members, "item", k = 4, m = 1 << 16)
    assert(words.count() <= (1 << 16) / 32, "word table must stay <= m/32 rows")
    val neg = Sketches.bloomMightContain(members, words, "item", 4, 1 << 16)
      .filter(!col("might_contain")).count()
    assert(neg == 0, s"$neg false negatives — structurally impossible unless k/m mismatch")
    val outsiders = (1 to 4000).map(i => s"other_$i").toDF("item")
    val fpBig = Sketches.bloomMightContain(outsiders, words, "item", 4, 1 << 16)
      .filter(col("might_contain")).count()
    assert(fpBig <= 8, s"fp count $fpBig far above the ~0.7 analytic expectation")

    // overloaded sizing (kn/m = 0.98): fp must appear AND stay near the
    // (1 - e^-kn/m)^k = 0.151 bound — the test that the math is the real fp
    // driver, not an accident of sparse state
    val crowded = Sketches.bloomWords(members, "item", k = 4, m = 1 << 13)
    val fpSmall = Sketches.bloomMightContain(outsiders, crowded, "item", 4, 1 << 13)
      .filter(col("might_contain")).count()
    assert(fpSmall > 0, "overloaded filter must show false positives")
    assert(fpSmall.toDouble / 4000 < 0.30, s"fp rate ${fpSmall / 4000.0} above 2x the 0.151 bound")
    val negSmall = Sketches.bloomMightContain(members, crowded, "item", 4, 1 << 13)
      .filter(!col("might_contain")).count()
    assert(negSmall == 0, "even an overloaded filter has NO false negatives")
  }

  test("bloom: OR-merge tree equals batch build bit-exactly and re-merge is a no-op") {
    val all = (1 to 3000).map(i => s"k$i").toDF("item")
    val slices = Seq(all.limit(1000), all.offset(1000).limit(1000), all.offset(2000))
    val batch = Sketches.bloomWords(all, "item", 4, 1 << 16)
      .orderBy("word_idx").collect().map(_.toString).toSeq
    val merged = slices.map(Sketches.bloomWords(_, "item", 4, 1 << 16))
      .reduceRight(Sketches.bloomMergeWords)
    assert(merged.orderBy("word_idx").collect().map(_.toString).toSeq == batch,
      "merge tree must reproduce the single-pass filter exactly")
    // idempotence: re-ORing an already-included slice changes nothing
    val again = Sketches.bloomMergeWords(merged,
      Sketches.bloomWords(slices.head, "item", 4, 1 << 16))
    assert(again.orderBy("word_idx").collect().map(_.toString).toSeq == batch)
  }

  test("bloom contamination: prefiltered audit is EXACT — equal to the full join audit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = graft.dedup.Dedup.wordShingles(docs, 3)
      .withColumn("__b", graft.dedup.Dedup.hex60(col("doc_id").cast("string")) % 100)
    val corpus = sh.filter(col("__b") < 80).drop("__b")
    val bench = sh.filter(col("__b") >= 80).drop("__b")
    val pre = graft.dedup.Dedup.bloomContamination(corpus, bench, k = 4, m = 1 << 20)
    val exact = graft.dedup.Dedup.contamination(corpus, bench)
    val joined = pre.join(exact, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("n_present") == r.getAs[Long]("n_overlap"),
        s"doc ${r.getAs[Long]("doc_id")}: prefiltered count diverged from the exact join")
      assert(r.getAs[Long]("n_bloom_pos") >= r.getAs[Long]("n_present"))
      assert(r.getAs[Boolean]("contaminated") == (r.getAs[Long]("n_overlap") > 0))
    }
  }

  test("streaming bloom store: restart reproduces the batch filter; replayed ids are no-ops") {
    val base = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val in = s"$base/in"; val store = s"$base/words"
    val mk = (lo: Int, hi: Int) => (lo to hi)
      .map(i => (i.toLong, s"alpha b$i gamma d$i epsilon"))
      .toDF("doc_id", "text")
    mk(1, 300).write.mode("overwrite").parquet(in)
    val q1 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt") { (b, id) =>
      StreamingPipeline.bloomMergeBatch(store, "shingle")(graft.dedup.Dedup.wordShingles(b, 3), id)
    }.start()
    q1.awaitTermination(60000)
    mk(301, 600).write.mode("append").parquet(in)
    val q2 = StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, in), s"$base/ckpt") { (b, id) =>
      StreamingPipeline.bloomMergeBatch(store, "shingle")(graft.dedup.Dedup.wordShingles(b, 3), id)
    }.start()
    q2.awaitTermination(60000)
    val batch = Sketches.bloomWords(
        graft.dedup.Dedup.wordShingles(mk(1, 600), 3), "shingle")
      .orderBy("word_idx").collect().map(_.toString).toSeq
    assert(spark.read.parquet(store).orderBy("word_idx").collect().map(_.toString).toSeq
      == batch, "streamed word store == one-shot batch filter, bit-identical")

    // OR-merge is idempotent, so replayed batch ids need no ledger
    val store2 = s"$base/words2"
    val body = StreamingPipeline.bloomMergeBatch(store2, "shingle") _
    val shingles = (lo: Int, hi: Int) => graft.dedup.Dedup.wordShingles(mk(lo, hi), 3)
    body(shingles(1, 300), 0L)
    body(shingles(1, 300), 0L) // replay
    body(shingles(301, 600), 1L)
    body(shingles(301, 600), 1L) // replay
    assert(spark.read.parquet(store2).orderBy("word_idx").collect().map(_.toString).toSeq
      == batch, "replays re-OR the same bits; final store == batch filter")
  }

  test("funnel: stage counts only shrink and strict ordering is enforced") {
    val counts = queries.OlapQueries.defs("q87_funnel")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("users")).toMap
    assert(counts("1_view") >= counts("2_click") && counts("2_click") >= counts("3_purchase"))
    assert(counts("1_view") > 0)
  }

  test("rollup: subtotals and grand total are consistent") {
    val rows = queries.OlapQueries.defs("q84_rollup")(spark, "/root/testdata/sf0.001").collect()
    val leaf = rows.filter(_.getAs[Long]("gid") == 0)
    val flagTot = rows.filter(_.getAs[Long]("gid") == 1)
    val grand = rows.filter(_.getAs[Long]("gid") == 3)
    assert(grand.length == 1)
    assert(leaf.map(_.getAs[Long]("n")).sum == grand.head.getAs[Long]("n"))
    assert(flagTot.map(_.getAs[Long]("n")).sum == grand.head.getAs[Long]("n"))
    // decimal-summed prices roll up exactly, not just approximately
    assert(math.abs(leaf.map(_.getAs[Double]("sum_price")).sum - grand.head.getAs[Double]("sum_price")) < 1e-4)
  }

  test("streaming MG store: restart + replay keep the heavy-hitter theorem") {
    val base = java.nio.file.Files.createTempDirectory("graft_mg").toString
    val in = s"$base/in"; val store = s"$base/mg"
    // skewed stream: items 0..4 hot, 5..60 tail
    def mk(seed: Int, n: Int) = (0 until n)
      .map(i => ((if ((i * 7 + seed) % 3 != 0) (i * 13 + seed) % 5 else 5 + (i * 31 + seed) % 56).toString))
      .toDF("item")
    val b1 = mk(0, 500); val b2 = mk(1, 400)
    val k = 8
    b1.write.mode("overwrite").parquet(in)
    def streamOnce(): Unit = {
      val q = StreamingPipeline.maintain(
        spark.readStream.schema("item STRING").option("maxFilesPerTrigger", "16").parquet(in),
        s"$base/ckpt")(StreamingPipeline.mgMergeBatch(store, "item", k)).start()
      q.awaitTermination(60000)
    }
    streamOnce()
    b2.write.mode("append").parquet(in)
    streamOnce()
    val summary = spark.read.parquet(store).collect()
      .map(r => r.getAs[String]("item") -> r.getAs[Long]("cnt")).toMap
    assert(summary.size <= k)
    val all = b1.unionByName(b2).collect().map(_.getString(0))
    val exact = all.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = all.length.toDouble
    exact.foreach { case (item, cnt) =>
      if (cnt > n / k) {
        val est = summary.getOrElse(item, 0L)
        assert(est > 0, s"heavy hitter $item ($cnt) missing from streamed summary")
        assert(est <= cnt && cnt - est <= n / k, s"$item est $est vs $cnt")
      }
    }
    // replayed batch ids are no-ops (the _batches ledger refuses)
    val before = spark.read.parquet(store).collect().map(_.toString).sorted.toSeq
    StreamingPipeline.mgMergeBatch(store, "item", k)(b1, 0L)
    val after = spark.read.parquet(store).collect().map(_.toString).sorted.toSeq
    assert(before == after, "replayed batch must not re-merge")
  }

  test("streaming PCA moments store: restart/replay fit == batch fit bit-for-bit") {
    import graft.similarity.Pca
    val base = java.nio.file.Files.createTempDirectory("graft_pcam").toString
    val in = s"$base/in"; val store = s"$base/mom"
    def mk(lo: Long, hi: Long) = (lo until hi)
      .map(i => (i, Seq.tabulate(8)(d => ((i * 13 + d * 7) % 11).toDouble - 5.0)))
      .toDF("vec_id", "embedding")
    val b1 = mk(0, 25); val b2 = mk(25, 40)
    b1.write.mode("overwrite").parquet(in)
    def streamOnce(): Unit = {
      val q = StreamingPipeline.maintain(
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<DOUBLE>")
          .option("maxFilesPerTrigger", "16").parquet(in),
        s"$base/ckpt")(StreamingPipeline.pcaMomentsBatch(store, dim = 8)).start()
      q.awaitTermination(60000)
    }
    streamOnce()
    b2.write.mode("append").parquet(in)
    streamOnce()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("comp", "dim").collect().map(_.toString).toSeq
    val streamed = canon(Pca.fitFromMoments(spark, spark.read.parquet(store),
      p = 2, iters = 6, dim = 8))
    val batch = canon(Pca.fitFromMoments(spark,
      Pca.momentSums(mk(0, 40), dim = 8), p = 2, iters = 6, dim = 8))
    assert(streamed == batch, "stream-grown moments fit diverged from the batch fit")
    // replays are no-ops (the _batches ledger refuses)
    StreamingPipeline.pcaMomentsBatch(store, dim = 8)(b1, 0L)
    assert(canon(Pca.fitFromMoments(spark, spark.read.parquet(store),
      p = 2, iters = 6, dim = 8)) == batch)
  }

  test("moments merge raises loudly when a cell crosses the BIGINT envelope") {
    import graft.similarity.Pca
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // unit level: a planted near-envelope cell + a small push must raise at
    // merge time, not wrap
    val near = Seq((0, 0, Pca.momentGuardQ - 5L), (0, -1, 10L), (-1, -1, 100L))
      .toDF("i", "j", "q")
    val push = Seq((0, 0, 10L), (0, -1, 1L), (-1, -1, 1L)).toDF("i", "j", "q")
    val ex = intercept[Exception] { Pca.mergeMoments(near, push).collect() }
    assert(msgs(ex).exists(_.contains("envelope exceeded")),
      s"expected envelope raise, got: ${msgs(ex).mkString(" | ")}")
    // under the guard: values pass through exactly (q153's hash contract)
    val ok = Pca.mergeMoments(near, Seq((0, 0, -20L)).toDF("i", "j", "q"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(ok((0, 0)) == Pca.momentGuardQ - 25L)
    // batch level: a SINGLE oversized micro-batch raises inside momentSums
    // itself — the decimal(38,0) accumulation means the guard compares the
    // TRUE total (3e18 here), never a long-wrapped one, and the per-batch
    // sketch ledgeredSumMerge would write as a first store generation is
    // already guarded
    val ex1 = intercept[Exception] {
      Pca.momentSums((0 until 3).map(i => (i.toLong, Seq(1.0e5, 1.0e5)))
        .toDF("vec_id", "embedding"), dim = 2).collect()
    }
    assert(msgs(ex1).exists(_.contains("envelope exceeded")),
      s"expected envelope raise from momentSums, got: ${msgs(ex1).mkString(" | ")}")
    // maintainer level: a streamed store grown to near the envelope fails
    // LOUDLY on the batch that would cross it, and the staged-swap layout
    // leaves the pre-crossing store intact and readable
    val base = java.nio.file.Files.createTempDirectory("graft_pcam_env").toString
    val store = s"$base/mom"
    // dim-2 vectors at 1e5: each second-moment cell gains floor(1e10*1e8)
    // = 1e18 per row, so 2 rows land under the ~2.3e18 guard and the next
    // row's merge crosses it
    def big(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, Seq(1.0e5, 1.0e5))).toDF("vec_id", "embedding")
    StreamingPipeline.pcaMomentsBatch(store, dim = 2)(big(0, 2), 0L)
    val beforeRows = spark.read.parquet(store).collect().map(_.toString).sorted.toSeq
    val ex2 = intercept[Exception] {
      StreamingPipeline.pcaMomentsBatch(store, dim = 2)(big(2, 3), 1L)
    }
    assert(msgs(ex2).exists(_.contains("envelope exceeded")),
      s"expected envelope raise from the maintainer, got: ${msgs(ex2).mkString(" | ")}")
    val afterRows = spark.read.parquet(store).collect().map(_.toString).sorted.toSeq
    assert(afterRows == beforeRows, "failed merge must leave the store untouched")
  }
}
