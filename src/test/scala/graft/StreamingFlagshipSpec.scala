package graft

import graft.dedup.Dedup
import graft.queries.CorpusQueries
import graft.streaming.StreamingPipeline
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Composed-session restart drill for the streaming flagship, at the q190
  * v2 maintainer set (the r12 verdict's ask — r11's four-family drill plus
  * the DSIR count-store maintainer): every family has a single-family
  * restart/replay spec, but nothing kills ONE streaming session running
  * FIVE maintainers mid-stream. Cross-maintainer interference after a
  * crash — one family's ledger ahead of another's — is precisely what
  * per-family specs cannot see, so the drill:
  *
  *  1. kills the composed session after it has processed only a prefix of
  *     the input (all three feeds mid-stream, multiple triggers in);
  *  2. advances THREE of the five families a full delivery ahead (the
  *     crash landed after the LM, histogram, AND DSIR queries committed a
  *     trigger the MinHash and decontam queries never saw — each query
  *     checkpoints independently, so this skew is exactly what a real
  *     crash leaves; DSIR among the skewed-ahead families is the r12
  *     verdict's specific ask);
  *  3. compacts three stores while the session is down (maintenance runs
  *     between sessions — it must not disturb the pending restart);
  *  4. restarts all five maintainers on the SAME checkpoints, drains;
  *  5. replays every family's already-committed first batch id through its
  *     foreachBatch body (at-least-once redelivery after recovery);
  *
  * and asserts the composed q190 scoring frame — the q163 columns PLUS the
  * DSIR weight and acceptance rate — is byte-identical to an uninterrupted
  * one-session run over the same corpus. A dropped or double-counted
  * micro-batch, a stale store half, or any cross-family divergence shifts
  * some column of some document and fails the equality.
  * (True mid-trigger kills are nondeterministic to schedule; the torn-state
  * windows INSIDE each batch body are drilled per-family in
  * StoreFaultDrillSpec — this drill owns the cross-family interleavings.)
  */
class StreamingFlagshipSpec extends SparkSpec {
  import spark.implicits._

  // ---- corpus ------------------------------------------------------------

  private val t1 = "the quick brown fox jumps over the lazy dog"
  private val t2 = "pack my box with five dozen liquor jugs today"
  private val t3 = "sphinx of black quartz judge my vow tonight"
  // benchmark phrases: pPrefix lives in the PRE-BUILT store, pB1 arrives in
  // the first streamed bench delivery, pB2 only in the LAST — a decontam
  // store that stalls at any earlier point marks doc 17 clean and fails
  private val pPrefix = "secret benchmark answer sequence one two three"
  private val pB1 = "holdout prompt template foo bar baz qux quux"
  private val pB2 = "late arriving benchmark suite with unique shingle content"

  private def doc(id: Long, text: String): (Long, String, String, Long) =
    (id, text, if (id % 2 == 0) "de" else "en", text.length.toLong)

  private val a1 = Seq(
    doc(1, t1),
    doc(2, "a completely different document about spark streaming state stores"),
    doc(3, t1), // same-delivery exact dup of 1
    doc(4, t2),
    doc(5, t1 + " again"), // near-dup of 1 (7 of 8 shingles)
    doc(6, s"prefix words here $pPrefix trailing words"), // hits the PRE-BUILT store
    doc(7, "unrelated corpus text carrying no shared content at all"),
    doc(8, t3),
    doc(9, "metrics dashboards aggregate daily values for every source"),
    doc(10, "language models count trigrams across the corpus"))
  private val a2 = Seq(
    doc(11, t2), // cross-delivery exact dup of 4
    doc(12, "streaming checkpoints recover exactly once after a crash"),
    doc(13, s"leading text $pB1 and a tail"), // hits the B1-grown store
    doc(14, t1), // cross-delivery exact dup of 1/3
    doc(15, "fresh content about histogram buckets and language counts"),
    doc(16, t3 + " extra"))
  private val a3 = Seq(
    doc(17, s"copied verbatim $pB2 into this document"), // needs the B2-grown store
    doc(18, "the final tranche carries new trigram material for the model"),
    doc(19, t1), // dup spanning first and last deliveries
    doc(20, "spark partitions shuffle data between executors during joins"),
    doc(21, t2),
    doc(22, "short text row"),
    doc(23, "histogram of characters by language needs two language values"),
    doc(24, "closing document of the corpus with mixed vocabulary"))

  private val benchPrefix = Seq(
    (101L, pPrefix),
    (102L, "evaluation suite question alpha beta gamma delta"))
  private val b1 = Seq(
    (104L, pB1),
    (105L, "second benchmark phrase echo foxtrot golf hotel"))
  private val b2 = Seq(
    (106L, pB2),
    (107L, "final eval set words november oscar papa quebec"))

  private def allDf(rows: Seq[(Long, String, String, Long)]): DataFrame =
    rows.toDF("doc_id", "text", "lang", "n_chars")
  private def benchDf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private val corpus = allDf(a1 ++ a2 ++ a3)

  private def deliverAll(dir: String, rows: Seq[(Long, String, String, Long)],
                         parts: Int): Unit =
    allDf(rows).repartition(parts).write.mode("append").parquet(dir)
  private def deliverBench(dir: String, rows: Seq[(Long, String)]): Unit =
    benchDf(rows).repartition(2).write.mode("append").parquet(dir)
  // the DSIR maintainer's own feed (the q190 shape: the batch-built prefix
  // never streams; the rest arrives as (doc_id, text, lang) deliveries)
  private def deliverRest(dir: String, rows: Seq[(Long, String, String, Long)],
                          parts: Int): Unit =
    allDf(rows).select(col("doc_id"), col("text"), col("lang"))
      .repartition(parts).write.mode("append").parquet(dir)

  private val isT = col("lang") === "en"
  private val dsirPrefix = a1.take(5) // batch-built; a1.drop(5) ++ a2 ++ a3 stream

  private def dsirStream(base: String) =
    StreamingPipeline.maintain(
      StreamingPipeline.readColumnsStream(spark, s"$base/in_rest",
        "doc_id LONG, text STRING, lang STRING"), s"$base/ck_dsir")(
      StreamingPipeline.dsirAppendBatch(s"$base/dsir", isT)).start()

  private def drain(base: String): Unit =
    (CorpusQueries.startFlagshipMaintainers(
      spark, s"$base/in_all", s"$base/in_bench", base) :+ dsirStream(base))
      .foreach(_.awaitTermination())

  private def frame(base: String): Seq[String] =
    CorpusQueries.flagshipScoreFrame(spark, base, corpus)
      .join(TextOps.scoreWithDsir(
          corpus.select(col("doc_id"), col("text")), s"$base/dsir")
        .select(col("doc_id"), col("dsir6"), col("rate_ppm")), Seq("doc_id"))
      .orderBy("doc_id")
      .collect().map(_.toString).toSeq

  test("composed session: kill mid-stream, skewed ledgers, restart == uninterrupted run") {
    // ---- baseline: one uninterrupted session over the full input ----------
    val b0 = Files.createTempDirectory("graft_flag_base").toString
    deliverAll(s"$b0/in_all", a1 ++ a2 ++ a3, parts = 6)
    Dedup.buildDecontamStore(benchDf(benchPrefix), s"$b0/dc", n = 3, k = 4, m = 1 << 20)
    deliverBench(s"$b0/in_bench", b1 ++ b2)
    TextOps.saveDsir(allDf(dsirPrefix), isT, m = 1024, s"$b0/dsir")
    deliverRest(s"$b0/in_rest", a1.drop(5) ++ a2 ++ a3, parts = 6)
    drain(b0)
    CorpusQueries.compactFlagshipStores(spark, b0)
    TextOps.compactDsir(spark, s"$b0/dsir")
    val baseline = frame(b0)
    assert(baseline.size == 24, "baseline scores every corpus doc")
    // the planted signals actually exercise the stores
    def field(rows: Seq[String], id: Long): String = rows(id.toInt - 1)
    assert(field(baseline, 17).contains("true"), "doc 17 must be contaminated (pB2)")
    assert(field(baseline, 19).contains("true"), "doc 19 must be a near-dup")
    // the DSIR model is live: corpus rates spread around the 0-score 500000
    val rates = baseline.map(_.split(",").last.stripSuffix("]").toLong)
    assert(rates.exists(_ != 500000L), "DSIR rates degenerate — model saw no grams")

    // ---- drill: same corpus through a crashed + skewed + replayed session --
    val b = Files.createTempDirectory("graft_flag_drill").toString
    // phase 1: a PREFIX of all three feeds (two triggers' worth of files on
    // the doc feed), then the session dies
    deliverAll(s"$b/in_all", a1.take(5), parts = 10)
    deliverAll(s"$b/in_all", a1.drop(5), parts = 10)
    Dedup.buildDecontamStore(benchDf(benchPrefix), s"$b/dc", n = 3, k = 4, m = 1 << 20)
    deliverBench(s"$b/in_bench", b1)
    TextOps.saveDsir(allDf(dsirPrefix), isT, m = 1024, s"$b/dsir")
    deliverRest(s"$b/in_rest", a1.drop(5), parts = 4)
    drain(b)
    assert(spark.read.parquet(s"$b/mh/sets").count() == 10L,
      "the kill must land mid-input: only delivery A1 is in the dedup store")

    // phase 2: the crash left the LM, histogram, AND DSIR queries one
    // committed trigger AHEAD of the other two — advance only those three
    deliverAll(s"$b/in_all", a2, parts = 3)
    deliverRest(s"$b/in_rest", a2, parts = 3)
    Seq(
      StreamingPipeline.maintain(
        StreamingPipeline.readDocStream(spark, s"$b/in_all"), s"$b/ck_lm")(
        StreamingPipeline.lmAppendBatch(s"$b/lm")).start(),
      StreamingPipeline.maintain(
        StreamingPipeline.readColumnsStream(spark, s"$b/in_all",
          "doc_id BIGINT, lang STRING, n_chars BIGINT"), s"$b/ck_hist")(
        StreamingPipeline.histMergeBatch(s"$b/hist",
          keys = Seq("lang"), valueCol = "n_chars", binWidth = 50.0, numBins = 20)).start(),
      dsirStream(b)
    ).foreach(_.awaitTermination())

    // phase 3: between-sessions maintenance on the three most file-heavy
    // stores while the session is down and the ledgers disagree
    TextOps.compactLm(spark, s"$b/lm")
    StreamingPipeline.compactMinhashStore(spark, s"$b/mh")
    TextOps.compactDsir(spark, s"$b/dsir")

    // phase 4: the rest of all feeds lands; restart ALL FIVE maintainers
    // on the same checkpoints and drain — MinHash/decontam must catch up
    // across their missed deliveries, LM/histogram/DSIR must not
    // double-apply theirs
    deliverAll(s"$b/in_all", a3, parts = 4)
    deliverRest(s"$b/in_rest", a3, parts = 4)
    deliverBench(s"$b/in_bench", b2)
    drain(b)

    // phase 5: at-least-once redelivery — replay every family's FIRST
    // committed batch id straight through its foreachBatch body
    StreamingPipeline.lmAppendBatch(s"$b/lm")(benchDf(a1.map(r => (r._1, r._2))), 0L)
    StreamingPipeline.minhashDedupBatch(s"$b/mh")(benchDf(a1.map(r => (r._1, r._2))), 0L)
    StreamingPipeline.histMergeBatch(s"$b/hist", Seq("lang"), "n_chars", 50.0, 20)(
      allDf(a1).select(col("doc_id"), col("lang"), col("n_chars")), 0L)
    StreamingPipeline.decontamAppendBatch(s"$b/dc")(benchDf(b1), 0L)
    StreamingPipeline.dsirAppendBatch(s"$b/dsir", isT)(
      allDf(a1.drop(5)).select(col("doc_id"), col("text"), col("lang")), 0L)

    CorpusQueries.compactFlagshipStores(spark, b)
    TextOps.compactDsir(spark, s"$b/dsir")
    assert(frame(b) == baseline,
      "restarted+skewed+replayed session must score byte-identically to the uninterrupted run")
  }

  /** The r13 verdict's item 4: the rotation drill runs SOLO in
    * StoreFaultDrillSpec, but the composed five-maintainer session never
    * rotates a suite while it is DOWN — the cross-family checkpoint-skew
    * argument applies to the decontam maintainer too. Here the b1 bench
    * suite rotates out (retire + compaction) inside the kill window, with
    * three families' ledgers a delivery ahead; the restarted session must
    * append b2 under a fresh id past the tombstone, the at-least-once
    * REDELIVERY of the rotated suite (phase 5) must stay refused by its
    * tombstone rather than resurrect it, and the frame must be
    * byte-identical to an uninterrupted run that applied the same
    * rotation after draining.
    */
  test("composed session: decontam rotation in the kill window — replayed frame byte-identical") {
    def field(rows: Seq[String], id: Long): String = rows(id.toInt - 1)
    def contaminatedOf(row: String): String = row.split(",")(3)
    // ---- baseline: uninterrupted run, b1/b2 as SEPARATE triggers (the
    // rotation unit is the batch, so the two suites must land as two
    // batch dirs), then the same rotation applied post-drain ------------
    val b0 = Files.createTempDirectory("graft_flagrot_base").toString
    deliverAll(s"$b0/in_all", a1 ++ a2 ++ a3, parts = 6)
    Dedup.buildDecontamStore(benchDf(benchPrefix), s"$b0/dc", n = 3, k = 4, m = 1 << 20)
    TextOps.saveDsir(allDf(dsirPrefix), isT, m = 1024, s"$b0/dsir")
    deliverRest(s"$b0/in_rest", a1.drop(5) ++ a2 ++ a3, parts = 6)
    deliverBench(s"$b0/in_bench", b1)
    drain(b0) // b1 = bench stream batch 0 -> shingles/batch=1
    deliverBench(s"$b0/in_bench", b2)
    drain(b0) // b2 = bench stream batch 1 -> shingles/batch=2
    assert(Dedup.retireDecontamBench(spark, s"$b0/dc", Seq(1L), retireId = 9L))
    Dedup.compactDecontamStore(spark, s"$b0/dc")
    CorpusQueries.compactFlagshipStores(spark, b0)
    TextOps.compactDsir(spark, s"$b0/dsir")
    val baseline = frame(b0)
    assert(baseline.size == 24)
    // the rotation actually moved a verdict: doc 13 (pB1) flips clean,
    // docs 6 (pre-built suite) and 17 (pB2) keep flagging
    assert(contaminatedOf(field(baseline, 13)) == "false",
      "doc 13 must flip clean once the b1 suite rotates out")
    assert(contaminatedOf(field(baseline, 6)) == "true")
    assert(contaminatedOf(field(baseline, 17)) == "true")

    // ---- drill: the same rotation inside the kill window ---------------
    val b = Files.createTempDirectory("graft_flagrot_drill").toString
    deliverAll(s"$b/in_all", a1.take(5), parts = 10)
    deliverAll(s"$b/in_all", a1.drop(5), parts = 10)
    Dedup.buildDecontamStore(benchDf(benchPrefix), s"$b/dc", n = 3, k = 4, m = 1 << 20)
    deliverBench(s"$b/in_bench", b1)
    TextOps.saveDsir(allDf(dsirPrefix), isT, m = 1024, s"$b/dsir")
    deliverRest(s"$b/in_rest", a1.drop(5), parts = 4)
    drain(b) // session dies here; b1 is in the store as batch=1
    // skew: LM, histogram, DSIR commit a2 while MinHash/decontam are down
    deliverAll(s"$b/in_all", a2, parts = 3)
    deliverRest(s"$b/in_rest", a2, parts = 3)
    Seq(
      StreamingPipeline.maintain(
        StreamingPipeline.readDocStream(spark, s"$b/in_all"), s"$b/ck_lm")(
        StreamingPipeline.lmAppendBatch(s"$b/lm")).start(),
      StreamingPipeline.maintain(
        StreamingPipeline.readColumnsStream(spark, s"$b/in_all",
          "doc_id BIGINT, lang STRING, n_chars BIGINT"), s"$b/ck_hist")(
        StreamingPipeline.histMergeBatch(s"$b/hist",
          keys = Seq("lang"), valueCol = "n_chars", binWidth = 50.0, numBins = 20)).start(),
      dsirStream(b)
    ).foreach(_.awaitTermination())
    // kill-window maintenance INCLUDING the rotation: the b1 suite
    // retires and compaction applies it while the ledgers disagree
    assert(Dedup.retireDecontamBench(spark, s"$b/dc", Seq(1L), retireId = 9L))
    Dedup.compactDecontamStore(spark, s"$b/dc")
    TextOps.compactLm(spark, s"$b/lm")
    StreamingPipeline.compactMinhashStore(spark, s"$b/mh")
    TextOps.compactDsir(spark, s"$b/dsir")
    // restart all five: decontam must append b2 under the fresh id 2
    // (stream batch 1), past the rotated tombstone at batch=1
    deliverAll(s"$b/in_all", a3, parts = 4)
    deliverRest(s"$b/in_rest", a3, parts = 4)
    deliverBench(s"$b/in_bench", b2)
    drain(b)
    // at-least-once redelivery of every family's first committed id —
    // including the ROTATED b1 suite, whose tombstone must refuse the
    // replay (a resurrected suite re-contaminates doc 13 and fails the
    // frame equality below)
    StreamingPipeline.lmAppendBatch(s"$b/lm")(benchDf(a1.map(r => (r._1, r._2))), 0L)
    StreamingPipeline.minhashDedupBatch(s"$b/mh")(benchDf(a1.map(r => (r._1, r._2))), 0L)
    StreamingPipeline.histMergeBatch(s"$b/hist", Seq("lang"), "n_chars", 50.0, 20)(
      allDf(a1).select(col("doc_id"), col("lang"), col("n_chars")), 0L)
    StreamingPipeline.decontamAppendBatch(s"$b/dc")(benchDf(b1), 0L)
    StreamingPipeline.dsirAppendBatch(s"$b/dsir", isT)(
      allDf(a1.drop(5)).select(col("doc_id"), col("text"), col("lang")), 0L)
    CorpusQueries.compactFlagshipStores(spark, b)
    TextOps.compactDsir(spark, s"$b/dsir")
    assert(frame(b) == baseline,
      "kill-window rotation must replay to the uninterrupted-run frame")
  }

  // ---- SIX maintainers, flagship v3: the PACKED EXPORT rides the
  // composed session (the r16 verdict's item 6 — the export store matured
  // outside the flagship). The pack feed delivers id-ordered tranches
  // (the monotone-ingest contract); the drill kills the session after
  // tranche 1, advances LM/histogram/DSIR *and the pack family* a
  // delivery ahead of MinHash/decontam, compacts FOUR stores in the kill
  // window (incl. compactPackedExport, whose r17 swap self-vacuums the
  // ledger), restarts on the same checkpoints, and replays the pack
  // family's first committed batch id through the foreachBatch body —
  // landed by the WATERMARK RULE now, not a tombstone dir. Both final
  // frames (five-store scores, per-unit pack rows) must be byte-identical
  // to an uninterrupted six-maintainer run, and the pack rows must also
  // equal the monolithic packSequences chain over the same corpus.

  private def packStream(base: String) =
    StreamingPipeline.maintain(
      StreamingPipeline.readDocStream(spark, s"$base/in_pack"), s"$base/ck_pack") {
      (b, id) => StreamingPipeline.packedExportAppendBatch(
        s"$base/pack", budget = 50, nShards = 4)(b, id + 1)
    }.start()

  private def deliverPack(dir: String, rows: Seq[(Long, String, String, Long)]): Unit =
    allDf(rows).select(col("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(dir)

  private def drain6(base: String): Unit =
    (CorpusQueries.startFlagshipMaintainers(
      spark, s"$base/in_all", s"$base/in_bench", base)
      :+ dsirStream(base) :+ packStream(base))
      .foreach(_.awaitTermination())

  private def packRowsOf(base: String): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
      spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(graft.store.BatchStore.active(fs, s"$base/pack/pack"))
      .select("shard", "bin", "doc_id", "n_tokens", "bin_offset")
      .collect().map(_.toString).sorted.toSeq
  }

  test("composed session v3: packed export among the maintainers — kill/compact windows replay byte-identical") {
    // ---- baseline: uninterrupted six-maintainer run (pack tranches
    // drain in id order, the other feeds are fully delivered up front)
    val b0 = Files.createTempDirectory("graft_flag3_base").toString
    deliverAll(s"$b0/in_all", a1 ++ a2 ++ a3, parts = 6)
    Dedup.buildDecontamStore(benchDf(benchPrefix), s"$b0/dc", n = 3, k = 4, m = 1 << 20)
    deliverBench(s"$b0/in_bench", b1 ++ b2)
    TextOps.saveDsir(allDf(dsirPrefix), isT, m = 1024, s"$b0/dsir")
    deliverRest(s"$b0/in_rest", a1.drop(5) ++ a2 ++ a3, parts = 6)
    deliverPack(s"$b0/in_pack", a1); drain6(b0)
    deliverPack(s"$b0/in_pack", a2); drain6(b0)
    deliverPack(s"$b0/in_pack", a3); drain6(b0)
    CorpusQueries.compactFlagshipStores(spark, b0)
    TextOps.compactDsir(spark, s"$b0/dsir")
    StreamingPipeline.compactPackedExport(spark, s"$b0/pack")
    val baseline = frame(b0)
    val basePack = packRowsOf(b0)
    // the stream-grown store equals the monolithic chunk→pack chain
    val mono = graft.text.TextOps.packSequences(
        graft.text.TextOps.chunkDocs(
          corpus.select(col("doc_id"), col("text")), size = 64, stride = 48)
          .select((col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
            col("n_tok").as("n_tokens")),
        budget = 50, shards = 4, tokenCount = Some(col("n_tokens")))
      .select("shard", "bin", "doc_id", "n_tokens", "bin_offset")
      .collect().map(_.toString).sorted.toSeq
    assert(basePack == mono,
      "stream-grown pack must equal the monolithic packSequences chain")
    // the self-running vacuum: compaction left NO tombstone dirs, just
    // the base + the watermark rule
    val fs0 = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(b0),
      spark.sparkContext.hadoopConfiguration)
    assert(fs0.listStatus(new org.apache.hadoop.fs.Path(s"$b0/pack/pack"))
      .count(_.getPath.getName.startsWith("batch=")) == 1,
      "pack compaction must self-vacuum its ledger to the base dir alone")
    assert(graft.store.Ledger.watermark(fs0, s"$b0/pack/pack") >= 4L)

    // ---- drill: kill after tranche 1, skew pack AHEAD, compact, restart
    val b = Files.createTempDirectory("graft_flag3_drill").toString
    deliverAll(s"$b/in_all", a1.take(5), parts = 10)
    deliverAll(s"$b/in_all", a1.drop(5), parts = 10)
    Dedup.buildDecontamStore(benchDf(benchPrefix), s"$b/dc", n = 3, k = 4, m = 1 << 20)
    deliverBench(s"$b/in_bench", b1)
    TextOps.saveDsir(allDf(dsirPrefix), isT, m = 1024, s"$b/dsir")
    deliverRest(s"$b/in_rest", a1.drop(5), parts = 4)
    deliverPack(s"$b/in_pack", a1)
    drain6(b) // the session dies here
    // skew: LM, histogram, DSIR, AND the pack family commit a2 while
    // MinHash/decontam are down
    deliverAll(s"$b/in_all", a2, parts = 3)
    deliverRest(s"$b/in_rest", a2, parts = 3)
    deliverPack(s"$b/in_pack", a2)
    Seq(
      StreamingPipeline.maintain(
        StreamingPipeline.readDocStream(spark, s"$b/in_all"), s"$b/ck_lm")(
        StreamingPipeline.lmAppendBatch(s"$b/lm")).start(),
      StreamingPipeline.maintain(
        StreamingPipeline.readColumnsStream(spark, s"$b/in_all",
          "doc_id BIGINT, lang STRING, n_chars BIGINT"), s"$b/ck_hist")(
        StreamingPipeline.histMergeBatch(s"$b/hist",
          keys = Seq("lang"), valueCol = "n_chars", binWidth = 50.0, numBins = 20)).start(),
      dsirStream(b),
      packStream(b)
    ).foreach(_.awaitTermination())
    // kill-window maintenance on four stores while the ledgers disagree;
    // the pack compaction swaps the two mid-stream batches into the base
    // and stamps the watermark (no tombstone dirs survive)
    TextOps.compactLm(spark, s"$b/lm")
    StreamingPipeline.compactMinhashStore(spark, s"$b/mh")
    TextOps.compactDsir(spark, s"$b/dsir")
    StreamingPipeline.compactPackedExport(spark, s"$b/pack")
    // restart all six on the same checkpoints; the pack stream must seed
    // tranche 3 from the compacted tails
    deliverAll(s"$b/in_all", a3, parts = 4)
    deliverRest(s"$b/in_rest", a3, parts = 4)
    deliverBench(s"$b/in_bench", b2)
    deliverPack(s"$b/in_pack", a3)
    drain6(b)
    // at-least-once redelivery — including the pack family's first
    // committed id, which the kill-window compaction VACUUMED: the replay
    // must be refused by the watermark rule (its dir no longer exists)
    StreamingPipeline.lmAppendBatch(s"$b/lm")(benchDf(a1.map(r => (r._1, r._2))), 0L)
    StreamingPipeline.minhashDedupBatch(s"$b/mh")(benchDf(a1.map(r => (r._1, r._2))), 0L)
    StreamingPipeline.histMergeBatch(s"$b/hist", Seq("lang"), "n_chars", 50.0, 20)(
      allDf(a1).select(col("doc_id"), col("lang"), col("n_chars")), 0L)
    StreamingPipeline.decontamAppendBatch(s"$b/dc")(benchDf(b1), 0L)
    StreamingPipeline.dsirAppendBatch(s"$b/dsir", isT)(
      allDf(a1.drop(5)).select(col("doc_id"), col("text"), col("lang")), 0L)
    StreamingPipeline.packedExportAppendBatch(s"$b/pack", budget = 50, nShards = 4)(
      allDf(a1).select(col("doc_id"), col("text")), 1L)
    CorpusQueries.compactFlagshipStores(spark, b)
    TextOps.compactDsir(spark, s"$b/dsir")
    assert(packRowsOf(b) == basePack,
      "killed+skewed+vacuum-replayed pack store must equal the uninterrupted run")
    assert(frame(b) == baseline,
      "the five-store score frame must be untouched by the sixth maintainer")
  }

  // ---- SIX maintainers: SCD2 joins, with entity retirement in the kill
  // window — the r13-item-4 / r14-rotation treatment applied to the round's
  // new un-learn path. The SCD change feed runs beside the five corpus
  // maintainers in ONE session; the session dies mid-feed, the GDPR
  // erasure (retire + physical compaction) lands while three families'
  // ledgers sit a delivery ahead and the SCD/MinHash/decontam checkpoints
  // are behind, the session restarts on the same checkpoints, and phase-5
  // at-least-once redelivery replays the PRE-retirement change batch
  // straight through the foreachBatch body. The served dimension must be
  // byte-identical to an uninterrupted six-maintainer run that applied the
  // same erasure after draining — a resurrected change row, a skew-crossed
  // batch id, or a dim bucket the kill-window compaction left stale all
  // break the equality; the five-family score frame must be untouched.

  private val s1 = Seq((1L, 1000L, 0), (1L, 2000L, 1), (2L, 1000L, 2),
    (3L, 1500L, 0), (9L, 1000L, 1), (9L, 3000L, 2))
  private val s2 = Seq((2L, 5000L, 0), (3L, 6000L, 1), (4L, 5000L, 2))
  private val s3 = Seq((4L, 9000L, 0), (5L, 9000L, 1), (2L, 11000L, 1))
  private def scdDf(rows: Seq[(Long, Long, Int)]): DataFrame =
    rows.toDF("user_id", "ts_us", "plan_tier")
  private def deliverScd(dir: String, rows: Seq[(Long, Long, Int)]): Unit =
    scdDf(rows).repartition(2).write.mode("append").parquet(dir)
  private def scdStream(base: String) =
    StreamingPipeline.maintain(
      StreamingPipeline.readColumnsStream(spark, s"$base/in_scd",
        "user_id BIGINT, ts_us BIGINT, plan_tier INT"), s"$base/ck_scd")(
      StreamingPipeline.scdUpsertBatch(s"$base/scd",
        Seq("user_id"), "ts_us", Seq("plan_tier"))).start()
  // the drift maintainer shares the DSIR feed (baseline = the batch-built
  // prefix, deliveries stream in as (doc_id, text, lang))
  private val flagDriftFeats: Seq[(String, org.apache.spark.sql.Column)] =
    Seq("lang" -> col("lang"), "len_b" -> floor(length(col("text")) / lit(20)))
  private def driftStream(base: String) =
    StreamingPipeline.maintain(
      StreamingPipeline.readColumnsStream(spark, s"$base/in_rest",
        "doc_id LONG, text STRING, lang STRING"), s"$base/ck_drift")(
      StreamingPipeline.driftAppendBatch(s"$base/drift", flagDriftFeats)).start()
  private def driftRows(base: String): Seq[String] =
    graft.operators.Drift.psiFromStore(spark, s"$base/drift")
      .orderBy("feature").collect().map(_.toString).toSeq

  private def drain7(base: String): Unit =
    (CorpusQueries.startFlagshipMaintainers(
      spark, s"$base/in_all", s"$base/in_bench", base)
      :+ dsirStream(base) :+ scdStream(base) :+ driftStream(base))
      .foreach(_.awaitTermination())
  private def scdRetire(base: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
      spark.sparkContext.hadoopConfiguration)
    val maxId = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/scd/changes"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).foldLeft(-1L)(math.max)
    assert(StreamingPipeline.retireScdEntities(spark, s"$base/scd",
      Seq(1L, 9L).toDF("user_id"), maxId + 1,
      Seq("user_id"), "ts_us", Seq("plan_tier")))
    StreamingPipeline.compactScdChanges(spark, s"$base/scd", Seq("user_id"))
  }
  private def dimRows(base: String): Seq[String] =
    StreamingPipeline.readScdDim(spark, s"$base/scd")
      .orderBy("user_id", "version").collect().map(_.toString).toSeq

  test("composed session x7: SCD2 erasure + drift compaction in the kill window") {
    // ---- baseline: uninterrupted six-maintainer run, erasure post-drain
    val b0 = Files.createTempDirectory("graft_flagscd_base").toString
    deliverAll(s"$b0/in_all", a1 ++ a2 ++ a3, parts = 6)
    Dedup.buildDecontamStore(benchDf(benchPrefix), s"$b0/dc", n = 3, k = 4, m = 1 << 20)
    deliverBench(s"$b0/in_bench", b1 ++ b2)
    TextOps.saveDsir(allDf(dsirPrefix), isT, m = 1024, s"$b0/dsir")
    graft.operators.Drift.buildDriftStore(
      allDf(dsirPrefix).select(col("doc_id"), col("text"), col("lang")),
      flagDriftFeats, s"$b0/drift")
    deliverRest(s"$b0/in_rest", a1.drop(5) ++ a2 ++ a3, parts = 6)
    deliverScd(s"$b0/in_scd", s1 ++ s2 ++ s3)
    drain7(b0)
    scdRetire(b0)
    CorpusQueries.compactFlagshipStores(spark, b0)
    TextOps.compactDsir(spark, s"$b0/dsir")
    val baseline = frame(b0)
    val dim0 = dimRows(b0)
    val drift0 = driftRows(b0)
    // the monitor is live: both features report, and the streamed
    // deliveries actually grew the live population past the baseline
    assert(drift0.size == 2, s"expected 2 feature rows, got $drift0")
    assert(drift0.forall(_.split(",")(2).toLong == dsirPrefix.size.toLong)
      && drift0.forall(_.split(",")(3).toLong == corpus.count()),
      s"baseline/live populations wrong: $drift0")
    // the erasure is real and scoped: users 1/9 gone, user 2's three
    // versions (spanning all three deliveries) survive intact
    assert(!dim0.exists(r => r.startsWith("[1,") || r.startsWith("[9,")))
    assert(dim0.count(_.startsWith("[2,")) == 3)
    // independent oracle: the dim IS the Type-2 build over survivors
    assert(dim0 == graft.operators.Scd.type2(
        scdDf((s1 ++ s2 ++ s3).filterNot(r => r._1 == 1L || r._1 == 9L)),
        Seq("user_id"), "ts_us", Seq("plan_tier"))
      .orderBy("user_id", "version").collect().map(_.toString).toSeq)

    // ---- drill: kill, skew three families ahead, erase in the window ----
    val b = Files.createTempDirectory("graft_flagscd_drill").toString
    deliverAll(s"$b/in_all", a1.take(5), parts = 10)
    deliverAll(s"$b/in_all", a1.drop(5), parts = 10)
    Dedup.buildDecontamStore(benchDf(benchPrefix), s"$b/dc", n = 3, k = 4, m = 1 << 20)
    deliverBench(s"$b/in_bench", b1)
    TextOps.saveDsir(allDf(dsirPrefix), isT, m = 1024, s"$b/dsir")
    graft.operators.Drift.buildDriftStore(
      allDf(dsirPrefix).select(col("doc_id"), col("text"), col("lang")),
      flagDriftFeats, s"$b/drift")
    deliverRest(s"$b/in_rest", a1.drop(5), parts = 4)
    deliverScd(s"$b/in_scd", s1)
    drain7(b) // the session dies here; only s1 is in the SCD change log
    // skew: LM, histogram, DSIR commit a2 while SCD/MinHash/decontam are down
    deliverAll(s"$b/in_all", a2, parts = 3)
    deliverRest(s"$b/in_rest", a2, parts = 3)
    Seq(
      StreamingPipeline.maintain(
        StreamingPipeline.readDocStream(spark, s"$b/in_all"), s"$b/ck_lm")(
        StreamingPipeline.lmAppendBatch(s"$b/lm")).start(),
      StreamingPipeline.maintain(
        StreamingPipeline.readColumnsStream(spark, s"$b/in_all",
          "doc_id BIGINT, lang STRING, n_chars BIGINT"), s"$b/ck_hist")(
        StreamingPipeline.histMergeBatch(s"$b/hist",
          keys = Seq("lang"), valueCol = "n_chars", binWidth = 50.0, numBins = 20)).start(),
      dsirStream(b),
      driftStream(b)
    ).foreach(_.awaitTermination())
    // kill-window maintenance INCLUDING the erasure: users 1/9 retire and
    // the change log compacts (physical delete) while the ledgers disagree
    scdRetire(b)
    TextOps.compactLm(spark, s"$b/lm")
    StreamingPipeline.compactMinhashStore(spark, s"$b/mh")
    TextOps.compactDsir(spark, s"$b/dsir")
    assert(graft.operators.Drift.compactDriftStore(spark, s"$b/drift"),
      "the skewed-ahead drift store must have batches to fold")
    // restart all seven on the same checkpoints; the SCD stream's next batch
    // ids land AT/ABOVE the retirement id, so post-erasure changes live
    deliverAll(s"$b/in_all", a3, parts = 4)
    deliverRest(s"$b/in_rest", a3, parts = 4)
    deliverBench(s"$b/in_bench", b2)
    deliverScd(s"$b/in_scd", s2)
    drain7(b)
    deliverScd(s"$b/in_scd", s3)
    drain7(b)
    // phase 5: at-least-once redelivery of every family's first committed
    // id — including the PRE-erasure change batch, which the ledger must
    // refuse (a resurrected row brings users 1/9 back and breaks the dim)
    StreamingPipeline.lmAppendBatch(s"$b/lm")(benchDf(a1.map(r => (r._1, r._2))), 0L)
    StreamingPipeline.minhashDedupBatch(s"$b/mh")(benchDf(a1.map(r => (r._1, r._2))), 0L)
    StreamingPipeline.histMergeBatch(s"$b/hist", Seq("lang"), "n_chars", 50.0, 20)(
      allDf(a1).select(col("doc_id"), col("lang"), col("n_chars")), 0L)
    StreamingPipeline.decontamAppendBatch(s"$b/dc")(benchDf(b1), 0L)
    StreamingPipeline.dsirAppendBatch(s"$b/dsir", isT)(
      allDf(a1.drop(5)).select(col("doc_id"), col("text"), col("lang")), 0L)
    StreamingPipeline.scdUpsertBatch(s"$b/scd",
      Seq("user_id"), "ts_us", Seq("plan_tier"))(scdDf(s1), 0L)
    StreamingPipeline.driftAppendBatch(s"$b/drift", flagDriftFeats)(
      allDf(a1.drop(5)).select(col("doc_id"), col("text"), col("lang")), 0L)
    CorpusQueries.compactFlagshipStores(spark, b)
    TextOps.compactDsir(spark, s"$b/dsir")
    assert(dimRows(b) == dim0,
      "kill-window erasure must replay to the uninterrupted run's dimension")
    assert(frame(b) == baseline,
      "the five corpus families must be untouched by the dim and drift maintainers")
    assert(driftRows(b) == drift0,
      "kill-window-compacted drift store must report identically to the uninterrupted run")
  }
}
