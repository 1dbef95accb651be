package graft.queries

import graft.core.Tables
import graft.dedup.Dedup
import graft.sketch.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch queries — deterministic HyperLogLog and count-min (see
  * [[graft.sketch.Sketches]] for why these are exactly oracle-checkable when
  * Spark's own approx aggregates are not). Both oracles replay the sketch
  * bit-for-bit: the same md5-derived hex60 hash, the same integer shifts,
  * and (for HLL) denominator terms that are exact dyadic rationals.
  */
object SketchQueries {
  type Q = (SparkSession, String) => DataFrame

  private val hex60Sql: String => String = OracleCte.hex60Sql

  val defs: Map[String, Q] = Map(
    // HLL (b=8, 256 registers) distinct users per event type, with the exact
    // distinct alongside so the sketch error is visible in the output.
    "q88_hll_distinct" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      val hll = Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"), b = 8)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      hll.join(exact, Seq("event_type"))
        .select(col("event_type"), col("nonempty"),
          OracleCte.qround6(col("estimate")).as("estimate"), col("exact_distinct"))
        .orderBy("event_type")
    }),

    // Count-min (3 rows × 1024 buckets) heavy-hitter tokens over the corpus,
    // top 20 by estimate with the true count alongside.
    "q89_cms_heavy_hitters" -> ((s, d) => {
      val terms = Tables(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      Sketches.countMinTopK(terms, "term", d = 3, w = 1024, k = 20)
    }),

    // Bloom-prefiltered benchmark decontamination (q75's audit restructured
    // for the 100 TB corpus/benchmark asymmetry): the hex60 20% held-out
    // slice plays the benchmark suite; its trigram-shingle Bloom filter
    // (k=4, m=2^20 — 32 K packed words) prefilters the 80% corpus side so
    // only bloom-positive shingles reach the exact join. assert_true
    // enforces the no-false-negative invariant that keeps n_present exact.
    "q118_bloom_decontam" -> ((s, d) => {
      // materialized once (§1.2): the shingle pass feeds FOUR consumers
      // (bloom build + leftsemi bench side; probed totals + survivor join
      // corpus side) — each previously re-tokenized the whole corpus. At
      // 100 TB persist to storage instead (the q121 store IS that path);
      // this is the in-plan gate.
      val sh = Dedup.wordShingles(Tables(s, d, "documents"), 3)
        .withColumn("__b", Dedup.hex60(col("doc_id").cast("string")) % 100)
        .localCheckpoint(true)
      Dedup.bloomContamination(
          sh.filter(col("__b") < 80).drop("__b"),
          sh.filter(col("__b") >= 80).drop("__b"),
          k = 4, m = 1 << 20)
        .filter(assert_true(col("n_present") <= col("n_bloom_pos"),
          lit("q118: bloom false negative")).isNull)
        .orderBy("doc_id")
    }),

    // The streaming twin of q118: build the persisted decontamination
    // artifact from the hex60 >= 80 benchmark slice, run the corpus slice
    // through the STREAMING router (micro-batched file source -> per-batch
    // bloom prefilter + exact verify -> exactly-once `out/batch=<id>`
    // verdict dirs), then read the ROUTED ARTIFACT back and hash it against
    // q118's batch semantics — the oracle never knows a stream was
    // involved, which is precisely the router's replay-parity contract.
    "q121_decontam_routed" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = CorpusQueries.vocabPath(d) + "_route"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      val all = Tables(s, d, "documents")
        .withColumn("__b", Dedup.hex60(col("doc_id").cast("string")) % 100)
      Dedup.buildDecontamStore(all.filter(col("__b") >= 80).drop("__b"),
        s"$base/store", n = 3, k = 4, m = 1 << 20)
      // 32 input files at maxFilesPerTrigger=16 -> the router sees (at
      // least) two micro-batches, so cross-batch accumulation is exercised
      all.filter(col("__b") < 80).select(col("doc_id"), col("text"))
        .repartition(32).write.mode("overwrite").parquet(s"$base/in")
      // fresh run each call: the routed output is the artifact under test
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/out"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/ck"), true)
      StreamingPipeline.maintain(
          StreamingPipeline.readDocStream(s, s"$base/in"), s"$base/ck")(
          StreamingPipeline.decontamRouteBatch(s"$base/store", s"$base/out"))
        .start().awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("doc_id"), col("n_shingles"), col("n_bloom_pos"),
          col("n_present"), col("contaminated"))
        .orderBy("doc_id")
    }),

    // The decontamination store LIFECYCLE gate (q124/q126's treatment for
    // the fourth artifact family — benchmark suites GROW): the hex60 >= 80
    // benchmark slice arrives as three disjoint doc groups — build, then
    // two appendDecontamBench OR-merge increments — the shingle store
    // compacts, and the corpus slice is scored against the result. Bloom
    // bits are a pure OR of per-item contributions (idempotent, so the
    // cross-suite shingle repeats that per-batch completeness stores are
    // invisible to the filter), and the exact joins are set-semantic — so
    // the lifecycle store must reproduce the monolithic build BIT-FOR-BIT
    // including n_bloom_pos, the filter's own false-positive pattern —
    // which is why the oracle is q118's verbatim: a lost delta or a
    // words/shingles publish-order bug shifts a count and fails the hash.
    // Benchmark ROTATION (q127's lifecycle + the un-learn path): three
    // suites enter the store, the middle one rotates out
    // (retireDecontamBench ledger), compaction applies the rotation —
    // rotated batch dirs blank, survivors merge, the Bloom REBUILDS from
    // survivors (bits can't subtract) — and the corpus is scored against
    // the result. The oracle is q118's replay with the rotated suite
    // excluded from the bench side: a doc contaminated only by the
    // rotated benchmark must flip clean, a shingle the live suites share
    // with it must KEEP flagging (per-batch completeness), and
    // n_bloom_pos must match the rebuilt filter bit-for-bit (a superset
    // leftover from the retire window fails the hash).
    "q194_decontam_rotation" -> ((s, d) => {
      val base = CorpusQueries.vocabPath(d) + "_dcrot"
      val all = Tables(s, d, "documents")
        .withColumn("__b", Dedup.hex60(col("doc_id").cast("string")) % 100)
      val bench = all.filter(col("__b") >= 80).drop("__b")
      val store = s"$base/store"
      Dedup.buildDecontamStore(bench.filter(col("doc_id") % 3 === 0), store,
        n = 3, k = 4, m = 1 << 20)
      Dedup.appendDecontamBench(bench.filter(col("doc_id") % 3 === 1), store,
        appendId = 1)
      Dedup.appendDecontamBench(bench.filter(col("doc_id") % 3 === 2), store,
        appendId = 2)
      Dedup.retireDecontamBench(s, store, Seq(1L), retireId = 3)
      Dedup.compactDecontamStore(s, store)
      Dedup.bloomContaminationAgainst(
          Dedup.wordShingles(all.filter(col("__b") < 80).drop("__b"), 3),
          Dedup.liveDecontamShingles(s, store),
          s.read.parquet(s"$store/words"), k = 4, m = 1 << 20)
        .orderBy("doc_id")
    }),

    "q127_decontam_lifecycle" -> ((s, d) => {
      val base = CorpusQueries.vocabPath(d) + "_dclc"
      val all = Tables(s, d, "documents")
        .withColumn("__b", Dedup.hex60(col("doc_id").cast("string")) % 100)
      val bench = all.filter(col("__b") >= 80).drop("__b")
      Dedup.buildDecontamStore(bench.filter(col("doc_id") % 3 === 0),
        s"$base/store", n = 3, k = 4, m = 1 << 20)
      Dedup.appendDecontamBench(bench.filter(col("doc_id") % 3 === 1),
        s"$base/store", appendId = 1)
      Dedup.appendDecontamBench(bench.filter(col("doc_id") % 3 === 2),
        s"$base/store", appendId = 2)
      Dedup.compactDecontamStore(s, s"$base/store")
      Dedup.bloomContaminationAgainst(
          Dedup.wordShingles(all.filter(col("__b") < 80).drop("__b"), 3),
          s.read.parquet(s"$base/store/shingles"),
          s.read.parquet(s"$base/store/words"), k = 4, m = 1 << 20)
        .orderBy("doc_id")
    }),

    // Histogram-sketch quantiles per event type (bin width 50, 20 bins):
    // the mergeable no-sort quantile path, with the exact quantiles
    // alongside so the one-bin-width error is visible in the output.
    // Misra-Gries heavy hitters (the deterministic-guarantee complement to
    // q89's count-min top-k): per-partition MG summaries fold into one
    // ≤ k-counter summary, and the gate pins the algorithm's THEOREM — the
    // oracle derives the true heavy hitters (count > n/k) exactly, and
    // every one must be present (found_viol), undercounted (under_viol),
    // within n/k (err_viol). floor(value) gives a ~293-distinct exponential
    // tail at k=64, so eviction and the merge-side cut both exercise.
    "q144_mg_heavy_hitters" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(floor(col("value")).cast("int").cast("string").as("item"))
      Sketches.heavyHittersGate(ev, "item", k = 64)
        .select(col("item").cast("int").as("item"), col("exact_cnt"),
          col("found_viol"), col("under_viol"), col("err_viol"))
        .orderBy("item")
    }),

    // The STREAM-GROWN sketch stores (q130's treatment for the three
    // maintainers that were spec-only — the last gap in the streaming
    // oracle story): each corpus is staged as a 32-file stream
    // (maxFilesPerTrigger=16 -> at least two triggers, so cross-batch
    // merge + the ledger both exercise), the maintainer grows the
    // persisted sketch store per micro-batch, and the STORED STATE answers
    // the exact batch query — q88/q89/q103's oracles verbatim, because
    // register max-merge (idempotent) and ledgered cell/bucket SUM-merge
    // (exactly-once) reproduce the single-pass sketch bit-for-bit over any
    // batch interleaving. A dropped trigger, a double-merged batch, or a
    // torn store swap shifts a register/cell and fails the hash.
    "q156_hll_streamed" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = CorpusQueries.vocabPath(d) + "_hllst"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ev = Tables(s, d, "events")
      ev.select(col("event_type"), col("user_id"))
        .repartition(32).write.mode("overwrite").parquet(s"$base/in")
      StreamingPipeline.maintain(
          StreamingPipeline.readColumnsStream(s, s"$base/in",
            "event_type STRING, user_id BIGINT"), s"$base/ck")(
          StreamingPipeline.hllMergeBatch(s"$base/store",
            keys = Seq("event_type"), itemCol = "user_id", b = 8))
        .start().awaitTermination()
      val hll = Sketches.hllEstimate(
        s.read.parquet(s"$base/store"), Seq("event_type"), b = 8)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      hll.join(exact, Seq("event_type"))
        .select(col("event_type"), col("nonempty"),
          OracleCte.qround6(col("estimate")).as("estimate"), col("exact_distinct"))
        .orderBy("event_type")
    }),

    "q158_cms_streamed" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = CorpusQueries.vocabPath(d) + "_cmsst"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val terms = Tables(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      terms.repartition(32).write.mode("overwrite").parquet(s"$base/in")
      StreamingPipeline.maintain(
          StreamingPipeline.readColumnsStream(s, s"$base/in", "term STRING"), s"$base/ck")(
          StreamingPipeline.cmsMergeBatch(s"$base/store", termCol = "term", d = 3, w = 1024))
        .start().awaitTermination()
      // q89's countMinTopK tail (the SHARED cmsTopKFromCells, so the two
      // paths can never copy-drift), with the cells read FROM THE STORE —
      // identical (term, est, cnt) iff the stream-grown cells match the
      // batch sketch. The exact-count side reads the staged parquet back
      // rather than re-tokenizing the corpus a second time.
      Sketches.cmsTopKFromCells(s.read.parquet(s"$base/in"),
        s.read.parquet(s"$base/store"), termCol = "term", d = 3, w = 1024, k = 20)
    }),

    "q159_hist_streamed" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = CorpusQueries.vocabPath(d) + "_histst"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ev = Tables(s, d, "events")
      ev.select(col("event_type"), col("value"))
        .repartition(32).write.mode("overwrite").parquet(s"$base/in")
      StreamingPipeline.maintain(
          StreamingPipeline.readColumnsStream(s, s"$base/in",
            "event_type STRING, value DOUBLE"), s"$base/ck")(
          StreamingPipeline.histMergeBatch(s"$base/store",
            keys = Seq("event_type"), valueCol = "value",
            binWidth = 50.0, numBins = 20))
        .start().awaitTermination()
      val approx = Sketches.histogramQuantiles(
        s.read.parquet(s"$base/store"), Seq("event_type"), binWidth = 50.0)
      val exact = ev.withColumn("__v", floor(col("value") * 100.0 + 0.5) / 100.0)
        .groupBy(col("event_type"))
        .agg(OracleCte.qround6(expr("percentile(__v, 0.5D)")).as("exact_p50"),
          OracleCte.qround6(expr("percentile(__v, 0.9D)")).as("exact_p90"))
      approx.join(exact, "event_type")
        .select(col("event_type"), col("n_rows"), col("p50"), col("p90"), col("p99"),
          col("exact_p50"), col("exact_p90"))
        .orderBy("event_type")
    }),

    // SKETCH-STORE RETIREMENT — the last store family's un-learn path
    // (the r13 verdict's item 2; every other family got one in r11-r13):
    // a departed corpus slice's cardinality / frequency / quantile /
    // heavy-hitter contributions must leave the persisted sketches, by
    // the mechanism each merge algebra admits. The OR/max half (HLL here;
    // Bloom and MG share the machinery) REBUILDS from surviving per-batch
    // slices — bits can't subtract, but the maintainers record each
    // batch's own sketch, and the mergeable-state property makes the
    // survivor re-merge bit-identical to a from-scratch stream over the
    // survivors. The oracle is q88/q156's replay re-rooted at the
    // surviving slice: a leftover register from the departed slice
    // inflates a group's estimate and fails the hash.
    "q197_hll_retired" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = CorpusQueries.vocabPath(d) + "_hllret"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ev = Tables(s, d, "events")
      val store = s"$base/store"
      (0 to 2).foreach(i => StreamingPipeline
        .hllMergeBatch(store, Seq("event_type"), "user_id", b = 8)(
          ev.filter(col("user_id") % 3 === i)
            .select(col("event_type"), col("user_id")), i.toLong))
      StreamingPipeline.retireHllBatches(s, store, Seq("event_type"), Seq(1L))
      val surv = ev.filter(col("user_id") % 3 =!= 1)
      val hll = Sketches.hllEstimate(
        s.read.parquet(store), Seq("event_type"), b = 8)
      val exact = surv.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      hll.join(exact, Seq("event_type"))
        .select(col("event_type"), col("nonempty"),
          OracleCte.qround6(col("estimate")).as("estimate"), col("exact_distinct"))
        .orderBy("event_type")
    }),

    // The additive half: count-min cells SUBTRACT exactly (retireLm's
    // negated-counts pattern), so un-learning is one more ledgered
    // SUM-merge with the departing slice's cells negated; zero cells
    // drop, making the store ROW-identical to a from-scratch sketch over
    // the survivors. Oracle = q89/q158's replay re-rooted at the
    // surviving docs — a leftover count shifts an estimate (or a phantom
    // zero-row shifts the top-k) and fails the hash.
    "q198_cms_retired" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = CorpusQueries.vocabPath(d) + "_cmsret"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val terms = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      val store = s"$base/store"
      (0 to 1).foreach(i => StreamingPipeline.cmsMergeBatch(store, "term")(
        terms.filter(col("doc_id") % 2 === i).select(col("term")), i.toLong))
      StreamingPipeline.retireCmsSlice(store, "term")(
        terms.filter(col("doc_id") % 3 === 1).select(col("term")), retireId = 5L)
      Sketches.cmsTopKFromCells(
        terms.filter(col("doc_id") % 3 =!= 1).select(col("term")),
        s.read.parquet(store), termCol = "term", d = 3, w = 1024, k = 20)
    }),

    // Histogram buckets — the other additive family, same signed-delta
    // path; oracle = q103/q159's replay over the survivors.
    "q199_hist_retired" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = CorpusQueries.vocabPath(d) + "_histret"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ev = Tables(s, d, "events")
      val store = s"$base/store"
      (0 to 2).foreach(i => StreamingPipeline
        .histMergeBatch(store, Seq("event_type"), "value",
          binWidth = 50.0, numBins = 20)(
          ev.filter(col("user_id") % 3 === i), i.toLong))
      StreamingPipeline.retireHistSlice(store, Seq("event_type"), "value")(
        ev.filter(col("user_id") % 3 === 1), retireId = 7L)
      val surv = ev.filter(col("user_id") % 3 =!= 1)
      val approx = Sketches.histogramQuantiles(
        s.read.parquet(store), Seq("event_type"), binWidth = 50.0)
      val exact = surv.withColumn("__v", floor(col("value") * 100.0 + 0.5) / 100.0)
        .groupBy(col("event_type"))
        .agg(OracleCte.qround6(expr("percentile(__v, 0.5D)")).as("exact_p50"),
          OracleCte.qround6(expr("percentile(__v, 0.9D)")).as("exact_p90"))
      approx.join(exact, "event_type")
        .select(col("event_type"), col("n_rows"), col("p50"), col("p90"), col("p99"),
          col("exact_p50"), col("exact_p90"))
        .orderBy("event_type")
    }),

    // Misra-Gries — the cut-merged family: the rebuilt summary is the
    // ascending-id left fold of the surviving slice summaries (the same
    // fold a from-scratch stream applies), and the mergeable-summaries
    // bound transfers to the surviving total — so q144's invariant gate
    // holds against the SURVIVORS: every survivor-side heavy hitter
    // present, never overcounted, undercount ≤ n/k. Oracle = q144's
    // replay re-rooted at the surviving slice.
    "q200_mg_retired" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = CorpusQueries.vocabPath(d) + "_mgret"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val items = Tables(s, d, "events")
        .select(col("user_id"), floor(col("value")).cast("int").cast("string").as("item"))
      val store = s"$base/store"
      (0 to 2).foreach(i => StreamingPipeline.mgMergeBatch(store, "item", k = 64)(
        items.filter(col("user_id") % 3 === i).select(col("item")), i.toLong))
      StreamingPipeline.retireMgBatches(s, store, k = 64, Seq(1L))
      Sketches.heavyHittersGateFrom(
          items.filter(col("user_id") % 3 =!= 1).select(col("item")),
          "item", s.read.parquet(store), k = 64)
        .select(col("item").cast("int").as("item"), col("exact_cnt"),
          col("found_viol"), col("under_viol"), col("err_viol"))
        .orderBy("item")
    }),

    "q103_hist_quantiles" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      val sk = Sketches.histogramSketch(ev, Seq("event_type"), col("value"),
        binWidth = 50.0, numBins = 20)
      val approx = Sketches.histogramQuantiles(sk, Seq("event_type"), binWidth = 50.0)
      // same cent-quantized input + qround6 output as the q86 exact path
      val exact = ev.withColumn("__v", floor(col("value") * 100.0 + 0.5) / 100.0)
        .groupBy(col("event_type"))
        .agg(OracleCte.qround6(expr("percentile(__v, 0.5D)")).as("exact_p50"),
          OracleCte.qround6(expr("percentile(__v, 0.9D)")).as("exact_p90"))
      approx.join(exact, "event_type")
        .select(col("event_type"), col("n_rows"), col("p50"), col("p90"), col("p99"),
          col("exact_p50"), col("exact_p90"))
        .orderBy("event_type")
    })
  )

  val oracles: Map[String, String] = Map(
    "q88_hll_distinct" -> hllOracle,
    "q89_cms_heavy_hitters" -> cmsOracle,
    // Replays the filter bit-for-bit: same hex60 seeded bits, same 32-bit
    // word packing (bit_or of BIGINT masks), same k-of-k membership test,
    // then the exact join on the bloom-positive survivors only.
    "q118_bloom_decontam" -> bloomDecontamOracle,
    "q144_mg_heavy_hitters" ->
      """WITH c AS (
        |  -- NULL values are dropped on BOTH engines (the count(col)
        |  -- convention mgSummary applies since the null-key NPE fix):
        |  -- without this WHERE, a corpus with NULL values would keep a
        |  -- NULL item group and a larger n here while Spark excludes both
        |  SELECT CAST(floor(value) AS INT) AS item, count(*) AS exact_cnt
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |),
        |n AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS n FROM c)
        |SELECT item, exact_cnt,
        |  0 AS found_viol, 0 AS under_viol, 0 AS err_viol
        |FROM c CROSS JOIN n
        |WHERE exact_cnt > n / 64.0
        |ORDER BY item""".stripMargin,
    // The union of the router's published batches must equal the batch
    // computation over the same corpus — q118's oracle verbatim.
    "q121_decontam_routed" -> bloomDecontamOracle,
    // q118's replay with the rotated suite excluded from the bench side
    "q194_decontam_rotation" ->
      bloomDecontamOracleOver("bucket >= 80 AND doc_id % 3 <> 1"),
    // Bloom bits OR-merge exactly, so the built-then-appended-then-
    // compacted store answers bit-for-bit like the monolithic build —
    // q118's oracle verbatim.
    "q127_decontam_lifecycle" -> bloomDecontamOracle,
    "q103_hist_quantiles" -> histQuantilesOracle,
    // Stream-grown sketch stores answer the batch queries bit-for-bit —
    // q88/q89/q103's oracles verbatim (register max-merge is idempotent;
    // the SUM-merged families are exactly-once via the _batches ledger).
    "q156_hll_streamed" -> hllOracle,
    "q158_cms_streamed" -> cmsOracle,
    "q159_hist_streamed" -> histQuantilesOracle,
    // Sketch-store retirement gates: the batch oracles re-rooted at the
    // surviving slice — the retired slice's contributions must be GONE
    // (rebuild-from-survivors for max/OR-merged state, signed deltas for
    // the additive families), bit-for-bit.
    "q197_hll_retired" -> hllOracleOver("user_id % 3 <> 1"),
    "q198_cms_retired" -> cmsOracleOver("doc_id % 3 <> 1"),
    "q199_hist_retired" -> histQuantilesOracleOver("user_id % 3 <> 1"),
    "q200_mg_retired" ->
      """WITH c AS (
        |  SELECT CAST(floor(value) AS INT) AS item, count(*) AS exact_cnt
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id % 3 <> 1
        |  GROUP BY 1
        |),
        |n AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS n FROM c)
        |SELECT item, exact_cnt,
        |  0 AS found_viol, 0 AS under_viol, 0 AS err_viol
        |FROM c CROSS JOIN n
        |WHERE exact_cnt > n / 64.0
        |ORDER BY item""".stripMargin)

  /** Shared by q88 (batch sketch) and q156 (the stream-grown register
    * store): the bit-exact HLL replay — md5-derived hash, integer shifts,
    * dyadic denominators — over the same events.
    */
  private lazy val hllOracle: String = hllOracleOver("1=1")

  /** [[hllOracle]] parameterized over the event predicate, so the
    * retirement gate (q197) replays the SAME sketch over the surviving
    * slice only. where = "1=1" reproduces the q88/q156 oracle.
    */
  private def hllOracleOver(where: String): String =
      s"""WITH h AS (
         |  SELECT event_type, ${hex60Sql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events WHERE $where
         |),
         |r AS (
         |  SELECT event_type, h >> 52 AS reg,
         |    least(52 - length(bin(h & ((CAST(1 AS BIGINT) << 52) - 1))) + 1, 30) AS rank
         |  FROM h
         |),
         |regs AS (SELECT event_type, reg, max(rank) AS rank FROM r GROUP BY 1, 2),
         |agg AS (
         |  SELECT event_type, count(*) AS nonempty,
         |    sum(CAST(1.0 AS DOUBLE) / CAST(CAST(1 AS BIGINT) << rank AS DOUBLE)) AS sum_pow
         |  FROM regs GROUP BY 1
         |),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
         |       FROM events WHERE $where GROUP BY 1)
         |SELECT a.event_type, a.nonempty,
         |  ${OracleCte.qround6Sql(
             "CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))" +
             " * CAST(65536 AS DOUBLE) / (CAST(256 - a.nonempty AS DOUBLE) + a.sum_pow)")} AS estimate,
         |  ex.exact_distinct
         |FROM agg a JOIN ex ON ex.event_type = a.event_type
         |ORDER BY 1""".stripMargin

  /** Shared by q89 (batch sketch) and q158 (the stream-grown cell store). */
  private lazy val cmsOracle: String = cmsOracleOver("1=1")

  /** [[cmsOracle]] parameterized over the document predicate — the
    * signed-delta retirement gate (q198) replays the SAME sketch over the
    * surviving docs. where = "1=1" reproduces the q89/q158 oracle. `src`
    * re-roots the replay at a derived snapshot CTE (the q207 warehouse
    * cycle; exposed private[queries] for that composition).
    */
  private[queries] def cmsOracleOver(where: String,
                                     src: String = "documents"): String =
      s"""WITH tok AS (
         |  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |  FROM $src WHERE $where
         |),
         |counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
         |seeded AS (
         |  SELECT term, cnt, s.seed,
         |    ${hex60Sql("s.seed || ':' || term")} % 1024 AS cell
         |  FROM counts CROSS JOIN (SELECT unnest([0, 1, 2]) AS seed) s
         |),
         |cells AS (
         |  SELECT seed, cell, CAST(sum(cnt) AS BIGINT) AS cell_total
         |  FROM seeded GROUP BY 1, 2
         |),
         |est AS (
         |  SELECT t.term, t.cnt, min(c.cell_total) AS est
         |  FROM seeded t JOIN cells c ON c.seed = t.seed AND c.cell = t.cell
         |  GROUP BY 1, 2
         |)
         |SELECT term, est, cnt FROM est ORDER BY est DESC, term ASC LIMIT 20""".stripMargin

  /** Shared by q118 (batch) and q121 (the streaming router's artifact). */
  private lazy val bloomDecontamOracle: String =
    bloomDecontamOracleOver("bucket >= 80")

  /** [[bloomDecontamOracle]] parameterized over the bench-side predicate,
    * so the rotation gate (q194) can exclude the retired suite from the
    * SAME monolithic replay. benchWhere = "bucket >= 80" reproduces the
    * q118/q121/q127 oracle byte-for-byte.
    */
  private def bloomDecontamOracleOver(benchWhere: String): String =
      s"""WITH ${OracleCte.triCte},
         |b AS (
         |  SELECT doc_id, shingle,
         |    ${hex60Sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM tri
         |),
         |bench AS (SELECT DISTINCT shingle FROM b WHERE $benchWhere),
         |words AS (
         |  SELECT bit >> 5 AS word_idx,
         |    bit_or(CAST(1 AS BIGINT) << CAST(bit & 31 AS INT)) AS word
         |  FROM (
         |    SELECT ${hex60Sql("s.seed || ':' || bench.shingle")} % 1048576 AS bit
         |    FROM bench CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS seed) s
         |  ) GROUP BY 1
         |),
         |probes AS (
         |  SELECT c.doc_id, c.shingle,
         |    ${hex60Sql("s.seed || ':' || c.shingle")} % 1048576 AS bit
         |  FROM (SELECT DISTINCT doc_id, shingle FROM b WHERE bucket < 80) c
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS seed) s
         |),
         |flags AS (
         |  SELECT p.doc_id, p.shingle,
         |    (count(*) FILTER (WHERE
         |      (w.word & (CAST(1 AS BIGINT) << CAST(p.bit & 31 AS INT))) <> 0) = 4) AS might
         |  FROM probes p LEFT JOIN words w ON w.word_idx = p.bit >> 5
         |  GROUP BY 1, 2
         |),
         |pres AS (
         |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_present
         |  FROM flags f JOIN bench bn ON bn.shingle = f.shingle
         |  WHERE f.might GROUP BY 1
         |),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pos
         |  FROM flags GROUP BY 1
         |)
         |SELECT a.doc_id, a.n_shingles, a.n_bloom_pos,
         |  coalesce(p.n_present, CAST(0 AS BIGINT)) AS n_present,
         |  coalesce(p.n_present, 0) > 0 AS contaminated
         |FROM agg a LEFT JOIN pres p ON p.doc_id = a.doc_id
         |ORDER BY a.doc_id""".stripMargin

  private lazy val histQuantilesOracle: String = histQuantilesOracleOver("1=1")

  /** [[histQuantilesOracle]] parameterized over the event predicate — the
    * signed-delta retirement gate (q199) replays the SAME sketch over the
    * surviving events. where = "1=1" reproduces the q103/q159 oracle.
    */
  private def histQuantilesOracleOver(where: String): String =
      s"""WITH sk AS (
         |  SELECT event_type,
         |    CAST(least(greatest(floor(value / 50.0), 0.0), 19.0) AS INT) AS bucket,
         |    count(*) AS n
         |  FROM events WHERE $where GROUP BY 1, 2
         |),
         |cum AS (
         |  SELECT event_type, bucket, n,
         |    sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         |    sum(n) OVER (PARTITION BY event_type) AS total
         |  FROM sk
         |),
         |approx AS (
         |  SELECT event_type, CAST(max(total) AS BIGINT) AS n_rows,
         |    (min(CASE WHEN cum >= ceil(0.5 * total) THEN bucket END) + 1) * 50.0 AS p50,
         |    (min(CASE WHEN cum >= ceil(0.9 * total) THEN bucket END) + 1) * 50.0 AS p90,
         |    (min(CASE WHEN cum >= ceil(0.99 * total) THEN bucket END) + 1) * 50.0 AS p99
         |  FROM cum GROUP BY 1
         |),
         |ex AS (
         |  SELECT event_type,
         |    ${OracleCte.qround6Sql("quantile_cont(floor(value*100.0 + 0.5)/100.0, 0.5)")} AS exact_p50,
         |    ${OracleCte.qround6Sql("quantile_cont(floor(value*100.0 + 0.5)/100.0, 0.9)")} AS exact_p90
         |  FROM events WHERE $where GROUP BY 1
         |)
         |SELECT a.event_type, a.n_rows, a.p50, a.p90, a.p99, ex.exact_p50, ex.exact_p90
         |FROM approx a JOIN ex ON ex.event_type = a.event_type
         |ORDER BY 1""".stripMargin
}
