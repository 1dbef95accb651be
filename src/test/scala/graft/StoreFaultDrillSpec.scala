package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-window fault drill, parameterized over the persisted-store
  * families (the r9 verdict's ask: the `.prev` swap + ledger + lock
  * protocol was tested per-family for replay/stale-lock, and SCD2 had a
  * planted-garbage heal test — generalize the heal drill). Three windows
  * per family, simulated by materializing exactly the on-disk state a
  * crash at that point leaves:
  *
  *  W1 "payloads landed, publish missing": the commit marker (sigs/codes/
  *     uni/shingles `batch=<id>`, or a dot-staging leftover for the
  *     single-half IVF store) is removed after a successful append.
  *     Asserts: probes still serve (exactly the pre-append rows for the
  *     index families, whose un-published payloads are unreachable by
  *     construction), and replaying the SAME append re-lands and converges
  *     bit-for-bit with a never-crashed twin — then a second replay is a
  *     ledgered no-op.
  *
  *  W2 "between the two swap renames": a store half sits at `<half>.prev`
  *     with no main (compaction's crash window). Asserts: the read paths'
  *     activeDir fallback serves the FULL store unchanged, and the next
  *     maintenance entry (an append replay) heals via recoverDir without
  *     double-counting (returns false — the ledger survived the swap).
  *
  *  W3 "mid-initial-build": `_build-pending` over mixed-generation halves
  *     (index families) / a missing last-written table (LM, decontam).
  *     Asserts: probes and maintenance refuse LOUDLY, and re-running the
  *     build heals to bit-for-bit twin equality (see the block comment at
  *     the W3 cases).
  *
  * Families: IVF cells, LSH sigs+vectors, PQ codes+vectors, LM count
  * tables, drift bucket counts, DSIR bucket counts, MinHash
  * sets+bands+pairs (W1 and W2 only: it has no build apart from its first
  * batch), decontamination shingles+words. (The
  * sketch stores' equivalent windows are exercised by the streaming
  * specs' replay cases; SCD2 has its own heal test in ScdProfileSpec.)
  */
class StoreFaultDrillSpec extends SparkSpec {
  import spark.implicits._

  private type FS = org.apache.hadoop.fs.FileSystem
  private def hpath(s: String) = new org.apache.hadoop.fs.Path(s)
  private lazy val fs: FS = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  /** One store family's drill hooks. `crashW1` turns a store that has seen
    * build(A)+append(B, 1) into the W1 state; `halves` lists the dirs W2
    * swaps aside one at a time.
    */
  private case class Family(
    name: String,
    build: (DataFrame, String) => Unit,
    append: (DataFrame, String, Long) => Boolean,
    crashW1: String => Unit,
    halves: Seq[String],
    probe: String => DataFrame,
    // index probes see ONLY published appends, so W1 serves exactly the
    // base store; LM/decontam W1 semantics are "maintenance window — heal
    // before scoring", so those assert probe-runs + replay-converges only
    w1ServesBase: Boolean)

  private lazy val vecs: DataFrame = {
    val rng = new scala.util.Random(23)
    (0 until 120).map(i => (i.toLong, Array.fill(64)(rng.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }
  private lazy val sliceA = vecs.filter(col("vec_id") < 80)
  private lazy val sliceB = vecs.filter(col("vec_id") >= 80)
  private lazy val queries = vecs.filter(col("vec_id") < 10)

  private lazy val docsAll: DataFrame = {
    val rng = new scala.util.Random(29)
    (0 until 60).map { i =>
      (i.toLong, (0 until 30).map(_ => "w" + rng.nextInt(40)).mkString(" "))
    }.toDF("doc_id", "text")
  }
  private lazy val docsA = docsAll.filter(col("doc_id") < 40)
  private lazy val docsB = docsAll.filter(col("doc_id") >= 40)
  // the MinHash drill's second batch also re-sends five stored texts under
  // new ids, so the append lands pairs against the stored batch
  private lazy val mhDocsB =
    docsB.unionByName(docsA.filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 100))

  /** The MinHash stream body returns nothing; it landed iff a half's
    * `batch=<id>` dir holds other files afterwards (every publish writes
    * fresh part names).
    */
  private def minhashAppend(df: DataFrame, p: String, id: Long): Boolean = {
    def parts = Seq("sets", "bands", "pairs").map { h =>
      val d = hpath(s"${graft.store.BatchStore.active(fs, s"$p/$h")}/batch=$id")
      if (fs.exists(d)) fs.listStatus(d).map(_.getPath.getName).sorted.toSeq else Seq.empty
    }
    val before = parts
    graft.streaming.StreamingPipeline.minhashDedupBatch(p)(df, id)
    parts != before
  }

  // drift-store drill features: text-derived only (docsAll carries no
  // metadata columns)
  private lazy val driftFeats: Seq[(String, org.apache.spark.sql.Column)] =
    Seq("len_b" -> floor(length(col("text")) / lit(20)),
        "head" -> substring(col("text"), 1, 2))

  private def rm(p: String): Unit = fs.delete(hpath(p), true)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val families: Seq[Family] = {
    import graft.similarity.Similarity
    import graft.text.TextOps
    import graft.dedup.Dedup
    Seq(
      Family("ivf",
        (df, p) => Similarity.buildIvfIndex(df, numCentroids = 4, iters = 2, p),
        (df, p, id) => Similarity.ivfAppendCells(df, p, id),
        // IVF publishes with ONE rename, so its W1 state is a dead staging
        // dir next to a missing batch dir
        p => { rm(s"$p/cells/batch=1"); fs.mkdirs(hpath(s"$p/cells/.staging-1/junk")) },
        Seq("cells"),
        p => Similarity.probeIvfIndex(queries, p, k = 3, nprobe = 2),
        w1ServesBase = true),
      Family("lsh",
        (df, p) => Similarity.buildLshIndex(df, bits = 4, tables = 4, dim = 64, p),
        (df, p, id) => Similarity.lshAppendVectors(df, p, id),
        p => rm(s"$p/sigs/batch=1"), // payloads under vectors/batch=1 stay
        Seq("sigs", "vectors"),
        p => Similarity.probeLshIndex(queries, p, k = 3),
        w1ServesBase = true),
      Family("pq",
        (df, p) => Similarity.buildPqIndex(df, m = 4, k = 4, iters = 1, p),
        (df, p, id) => Similarity.pqAppendVectors(df, p, id),
        p => rm(s"$p/codes/batch=1"),
        Seq("codes", "vectors"),
        p => Similarity.probePqIndex(queries, p, k = 3),
        w1ServesBase = true),
      Family("lm",
        (df, p) => TextOps.saveLm(df, p),
        (df, p, id) => TextOps.appendLm(df, p, id),
        p => rm(s"$p/uni/batch=1"), // tri/bi/meta deltas of the append stay
        Seq("uni", "bi", "tri", "meta"),
        p => TextOps.scoreWithLm(docsAll, p),
        w1ServesBase = false),
      Family("drift",
        (df, p) => graft.operators.Drift.buildDriftStore(df, driftFeats, p),
        (df, p, id) => graft.operators.Drift.appendDriftCounts(df, driftFeats, p, id),
        p => rm(s"$p/cur/batch=1"), // the single count table IS the marker
        Seq("cur"),
        p => graft.operators.Drift.psiFromStore(spark, p),
        w1ServesBase = true),
      Family("dsir",
        (df, p) => TextOps.saveDsir(df, col("doc_id") % 3 === 0, 64, p),
        (df, p, id) => TextOps.appendDsir(df, col("doc_id") % 3 === 0, p, id),
        p => rm(s"$p/buckets/batch=1"), // the single count table IS the marker
        Seq("buckets"),
        p => TextOps.scoreWithDsir(docsAll, p),
        w1ServesBase = true),
      Family("minhash",
        (df, p) => graft.streaming.StreamingPipeline.minhashDedupBatch(p)(df, 0L),
        minhashAppend,
        p => rm(s"$p/pairs/batch=1"), // sets/bands of the append stay
        Seq("sets", "bands", "pairs"),
        p => graft.streaming.StreamingPipeline.readDedupPairs(spark, p),
        w1ServesBase = true),
      Family("decontam",
        (df, p) => Dedup.buildDecontamStore(df, p, n = 3, k = 4, m = 1 << 16),
        (df, p, id) => Dedup.appendDecontamBench(df, p, id),
        p => rm(s"$p/shingles/batch=1"), // the OR-merged words swap stays
        Seq("shingles", "words"),
        p => Dedup.bloomContaminationAgainst(
          Dedup.wordShingles(docsAll, 3),
          spark.read.parquet(graft.store.BatchStore.active(fs, s"$p/shingles")),
          spark.read.parquet(graft.store.BatchStore.active(fs, s"$p/words")),
          k = 4, m = 1 << 16),
        w1ServesBase = false))
  }

  private def data(f: Family): (DataFrame, DataFrame) =
    if (f.name == "minhash") (docsA, mhDocsB)
    else if (Set("lm", "decontam", "drift", "dsir")(f.name)) (docsA, docsB)
    else (sliceA, sliceB)

  private def root(f: Family, tag: String): String =
    sys.props("java.io.tmpdir") + s"/graft_fault_${f.name}_${tag}_p" +
      ProcessHandle.current().pid()

  for (f <- families) test(s"${f.name}: W1 marker-loss crash — continuity, replay convergence, ledger") {
    val (a, b) = data(f)
    val base = root(f, "base"); val twin = root(f, "twin"); val drill = root(f, "drill")
    Seq(base, twin, drill).foreach(rm)
    f.build(a, base)
    f.build(a, twin); assert(f.append(b, twin, 1L))
    f.build(a, drill); assert(f.append(b, drill, 1L))
    val twinRows = rows(f.probe(twin))
    f.crashW1(drill)
    val crashed = rows(f.probe(drill)) // must serve, never throw
    if (f.w1ServesBase)
      assert(crashed == rows(f.probe(base)),
        s"${f.name}: an unpublished append leaked into the probe")
    assert(f.append(b, drill, 1L),
      s"${f.name}: replay of the crashed append must re-land (marker was lost)")
    assert(rows(f.probe(drill)) == twinRows,
      s"${f.name}: healed store diverges from the never-crashed twin")
    assert(!f.append(b, drill, 1L),
      s"${f.name}: second replay must be a ledgered no-op")
    assert(rows(f.probe(drill)) == twinRows)
  }

  for (f <- families; half <- f.halves)
    test(s"${f.name}/$half: W2 swap-window crash — .prev continuity, recoverDir heal") {
      val (a, b) = data(f)
      val p = root(f, s"swap_$half")
      rm(p)
      f.build(a, p); assert(f.append(b, p, 1L))
      val full = rows(f.probe(p))
      // crash between swapDir's two renames: main gone, .prev is the store
      assert(fs.rename(hpath(s"$p/$half"), hpath(s"$p/$half.prev")),
        s"could not stage the swap-window state for $half")
      assert(rows(f.probe(p)) == full,
        s"${f.name}/$half: activeDir fallback failed to serve the .prev half")
      // the next maintenance entry heals (recoverDir) and the ledger
      // survived the swap: the replayed append is a no-op
      assert(!f.append(b, p, 1L),
        s"${f.name}/$half: ledger lost across the swap window — double-count risk")
      assert(fs.exists(hpath(s"$p/$half")) && !fs.exists(hpath(s"$p/$half.prev")),
        s"${f.name}/$half: recoverDir did not restore the main dir")
      assert(rows(f.probe(p)) == full)
    }

  /** W3 "crash mid-initial-build" (the r10 verdict's remaining window): the
    * index families leave `_build-pending` on disk over mixed-generation
    * halves — probes AND maintenance entry points must REFUSE loudly while
    * the marker exists (the ADVICE fix made probes marker-aware); LM and
    * decontam have no marker but order their build writes so any crash
    * leaves a MISSING later table, which every read path hits loudly
    * (saveLm/buildDecontamStore delete the store first, so a partial state
    * is single-generation-with-holes, never silently mixed). In all five
    * families a re-run of the build completes and heals: post-heal probe +
    * append converge bit-for-bit with a never-crashed twin.
    */
  private def deepMsgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ deepMsgs(t.getCause)

  for (f <- families if f.name != "minhash")
    test(s"${f.name}: W3 mid-initial-build crash — loud refusal, rebuild heals") {
      val (a, b) = data(f)
      val twin = root(f, "w3twin"); val drill = root(f, "w3drill")
      Seq(twin, drill).foreach(rm)
      f.build(a, twin); assert(f.append(b, twin, 1L))
      val twinRows = rows(f.probe(twin))
      // stage the crash state from a full build: the marker back on disk
      // plus a missing half (index families — exactly what a crash between
      // withBuildMarker's body writes leaves), or the LAST-written table
      // removed (LM's uni / decontam's words, whose write order makes the
      // final table the de-facto commit marker)
      f.build(a, drill)
      val markered = Set("ivf", "lsh", "pq").contains(f.name)
      if (markered) {
        fs.create(hpath(s"$drill/_build-pending"), true).close()
        rm(s"$drill/${f.halves.head}")
      } else if (f.name == "lm") rm(s"$drill/uni")
      else if (f.name == "drift") rm(s"$drill/base") // base is written last
      else if (f.name == "dsir") rm(s"$drill/config") // config is written last
      else rm(s"$drill/words")
      val ex = intercept[Exception] { rows(f.probe(drill)) }
      if (markered) {
        assert(deepMsgs(ex).exists(_.contains("incomplete (re)build")),
          s"${f.name}: probe refused with the wrong error: ${deepMsgs(ex).mkString(" | ")}")
        val ex2 = intercept[Exception] { f.append(b, drill, 1L) }
        assert(deepMsgs(ex2).exists(_.contains("incomplete (re)build")),
          s"${f.name}: append must refuse while _build-pending exists: " +
            deepMsgs(ex2).mkString(" | "))
      }
      // the documented remedy — re-run the build — completes over the
      // crashed state and heals the store
      f.build(a, drill)
      assert(f.append(b, drill, 1L),
        s"${f.name}: append after the healing rebuild must land")
      assert(rows(f.probe(drill)) == twinRows,
        s"${f.name}: healed store diverges from the never-crashed twin")
    }

  test("decontam rotation: Bloom-rebuild crash window — superset filter stays correct, re-run converges") {
    import graft.dedup.Dedup
    import graft.similarity.Similarity
    val p = root(families.last, "rot"); val want = root(families.last, "rotwant")
    Seq(p, want).foreach(rm)
    // suite0 stays, suite1 rotates; docsAll guarantees shared + exclusive shingles
    Dedup.buildDecontamStore(docsA, p, n = 3, k = 4, m = 1 << 16)
    assert(Dedup.appendDecontamBench(docsB, p, appendId = 1))
    // the from-scratch truth after rotation: a store over suite0 alone
    Dedup.buildDecontamStore(docsA, want, n = 3, k = 4, m = 1 << 16)
    def probeAgainst(store: String, bench: DataFrame) = Dedup
      .bloomContaminationAgainst(Dedup.wordShingles(docsAll, 3), bench,
        spark.read.parquet(graft.store.BatchStore.active(fs, s"$store/words")),
        k = 4, m = 1 << 16)
    def verdicts(store: String): Seq[String] = rows(
      probeAgainst(store, Dedup.liveDecontamShingles(spark, store))
        .select(col("doc_id"), col("n_present"), col("contaminated")))
    def bloomPos(store: String): Long =
      probeAgainst(store, Dedup.liveDecontamShingles(spark, store))
        .agg(sum(col("n_bloom_pos"))).head().getLong(0)
    val wantV = verdicts(want)
    val wantPos = bloomPos(want)
    assert(Dedup.retireDecontamBench(spark, p, Seq(1L), retireId = 2))
    assert(!Dedup.retireDecontamBench(spark, p, Seq(1L), retireId = 2),
      "retire replay must be refused by the ledger dir")
    // retire window, pre-compaction: verdicts already correct (live
    // shingles exclude the rotated batch); the Bloom is a SUPERSET
    assert(verdicts(p) == wantV, "verdicts wrong in the retire window")
    assert(bloomPos(p) > wantPos, "rotated suite's false-positive tax missing")
    // the STREAMING router reads live shingles too — a routed batch's
    // verdicts honor the rotation before compaction applies it
    val outDir = root(families.last, "rotout")
    rm(outDir)
    graft.streaming.StreamingPipeline.decontamRouteBatch(p, outDir)(docsAll, 0L)
    val routed = rows(spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_present"), col("contaminated")))
    assert(routed == wantV, "the streaming router must honor a pending rotation")
    // crash INSIDE compactDecontamStore, between the shingle landing and
    // the words rebuild: replay steps (1)+(2) manually and stop
    val b1 = hpath(s"$p/shingles/batch=1")
    fs.delete(b1, true); fs.mkdirs(b1)
    graft.store.BatchStore.compact(spark, s"$p/shingles", retiring = true)
    assert(verdicts(p) == wantV, "superset-filter crash window broke verdicts")
    assert(bloomPos(p) > wantPos, "crash window should still carry the superset tax")
    // the re-run completes the sequence: filter == from-scratch bit-for-bit
    Dedup.compactDecontamStore(spark, p)
    def words(s0: String): Set[(Long, Long)] = spark.read.parquet(s"$s0/words")
      .collect().map(r => (r.getAs[Long]("word_idx"), r.getAs[Long]("word"))).toSet
    assert(verdicts(p) == wantV)
    assert(bloomPos(p) == wantPos, "rebuilt filter kept retired bits")
    assert(words(p) == words(want),
      "rebuilt filter must equal the from-scratch build bit-for-bit")
    // applied ledger blanked to a tombstone; rotated append id stays refused
    assert(!fs.listFiles(hpath(s"$p/retired/batch=2"), true).hasNext,
      "applied rotation ledger must blank")
    assert(!Dedup.appendDecontamBench(docsB, p, appendId = 1),
      "a rotated batch id must stay refused — suites re-enter under a fresh id")
    assert(Dedup.appendDecontamBench(docsB, p, appendId = 3),
      "the rotated suite must be able to re-enter under a fresh id")

    // crash INSIDE the apply step's delete-then-mkdirs (the rotated dir
    // is MISSING, not a tombstone) — the unconditional-mkdirs heal must
    // restore it, or after the ledger blanks the rotated id becomes
    // reusable and a replay silently re-enters the dead suite
    assert(Dedup.retireDecontamBench(spark, p, Seq(3L), retireId = 4))
    rm(s"$p/shingles/batch=3") // the torn state: dir gone, ledger pending
    Dedup.compactDecontamStore(spark, p)
    // the heal restores the missing rotated dir before the merge; the
    // self-vacuuming swap then collapses it into the watermark rule —
    // landed either way, and the replay below is what the heal protects
    assert(graft.store.Ledger.landed(fs, s"$p/shingles", 3L),
      "the apply step must keep a missing rotated id landed (dir or rule)")
    assert(!Dedup.appendDecontamBench(docsB, p, appendId = 3),
      "the healed/vacuumed rotated id must stay refused")
    assert(verdicts(p) == wantV, "post-heal verdicts diverged")

    // a crashed retire PUBLISH (orphan .staging under retired/, no ledger
    // dir) must be invisible to readers — the retirement read lists
    // published batch dirs only, never the staging leftovers
    fs.mkdirs(hpath(s"$p/retired/.staging-9"))
    fs.create(hpath(s"$p/retired/.staging-9/junk"), true).close()
    assert(verdicts(p) == wantV, "an orphan retire staging broke probes")
  }

  test("decontam rotation: all suites rotated out of a relocated base — rebuild serves empty, never wedges") {
    import graft.dedup.Dedup
    import graft.similarity.Similarity
    val p = root(families.last, "rotall")
    rm(p)
    Dedup.buildDecontamStore(docsA, p, n = 3, k = 4, m = 1 << 16)
    assert(Dedup.appendDecontamBench(docsB, p, appendId = 1))
    assert(Dedup.appendDecontamBench(docsAll, p, appendId = 2))
    // relocate the base: rotate batch 1 while 0 and 2 survive — the
    // survivor merge lands at batch=2 and writes the `_base` marker
    assert(Dedup.retireDecontamBench(spark, p, Seq(1L), retireId = 3))
    Dedup.compactDecontamStore(spark, p)
    assert(graft.store.BatchStore.readBaseId(fs, s"$p/shingles") == 2L,
      "precondition: the base must have been relocated (marker present)")
    // now rotate EVERYTHING that remains (the merged base batch). The
    // rebuild's survivor read must skip the marker-only root: a raw
    // has-any-file check sees `_base`, reads the root, throws on schema
    // inference — and since the ledger blanks only after the rebuild,
    // every re-run would fail the same way (a permanent wedge).
    assert(Dedup.retireDecontamBench(spark, p, Seq(2L), retireId = 4))
    Dedup.compactDecontamStore(spark, p)
    assert(Dedup.liveDecontamShingles(spark, p).count() == 0,
      "an all-rotated store must serve an empty live shingle set")
    val probe = Dedup.bloomContaminationAgainst(
      Dedup.wordShingles(docsAll, 3), Dedup.liveDecontamShingles(spark, p),
      spark.read.parquet(graft.store.BatchStore.active(fs, s"$p/words")),
      k = 4, m = 1 << 16)
    assert(probe.agg(sum(col("n_bloom_pos"))).head().getLong(0) == 0L,
      "the rebuilt filter must be all-zero bits")
    assert(probe.filter(col("contaminated")).count() == 0)
    assert(!fs.listFiles(hpath(s"$p/retired/batch=4"), true).hasNext,
      "applied rotation ledger must blank")
    // the store stays maintainable: a suite re-enters under a fresh id
    // and probes like a from-scratch build over it
    assert(Dedup.appendDecontamBench(docsB, p, appendId = 5))
    val fresh = root(families.last, "rotallwant")
    rm(fresh)
    Dedup.buildDecontamStore(docsB, fresh, n = 3, k = 4, m = 1 << 16)
    def v(store: String): Seq[String] = rows(Dedup.bloomContaminationAgainst(
      Dedup.wordShingles(docsAll, 3), Dedup.liveDecontamShingles(spark, store),
      spark.read.parquet(graft.store.BatchStore.active(fs, s"$store/words")),
      k = 4, m = 1 << 16)
      .select(col("doc_id"), col("n_present"), col("contaminated")))
    assert(v(p) == v(fresh),
      "the re-entered store must probe like a from-scratch build")
  }

  test("sketch-store retirement: rebuild-window crash, replay convergence, legacy refusal") {
    import graft.streaming.StreamingPipeline
    import graft.sketch.Sketches
    val items = (1L to 600L).map(u => (u, s"g${u % 4}", s"i${u * 37 % 101}"))
      .toDF("u", "g", "item")
    def grow(store: String): Unit = (0 to 2).foreach(i =>
      StreamingPipeline.hllMergeBatch(store, Seq("g"), "item", b = 8)(
        items.filter(col("u") % 3 === i), i.toLong))
    val p = root(families.last, "skret"); val twin = root(families.last, "skrettwin")
    Seq(p, twin).foreach(rm)
    grow(s"$p/hll"); grow(s"$twin/hll")
    val fullRows = rows(spark.read.parquet(s"$p/hll"))
    StreamingPipeline.retireHllBatches(spark, s"$twin/hll", Seq("g"), Seq(1L))
    val twinRows = rows(spark.read.parquet(s"$twin/hll"))
    assert(twinRows != fullRows, "precondition: retirement must change state")
    // the retired store == a from-scratch stream over the survivors
    // (mergeable-state exactness — the un-learn contract)
    val fresh = root(families.last, "skretfresh"); rm(fresh)
    (Seq(0, 2)).foreach(i =>
      StreamingPipeline.hllMergeBatch(s"$fresh/hll", Seq("g"), "item", b = 8)(
        items.filter(col("u") % 3 === i), i.toLong))
    assert(rows(spark.read.parquet(s"$fresh/hll")) == twinRows,
      "retired store must equal a never-saw-the-slice stream")
    // CRASH WINDOW: step (1) applied (slice blanked), rebuild never ran —
    // the merged store still serves the old SUPERSET state (estimates
    // include the departed slice until the re-run; never a throw)
    val b1 = hpath(s"$p/hll.slices/batch=1")
    fs.delete(b1, true); fs.mkdirs(b1)
    assert(rows(spark.read.parquet(s"$p/hll")) == fullRows,
      "crash window must serve the old superset state")
    // the re-run converges (blanking is idempotent), and a replay is a no-op
    StreamingPipeline.retireHllBatches(spark, s"$p/hll", Seq("g"), Seq(1L))
    assert(rows(spark.read.parquet(s"$p/hll")) == twinRows)
    StreamingPipeline.retireHllBatches(spark, s"$p/hll", Seq("g"), Seq(1L))
    assert(rows(spark.read.parquet(s"$p/hll")) == twinRows)
    // retiring every remaining slice serves an EMPTY sketch, not a throw
    StreamingPipeline.retireHllBatches(spark, s"$p/hll", Seq("g"), Seq(0L, 2L))
    assert(spark.read.parquet(s"$p/hll").count() == 0,
      "an all-retired store must serve empty")
    // LEGACY REFUSALS — rebuilding from a partial slice record would
    // silently drop contributions, so retirement must refuse:
    // (a) a ledgered id whose slice dir is gone entirely
    val noSlice = root(families.last, "skretnoslice"); rm(noSlice)
    grow(s"$noSlice/hll")
    rm(s"$noSlice/hll.slices/batch=2")
    val eA = intercept[IllegalArgumentException] {
      StreamingPipeline.retireHllBatches(spark, s"$noSlice/hll", Seq("g"), Seq(1L))
    }
    assert(eA.getMessage.contains("slice record"))
    // (b) a store with no _batches ledger at all (pre-slice-era growth)
    val noLedger = root(families.last, "skretnoledger"); rm(noLedger)
    grow(s"$noLedger/hll")
    fs.delete(hpath(s"$noLedger/hll/_batches"), false)
    val eB = intercept[IllegalArgumentException] {
      StreamingPipeline.retireHllBatches(spark, s"$noLedger/hll", Seq("g"), Seq(1L))
    }
    assert(eB.getMessage.contains("rebuild"))
    // (c) a pre-ledger store EXTENDED by the new maintainer: the append
    // stamps _preledger, and retirement refuses the mixed history
    StreamingPipeline.hllMergeBatch(s"$noLedger/hll", Seq("g"), "item", b = 8)(
      items.filter(col("u") % 3 === 0), 7L)
    assert(fs.exists(hpath(s"$noLedger/hll/_preledger")),
      "appending to a ledger-less store must stamp _preledger")
    val eC = intercept[IllegalArgumentException] {
      StreamingPipeline.retireHllBatches(spark, s"$noLedger/hll", Seq("g"), Seq(7L))
    }
    assert(eC.getMessage.contains("precedes slice recording"))
    // SIGNED-DELTA half (count-min): the retired store is ROW-identical
    // to a fresh sketch over the survivors — zero cells dropped, so even
    // a surviving term colliding into a fully-retired cell reads the
    // same absent row a fresh build has
    val terms = items.select(col("u"), col("item").as("term"))
    val cms = root(families.last, "skretcms"); rm(cms)
    (0 to 1).foreach(i => StreamingPipeline.cmsMergeBatch(s"$cms/store", "term")(
      terms.filter(col("u") % 2 === i).select(col("term")), i.toLong))
    StreamingPipeline.retireCmsSlice(s"$cms/store", "term")(
      terms.filter(col("u") % 3 === 1).select(col("term")), retireId = 5L)
    val freshCells = rows(Sketches.cmsCells(
      terms.filter(col("u") % 3 =!= 1).select(col("term")), "term"))
    assert(rows(spark.read.parquet(s"$cms/store")) == freshCells,
      "signed-delta retired cells must equal a fresh build over survivors")
    // retire replay refused by the ledger (exactly-once)
    StreamingPipeline.retireCmsSlice(s"$cms/store", "term")(
      terms.filter(col("u") % 3 === 1).select(col("term")), retireId = 5L)
    assert(rows(spark.read.parquet(s"$cms/store")) == freshCells,
      "a replayed retire id must be a ledgered no-op")
  }

  test("bloom-store retirement: rebuilt words bit-identical to a never-saw-the-slice stream") {
    import graft.streaming.StreamingPipeline
    // per-u unique tokens: each residue slice owns bits no other slice
    // sets, so the retirement visibly sheds state (a small shared space
    // would make all three slices' bit sets identical)
    val items = (1L to 500L).map(u => (u, s"tok$u")).toDF("u", "item")
    def grow(store: String, slices: Seq[Int]): Unit = slices.foreach(i =>
      StreamingPipeline.bloomMergeBatch(store, "item", k = 4, m = 1 << 16)(
        items.filter(col("u") % 3 === i), i.toLong))
    val p = root(families.last, "bloomret"); val fresh = root(families.last, "bloomretw")
    Seq(p, fresh).foreach(rm)
    grow(s"$p/bloom", Seq(0, 1, 2))
    val full = rows(spark.read.parquet(s"$p/bloom"))
    StreamingPipeline.retireBloomBatches(spark, s"$p/bloom", Seq(1L))
    grow(s"$fresh/bloom", Seq(0, 2))
    val want = rows(spark.read.parquet(s"$fresh/bloom"))
    assert(want != full, "precondition: the retired slice must own some bits")
    assert(rows(spark.read.parquet(s"$p/bloom")) == want,
      "retired filter must be bit-identical to a stream that never saw the slice")
    // the rebuilt filter still probes correctly: retired-slice-only tokens
    // may go bloom-negative, surviving tokens never do (no false negatives)
    val probe = graft.sketch.Sketches.bloomMightContain(
      items.select(col("u"), col("item")), spark.read.parquet(s"$p/bloom"),
      "item", k = 4, m = 1 << 16)
    assert(probe.filter(col("u") % 3 =!= 1 && !col("might_contain")).count() == 0,
      "a surviving slice's token must never probe negative")
  }

  test("sketch-slice epoch compaction: exact fold, granularity contract, torn-journal heal") {
    import graft.streaming.StreamingPipeline
    val items = (1L to 800L).map(u => (u, s"g${u % 4}", s"i${u * 53 % 131}"))
      .toDF("u", "g", "item")
    def grow(store: String, slices: Int): Unit = (0 until slices).foreach(i =>
      StreamingPipeline.hllMergeBatch(store, Seq("g"), "item", b = 8)(
        items.filter(col("u") % 4 === i), i.toLong))
    val p = root(families.last, "skep"); val twin = root(families.last, "skeptwin")
    Seq(p, twin).foreach(rm)
    grow(s"$p/hll", 4); grow(s"$twin/hll", 4)
    val fullRows = rows(spark.read.parquet(s"$p/hll"))
    // epoch-merge slices 0..2 into batch=2; the merged STORE is untouched
    assert(StreamingPipeline.compactHllSlices(spark, s"$p/hll", Seq("g"), upTo = 2L) == 3)
    assert(rows(spark.read.parquet(s"$p/hll")) == fullRows,
      "epoch compaction must not touch the merged store")
    assert(!fs.listFiles(hpath(s"$p/hll.slices/batch=0"), true).hasNext ||
      fs.listStatus(hpath(s"$p/hll.slices/batch=0"))
        .exists(_.getPath.getName.startsWith("_merged-into-")),
      "merged sources must carry the epoch marker")
    // a second call is a no-op (one data-bearing slice <= upTo)
    assert(StreamingPipeline.compactHllSlices(spark, s"$p/hll", Seq("g"), upTo = 2L) == 0)
    // an at-least-once REPLAY of an epoch-merged batch id must be a
    // ledgered no-op — re-writing the slice would clobber the marker and
    // resurrect data already folded into the epoch
    StreamingPipeline.hllMergeBatch(s"$p/hll", Seq("g"), "item", b = 8)(
      items.filter(col("u") % 4 === 0), 0L)
    assert(fs.listStatus(hpath(s"$p/hll.slices/batch=0"))
      .exists(_.getPath.getName.startsWith("_merged-into-")),
      "a ledgered replay must not clobber the epoch marker")
    assert(rows(spark.read.parquet(s"$p/hll")) == fullRows,
      "a ledgered replay must not change the merged store")
    // retiring INSIDE the epoch is refused with the remedy
    val e = intercept[IllegalArgumentException] {
      StreamingPipeline.retireHllBatches(spark, s"$p/hll", Seq("g"), Seq(1L))
    }
    assert(e.getMessage.contains("epoch"))
    // retiring a post-epoch slice still works and equals the never-compacted twin
    StreamingPipeline.retireHllBatches(spark, s"$p/hll", Seq("g"), Seq(3L))
    StreamingPipeline.retireHllBatches(spark, s"$twin/hll", Seq("g"), Seq(3L))
    assert(rows(spark.read.parquet(s"$p/hll")) ==
      rows(spark.read.parquet(s"$twin/hll")),
      "epoch-compacted slice record must rebuild identically to the uncompacted one")
    // retiring the EPOCH id retires the whole epoch — equals a fresh
    // stream that only ever saw the post-epoch slices (here: none left
    // after 3 retired... re-grow a tail slice first)
    StreamingPipeline.hllMergeBatch(s"$p/hll", Seq("g"), "item", b = 8)(
      items.filter(col("u") % 4 === 3), 9L)
    StreamingPipeline.retireHllBatches(spark, s"$p/hll", Seq("g"), Seq(2L))
    val fresh = root(families.last, "skepfresh"); rm(fresh)
    StreamingPipeline.hllMergeBatch(s"$fresh/hll", Seq("g"), "item", b = 8)(
      items.filter(col("u") % 4 === 3), 9L)
    assert(rows(spark.read.parquet(s"$p/hll")) ==
      rows(spark.read.parquet(s"$fresh/hll")),
      "retiring the epoch id must drop the whole epoch's contributions")
    // TORN JOURNAL: stage an epoch + journal by hand, crash before apply —
    // the next retirement heals (rolls forward) and converges
    val q = root(families.last, "skeptorn"); rm(q)
    grow(s"$q/hll", 4)
    val sl = s"$q/hll.slices"
    val epoch = spark.read.parquet(s"$sl/batch=0")
      .unionByName(spark.read.parquet(s"$sl/batch=1"))
      .groupBy(col("g"), col("reg")).agg(max(col("rank")).as("rank"))
    epoch.write.mode("overwrite").parquet(s"$sl/.epoch-staged")
    val out = fs.create(hpath(s"$sl/_epoch-pending"), true)
    out.write("1,0".getBytes("UTF-8")); out.close()
    // heal happens inside the next maintenance entry; retirement of the
    // healed epoch id must then equal the never-torn path
    StreamingPipeline.retireHllBatches(spark, s"$q/hll", Seq("g"), Seq(1L))
    val wantTorn = root(families.last, "skeptornwant"); rm(wantTorn)
    (2 to 3).foreach(i => StreamingPipeline.hllMergeBatch(
      s"$wantTorn/hll", Seq("g"), "item", b = 8)(
      items.filter(col("u") % 4 === i), i.toLong))
    assert(rows(spark.read.parquet(s"$q/hll")) ==
      rows(spark.read.parquet(s"$wantTorn/hll")),
      "torn epoch journal must roll forward and the epoch retire cleanly")
    assert(!fs.exists(hpath(s"$sl/_epoch-pending")), "journal must clear")

    // TORN TARGET SWAP: crash between swapDir's two renames leaves the
    // target dir MISSING with its old slice at batch=<t>.prev — the heal
    // must restore it (swapDir requires the target to exist) and clear
    // the .prev leftover (a batch=N.prev dir would crash the listing's
    // id parse on every later compaction)
    val r2 = root(families.last, "skeptorn2"); rm(r2)
    grow(s"$r2/hll", 4)
    val sl2 = s"$r2/hll.slices"
    val epoch2 = spark.read.parquet(s"$sl2/batch=0")
      .unionByName(spark.read.parquet(s"$sl2/batch=1"))
      .groupBy(col("g"), col("reg")).agg(max(col("rank")).as("rank"))
    epoch2.write.mode("overwrite").parquet(s"$sl2/.epoch-staged")
    val out2 = fs.create(hpath(s"$sl2/_epoch-pending"), true)
    out2.write("1,0".getBytes("UTF-8")); out2.close()
    // simulate the mid-swap crash state: sources blanked, target moved
    // aside, staging not yet landed
    fs.delete(hpath(s"$sl2/batch=0"), true); fs.mkdirs(hpath(s"$sl2/batch=0"))
    assert(fs.rename(hpath(s"$sl2/batch=1"), hpath(s"$sl2/batch=1.prev")))
    // the next maintenance entry heals (roll-forward), then retires the
    // healed epoch — equal to the never-torn path
    StreamingPipeline.retireHllBatches(spark, s"$r2/hll", Seq("g"), Seq(1L))
    assert(!fs.exists(hpath(s"$sl2/batch=1.prev")),
      "the heal must clear the .prev leftover")
    assert(!fs.exists(hpath(s"$sl2/_epoch-pending")))
    assert(rows(spark.read.parquet(s"$r2/hll")) ==
      rows(spark.read.parquet(s"$wantTorn/hll")),
      "mid-swap crash must heal to the never-torn state")
  }

  test("decontam rotation: a store without the complete-set format stamp is refused") {
    import graft.dedup.Dedup
    val p = root(families.last, "fmt")
    rm(p)
    Dedup.buildDecontamStore(docsA, p, n = 3, k = 4, m = 1 << 16)
    assert(Dedup.appendDecontamBench(docsB, p, appendId = 1))
    // simulate a store persisted under the old delta-append format (no
    // stamp — batches are not complete per-suite sets, so batch-level
    // retirement would silently drop shingles shared with live suites)
    fs.delete(hpath(s"$p/_format-complete-sets"), false)
    val e = intercept[IllegalArgumentException] {
      Dedup.retireDecontamBench(spark, p, Seq(1L), retireId = 2)
    }
    assert(e.getMessage.contains("rebuild"),
      "the refusal must name the remedy")
    // probes and appends still work on a legacy store — only retirement
    // needs per-batch completeness
    assert(Dedup.liveDecontamShingles(spark, p).count() > 0)
    assert(Dedup.appendDecontamBench(docsAll, p, appendId = 3))
    // the documented remedy: a rebuild stamps the store and retirement works
    Dedup.buildDecontamStore(docsA, p, n = 3, k = 4, m = 1 << 16)
    assert(Dedup.appendDecontamBench(docsB, p, appendId = 1))
    assert(Dedup.retireDecontamBench(spark, p, Seq(1L), retireId = 2))
    Dedup.compactDecontamStore(spark, p)
  }

  // ---- SCD2 entity retirement (GDPR hard delete) ---------------------------

  /** Deterministic multi-version change log: each user gets 1 + u%4
    * versions with a tier that changes every step (no no-op collapse), at
    * strictly increasing per-user timestamps.
    */
  private lazy val scdLog: DataFrame =
    (1L to 300L).flatMap { u =>
      (0 until (1 + (u % 4)).toInt).map(v =>
        (u, 1000L * (v + 1) + u % 7, ((u + v) % 3).toInt))
    }.toDF("user_id", "ts_us", "plan_tier")

  private def scdDimOf(changes: DataFrame): Seq[String] =
    rows(graft.operators.Scd.type2(changes, Seq("user_id"), "ts_us",
      Seq("plan_tier")))

  test("scd2 retirement: immediate hide, physical erasure at compaction, replay no-op, re-onboard, second cycle") {
    import graft.streaming.StreamingPipeline
    val p = sys.props("java.io.tmpdir") + "/graft_fault_scdret_p" +
      ProcessHandle.current().pid()
    rm(p)
    val up = StreamingPipeline.scdUpsertBatch(
      p, Seq("user_id"), "ts_us", Seq("plan_tier")) _
    up(scdLog.filter(col("ts_us") % 2 === 0), 0L)
    up(scdLog.filter(col("ts_us") % 2 === 1), 1L)
    val survivors = scdLog.filter(col("user_id") % 5 =!= 2)
    val retired = scdLog.filter(col("user_id") % 5 === 2).select("user_id")
    // retire: the dim hides the entities IMMEDIATELY (pre-compaction)
    assert(StreamingPipeline.retireScdEntities(spark, p, retired, 2L,
      Seq("user_id"), "ts_us", Seq("plan_tier")))
    assert(rows(StreamingPipeline.readScdDim(spark, p)) == scdDimOf(survivors),
      "served dim right after retire must equal the build over survivors")
    // replayed retire id: ledgered no-op (returns false, dim untouched)
    assert(!StreamingPipeline.retireScdEntities(spark, p, retired, 2L,
      Seq("user_id"), "ts_us", Seq("plan_tier")))
    assert(rows(StreamingPipeline.readScdDim(spark, p)) == scdDimOf(survivors))
    // compaction = the physical erasure point: no retired key in any
    // changes parquet row, ledger blanked to a tombstone
    StreamingPipeline.compactScdChanges(spark, p, Seq("user_id"))
    assert(spark.read.parquet(s"$p/changes")
      .filter(col("user_id") % 5 === 2).count() == 0,
      "compaction must physically drop every erased row from the log")
    assert(fs.exists(hpath(s"$p/retired/batch=2")), "tombstone dir survives")
    assert(!fs.listFiles(hpath(s"$p/retired/batch=2"), true).hasNext,
      "ledger rows are blanked after the rewrite")
    // re-onboarding ABOVE the retirement id: only the new history serves
    val back = (2L to 300L by 5).map(u => (u, 9000L, (u % 3).toInt))
      .toDF("user_id", "ts_us", "plan_tier")
    up(back, 3L)
    assert(rows(StreamingPipeline.readScdDim(spark, p)) ==
      scdDimOf(survivors.unionByName(back)),
      "re-onboarded keys must serve exactly their post-retirement history")
    // a SECOND retirement cycle kills the re-onboarded rows too (4 > 3)
    assert(StreamingPipeline.retireScdEntities(spark, p, retired, 4L,
      Seq("user_id"), "ts_us", Seq("plan_tier")))
    assert(rows(StreamingPipeline.readScdDim(spark, p)) == scdDimOf(survivors),
      "second cycle must erase the re-onboarded history")
  }

  test("scd2 retirement: erasure survives a crash-window replay of a pre-retirement batch") {
    import graft.streaming.StreamingPipeline
    val p = sys.props("java.io.tmpdir") + "/graft_fault_scdreplay_p" +
      ProcessHandle.current().pid()
    rm(p)
    val up = StreamingPipeline.scdUpsertBatch(
      p, Seq("user_id"), "ts_us", Seq("plan_tier")) _
    up(scdLog.filter(col("ts_us") % 2 === 0), 0L)
    up(scdLog.filter(col("ts_us") % 2 === 1), 1L)
    // the W1 crash: batch 1's dim writes landed but the ledger rename was
    // eaten — marker back in place, ledger dir gone (streaming will replay)
    rm(s"$p/changes/batch=1")
    val touched1 = scdLog.filter(col("ts_us") % 2 === 1)
      .select(pmod(hash(col("user_id")), lit(32)).as("b")).distinct()
      .collect().map(_.getInt(0)).sorted
    val out = fs.create(hpath(s"$p/dim/_pending-1"), true)
    try out.write((touched1.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // the erasure request arrives BEFORE the replay (retireId 2 > the
    // replayed batch's id 1, so the replayed rows are dead on arrival)
    val retired = scdLog.filter(col("user_id") % 5 === 2).select("user_id")
    assert(StreamingPipeline.retireScdEntities(spark, p, retired, 2L,
      Seq("user_id"), "ts_us", Seq("plan_tier")))
    // streaming replay re-delivers batch 1 under its original id: the rows
    // re-ledger (replays stay refused afterwards) but must NOT resurrect
    // the erased entities into the served dimension
    up(scdLog.filter(col("ts_us") % 2 === 1), 1L)
    assert(rows(StreamingPipeline.readScdDim(spark, p)) ==
      scdDimOf(scdLog.filter(col("user_id") % 5 =!= 2)),
      "a replayed pre-retirement batch must serve survivors only")
    // and compaction erases the dead replayed rows physically too
    StreamingPipeline.compactScdChanges(spark, p, Seq("user_id"))
    assert(spark.read.parquet(s"$p/changes")
      .filter(col("user_id") % 5 === 2).count() == 0)
  }

  test("scd2 retirement: torn windows heal — marker alone, marker+ledger, bucket left empty") {
    import graft.streaming.StreamingPipeline
    val p = sys.props("java.io.tmpdir") + "/graft_fault_scdtorn_p" +
      ProcessHandle.current().pid()
    rm(p)
    // tiny store at 4 buckets so a retirement can empty whole buckets
    val mini = scdLog.filter(col("user_id") <= 8)
    val up = StreamingPipeline.scdUpsertBatch(
      p, Seq("user_id"), "ts_us", Seq("plan_tier"), buckets = 4) _
    up(mini, 0L)
    val full = rows(StreamingPipeline.readScdDim(spark, p))
    def bucketsOf(keys: DataFrame): Seq[Int] = keys
      .select(pmod(hash(col("user_id")), lit(4)).as("b")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    def marker(id: String, bs: Seq[Int]): Unit = {
      val out = fs.create(hpath(s"$p/dim/_pending-retire-$id"), true)
      try out.write((bs.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    // window A: marker landed, crash BEFORE the ledger rename — the heal
    // (any maintenance entry) recomputes as an identity rewrite
    marker("1", bucketsOf(mini.select("user_id")))
    up(mini.limit(0), 5L) // a no-op batch whose entry runs the heals
    assert(!fs.exists(hpath(s"$p/dim/_pending-retire-1")), "marker dropped")
    assert(rows(StreamingPipeline.readScdDim(spark, p)) == full,
      "marker-without-ledger heals to the unchanged dim")
    // window B: marker + ledger landed, crash BEFORE the bucket recompute —
    // the heal must finish the erasure, emptying buckets with no survivors
    val retired = mini.filter(col("user_id") =!= 1).select("user_id").distinct()
    marker("6", bucketsOf(retired))
    val staging = s"$p/retired/.staging-6"
    retired.write.mode("overwrite").parquet(staging)
    require(fs.rename(hpath(staging), hpath(s"$p/retired/batch=6")))
    up(mini.limit(0), 7L) // heal runs first
    assert(!fs.exists(hpath(s"$p/dim/_pending-retire-6")), "marker dropped")
    assert(rows(StreamingPipeline.readScdDim(spark, p)) ==
      scdDimOf(mini.filter(col("user_id") === 1)),
      "healed dim = survivors only; buckets whose keys all retired vanish")
  }

  test("scd2 vacuum: heal marker over a vacuumed changes batch drops; replays stay refused") {
    import graft.streaming.StreamingPipeline
    import graft.store.Ledger
    val p = sys.props("java.io.tmpdir") + "/graft_fault_scdvac_p" +
      ProcessHandle.current().pid()
    rm(p)
    val up = StreamingPipeline.scdUpsertBatch(
      p, Seq("user_id"), "ts_us", Seq("plan_tier")) _
    up(scdLog.filter(col("ts_us") % 2 === 0), 0L)
    up(scdLog.filter(col("ts_us") % 2 === 1), 1L)
    val full = rows(StreamingPipeline.readScdDim(spark, p))
    // compaction folds the change log (rows preserved) and SELF-VACUUMS
    // the ledger (r17) — batch 1 is now landed BY RULE, its dir gone
    StreamingPipeline.compactScdChanges(spark, p)
    assert(Ledger.watermark(fs, s"$p/changes") == 2L,
      "compactScdChanges must stamp max-merged-id+1")
    assert(!fs.exists(hpath(s"$p/changes/batch=1")))
    // the crash leftover: an append marker for the vacuumed batch (the
    // window between the ledger rename and the marker delete). The heal
    // must read the batch as LANDED through the watermark rule and drop
    // the marker — a bare fs.exists would misread it as not-landed and
    // re-run the un-ledgered-data recompute (r16 verdict finding 3)
    val touched1 = scdLog.filter(col("ts_us") % 2 === 1)
      .select(pmod(hash(col("user_id")), lit(32)).as("b")).distinct()
      .collect().map(_.getInt(0)).sorted
    val out = fs.create(hpath(s"$p/dim/_pending-1"), true)
    try out.write((touched1.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    up(scdLog.limit(0), 2L) // maintenance entry runs the heal
    assert(!fs.exists(hpath(s"$p/dim/_pending-1")),
      "heal must drop a marker whose batch the vacuum landed by rule")
    assert(rows(StreamingPipeline.readScdDim(spark, p)) == full,
      "served dim is invariant under the vacuumed-marker heal")
    // a streaming replay of the vacuumed batch is a no-op by rule too
    up(scdLog.filter(col("ts_us") % 2 === 1), 1L)
    assert(rows(StreamingPipeline.readScdDim(spark, p)) == full,
      "a vacuumed changes batch must stay a ledgered no-op")
  }

  test("incremental export: torn between reuse and rewrite — manifest catches it, re-run converges") {
    // the q217 path made physical (the r14 verdict's item 6): cycle A's
    // export is on disk as one file-set per shard; the incremental job
    // reuses unchanged shards in place and rewrites the changed/added set
    // from B. The drill kills the job BETWEEN the halves (some rewrite
    // shards still carry A's bytes) and also leaves one rewritten shard
    // TORN (a row short). The manifest check — recompute from the files,
    // diff against B's expected manifest — must flag exactly the stale +
    // torn shards, and completing the rewrite for the flagged set must
    // converge to a full export of B.
    import graft.operators.Shards
    val n = 8
    val a = (1L to 200L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    val b = a.filter(col("doc_id") % 13 =!= 3L)
      .withColumn("text", when(col("doc_id") % 31 === 5L,
        concat(col("text"), lit(" rev"))).otherwise(col("text")))
      .unionByName(Seq((501L, "fresh doc"), (502L, "another fresh"))
        .toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_export").toString
    def routed(df: DataFrame) = df.withColumn("shard",
      pmod(graft.dedup.Dedup.hex60(col("doc_id").cast("string")), lit(n.toLong)))
    routed(a).write.partitionBy("shard").mode("overwrite").parquet(dir)
    val mB = Shards.manifest(b, n).localCheckpoint(true)
    val rewriteShards = Shards.manifestDelta(Shards.manifest(a, n), mB)
      .filter(col("status").isin("changed", "added"))
      .select("shard").as[Long].collect().sorted.toSeq
    assert(rewriteShards.size >= 3, s"fixture must move several shards: $rewriteShards")
    def writeShard(s0: Long, rows: DataFrame): Unit =
      rows.filter(col("shard") === s0).drop("shard")
        .write.mode("overwrite").parquet(s"$dir/shard=$s0")
    // the job dies mid-rewrite: first rewrite shard lands complete, the
    // second lands TORN (its max id lost), the rest never start
    writeShard(rewriteShards.head, routed(b))
    val torn = rewriteShards(1)
    val tornRows = routed(b).filter(col("shard") === torn).localCheckpoint(true)
    val lostId = tornRows.agg(max("doc_id")).head().getLong(0)
    tornRows.filter(col("doc_id") =!= lostId).drop("shard")
      .write.mode("overwrite").parquet(s"$dir/shard=$torn")
    // verification = the manifest check over the files
    def readBack() = spark.read.parquet(dir).select("doc_id", "text")
    def badShards() = Shards.manifestDelta(mB, Shards.manifest(readBack(), n))
      .filter(col("status") =!= "unchanged").select("shard").as[Long]
      .collect().sorted.toSeq
    assert(badShards() == (rewriteShards.drop(1)).sorted,
      "the check must flag exactly the torn shard and the never-started ones")
    // re-run: rewrite every still-flagged shard from B; the check goes
    // quiet and the assembly IS a full export of B
    badShards().foreach(writeShard(_, routed(b)))
    assert(badShards().isEmpty, "second pass converges")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(readBack()) == rows(b))
  }
  test("packed-export store: tails-missing crash heals, replay no-op, out-of-order refused") {
    import graft.streaming.StreamingPipeline
    val p = java.nio.file.Files.createTempDirectory("graft_packst_drill").toString
    def tranche(ids: Range) = ids.map(i => (i.toLong, s"some words for doc $i body"))
      .toDF("doc_id", "text")
    def append(df: DataFrame, id: Long): Unit =
      StreamingPipeline.packedExportAppendBatch(p, budget = 50, nShards = 2)(df, id)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    append(tranche(1 to 30), 1L)
    append(tranche(31 to 60), 2L)
    // CRASH WINDOW: batch 2's pack rows landed, its tails snapshot did not
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    require(fs.delete(new org.apache.hadoop.fs.Path(s"$p/tails/batch=2"), true))
    // next maintenance entry heals first (re-derives tails 2 from the
    // landed pack rows), then lands batch 3 seeded correctly
    append(tranche(61 to 90), 3L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/tails/batch=2")),
      "the heal must re-derive the missing tails snapshot")
    // the served ledger equals the monolithic chain over everything
    def monolithic(df: DataFrame) = graft.operators.Shards.packedLedger(
      graft.text.TextOps.packSequences(
        graft.text.TextOps.chunkDocs(df, size = 64, stride = 48)
          .select((col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
            col("n_tok").as("n_tokens")),
        budget = 50, shards = 2, tokenCount = Some(col("n_tokens"))))
    val served = rows(StreamingPipeline.packedExportLedger(spark, p))
    assert(served == rows(monolithic(tranche(1 to 90))))
    // foreachBatch replay of a landed batch: ledgered no-op
    append(tranche(31 to 60), 2L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) == served)
    // the monotone-ingest contract: a batch reaching behind a stored tail
    // would corrupt every later bin of its shard — refused loudly
    val ex = intercept[IllegalArgumentException](append(tranche(10 to 20), 9L))
    assert(ex.getMessage.contains("packed-export contract violated"))
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) == served,
      "a refused batch must leave the store untouched")
    // COMPACTION: the served ledger is invariant (bins never move), a
    // replayed pre-compaction batch stays a ledgered no-op (tombstones),
    // and the next append seeds from the collapsed tails correctly
    assert(StreamingPipeline.compactPackedExport(spark, p))
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) == served)
    append(tranche(31 to 60), 2L) // replay against a tombstone: no-op
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) == served)
    append(tranche(91 to 110), 4L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) ==
      rows(monolithic(tranche(1 to 110))),
      "post-compaction appends must seed from the collapsed tails")
    assert(!StreamingPipeline.compactPackedExport(spark, p) ||
      rows(StreamingPipeline.packedExportLedger(spark, p)) ==
        rows(monolithic(tranche(1 to 110))))
    // swap-window crash: pack half sits at .prev with no main — the next
    // maintenance entry recovers it and the store serves unchanged
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$p/pack"),
      new org.apache.hadoop.fs.Path(s"$p/pack.prev")))
    append(tranche(111 to 120), 5L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) ==
      rows(monolithic(tranche(1 to 120))),
      "recoverDir must heal the torn swap before the append lands")
  }

  test("packed-export store: compaction INSIDE the tails-missing window collapses exact state") {
    import graft.streaming.StreamingPipeline
    def tranche(ids: Range) = ids.map(i => (i.toLong, s"some words for doc $i body"))
      .toDF("doc_id", "text")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def monolithic(df: DataFrame) = graft.operators.Shards.packedLedger(
      graft.text.TextOps.packSequences(
        graft.text.TextOps.chunkDocs(df, size = 64, stride = 48)
          .select((col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
            col("n_tok").as("n_tokens")),
        budget = 50, shards = 2, tokenCount = Some(col("n_tokens"))))

    // r15 ADVICE 1: the torn-append window (pack batch landed, tails
    // snapshot missing) followed by COMPACTION instead of an append. The
    // old compaction collapsed the LATEST TAILS SNAPSHOT — stale here, so
    // every later append seeded cum_excl from a too-small tok_total and
    // the served ledger silently diverged; post-compaction the heal could
    // never detect it (pack batch=0 pairs with tails batch=0). The fix
    // derives the collapsed tails from the merged pack rows themselves.
    val p = java.nio.file.Files.createTempDirectory("graft_packst_cmpwin").toString
    def append(df: DataFrame, id: Long): Unit =
      StreamingPipeline.packedExportAppendBatch(p, budget = 50, nShards = 2)(df, id)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    append(tranche(1 to 30), 1L)
    append(tranche(31 to 60), 2L)
    require(fs.delete(new org.apache.hadoop.fs.Path(s"$p/tails/batch=2"), true))
    assert(StreamingPipeline.compactPackedExport(spark, p))
    append(tranche(61 to 90), 3L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) ==
      rows(monolithic(tranche(1 to 90))),
      "compaction in the torn window must collapse the EXACT cumulative tails")

    // the degenerate half of the same finding: no tails snapshot exists at
    // all (both batches' tails lost) — the old live(tailsDir).max threw on
    // an empty sequence; the fix never reads the tails dir's content
    val p2 = java.nio.file.Files.createTempDirectory("graft_packst_notails").toString
    def append2(df: DataFrame, id: Long): Unit =
      StreamingPipeline.packedExportAppendBatch(p2, budget = 50, nShards = 2)(df, id)
    val fs2 = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p2),
      spark.sparkContext.hadoopConfiguration)
    append2(tranche(1 to 30), 1L)
    append2(tranche(31 to 60), 2L)
    require(fs2.delete(new org.apache.hadoop.fs.Path(s"$p2/tails"), true))
    assert(StreamingPipeline.compactPackedExport(spark, p2))
    append2(tranche(61 to 90), 3L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p2)) ==
      rows(monolithic(tranche(1 to 90))),
      "compaction with no tails ledger at all must rebuild it from the pack rows")
  }

  test("ledger vacuum: watermark replaces tombstones, replays stay no-ops, kill-anywhere converges") {
    import graft.operators.Drift
    import graft.store.Ledger
    import java.sql.Date
    def ev(rows: (String, String)*) =
      rows.map { case (d, m) => (Date.valueOf(d), m) }.toDF("day", "metric")
    val path = java.nio.file.Files.createTempDirectory("graft_vacuum_daily").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    Drift.buildDailyDriftStore(ev(
      "2026-05-01" -> "a", "2026-05-01" -> "b", "2026-05-02" -> "a",
      "2026-05-03" -> "a", "2026-05-03" -> "b", "2026-05-04" -> "b"),
      $"day", $"metric", path)
    def day(d: String) = java.time.LocalDate.parse(d).toEpochDay
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def batchDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/days"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq

    // retention truncates 05-01/05-02 to tombstones; the vacuum collapses
    // them into the watermark — ZERO dirs kept below the horizon
    val horizon = day("2026-05-03")
    assert(Drift.retireDailyDriftDays(spark, path, horizon) == 2)
    val servedPre = rows(Drift.dailyDriftFromStore(spark, path))
    assert(batchDirs().size == 4)
    assert(Ledger.vacuumStore(spark, path, horizon, Seq("days")) == 2)
    assert(batchDirs() == Seq(s"batch=${day("2026-05-03")}", s"batch=${day("2026-05-04")}"),
      "vacuum must delete exactly the tombstone dirs below the watermark")
    assert(Ledger.watermark(fs, s"$path/days") == horizon)
    // serving is invariant (vacuum touches metadata only)
    assert(rows(Drift.dailyDriftFromStore(spark, path)) == servedPre)
    // the replay-no-op contract now rests on the RULE, not the dir
    assert(!Drift.appendDailyDriftCounts(ev("2026-05-01" -> "a"), $"metric",
      path, day("2026-05-01")),
      "a vacuumed day must stay a ledgered no-op via the watermark rule")
    assert(rows(Drift.dailyDriftFromStore(spark, path)) == servedPre)
    // post-watermark appends are unaffected
    assert(Drift.appendDailyDriftCounts(ev("2026-05-05" -> "a"), $"metric",
      path, day("2026-05-05")))
    // idempotent + never lowers
    assert(Ledger.vacuumStore(spark, path, horizon - 1, Seq("days")) == 0)
    assert(Ledger.watermark(fs, s"$path/days") == horizon)

    // KILL DRILL mid-vacuum: the crash point is between the marker stamp
    // (step 1) and the tombstone deletion (step 3). Simulate it by
    // retiring 05-03 and stamping the marker by hand without deleting —
    // the replay must ALREADY be a no-op (rule + dir both say landed),
    // and re-running the vacuum converges to the clean state.
    val horizon2 = day("2026-05-04")
    assert(Drift.retireDailyDriftDays(spark, path, horizon2) == 1) // 05-03
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/days/_vacuumed_below=$horizon2"))
    assert(!Drift.appendDailyDriftCounts(ev("2026-05-03" -> "a"), $"metric",
      path, day("2026-05-03")),
      "mid-vacuum crash window: replay must stay a no-op")
    assert(Ledger.vacuumStore(spark, path, horizon2, Seq("days")) == 1,
      "re-running the vacuum must finish the interrupted deletion")
    assert(Ledger.watermark(fs, s"$path/days") == horizon2)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/days"))
      .map(_.getPath.getName).count(_.startsWith("_vacuumed_below=")) == 1,
      "re-vacuum must leave exactly one marker")
  }

  test("daily drift retire killed mid-children: the report never serves a partial day") {
    import graft.operators.Drift
    import java.sql.Date
    def ev(rows: (String, String)*) =
      rows.map { case (d, m) => (Date.valueOf(d), m) }.toDF("day", "metric")
    val all = Seq("2026-06-01" -> "a", "2026-06-01" -> "b", "2026-06-02" -> "a",
      "2026-06-02" -> "b", "2026-06-02" -> "b", "2026-06-03" -> "a",
      "2026-06-03" -> "b", "2026-06-04" -> "a")
    def day(d: String) = java.time.LocalDate.parse(d).toEpochDay
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_retiring_daily").toString
    Drift.buildDailyDriftStore(ev(all: _*), $"day", $"metric", path)
    // what the monitor must serve once 06-01 is out — a store that never
    // had the day (retire semantics: history restarts at the horizon)
    val refPath = java.nio.file.Files.createTempDirectory("graft_retiring_ref").toString
    Drift.buildDailyDriftStore(ev(all.filterNot(_._1 == "2026-06-01"): _*),
      $"day", $"metric", refPath)
    val expected = rows(Drift.dailyDriftFromStore(spark, refPath))

    // the crash: retire(horizon=06-02) committed to 06-01 (marker
    // landed), deleted SOME children, died. Simulate by stamping the
    // marker and deleting one file of the day dir — the day now holds
    // PARTIAL counts.
    val d1 = day("2026-06-01")
    fs.mkdirs(hpath(s"$path/days/_retiring=$d1"))
    val children = fs.listStatus(hpath(s"$path/days/batch=$d1"))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(children.nonEmpty)
    fs.delete(children.head.getPath, false)
    // serving EXCLUDES the marked day — the old behavior summed the
    // surviving files into a silently wrong PSI pair (r16 finding 2)
    assert(rows(Drift.dailyDriftFromStore(spark, path)) == expected,
      "a mid-retire day must be invisible to the report")
    // the next maintenance entry heals: children done, marker dropped,
    // tombstone refuses the day's replay
    assert(!Drift.appendDailyDriftCounts(ev("2026-06-01" -> "a"), $"metric",
      path, d1), "healed day is a ledgered no-op")
    assert(!fs.exists(hpath(s"$path/days/_retiring=$d1")), "marker healed away")
    assert(!fs.listFiles(hpath(s"$path/days/batch=$d1"), true).hasNext,
      "healed day is a clean tombstone")
    assert(rows(Drift.dailyDriftFromStore(spark, path)) == expected)
    // and the retire re-run converges: the healed day is not recounted
    assert(Drift.retireDailyDriftDays(spark, path, d1 + 1) == 0)
    assert(rows(Drift.dailyDriftFromStore(spark, path)) == expected)
  }

  test("fresh-ledger landed: negative ids are not rule-landed; watermark memoized per lock body") {
    import graft.operators.Drift
    import graft.store.{Ledger, MaintenanceLock}
    import java.sql.Date
    val path = java.nio.file.Files.createTempDirectory("graft_ledger_fresh").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val days = s"$path/days"
    fs.mkdirs(new org.apache.hadoop.fs.Path(days))
    // r16 ADVICE: on a never-vacuumed ledger NO id is landed by rule —
    // a 0-default watermark made every negative id (epoch days before
    // 1970-01-01) silently refuse on a fresh store
    assert(!Ledger.landed(fs, days, -5L))
    assert(Ledger.watermarkOpt(fs, days).isEmpty)
    val preEpoch = java.time.LocalDate.parse("1969-12-25").toEpochDay // < 0
    assert(Drift.appendDailyDriftCounts(
      Seq((Date.valueOf("1969-12-25"), "a")).toDF("day", "metric"),
      $"metric", path, preEpoch),
      "a pre-1970 day must land on a fresh daily drift store")
    assert(!Drift.appendDailyDriftCounts(
      Seq((Date.valueOf("1969-12-25"), "a")).toDF("day", "metric"),
      $"metric", path, preEpoch), "replay stays a no-op via the dir")
    // but once a vacuum stamps a watermark, ids below it ARE rule-landed
    assert(Ledger.vacuumStore(spark, path, 10L, Seq("days")) >= 0)
    assert(Ledger.landed(fs, days, -5L) && Ledger.landed(fs, days, 9L))
    assert(!Ledger.landed(fs, days, 10L))
    // the memo: inside one lock body the first read is authoritative for
    // the duration (the lock is what makes that sound — r16 verdict
    // finding 1's O(#dirs) listStatus per landed() check)
    MaintenanceLock.withLock(fs, path, "memo-drill") {
      assert(Ledger.watermark(fs, days) == 10L)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$days/_vacuumed_below=20"))
      assert(Ledger.watermark(fs, days) == 10L, "memo hit expected under the lock")
      // a vacuum run inside the body updates the memo in place
      Ledger.vacuum(fs, days, 30L)
      assert(Ledger.watermark(fs, days) == 30L)
    }
    assert(Ledger.watermark(fs, days) == 30L, "outside the lock reads disk")
  }

  test("watermark memo propagates into Par.sections workers (r17 verdict, What's-wrong 2)") {
    import graft.store.{Ledger, MaintenanceLock}
    val path = java.nio.file.Files.createTempDirectory("graft_ledger_par").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val days = s"$path/days"
    val marker = new org.apache.hadoop.fs.Path(s"$days/_vacuumed_below=10")
    fs.mkdirs(marker)
    MaintenanceLock.withLock(fs, path, "memo-par-drill") {
      assert(Ledger.watermark(fs, days) == 10L) // memoized on the lock thread
      // delete the marker behind the memo's back: a section worker that
      // fell back to a fresh listStatus (the pre-r18 leak — Par pool
      // threads had no memo scope) would now read 0; a worker SHARING the
      // caller's scope keeps the lock body's authoritative first read
      fs.delete(marker, true)
      graft.core.Par.sections(
        () => assert(Ledger.watermark(fs, days) == 10L,
          "worker 1 lost the caller's memo scope"),
        () => assert(Ledger.landed(fs, days, 5L),
          "worker 2's landed() probe re-listed the FS instead of the memo"))
    }
    // outside the lock there is no scope: disk truth again (marker gone)
    assert(Ledger.watermark(fs, days) == 0L)
  }

  test("packed-export vacuum: compaction tombstones collapse; replay, append, and serving hold") {
    import graft.streaming.StreamingPipeline
    import graft.store.Ledger
    def tranche(ids: Range) = ids.map(i => (i.toLong, s"some words for doc $i body"))
      .toDF("doc_id", "text")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def monolithic(df: DataFrame) = graft.operators.Shards.packedLedger(
      graft.text.TextOps.packSequences(
        graft.text.TextOps.chunkDocs(df, size = 64, stride = 48)
          .select((col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
            col("n_tok").as("n_tokens")),
        budget = 50, shards = 2, tokenCount = Some(col("n_tokens"))))
    val p = java.nio.file.Files.createTempDirectory("graft_vacuum_pack").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    def append(df: DataFrame, id: Long): Unit =
      StreamingPipeline.packedExportAppendBatch(p, budget = 50, nShards = 2)(df, id)
    append(tranche(1 to 30), 1L)
    append(tranche(31 to 60), 2L)
    append(tranche(61 to 90), 3L)
    assert(StreamingPipeline.compactPackedExport(spark, p))
    val served = rows(StreamingPipeline.packedExportLedger(spark, p))
    // since r17 the compaction SELF-VACUUMS: batch=0 live + ONE watermark
    // marker per half, zero tombstone dirs — the metadata-growth reset
    // without any explicit vacuum call
    def dirs(half: String) = fs.listStatus(new org.apache.hadoop.fs.Path(s"$p/$half"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirs("pack") == Seq("batch=0") && dirs("tails") == Seq("batch=0"),
      "compaction must leave only the merged base — tombstones collapse into the marker")
    assert(Ledger.watermark(fs, s"$p/pack") == 4L &&
      Ledger.watermark(fs, s"$p/tails") == 4L,
      "compaction must stamp max-merged-id+1 on both halves")
    assert(Ledger.vacuumStore(spark, p, 4L, Seq("pack", "tails")) == 0,
      "nothing left for an explicit vacuum")
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) == served)
    // a replayed pre-watermark batch is a no-op BY RULE (dir long gone)
    append(tranche(31 to 60), 2L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) == served)
    // the next real append both lands and seeds correctly
    append(tranche(91 to 110), 4L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) ==
      rows(monolithic(tranche(1 to 110))))
    // a SECOND compaction must carry the watermark through its swap and
    // advance it past the newly merged id 4 (the self-running vacuum) —
    // were the old watermark dropped, the vacuumed replays would resurrect
    assert(StreamingPipeline.compactPackedExport(spark, p))
    assert(Ledger.watermark(fs, s"$p/pack") == 5L)
    append(tranche(31 to 60), 2L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) ==
      rows(monolithic(tranche(1 to 110))),
      "watermark lost in compaction swap: vacuumed batch resurrected")
  }

  test("packed-export repack: a corpus delta repairs the stream-grown store in place") {
    import graft.streaming.StreamingPipeline
    import graft.store.Ledger
    def tranche(ids: Range) = ids.map(i => (i.toLong, s"some words for doc $i body"))
      .toDF("doc_id", "text")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def units(df: DataFrame) = graft.text.TextOps.chunkDocs(df, size = 64, stride = 48)
      .select((col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
        col("n_tok").as("n_tokens"))
    def monolithic(df: DataFrame) = graft.operators.Shards.packedLedger(
      graft.text.TextOps.packSequences(units(df),
        budget = 50, shards = 2, tokenCount = Some(col("n_tokens"))))
    val p = java.nio.file.Files.createTempDirectory("graft_repack").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    def append(df: DataFrame, id: Long): Unit =
      StreamingPipeline.packedExportAppendBatch(p, budget = 50, nShards = 2)(df, id)
    // the stored stream: two tranches
    val t1 = tranche(1 to 60)
    append(tranche(1 to 30), 1L)
    append(tranche(31 to 60), 2L)
    // the re-crawl: revise doc_id % 7 == 2, remove doc_id % 13 == 3
    val b1 = t1.filter(col("doc_id") % 13 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    val affected = units(t1.filter(col("doc_id") % 13 === 3 || col("doc_id") % 7 === 2))
      .unionByName(units(b1.filter(col("doc_id") % 7 === 2)))
      .select("doc_id")
    StreamingPipeline.repackPackedExport(spark, p, budget = 50, nShards = 2,
      newDocs = b1, affectedUnitIds = affected)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) ==
      rows(monolithic(b1)),
      "repacked store must serve the from-scratch export of the new snapshot")
    // the repack vacuumed the ledger: one live batch=0 per half, watermark
    // covers the pre-repack ids, replays stay no-ops
    def dirs(half: String) = fs.listStatus(new org.apache.hadoop.fs.Path(s"$p/$half"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirs("pack") == Seq("batch=0") && dirs("tails") == Seq("batch=0"))
    assert(Ledger.watermark(fs, s"$p/pack") == 3L)
    append(tranche(31 to 60), 2L) // pre-repack replay: by-rule no-op
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) == rows(monolithic(b1)))
    // the next tranche streams onto the REPAIRED tails (manual append with
    // the continuing id, exactly what the shared checkpoint would deliver)
    append(tranche(61 to 90), 3L)
    assert(rows(StreamingPipeline.packedExportLedger(spark, p)) ==
      rows(monolithic(b1.unionByName(tranche(61 to 90)))),
      "post-repack appends must seed from the repaired tails")
  }
}
