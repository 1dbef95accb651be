package graft.dedup

import graft.store.{BatchStore, StoreFamily}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora — the training-data
  * extensions beyond the reference's own surface (driver contract §extensions;
  * the reference's only dedup is the keyed first-write-wins insert,
  * `backend/app/services/ingestion.py:214-227`, covered by
  * [[graft.operators.Relational.firstWriteWins]]).
  *
  * Scale design: every operator here is blocking-based — candidate pairs come
  * from an inverted index (shared shingle / LSH band / bit band), never from
  * an n² cross join. At 100 TB the band join shuffles only (key, docId)
  * pairs, and hot keys are bounded by the document-frequency filter.
  */
object Dedup {

  /** Deterministic 60-bit hash from md5 (portable across engines: DuckDB
    * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)` gives the same value).
    * Evaluated by the native codegen'd [[graft.expressions.Hex60]] — one
    * digest call, no hex-string round trip.
    */
  def hex60(c: Column): Column = graft.expressions.Hex60(c)

  /** Exact dedup via content hash: groups identical (normalized) texts,
    * keeps the smallest id as canonical. One shuffle on the hash.
    */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(lower(col(textCol))).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Word n-grams per document (the shingle multiset for Jaccard). Rows may
    * repeat — every consumer is set-semantics-safe (`collect_set` in the
    * pair miners, duplicate-insensitive `min` in minhash), so the engine
    * skips the explicit distinct's extra shuffle; partial `collect_set`
    * aggregation dedups map-side anyway. Output: (doc_id, shingle).
    */
  def wordShingles(docs: DataFrame, n: Int, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    // guard: sequence(0, negative) would DESCEND in Spark, so short docs get
    // an explicit empty shingle set
    val grams = when(size(col("__w")) >= n,
      expr(s"transform(sequence(0, size(__w) - $n), i -> concat_ws(' ', slice(__w, i + 1, $n)))"))
      .otherwise(array().cast("array<string>"))
    // Eval.materialized: __w feeds a transform lambda (slice per element).
    // The direct-explode shape below is measured-safe today (CollapseProject
    // declines multi-reference non-cheap inlining, and the generator input
    // is a non-Attribute so InferFiltersFromGenerate skips it), but the
    // barrier makes once-per-row evaluation structural, not an optimizer
    // coincidence — see graft.core.Eval.
    docs.select(col(idCol).as("doc_id"), graft.core.Eval.materialized(words).as("__w"))
      .select(col("doc_id"), explode(grams).as("shingle"))
  }

  /** Candidate pairs that co-occur under a blocking key with bounded
    * frequency: one aggregation builds the per-key doc list (so the
    * document-frequency filter is just a size check on the list), and the
    * a<b pairs explode from the sorted list — no self-join, no df-join.
    * Per-key fan-out is capped at C(maxDf, 2) pairs, so hot keys can never
    * blow up the shuffle at scale. Output: distinct (doc_a, doc_b).
    */
  // lambda-recompute audit (see graft.core.Eval): safe — the nested pair
  // transforms index `__ds`, which is a collect_set AGGREGATION output
  // attribute; an Aggregate is itself an evaluation barrier (nothing to
  // inline), so each __ds[i] is an O(1) index into the materialized array,
  // and total work is the C(|__ds|, 2) pair emission bounded by maxDf.
  private def blockedPairs(keyed: DataFrame, keyCol: String, maxDf: Int): DataFrame =
    keyed.groupBy(col(keyCol))
      .agg(array_sort(collect_set(col("doc_id"))).as("__ds"))
      .filter(size(col("__ds")).between(2, maxDf))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(__ds) - 2), i ->
          |  transform(sequence(i + 1, size(__ds) - 1), j ->
          |    struct(__ds[i] AS doc_a, __ds[j] AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()

  /** Per-doc distinct shingle arrays: the one heavy aggregation every
    * Jaccard-verified dedup path shares. Downstream consumers (candidate
    * mining, minhash, intersection joins) all derive from this subtree, so
    * the raw shingle generation (regex split + per-position slice over every
    * document) feeds ONE reusable exchange instead of re-running per
    * consumer.
    */
  // NOTE: the sets feed 2-3 plan branches and Spark recomputes them per
  // branch (collect_set is flagged nondeterministic and the lambda-bearing
  // shingle generation defeats canonicalization, so exchange reuse never
  // unifies the branches). Both fixes were measured and REJECTED at sf0.1:
  // persist(MEMORY_AND_DISK) made the first dedup query ~60% slower (cache
  // materialization costs more than two recomputes of a codegen'd explode),
  // and a pre-aggregation repartition doesn't canonicalize equal either.
  // Recompute-per-branch is the fastest observed shape at bench scale; at
  // real corpus scale, materialize the sets once in the on-disk store
  // (store.Store) and share them across all dedup passes instead.
  // Sets hold hex60 HASHES of the shingles, not the strings: the blocking
  // groupBy keys on 8 bytes instead of ~25-byte strings, and the per-pair
  // Jaccard intersects long arrays. hex60 is the same portable digest the
  // oracles compute, so set sizes/intersections are identical modulo a
  // ~2^-60 collision (which the cross-engine gate would surface).
  private def shingleSets(shingles: DataFrame): DataFrame =
    shingles.groupBy(col("doc_id"))
      .agg(collect_set(hex60(col("shingle"))).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** Jaccard over full shingle sets for an already-mined candidate pair
    * list: the intersection is a codegen'd `array_intersect` per pair — no
    * (pair x shingle) row explosion, no extra shuffle for the counts. The
    * set side arrives partitioned on doc_id from its aggregation, so the
    * pair joins reuse that distribution.
    */
  private def jaccardForPairs(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"), col("n_sh").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb"), col("n_sh").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** N-gram Jaccard near-dup pairs. Candidates share at least one
    * "rare" shingle (document frequency <= maxDf — the standard blocking
    * trick that bounds the per-key join fan-out at scale); Jaccard is then
    * computed exactly over the full shingle sets.
    */
  def ngramJaccardPairs(shingles: DataFrame, threshold: Double, maxDf: Int = 50): DataFrame = {
    val sets = shingleSets(shingles)
    val distinctSh = sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
    jaccardForPairs(blockedPairs(distinctSh, "shingle", maxDf), sets, threshold)
  }

  /** MinHash prime modulus (2^31 - 1) and affine-permutation coefficients:
    * h_i(s) = (a_i * base(s) + b_i) mod P over one md5-derived base hash.
    * One md5 per shingle instead of one per (shingle, perm) — measured ~5x
    * cheaper at sf0.1 — and the affine family is the textbook minhash
    * construction. a_i is forced odd (nonzero mod P); all arithmetic stays
    * within int64 (a_i, base < 2^31).
    */
  val MinhashP: Long = 2147483647L
  def minhashA(i: Column): Column = (lit(1103515245L) * (i + 1) + 12345L) % MinhashP * 2 + 1
  def minhashB(i: Column): Column = (i + 1) * lit(2654435761L) % MinhashP

  /** MinHash signatures: signature value i = min over the document's
    * shingles of h_i(shingle). Output: (doc_id, i, minh).
    *
    * All numPerms minima are computed in ONE hash aggregation over the
    * shingle rows (wide agg + stack), instead of exploding rows x numPerms
    * and shuffling 16x the data — the map-side partial agg shrinks the
    * shuffle to one row per (doc, perm) regardless of shingle count.
    */
  def minhashSignatures(shingles: DataFrame, numPerms: Int): DataFrame =
    minhashFromBase(shingles.withColumn("__base", hex60(col("shingle")) % MinhashP), numPerms)

  /** Same wide-agg minhash over rows that already carry the hex60-derived
    * base hash (so set-reuse paths skip re-digesting the shingle string).
    */
  private def minhashFromBase(based: DataFrame, numPerms: Int): DataFrame = {
    val aggs = (0 until numPerms).map { i =>
      val ii = lit(i.toLong)
      min((minhashA(ii) % MinhashP * col("__base") + minhashB(ii)) % MinhashP).as(s"__m$i")
    }
    val wide = based.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val stackExpr = (0 until numPerms).map(i => s"$i, __m$i").mkString(", ")
    wide.selectExpr("doc_id", s"stack($numPerms, $stackExpr) as (i, minh)")
  }

  /** LSH band keys from minhash signatures: `bands` bands of
    * numPerms/bands rows each; the band key hashes the ordered signature
    * slice. Output: (doc_id, band, band_key).
    */
  def lshBands(sigs: DataFrame, numPerms: Int, bands: Int): DataFrame = {
    val rowsPerBand = numPerms / bands
    sigs.withColumn("band", (col("i") / rowsPerBand).cast("int"))
      .groupBy(col("doc_id"), col("band"))
      .agg(array_join(transform(sort_array(collect_list(struct(col("i"), col("minh")))),
        s => s.getField("minh").cast("string")), ",").as("sig"))
      .withColumn("band_key", md5(concat(col("band").cast("string"), lit(":"), col("sig"))))
      .drop("sig")
  }

  /** Shingle sets keyed by a digest of the (sorted) set, plus the per-set
    * canonical representative (min doc_id) — the exact-dedup collapse that
    * guards the LSH stage against degenerate buckets. `collect_set` order is
    * nondeterministic, so the key hashes the sorted array.
    */
  private def keyedSets(sets: DataFrame): (DataFrame, DataFrame) = {
    val keyed = sets.withColumn("__set_key",
      md5(concat_ws(",", transform(array_sort(col("sh")), _.cast("string")))))
    val groups = keyed.groupBy(col("__set_key")).agg(min(col("doc_id")).as("rep_id"))
    // (rep_id, doc_id) for every member, including the rep itself
    val members = keyed.select(col("__set_key"), col("doc_id"))
      .join(groups, "__set_key").select(col("rep_id"), col("doc_id"))
    (groups, members)
  }

  /** MinHash+LSH near-dup pairs: candidates collide on at least one band,
    * then exact Jaccard over the shingle sets filters at `threshold`.
    * The band id is baked into `band_key` (it prefixes the hashed string),
    * so one bucket-list aggregation on band_key replaces the band self-join.
    *
    * Degenerate-bucket hardening (real crawl corpora have millions of
    * byte-identical boilerplate docs, which all land in ONE LSH bucket):
    * identical shingle sets collapse to a canonical representative BEFORE
    * banding, so the expensive stage — bucket collect + C(n,2) pair explode +
    * per-pair set joins + `array_intersect` — only ever sees one doc per
    * distinct content. All member pairs are still emitted (the n-dup-bucket
    * contract): cross-set rep pairs fan back out to members through two thin
    * codegen joins that carry no shingle arrays, and within-set pairs are
    * emitted directly with their known jaccard of exactly 1.0.
    *
    * `maxBucket` caps post-collapse bucket size: a bucket of more than
    * `maxBucket` DISTINCT shingle sets is dropped whole (recall contract —
    * such buckets are band-hash pathologies, not near-dup families; use
    * [[minhashLshOverflow]] to audit what a given cap drops).
    */
  def minhashLshPairs(shingles: DataFrame, numPerms: Int, bands: Int, threshold: Double,
                      maxBucket: Int = 1000): DataFrame = {
    // the set aggregation feeds FIVE branches here (set-key grouping, member
    // join, rep filter, both sides of the pair verification) — and a
    // localCheckpoint of it was STILL measured slower warm than five
    // recomputes (array-heavy rows serialize expensively; see the NOTE on
    // [[shingleSets]]), so recompute-per-branch stays
    val sets = shingleSets(shingles)
    val (groups, members) = keyedSets(sets)
    val repSets = sets.join(groups.select(col("rep_id").as("doc_id")), "doc_id")
    val based = repSets.select(col("doc_id"), explode(col("sh")).as("__h"))
      .withColumn("__base", col("__h") % MinhashP)
    val bandsDf = lshBands(minhashFromBase(based, numPerms), numPerms, bands)
    val repPairs = jaccardForPairs(blockedPairs(bandsDf, "band_key", maxBucket), repSets, threshold)
    val expanded = repPairs
      .join(members.select(col("rep_id").as("doc_a"), col("doc_id").as("__ma")), "doc_a")
      .join(members.select(col("rep_id").as("doc_b"), col("doc_id").as("__mb")), "doc_b")
      .select(least(col("__ma"), col("__mb")).as("doc_a"),
        greatest(col("__ma"), col("__mb")).as("doc_b"), col("jaccard"))
    val within = members.select(col("rep_id"), col("doc_id").as("__ma"))
      .join(members.select(col("rep_id"), col("doc_id").as("__mb")), "rep_id")
      .filter(col("__ma") < col("__mb"))
      .select(col("__ma").as("doc_a"), col("__mb").as("doc_b"), lit(1.0).as("jaccard"))
    expanded.unionByName(within)
  }

  /** Bounded-emission variant of [[minhashLshPairs]] — the 100 TB contract.
    * The full variant's pair output is inherently quadratic in duplicate
    * multiplicity (10k byte-identical docs ⇒ ~50M within-group pairs, even
    * though the mining itself is collapsed); this variant emits a
    * connectivity-equivalent LINEAR edge set instead:
    *
    *   - within each identical-content group: the FULL star of (rep,
    *     member) edges (jaccard exactly 1.0) — n-1 edges, so union-find
    *     over the stars yields the same clusters as the full C(n,2)
    *     emission at linear cost;
    *   - across groups: ONE (rep_a, rep_b) edge per verified near-dup rep
    *     pair, never fanned out to members.
    *
    * `maxPairsPerGroup` (default unbounded) is an OPT-IN hard cap on star
    * edges per group for callers that need bounded output rows; a capped
    * run drops membership for members past the cap — they appear in no pair
    * — so cluster-equivalence holds only for groups within the cap, and
    * [[minhashLshBoundedOmitted]] reports per group exactly what a given
    * cap leaves out of the full C(n,2) contract.
    */
  def minhashLshPairsBounded(shingles: DataFrame, numPerms: Int, bands: Int, threshold: Double,
                             maxBucket: Int = 1000,
                             maxPairsPerGroup: Int = Int.MaxValue): DataFrame = {
    require(maxPairsPerGroup >= 1, "maxPairsPerGroup must be >= 1")
    val sets = shingleSets(shingles)
    val (groups, members) = keyedSets(sets)
    val repSets = sets.join(groups.select(col("rep_id").as("doc_id")), "doc_id")
    val based = repSets.select(col("doc_id"), explode(col("sh")).as("__h"))
      .withColumn("__base", col("__h") % MinhashP)
    val bandsDf = lshBands(minhashFromBase(based, numPerms), numPerms, bands)
    val repPairs = jaccardForPairs(blockedPairs(bandsDf, "band_key", maxBucket), repSets, threshold)
    val cross = repPairs.select(least(col("doc_a"), col("doc_b")).as("doc_a"),
      greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
    val allStar = members.filter(col("doc_id") =!= col("rep_id"))
    // The FULL star is n-1 edges — already linear, which is the whole win
    // over C(n,2) — and is what keeps union-find cluster-equivalence. The
    // explicit cap is an opt-in hard output bound that LOSES membership for
    // members past the cap (they appear in no pair); callers that set it
    // must consult [[minhashLshBoundedOmitted]] for what was dropped. Only
    // the capped path pays the per-group ranking window (partitioned by
    // rep_id; a hot group sorts in one task — another reason the cap is
    // opt-in).
    val star =
      (if (maxPairsPerGroup == Int.MaxValue) allStar
       else {
         val w = Window.partitionBy(col("rep_id")).orderBy(col("doc_id"))
         allStar.withColumn("__rn", row_number().over(w))
           .filter(col("__rn") <= maxPairsPerGroup)
       })
        .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"), lit(1.0).as("jaccard"))
    cross.unionByName(star)
  }

  /** Remainder audit for [[minhashLshPairsBounded]]: per identical-content
    * group, how many of the full contract's C(n,2) pairs the star emission
    * left out at a given `maxPairsPerGroup`. Empty means the bounded mode
    * is lossless for this corpus. Output: (rep_id, n_members, full_pairs,
    * emitted_pairs, omitted_pairs).
    */
  def minhashLshBoundedOmitted(shingles: DataFrame, maxPairsPerGroup: Int): DataFrame = {
    val (_, members) = keyedSets(shingleSets(shingles))
    members.groupBy(col("rep_id")).agg(count(lit(1)).as("n_members"))
      // integer division: the double `/` loses exactness past 2^53 products
      .withColumn("full_pairs", expr("n_members * (n_members - 1) div 2"))
      .withColumn("emitted_pairs", least(col("n_members") - 1, lit(maxPairsPerGroup.toLong)))
      .withColumn("omitted_pairs", col("full_pairs") - col("emitted_pairs"))
      .filter(col("omitted_pairs") > 0)
  }

  /** Audit companion for [[minhashLshPairs]]: the post-collapse LSH buckets
    * a given `maxBucket` cap would drop, as (band_key, bucket_size). Empty
    * means the cap loses nothing at this corpus.
    */
  def minhashLshOverflow(shingles: DataFrame, numPerms: Int, bands: Int, maxBucket: Int): DataFrame = {
    val sets = shingleSets(shingles)
    val (groups, _) = keyedSets(sets)
    val repSets = sets.join(groups.select(col("rep_id").as("doc_id")), "doc_id")
    val based = repSets.select(col("doc_id"), explode(col("sh")).as("__h"))
      .withColumn("__base", col("__h") % MinhashP)
    lshBands(minhashFromBase(based, numPerms), numPerms, bands)
      .groupBy(col("band_key")).agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)
  }

  // ---- incremental MinHash maintenance (streaming dedup-store support) ----

  /** One batch's signature tables for the incremental MinHash dedup store
    * ([[graft.streaming.StreamingPipeline.minhashDedupBatch]]): the per-doc
    * distinct shingle-hash sets (doc_id, sh, n_sh) and the LSH band keys
    * (doc_id, band_key). Signatures and band keys are PER-DOCUMENT
    * functions — no other document influences them — which is exactly what
    * makes incremental maintenance equal batch recompute: a stored doc's
    * rows never have to change when new docs arrive.
    */
  def minhashState(docs: DataFrame, n: Int, numPerms: Int, bands: Int,
                   textCol: String = "text", idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val sets = shingleSets(wordShingles(docs, n, textCol, idCol))
    val based = sets.select(col("doc_id"), explode(col("sh")).as("__h"))
      .withColumn("__base", col("__h") % MinhashP)
    val bandKeys = lshBands(minhashFromBase(based, numPerms), numPerms, bands)
      .select(col("doc_id"), col("band_key"))
    (sets, bandKeys)
  }

  /** The near-dup pairs a batch of NEW documents contributes against the
    * unioned corpus: candidates are band-key collisions with at least one
    * new side (new x all — old x old pairs were emitted when the younger of
    * the two arrived), verified by exact Jaccard over the stored shingle
    * sets. Because signatures are per-document, the union of these
    * increments over any batch partitioning of a corpus equals the uncapped
    * [[minhashLshPairs]] over the whole corpus — the parity contract the
    * streaming maintainer's restart test asserts. Candidate volume per new
    * doc is its band buckets' sizes (the blocking bound); production caps
    * belong in the batch miners' maxBucket/audit surface, not here.
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    */
  def minhashIncrementPairs(newBands: DataFrame, allBands: DataFrame, allSets: DataFrame,
                            threshold: Double): DataFrame = {
    val cand = newBands.as("q").join(allBands.as("c"),
        col("q.band_key") === col("c.band_key") && col("q.doc_id") =!= col("c.doc_id"))
      .select(least(col("q.doc_id"), col("c.doc_id")).as("doc_a"),
        greatest(col("q.doc_id"), col("c.doc_id")).as("doc_b"))
      .distinct()
    jaccardForPairs(cand, allSets, threshold)
  }

  /** Benchmark-contamination audit: for each corpus document, the fraction
    * of its distinct shingles that appear anywhere in the benchmark shingle
    * set — the decontamination check an LLM training pipeline runs against
    * eval suites before training. One left join on the shingle key (the
    * benchmark side is distinct-reduced first, so hot boilerplate shingles
    * cost one probe row each) and one per-doc aggregation; no pair mining.
    * Output: (doc_id, n_shingles, n_overlap, overlap_frac).
    */
  def contamination(corpusShingles: DataFrame, benchShingles: DataFrame): DataFrame = {
    val bench = benchShingles.select(col("shingle")).distinct().withColumn("__hit", lit(1L))
    corpusShingles.select(col("doc_id"), col("shingle")).distinct()
      .join(bench, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .withColumn("overlap_frac", round(col("n_overlap") / col("n_shingles"), 6))
  }

  /** Bloom-prefiltered contamination: the same audit as [[contamination]],
    * restructured for the 100 TB asymmetry where the corpus side is
    * enormous and the benchmark side is small-but-not-broadcastable as raw
    * strings. The benchmark shingle set becomes an `m`-bit Bloom filter
    * ([[graft.sketch.Sketches.bloomWords]] — `m/32` packed words, 256 KB at
    * m=2^21 vs the strings' raw bytes), every corpus shingle probes it
    * map-side, and only the bloom-POSITIVE survivors (true overlaps plus
    * the ~(1-e^(-kn/m))^k false-positive sliver) enter the exact
    * shingle-keyed join. No false negatives are possible by construction,
    * so `n_present` is EXACT — the filter moves cost, never answers. The
    * probed subtree feeds both the per-doc totals and the survivor join
    * (the registry's documented materialize-at-scale caveat: persist it
    * when running this standalone on a real corpus).
    * Output: (doc_id, n_shingles, n_bloom_pos, n_present, contaminated).
    */
  def bloomContamination(corpusShingles: DataFrame, benchShingles: DataFrame,
                         k: Int = 4, m: Int = 1 << 21): DataFrame = {
    val bench = benchShingles.select(col("shingle")).distinct()
    bloomContaminationAgainst(corpusShingles, bench,
      graft.sketch.Sketches.bloomWords(bench, "shingle", k, m), k, m)
  }

  /** [[bloomContamination]] against a PREBUILT filter + benchmark shingle
    * table (e.g. the streaming-maintained stores) — the probe-side shape:
    * the benchmark side costs nothing per call, only the incoming docs'
    * shingles are hashed.
    */
  def bloomContaminationAgainst(corpusShingles: DataFrame, bench: DataFrame,
                                words: DataFrame, k: Int, m: Int): DataFrame = {
    val probed = graft.sketch.Sketches.bloomMightContain(
      corpusShingles.select(col("doc_id"), col("shingle")).distinct(),
      words, "shingle", k, m)
    val present = probed.filter(col("might_contain"))
      .join(bench, Seq("shingle"), "leftsemi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_present"))
    probed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_bloom_pos"))
      .join(present, Seq("doc_id"), "left")
      .withColumn("n_present", coalesce(col("n_present"), lit(0L)))
      .withColumn("contaminated", col("n_present") > 0)
  }

  /** Build-once half of a persisted decontamination artifact (the
    * [[graft.similarity.Similarity.buildIvfIndex]] treatment for benchmark
    * suites, which are static files in practice): the benchmark's distinct
    * shingles, the packed Bloom words over them, and a 1-row config table
    * (n, k, m) so a probe cannot silently hash with a different geometry.
    * Consumers ([[graft.streaming.StreamingPipeline.decontamRouteBatch]],
    * or any batch [[bloomContaminationAgainst]] call) broadcast the words,
    * prefilter their corpus, and exact-join only the survivors against
    * `shingles/`.
    */
  def buildDecontamStore(benchDocs: DataFrame, path: String, n: Int = 3,
                         k: Int = 4, m: Int = 1 << 21,
                         textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val spark = benchDocs.sparkSession
    import spark.implicits._
    val fs = BatchStore.fs(spark, path)
    // build semantics: a rebuild replaces the whole store, appends and all
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    // as in an append: the words land from the staged shingles, before
    // the shingles publish (the commit marker)
    BatchStore.publish(fs, s"$path/shingles", 0L) { staging =>
      wordShingles(benchDocs, n, textCol, idCol).select(col("shingle")).distinct()
        .write.mode("overwrite").parquet(staging)
      BatchStore.replace(fs, s"$path/words", "build")(
        graft.sketch.Sketches.bloomWords(spark.read.parquet(staging), "shingle", k, m)
          .write.mode("overwrite").parquet(_))
    }
    Seq((n, k, m)).toDF("n", "k", "m")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/config")
    // format stamp — see [[decontamFormatMarker]]
    BatchStore.writeFile(fs, new org.apache.hadoop.fs.Path(path, decontamFormatMarker),
      "shingles=complete-sets\n")
  }

  /** Store-format stamp for the decontamination store. Appends originally
    * landed each batch as an ANTI-JOINED delta (new shingles only); the
    * format changed to per-batch COMPLETE shingle sets — the invariant
    * batch-level retirement depends on (a live suite's batch carries its
    * own copy of every shingle it claims, so rotating another batch out
    * can never lose a shared shingle). A store persisted under the delta
    * format carries no per-batch completeness, and retiring from it would
    * silently drop shared shingles (false negatives after compaction) —
    * so builds stamp the root with this marker and
    * [[retireDecontamBench]] refuses stores without it. Unmarked stores
    * (delta-era, or complete-set-era from before the stamp existed, which
    * cannot be told apart) have one remedy: rebuild.
    */
  private[graft] val decontamFormatMarker = "_format-complete-sets"

  /** The decontamination store: one `shingles` half, the ledger, plus the
    * Bloom `words` every append and rotation replaces whole. Its
    * retirement is batch-level ([[retireDecontamBench]]) and its
    * compaction rebuilds the words, so both are its own.
    */
  private[graft] val DecontamStore = StoreFamily("decontam",
    Seq(StoreFamily.Half("shingles")), swapped = Seq("words"))

  /** Incremental half of the decontamination store — benchmark suites GROW
    * (a new eval ships; its prompts must start blocking immediately,
    * without re-shingling every suite already stored), and Bloom bits make
    * the increment EXACT: the filter is a bitwise OR of per-item
    * contributions, so OR-merging each batch's bits over any disjoint
    * partitioning of the distinct shingles reproduces the monolithic
    * build's words table bit-for-bit (q127 hash-checks exactly this, down
    * to `n_bloom_pos`). Publish order is the no-false-negative invariant:
    * the merged words land FIRST (a superset bloom is safe — extra
    * positives just reach the exact join and fail it), the
    * `shingles/batch=<id>` commit marker lands last; a crash in between
    * leaves a superset filter over the old shingle store, and the replay
    * re-merges (OR is idempotent) and converges. Each batch stores its
    * suite's COMPLETE distinct shingle set — shingles shared with already
    * stored suites repeat across batches (readers dedup: the exact joins
    * are leftsemi/distinct, and OR-ing a repeated shingle's bits is
    * idempotent, so verdicts and the filter are bit-identical to a
    * monolithic build). Per-batch completeness is what makes BATCH-level
    * retirement exact ([[retireDecontamBench]]): rotating one suite out
    * never loses a shingle a live suite also claims, because the live
    * suite's batch carries its own copy. Exactly-once via the marker;
    * geometry is pinned by the stored config — an append can never hash
    * with different (k, m) than the build.
    */
  def appendDecontamBench(benchDocs: DataFrame, path: String, appendId: Long,
                          textCol: String = "text", idCol: String = "doc_id"): Boolean = {
    require(appendId != 0L, "appendId 0 is reserved for the initial build")
    val spark = benchDocs.sparkSession
    BatchStore.land(DecontamStore, spark, path, appendId, "append") { fs =>
      require(!readDecontamRetirements(spark, fs, path).contains(appendId),
        s"append id $appendId is named by a pending retirement — compact first")
      val cfg = spark.read.parquet(s"$path/config").head()
      val (n, k, m) = (cfg.getAs[Int]("n"), cfg.getAs[Int]("k"), cfg.getAs[Int]("m"))
      // stage the delta once, then derive its bloom bits from the staged
      // parquet (one computation, durable across the two publishes); the
      // words swap lands before the shingles publish (the commit marker)
      BatchStore.publish(fs, s"$path/shingles", appendId) { staging =>
        wordShingles(benchDocs, n, textCol, idCol).select(col("shingle")).distinct()
          .write.mode("overwrite").parquet(staging)
        val mergedWords = graft.sketch.Sketches.bloomMergeWords(
          spark.read.parquet(s"$path/words"),
          graft.sketch.Sketches.bloomWords(spark.read.parquet(staging), "shingle", k, m))
        BatchStore.replace(fs, s"$path/words", "append")(
          mergedWords.write.mode("overwrite").parquet(_))
      }
    }
  }

  /** Benchmark ROTATION — the un-learn path for the decontamination store
    * (the last store family without one): eval suites rotate in practice,
    * and a deprecated benchmark's shingles must stop poisoning
    * contamination verdicts. The unit of retirement is the BATCH — each
    * `shingles/batch=<id>` is one suite's complete shingle set (see
    * [[appendDecontamBench]]), so rotating suite b out is exact even for
    * shingles a live suite shares (the live batch carries its own copy).
    * The ledger entry `retired/batch=<retireId>` holds the rotated batch
    * ids; [[liveDecontamShingles]] prunes those batch DIRS from every
    * read (partition-level — retired suites are never even scanned), and
    * [[compactDecontamStore]] applies the rotation physically. Between
    * retire and compact the Bloom words are a SUPERSET filter (bits
    * cannot subtract): verdicts (`n_present`/`contaminated`) are already
    * correct — the exact join runs against live shingles only — while
    * `n_bloom_pos` carries the retired suites' false-positive tax until
    * the compaction rebuild. Exactly-once via the ledger dir; replays of
    * rotated batch ids stay refused by their tombstones, so a suite
    * re-enters only under a fresh append id.
    */
  def retireDecontamBench(spark: org.apache.spark.sql.SparkSession, path: String,
                          benchBatches: Seq[Long], retireId: Long): Boolean = {
    require(benchBatches.nonEmpty, "nothing to retire")
    require(BatchStore.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path, decontamFormatMarker)),
      s"$path has no '$decontamFormatMarker' stamp: it was written under the " +
      "delta-append format (or predates the stamp), so its batches are not " +
      "complete per-suite shingle sets and batch-level retirement would " +
      "silently drop shingles shared with live suites — rebuild the store first")
    BatchStore.land(DecontamStore, spark, path, retireId, "retire", "retired") { fs =>
      // landed-by-rule counts as published: a compaction-vacuumed
      // suite id has no dir but its shingles live on in the base
      benchBatches.foreach(b => require(
        graft.store.Ledger.landed(fs, s"$path/shingles", b),
        s"cannot retire unpublished bench batch $b"))
      import spark.implicits._
      BatchStore.publish(fs, s"$path/retired", retireId)(
        benchBatches.toDF("rbatch").coalesce(1).write.mode("overwrite").parquet(_))
    }
  }

  /** The pending rotation: every batch id named by a retirement ledger
    * entry (tiny — a handful of longs; ledger dirs blanked by compaction
    * read as empty).
    */
  private[graft] def readDecontamRetirements(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String): Set[Long] =
    BatchStore.readRetirements(spark, fs, path)
      .fold(Set.empty[Long])(_.select(col("rbatch")).collect().map(_.getLong(0)).toSet)

  /** The data-bearing `batch=` dirs of the live shingle half (tombstones,
    * marker-only dirs, and batches named by a pending retirement skipped).
    */
  private def liveDecontamBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
                                    dir: String, retired: Set[Long]): Seq[String] =
    BatchStore.dataIds(fs, dir).filterNot(retired).map(b => s"$dir/batch=$b")

  /** The LIVE shingle half: every published batch except those named by a
    * pending retirement ledger entry — pure partition pruning, the
    * rotated suites' dirs are never read. Reads around a compaction swap
    * window via the `.prev` fallback like every store probe. Listing
    * data-bearing dirs (never the half's root) keeps an all-rotated store
    * probeable: after every suite rotates out, the root holds only
    * tombstones and markers and a root read would fail schema inference.
    */
  def liveDecontamShingles(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame = {
    import spark.implicits._
    val fs = BatchStore.fs(spark, path)
    val dir = BatchStore.active(fs, s"$path/shingles")
    val retired = readDecontamRetirements(spark, fs, path)
    val live = liveDecontamBatchDirs(fs, dir, retired)
    if (live.isEmpty) Seq.empty[String].toDF("shingle")
    else spark.read.parquet(live: _*).select(col("shingle"))
  }

  /** Maintenance half: collapse the shingle store's accumulated `batch=`
    * dirs into one (rows preserved, ledger tombstoned — the
    * [[BatchStore.compact]] contract); the
    * words table is a fixed-size sketch rewritten whole on every append,
    * so only the shingle half accumulates files.
    *
    * With a rotation pending ([[retireDecontamBench]]) this is also the
    * APPLY step, in crash-ordered stages: (1) the rotated batch dirs
    * blank to file-less tombstones — the intended data loss, so a crash
    * here just re-runs; (2) the survivors merge, landing at the max LIVE
    * id (never a rotated id, so a stale not-yet-blanked ledger can kill
    * nothing — the relocated-base `_base` marker records it); (3) the
    * Bloom words REBUILD from the surviving shingles and swap — bits
    * cannot subtract, so rebuild-from-survivors is the only way the
    * filter sheds a rotated suite; benchmark sets are tiny relative to
    * the corpus, so the rebuild is cheap; (4) the ledger blanks. A crash
    * inside the words window (after 2, before 3 lands) leaves the old
    * SUPERSET filter over the compacted store: verdicts stay correct (no
    * false negatives are possible — the live shingle set only shrank),
    * n_bloom_pos keeps the rotated suites' tax, and the re-run converges
    * because the still-unblanked ledger forces the full sequence again.
    */
  def compactDecontamStore(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    BatchStore.maintain(DecontamStore, spark, path, "compact") { fs =>
      val retired = readDecontamRetirements(spark, fs, path)
      // (1) apply: blank each rotated batch dir to a tombstone. mkdirs
      // runs UNCONDITIONALLY — a crash between delete and mkdirs leaves
      // the dir missing, and BatchStore.compact only re-tombstones ids it
      // can see, so without the heal a rotated id would become reusable
      // after the ledger blanks
      retired.foreach { b =>
        val d = new org.apache.hadoop.fs.Path(s"$path/shingles/batch=$b")
        if (fs.exists(d)) fs.delete(d, true)
        fs.mkdirs(d)
      }
      // (2) merge survivors; with a rotation pending, force the rewrite
      // and land at the max live id (rotated ids are tombstones now, so
      // dataIds can't name one)
      val n = BatchStore.compact(spark, s"$path/shingles",
        retiring = retired.nonEmpty, vacuumLedger = true)
      if (retired.nonEmpty) {
        // (3) Bloom rebuild from survivors. Survivors = the DATA-BEARING
        // batch dirs only (step 1 already tombstoned the rotated ids): a
        // raw recursive has-any-file check is satisfied by underscore
        // markers alone — e.g. the `_base` marker a prior rotation's
        // relocated-base compaction left — so after every remaining suite
        // rotates out of such a store, reading the dir root would find no
        // data files, throw on schema inference, and (since the ledger
        // blanks only after the rebuild) wedge every re-run permanently.
        import spark.implicits._
        val cfg = spark.read.parquet(s"$path/config").head()
        val (k, m) = (cfg.getAs[Int]("k"), cfg.getAs[Int]("m"))
        val liveDirs = liveDecontamBatchDirs(fs, s"$path/shingles", Set.empty)
        val survivors =
          if (liveDirs.nonEmpty)
            spark.read.parquet(liveDirs: _*).select(col("shingle"))
          else Seq.empty[String].toDF("shingle") // every suite rotated out
        BatchStore.replace(fs, s"$path/words", "rebuild")(
          graft.sketch.Sketches.bloomWords(survivors, "shingle", k, m)
            .write.mode("overwrite").parquet(_))
        // (4) blank the applied ledger; a crash midway leaves ledger rows
        // naming already-blanked batches, which the next compaction re-blanks
        BatchStore.blankRetirements(fs, path)
      }
      n
    }

  /** 60-bit SimHash over word tokens (with multiplicity): bit b of the
    * fingerprint is 1 iff the sum of +-1 contributions (tokens whose hash has
    * bit b set contribute +1, else -1) is strictly positive.
    * Output: (doc_id, simhash).
    */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .withColumn("h", hex60(col("tok")))
    // one wide aggregation: 60 per-bit sign sums in a single pass over the
    // token rows (vs exploding tokens x 60 bits = 60x the shuffle)
    val bitAggs = (0 until 60).map { b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"__s$b")
    }
    val wide = toks.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val fingerprint = (0 until 60)
      .map(b => when(col(s"__s$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    wide.select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share one of four 15-bit bands
    * (guarantees recall for hamming distance <= 3 by pigeonhole), verified by
    * exact hamming distance <= maxHamming.
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int): DataFrame = {
    // single composite bucket key (band baked into the high bits), with the
    // fingerprint carried through the bucket aggregation — the whole pair
    // mine is one groupBy + pair explode, no self-join and no re-join of
    // the (expensive, 60-wide-agg) simhash input
    val banded = sims.select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("band"), col("simhash"))
      .withColumn("bkey", expr("((simhash >> (band * 15)) & 32767) + band * 32768"))
    // lambda-recompute audit (see graft.core.Eval): safe — same shape as
    // blockedPairs: __ds is an aggregation output, so the pair lambdas index
    // a materialized array
    banded.groupBy(col("bkey"))
      .agg(array_sort(collect_set(struct(col("doc_id"), col("simhash")))).as("__ds"))
      .filter(size(col("__ds")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(__ds) - 2), i ->
          |  transform(sequence(i + 1, size(__ds) - 1), j ->
          |    struct(__ds[i].doc_id AS doc_a, __ds[j].doc_id AS doc_b,
          |           __ds[i].simhash AS ha, __ds[j].simhash AS hb))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        bit_count(col("p.ha").bitwiseXOR(col("p.hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Corpus snapshot delta — the incremental-crawl primitive: classify
    * every document across two snapshots of the same corpus as `added`
    * (only in B), `removed` (only in A), `changed` (both, content hash
    * differs), or `unchanged`. The pipeline reruns downstream curation
    * only on added+changed and retires removed — at 100 TB re-curating a
    * whole crawl because 0.1% of it moved is the difference between an
    * hourly and a monthly refresh.
    *
    * Scale shape: hashes are computed map-side, so the one full-outer
    * sort-merge join shuffles (id, 32-byte hash) pairs only — never the
    * documents. md5 is the same digest both engines expose, so the
    * verdict is exactly replayable.
    */
  def corpusDelta(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val ha = a.select(col(idCol).as("id"), md5(col(textCol)).as("__ha"))
    val hb = b.select(col(idCol).as("id"), md5(col(textCol)).as("__hb"))
    ha.join(hb, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** [[corpusDelta]] generalized to a caller-chosen HASHED COLUMN SET —
    * the contract the text-only delta can't carry (r14 ADVICE): a
    * downstream maintainer may treat 'unchanged' as reuse ONLY for
    * features that are functions of the hashed columns. A drift store
    * bucketing on (lang, source, n_chars) must drive its cycle from a
    * delta that hashes those columns too, or a metadata-only edit is
    * classified 'unchanged' and the store silently skews from the
    * monolithic report.
    *
    * Hash = md5 over the CONCATENATED PER-COLUMN md5s, each null folded
    * to the single char `-` (r15 ADVICE: a separator/sentinel encoding
    * reserves bytes — a value that IS the sentinel, or that contains the
    * separator, would alias a different column split). Here every token
    * is either exactly 32 hex chars (a value's md5) or exactly `-` (not
    * a hex char), so the token sequence parses unambiguously left-to-
    * right: no value can impersonate null and no column boundary can
    * shift, for ANY input bytes. Same scale shape as [[corpusDelta]]:
    * hashes map-side, the full-outer join shuffles (id, 32-byte hash)
    * pairs only. DuckDB mirror:
    * `md5(concat(coalesce(md5(c::VARCHAR), '-'), ...))`.
    */
  def corpusDeltaOn(a: DataFrame, b: DataFrame, hashCols: Seq[String],
                    idCol: String = "doc_id"): DataFrame = {
    require(hashCols.nonEmpty, "corpusDeltaOn needs at least one hashed column")
    def h(df: DataFrame, out: String) = df.select(col(idCol).as("id"),
      md5(concat(
        hashCols.map(c => coalesce(md5(col(c).cast("string")), lit("-"))): _*)).as(out))
    h(a, "__ha").join(h(b, "__hb"), Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Near-dup cluster representative selection — the curation verdict the
    * cluster map exists FOR: keep exactly ONE document per near-dup
    * cluster, the highest-quality member (ties break to the smallest id);
    * a document in no cluster is its own singleton representative. This
    * upgrades the reference's keep-FIRST dedup convention
    * (`backend/app/services/ingestion.py:214-227`, first-write-wins) to
    * keep-BEST over a learned/heuristic quality column.
    *
    * `scored` carries (idCol, qCol) for every document; `clusters` is a
    * (idCol, cluster_id) map such as [[graft.queries.AnalyticsQueries]]'
    * connected components — it may cover only clustered docs. Output adds
    * `cluster_id`, `n_members`, `keep` (1 for the representative).
    *
    * Scale shape: one left join keyed on the id, then one window pass
    * keyed on cluster_id (count + row_number share the partitioning, so
    * it is a single shuffle); no driver state, no cross-cluster traffic —
    * corpus-sized cluster maps change nothing. Quality doubles compare
    * engine-identically when derived by identical IEEE ops (the q31
    * contract), so the argmax is exactly replayable.
    */
  def clusterRepresentatives(scored: DataFrame, clusters: DataFrame,
                             idCol: String = "doc_id", qCol: String = "q"): DataFrame = {
    val lab = scored.join(clusters, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val part = Window.partitionBy(col("cluster_id"))
    val order = part.orderBy(col(qCol).desc, col(idCol).asc)
    lab
      .withColumn("n_members", count(lit(1)).over(part))
      .withColumn("keep", (row_number().over(order) === 1).cast("long"))
  }
}
