package graft.queries

import graft.core.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators.{Drift, Shards}
import graft.similarity.Similarity
import graft.streaming.StreamingPipeline
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline queries: dedup, similarity search, text analysis,
  * multimodal plumbing — over the `documents` and `embeddings` tables.
  */
object DataQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  /** Writable per-scale-dir location for the q112 persisted IVF index (the
    * test fixtures are read-only, so index artifacts land under tmpdir).
    * Namespaced by PID: two concurrent runners over the same scale dir
    * (e.g. a bench and a test session) would otherwise race one artifact —
    * one's build delete/overwrite running under the other's probe read.
    * Each query builds before probing, so per-process isolation suffices.
    */
  private[queries] def ivfIndexPath(d: String): String =
    sys.props("java.io.tmpdir") + "/graft_ivf_index_p" +
      ProcessHandle.current().pid() + "_" + d.replaceAll("[^A-Za-z0-9]", "_")

  /** q155/q157 gate corpus: every embedding rendered as a 9x8 gray PNG,
    * plus planted near-dup twins of vec_id < 10 (id + 1,000,000; dimension
    * vec_id nudged by exactly 0.125). All pixel math is double and the
    * nudge is a power of two, so the DuckDB oracles replay the corpus
    * bit-for-bat from the embeddings table.
    */
  private def dhashCorpus(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    val base = emb(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // perturb FIRST, rename after: projecting `vec_id + 1000000 AS vec_id`
    // in the same select makes the lambda's vec_id reference resolve to the
    // SHIFTED alias (measured: the nudge then never fires — i is 0..63,
    // the alias is 1e6+), silently rendering unperturbed twins
    val planted = base.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("v"), (x, i) =>
          when(i.cast("long") === col("vec_id"), x + lit(0.125)).otherwise(x)).as("v"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("v"))
    Multimodal.renderGrayPngs(base.unionByName(planted), "vec_id", "v")
  }

  /** Shared recall@k machinery for the q106/q108 ANN quality gates: hit
    * counts of `ivf` (query_id, neighbor_id) against the q29 brute-force
    * truth on the deterministic vec_id < 100 sample, plus the corpus mean
    * recall from integer sums and ONE final division (no order-sensitive
    * double avg), carried onto every row via a 1-row broadcast. The `floor`
    * is ENFORCED via assert_true: a structural regression aborts the Spark
    * side loudly while the oracle still returns rows — a gate failure.
    */
  private def annRecallGate(e: DataFrame, ivf: DataFrame, k: Int,
                            floor: Double, label: String): DataFrame = {
    val brute = Similarity.cosineTopK(e, e.filter(col("vec_id") < 100), k)
      .select(col("query_id"), col("neighbor_id").as("true_id"))
    val hits = ivf.join(brute,
        ivf("query_id") === brute("query_id") &&
          ivf("neighbor_id") === brute("true_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val per = brute.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall", round(col("n_hits") / lit(k.toDouble), 6))
    val agg = per.agg(sum(col("n_hits")).as("sum_hits"), count(lit(1)).as("n_queries"))
    per.crossJoin(broadcast(agg))
      .withColumn("mean_recall",
        round(col("sum_hits") / (lit(k.toDouble) * col("n_queries")), 6))
      .filter(assert_true(col("mean_recall") >= floor, lit(label)).isNull)
      .select(col("query_id"), col("n_hits"), col("recall"), col("mean_recall"))
      .orderBy("query_id")
  }

  /** Feature frame shared by the ridge pair: q31's quality features as the
    * regressors, n_chars as the label.
    */
  private[queries] def ridgeFrame(s: SparkSession, d: String): DataFrame =
    graft.text.TextOps.qualityFeatures(docs(s, d))
      .select(col("doc_id"), col("n_words").cast("double").as("n_words"),
        col("avg_word_len"), col("stopword_ratio"))
      .join(docs(s, d).select(col("doc_id"), col("n_chars").cast("double").as("y")),
        "doc_id")

  private[queries] val ridgeFeatureCols = Seq("n_words", "avg_word_len", "stopword_ratio")

  /** Feature frame for the classifier trio: q31's quality features, with
    * the binary label "quality_score >= 0.3" — the threshold the q115/q160
    * pipelines gate on, so the classifier learns the pipeline's own
    * quality verdict from the raw features. The comparison runs on a score
    * both engines derive by identical IEEE ops (the q31 oracle's proof),
    * so the labels are engine-identical.
    */
  private[queries] def logitFrame(s: SparkSession, d: String): DataFrame =
    logitFeaturesOf(docs(s, d))

  /** The row-wise feature+label transform behind [[logitFrame]] — also the
    * `transform` the q171 streaming feature store applies per micro-batch
    * (deterministic per row, so the grown store equals the batch frame).
    */
  private[queries] def logitFeaturesOf(df: DataFrame): DataFrame =
    graft.text.TextOps.qualityFeatures(df)
      .select(col("doc_id"), col("n_words").cast("double").as("n_words"),
        col("avg_word_len"), col("stopword_ratio"),
        (col("quality_score") >= 0.3).cast("double").as("y"))

  val defs: Map[String, Q] = Map(
    "q24_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(docs(s, d)).orderBy("text_hash")),

    "q25_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Dedup.wordShingles(docs(s, d), 3), threshold = 0.6, maxDf = 5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")),

    // maxBucket is explicitly UNCAPPED here: the DuckDB oracle mines every
    // band bucket with no size cap, so a capped Spark side would silently
    // drop pairs the oracle keeps the moment some scale factor produces a
    // post-collapse bucket >1000 — a gate failure with nothing actually
    // wrong. The 1000-bucket production default stays opt-in at the library
    // call sites; correctness queries mirror their oracle exactly.
    "q26_dedup_minhash" -> ((s, d) =>
      Dedup.minhashLshPairs(Dedup.wordShingles(docs(s, d), 3), numPerms = 16, bands = 4,
          threshold = 0.8, maxBucket = Int.MaxValue)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")),

    "q27_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Dedup.simhash(docs(s, d)), maxHamming = 8)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")),

    "q28_dedup_embcos" -> ((s, d) =>
      Similarity.cosinePairs(emb(s, d), blockCol = "label", threshold = 0.4)
        .orderBy("id_a", "id_b")),

    "q29_ann_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.cosineTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank")
    }),

    "q30_ann_lsh" -> ((s, d) =>
      Similarity.signLshTopK(emb(s, d), k = 3, bits = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")),

    "q31_text_quality" -> ((s, d) =>
      TextOps.qualityFeatures(docs(s, d))
        .select(col("doc_id"), col("n_words"),
          round(col("avg_word_len"), 6).as("avg_word_len"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("digit_ratio"), 6).as("digit_ratio"),
          round(col("quality_score"), 6).as("quality_score"))
        .orderBy("doc_id")),

    "q32_text_langid" -> ((s, d) =>
      TextOps.languageId(docs(s, d)).orderBy("doc_id")),

    "q33_text_tokens" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          size(TextOps.words(col("text"))).as("n_ws_tokens"),
          TextOps.bpeIshCount(col("text")).as("n_bpe_tokens"),
          length(col("text")).as("n_chars_txt"))
        .orderBy("doc_id")),

    "q34_text_fingerprint" -> ((s, d) =>
      TextOps.fingerprints(docs(s, d), k = 8).orderBy("doc_id")),

    "q35_mm_meta" -> ((s, d) =>
      Multimodal.metaColumns(Multimodal.asMedia(docs(s, d))).orderBy("doc_id")),

    // Perceptual image hash over REAL image bytes: the corpus renders one
    // 9x8 gray PNG per embedding vector (deterministic pixels, see
    // Multimodal.renderGrayPngs) plus ten planted near-dup twins
    // (vec_id + 1e6, dimension vec_id nudged by exactly 0.125 — a power of
    // two, engine-exact in doubles). The Spark side goes bytes ->
    // ImageIO.read -> thumbnail -> adjacent-pixel comparisons; gray8 PNG is
    // lossless, so DuckDB replays the hash straight from the vectors — any
    // byte flipped in the encode/decode/thumbnail chain breaks the gate.
    "q155_image_dhash" -> ((s, d) => {
      Multimodal.imageDhash(dhashCorpus(s, d)).toDF()
        .select(col("doc_id").as("vec_id"), col("dhash"), col("decoded"))
        .orderBy("vec_id")
    }),

    // Image near-dup: banded Hamming over the dHash (simhashPairs' mine on
    // the 63-bit image hash). The planted twins surface as cross-1e6 pairs
    // at small Hamming; any organically similar embeddings pair up too —
    // both engines replay the identical banding, so the sets hash-match.
    // NOTE maxHamming = 8 > the 4-band exhaustive-recall bound of 3: the
    // result is banding CANDIDATES filtered to <= 8, not all pairs <= 8
    // (see dhashPairs' RECALL CONTRACT) — the oracle replays the same
    // banding, so the gate pins the operator's actual contract.
    "q157_image_neardup" -> ((s, d) => {
      Multimodal.dhashPairs(
          Multimodal.imageDhash(dhashCorpus(s, d)).toDF(), maxHamming = 8)
        .orderBy("doc_a", "doc_b")
    }),

    // Animated-GIF frame sampling through the REAL multi-frame reader: one
    // 4-frame GIF per embedding (frame f samples a 7f-rotated slice of the
    // vector; identity gray palette -> LZW round-trips indices exactly),
    // every 2nd frame decoded and dHashed. The oracle computes each
    // sampled frame's hash straight from the vector — so the gate covers
    // getNumImages, per-frame read(i), the indexed-palette fast path, and
    // the hash in one row set. This retires the repo's last stubbed
    // codec corner.
    "q161_frame_dhash" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      Multimodal.sampleFrameHashes(
          Multimodal.renderGrayGifs(base, frames = 4, idCol = "vec_id", vecCol = "v"),
          everyK = 2).toDF()
        .select(col("doc_id").as("vec_id"), col("frame_idx"), col("dhash"),
          col("decoded"))
        .orderBy("vec_id", "frame_idx")
    }),

    // Audio SAMPLE-DATA decode (the audio story past WavCodec's header
    // parse): 256 PCM16 samples per embedding, through the real
    // javax.sound.sampled WAV writer AND reader, aggregated per 64-sample
    // window into exact integer stats. PCM16 is lossless, so the oracle
    // derives every number straight from the vector — container parse,
    // frame extraction, endianness, and the windowing all sit under one
    // row-set hash.
    "q162_audio_windows" -> ((s, d) => {
      val base = emb(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      Multimodal.audioWindows(
          Multimodal.renderPcmWavs(base, samples = 256, idCol = "vec_id", vecCol = "v"),
          window = 64).toDF()
        .select(col("doc_id").as("vec_id"), col("win"), col("n_samples"),
          col("min_s"), col("max_s"), col("sum_s"), col("sum_sq"), col("decoded"))
        .orderBy("vec_id", "win")
    }),

    "q42_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d), numCentroids = 8, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")),

    "q52_ann_ivf_kmeans" -> ((s, d) =>
      Similarity.ivfKmeansTopK(emb(s, d), numCentroids = 8, iters = 3, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")),

    // Product-quantization ANN (the compression path q60's scalar int8
    // only hints at): 4 subspaces x 16 dims, 8 codewords each (two Lloyd
    // rounds per subspace), corpus reduced to 4 small ints per vector,
    // queries scored by ADC lookup-table sums against the reconstructed
    // codeword norms — never touching the original corpus vectors. The
    // oracle replays all four sub-k-means loops, the encoding argmax, the
    // integer-quantized LUT partials, and the ranking.
    "q131_ann_pq_adc" -> ((s, d) => {
      val e = emb(s, d)
      val cb = Similarity.pqCodebooks(e, m = 4, k = 8, iters = 2)
      Similarity.pqAdcTopK(Similarity.pqEncode(e, cb, m = 4), cb,
          e.filter(col("vec_id") < 10), k = 5, m = 4)
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ search — cell pruning x code compression composed, the
    // architecture a 100 TB ANN deployment actually runs: each query
    // scores ONLY its 2 probed cells' candidates, and scoring reads ONLY
    // the 4-int codes + a broadcast LUT. Oracle replays the q107 Lloyd
    // cells, the q131 codebooks, and the candidate-filtered ADC chain.
    "q133_ann_ivfpq" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10),
          numCentroids = 8, iters = 3, m = 4, codebookK = 8, pqIters = 2,
          k = 3, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // The PQ store LIFECYCLE gate (the q119/q122 treatment for the sixth
    // artifact family): build the index from the vec_id < 300 prefix
    // (codebooks FROZEN from that fit), append the remainder encoded
    // against those frozen codebooks, compact, probe. The probe must
    // hash-match the monolithic ADC ranking whose codebooks were fit on
    // the same prefix (fitWhere oracle) — a lost append, a replay, or a
    // compaction that drops/duplicates a code shifts some candidate's
    // reconstructed similarity and fails the hash.
    "q134_ann_pq_lifecycle" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_pqlc"
      val e = emb(s, d)
      Similarity.buildPqIndex(e.filter(col("vec_id") < 300), m = 4, k = 8,
        iters = 2, path)
      Similarity.pqAppendVectors(e.filter(col("vec_id") >= 300), path, appendId = 1)
      Similarity.compactPqIndex(s, path)
      Similarity.probePqIndex(e.filter(col("vec_id") < 10), path, k = 5)
        .orderBy("query_id", "rank")
    }),

    // PQ recall floor (q106's shape over the ADC searcher): 8 subspaces x
    // 16 codewords — 8 bytes per corpus vector. Measured recall@3 over the
    // 100-query set: ~0.16-0.17 at sf0.001/sf0.01; floor 0.10. Honest
    // framing: these synthetic embeddings are near-random (PQ's worst
    // case — no subspace correlation to exploit), so absolute recall is
    // low the same way q110's single-table LSH is (~0.03-0.05, also
    // gated); the gate pins determinism and the floor, and m/k is the
    // recall/compression knob a real corpus would tune.
    "q132_ann_recall_pq" -> ((s, d) => {
      val e = emb(s, d)
      val cb = Similarity.pqCodebooks(e, m = 8, k = 16, iters = 2)
      annRecallGate(e,
        Similarity.pqAdcTopK(Similarity.pqEncode(e, cb, m = 8), cb,
          e.filter(col("vec_id") < 100), k = 3, m = 8),
        k = 3, floor = 0.10, "q132: PQ-ADC recall fell below 0.10")
    }),

    // Distributed PCA fit: quantized per-dim means + centered Gram matrix
    // (ONE shuffle of 64x64 integer partials), then fixed-count power
    // iteration with deflation on the driver over the collected 4096-double
    // matrix — the linear-projection half of the embedding-compression
    // toolbox (PCA-then-quantize is the OPQ/IVF-PQ preprocessing step).
    // Oracle replays means, Gram, all 4x8 matvec/normalize rounds, the
    // Rayleigh eigenvalues, deflation, and the sign convention bit-for-bit.
    "q138_pca_components" -> ((s, d) => {
      graft.similarity.Pca.fitComponents(emb(s, d), p = 4, iters = 8)
        .orderBy("comp", "dim")
    }),

    // Map-only PCA projection: every vector through the broadcast 64x4
    // loading matrix via quantized per-(vector, component) partial sums —
    // 64 floats compressed to 4 doubles per vector.
    "q139_pca_project" -> ((s, d) => {
      graft.similarity.Pca.project(emb(s, d), dim = 64, p = 4, iters = 8)
        .orderBy("vec_id", "comp")
    }),

    // The persisted-basis twin of q139 (the q112/q113/q120 treatment for
    // the seventh trained structure): fit once, land means/ + components/
    // as the artifact, project every vector FROM THE STORE — must
    // hash-match q139's in-memory fit (oracle shared verbatim), so a lossy
    // round-trip of any loading weight or mean shifts a projection and
    // fails the hash.
    "q143_pca_store" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_pca"
      graft.similarity.Pca.savePca(emb(s, d), dim = 64, p = 4, iters = 8, path)
      graft.similarity.Pca.projectFromStore(emb(s, d), path)
        .orderBy("vec_id", "comp")
    }),

    // PCA compression quality gate: recall@3 of brute-force cosine in the
    // 16-dim projected space (4x compression) vs full-space truth. Same
    // honest framing as q132: these synthetic embeddings are near-isotropic
    // (PCA's worst case — the measured spectrum is ~flat at ~1/48 variance
    // per direction), so measured recall is 0.16 at sf0.01 / 0.07 at sf0.1,
    // right at the exact-eigendecomposition level for this p; the 0.04
    // floor pins determinism + the sanity bound, and p is the quality knob
    // a real (anisotropic) corpus would move much further.
    "q140_pca_ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      // materialized once: the projected corpus feeds both sides of the
      // brute-force cosine self-join
      val pvs = graft.similarity.Pca.projectedVectors(e, dim = 64, p = 16, iters = 6)
        .localCheckpoint(true)
      annRecallGate(e,
        Similarity.cosineTopK(pvs, pvs.filter(col("vec_id") < 100), k = 3, vecCol = "pv"),
        k = 3, floor = 0.04, "q140: PCA-projected recall fell below 0.04")
    }),

    // PCA x PQ composed (the OPQ-family preprocessing pipeline large-scale
    // ANN actually deploys): project 64 -> 16 dims against the PCA basis,
    // then fit PQ codebooks IN THE PROJECTED SPACE (4 subspaces x 8 codes
    // over 4-dim slices) and ADC-search the 4-int codes — 64 floats
    // compressed 64x end to end. The oracle replays the full two-model
    // chain: Gram + 16 power iterations + projection, then 4 sub-k-means
    // fits, encoding, LUT, ranking — hash-exact.
    "q146_ann_pca_pq" -> ((s, d) => {
      val e = emb(s, d)
      // materialized once: the PQ fit's per-iteration Lloyd collects (and
      // pqEncode + the ADC action) would otherwise re-run the whole
      // projection pipeline per consumer
      val pvs = graft.similarity.Pca.projectedVectors(e, dim = 64, p = 16, iters = 6)
        .localCheckpoint(true)
      val cb = Similarity.pqCodebooks(pvs, m = 4, k = 8, iters = 2, dim = 16,
        vecCol = "pv")
      Similarity.pqAdcTopK(
          Similarity.pqEncode(pvs, cb, m = 4, dim = 16, vecCol = "pv"), cb,
          pvs.filter(col("vec_id") < 10), k = 5, m = 4, dim = 16, vecCol = "pv")
        .orderBy("query_id", "rank")
    }),

    // Distributed ridge regression (the supervised fit-on-aggregates
    // member): q31's quality features regress n_chars. Three bounded
    // aggregation passes (quantized means/variances/standardized moments),
    // a fixed-30-round gradient loop on the driver over the 3x3 system —
    // and the oracle replays ALL of it, so the learned weights are
    // hash-exact, not approximately similar.
    "q147_ridge_fit" -> ((s, d) => {
      val fit = graft.operators.Ridge.fit(ridgeFrame(s, d), ridgeFeatureCols, "y")
      graft.operators.Ridge.weightsDf(s, fit).orderBy("i")
    }),

    // The model's predictions + its R^2 under an assert floor: map-only
    // scoring against the broadcast fit, residual sums quantized in
    // STANDARDIZED space (so the integer partials cannot overflow on large
    // labels). Measured R^2 ~ 0.9987 at sf0.01 and sf0.1 — n_chars is
    // nearly linear in n_words for this corpus, which is exactly what a
    // length/cost model exploits; floor 0.9.
    "q148_ridge_predict" -> ((s, d) => {
      val f = ridgeFrame(s, d)
      val fit = graft.operators.Ridge.fit(f, ridgeFeatureCols, "y")
      val pred = graft.operators.Ridge.predict(f, fit, "doc_id")
        .join(f.select(col("doc_id"), col("y")), "doc_id")
      def sq(c: org.apache.spark.sql.Column) = c * c
      // residual partials accumulate DECIMAL(38,0) (the q168 envelope rule:
      // a LONG sum of 1e8-quantized z^2 wraps at ~9e10 docs)
      val stats = pred.agg(
        sum(floor(sq((col("y") - col("yhat")) / fit.ySd) * 1e8).cast("decimal(38,0)"))
          .cast("double").as("sseq"),
        sum(floor(sq((col("y") - fit.yMu) / fit.ySd) * 1e8).cast("decimal(38,0)"))
          .cast("double").as("sstq"))
      pred.crossJoin(broadcast(stats))
        .withColumn("r2", round(lit(1.0) - col("sseq") / col("sstq"), 6))
        .filter(assert_true(col("r2") >= 0.9, lit("q148: ridge R^2 fell below 0.9")).isNull)
        .select(col("doc_id"), col("y"), col("yhat"), col("r2"))
        .orderBy("doc_id")
    }),

    // The persisted-model twin of q148 (the q143 treatment): fit once,
    // land the weights table, score FROM THE STORE — predictions and R^2
    // must hash-match q148's oracle verbatim, so any lossy round-trip of a
    // weight, mean, or scale fails the gate.
    "q150_ridge_store" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_ridge"
      val f = ridgeFrame(s, d)
      val fit = graft.operators.Ridge.fit(f, ridgeFeatureCols, "y")
      graft.operators.Ridge.saveModel(s, fit, path)
      val pred = graft.operators.Ridge.predictFromStore(f, path, "doc_id")
        .join(f.select(col("doc_id"), col("y")), "doc_id")
      def sq(c: org.apache.spark.sql.Column) = c * c
      // DECIMAL(38,0) residual partials — q148's envelope treatment
      val stats = pred.agg(
        sum(floor(sq((col("y") - col("yhat")) / fit.ySd) * 1e8).cast("decimal(38,0)"))
          .cast("double").as("sseq"),
        sum(floor(sq((col("y") - fit.yMu) / fit.ySd) * 1e8).cast("decimal(38,0)"))
          .cast("double").as("sstq"))
      pred.crossJoin(broadcast(stats))
        .withColumn("r2", round(lit(1.0) - col("sseq") / col("sstq"), 6))
        .select(col("doc_id"), col("y"), col("yhat"), col("r2"))
        .orderBy("doc_id")
    }),

    // Distributed binary classifier fit (the quality-FILTER member of the
    // fit-on-aggregates family; Ridge is the regressor): q31's quality
    // features classify the pipeline's own "quality_score >= 0.3" gate.
    // Two moment passes + 30 gradient DATA passes (unlike ridge the
    // logistic-form loss is not moment-reducible), each a bounded
    // aggregation over a materialized (z, y) frame; the link is the
    // ALGEBRAIC sigmoid 0.5 + 0.5*t/(1+|t|) — no libm, so the oracle
    // replays every round bit-for-bit and the learned weights + bias are
    // hash-exact.
    "q164_logit_fit" -> ((s, d) => {
      val fit = graft.operators.Logit.fit(logitFrame(s, d), ridgeFeatureCols, "y")
      graft.operators.Logit.weightsDf(s, fit).orderBy("i")
    }),

    // The classifier's per-doc scores and verdicts + its training accuracy
    // under an assert floor: map-only scoring against the broadcast fit,
    // p quantized to 6 decimals BEFORE the 0.5 threshold so the verdict
    // cannot differ between engines at a sub-quantum boundary. The label
    // is a nonlinear function of two features (min(1,x/100)*(1-|r-0.4|)
    // thresholded), so a linear boundary cannot be perfect — measured
    // accuracy 0.972 at sf0.01 on a 59/41 label split; floor 0.85.
    "q165_logit_predict" -> ((s, d) => {
      val f = logitFrame(s, d).localCheckpoint(true) // one text-feature pass; fit + predict + label join share it (guide §1.2)
      val fit = graft.operators.Logit.fit(f, ridgeFeatureCols, "y")
      val pred = graft.operators.Logit.predict(f, fit, "doc_id")
        .join(f.select(col("doc_id"), col("y")), "doc_id")
      val stats = pred.agg((sum(when(col("pred") === (col("y") === 1.0), 1L)
          .otherwise(0L)).cast("double") / count(lit(1))).as("accr"))
        .select((floor(col("accr") * 1e6 + 0.5) / 1e6).as("acc"))
      pred.crossJoin(broadcast(stats))
        .filter(assert_true(col("acc") >= 0.85, lit("q165: classifier accuracy fell below 0.85")).isNull)
        .select(col("doc_id"), col("p"), col("pred"), col("y"), col("acc"))
        .orderBy("doc_id")
    }),

    // The persisted-model twin of q165 (the q150 treatment): fit once,
    // land the (i, feature, w, mu, sd, bias) table, score FROM THE STORE —
    // scores, verdicts, and accuracy must hash-match q165's oracle
    // verbatim, so any lossy round-trip of a weight or scale fails.
    "q166_logit_store" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_logit"
      val f = logitFrame(s, d).localCheckpoint(true) // one text-feature pass; fit + predict + label join share it (guide §1.2)
      val fit = graft.operators.Logit.fit(f, ridgeFeatureCols, "y")
      graft.operators.Logit.saveModel(s, fit, path)
      val pred = graft.operators.Logit.predictFromStore(f, path, "doc_id")
        .join(f.select(col("doc_id"), col("y")), "doc_id")
      val stats = pred.agg((sum(when(col("pred") === (col("y") === 1.0), 1L)
          .otherwise(0L)).cast("double") / count(lit(1))).as("accr"))
        .select((floor(col("accr") * 1e6 + 0.5) / 1e6).as("acc"))
      pred.crossJoin(broadcast(stats))
        .select(col("doc_id"), col("p"), col("pred"), col("y"), col("acc"))
        .orderBy("doc_id")
    }),

    // Calibration bins for the classifier (the reliability-diagram
    // aggregation a pipeline runs before trusting its quality scores as
    // sampling weights): decile-bin the quantized scores, per bin the
    // exact count, quantized mean score, empirical positive rate, and
    // their gap. Means derive from integer partial sums (exact: p is a
    // 1e-6 multiple, y is 0/1), so every bin row is engine-exact. The
    // measured table at sf0.01 is the operator's own argument: scores are
    // MONOTONE with the label (empirical rate jumps 0 -> 1 across bins
    // 3-4) but NOT calibrated as probabilities (gaps up to ~0.48 — the
    // algebraic sigmoid squashes less than the logistic), so a pipeline
    // must sample through this calibration map, not through raw p.
    "q167_logit_calibration" -> ((s, d) => {
      val f = logitFrame(s, d).localCheckpoint(true) // one text-feature pass; fit + predict + label join share it (guide §1.2)
      val fit = graft.operators.Logit.fit(f, ridgeFeatureCols, "y")
      val pred = graft.operators.Logit.predict(f, fit, "doc_id")
        .join(f.select(col("doc_id"), col("y")), "doc_id")
      graft.operators.Logit.calibrationBins(pred).orderBy("bin")
    }),

    // Calibrated scoring (the operator q167's own table demands): every
    // document's raw score joins its decile bin and takes the bin's
    // empirical positive rate as p_cal — the histogram-calibrated
    // probability a pipeline samples through instead of raw p. The bin
    // table is <= 10 rows and broadcast; the oracle replays the bin join
    // verbatim over q167's CTEs. Monotone but re-scaled: p_cal collapses
    // each decile onto the measured positive rate, which is the contract.
    "q169_logit_calibrated" -> ((s, d) => {
      val f = logitFrame(s, d).localCheckpoint(true) // one text-feature pass; fit + predict + label join share it (guide §1.2)
      val fit = graft.operators.Logit.fit(f, ridgeFeatureCols, "y")
      val pred = graft.operators.Logit.predict(f, fit, "doc_id")
        .join(f.select(col("doc_id"), col("y")), "doc_id")
        .localCheckpoint(true) // one fit; bins + join read the same scores
      val bins = graft.operators.Logit.calibrationBins(pred)
      graft.operators.Logit.calibratedPredict(pred, bins, "doc_id")
        .orderBy("doc_id")
    }),

    // The sampling gate those calibrated probabilities exist FOR (the q80
    // deterministic-hash treatment, weighted by p_cal): keep a document
    // when hex60(doc_id) % 1e6 falls under floor(p_cal * 1e6), so the
    // KEEP RATE of each calibration bin tracks its empirical quality rate
    // — the learned-quality downsampling step of a training-data pipeline,
    // exactly replayable in both engines because the threshold is an
    // integer derived from the quantized p_cal and the hash is hex60.
    "q170_calibrated_sample" -> ((s, d) => {
      val f = logitFrame(s, d).localCheckpoint(true) // one text-feature pass; fit + predict + label join share it (guide §1.2)
      val fit = graft.operators.Logit.fit(f, ridgeFeatureCols, "y")
      val pred = graft.operators.Logit.predict(f, fit, "doc_id")
        .join(f.select(col("doc_id"), col("y")), "doc_id")
        .localCheckpoint(true)
      val bins = graft.operators.Logit.calibrationBins(pred)
      val cal = graft.operators.Logit.calibratedPredict(pred, bins, "doc_id")
      val keep = Dedup.hex60(col("doc_id").cast("string")) % 1000000L <
        floor(col("p_cal") * 1e6).cast("long")
      cal.select(col("bin"), col("p_cal"), keep.cast("long").as("keep"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("keep")).as("n_kept"),
          // DECIMAL(38,0) mass partials — the q168 envelope rule (a LONG
          // sum of 1e6-quantized p_cal wraps at ~9e12 docs per bin)
          (sum(floor(col("p_cal") * 1e6).cast("decimal(38,0)")).cast("double") / 1e6)
            .as("expected_kept"))
        .orderBy("bin")
    }),

    // Streamed classifier REFIT lifecycle (the q119 build-prefix-then-
    // append convention on the classifier): fit on a curated prefix and
    // persist that model (the gate in service while the corpus grows),
    // stream the REST of the documents through the exactly-once feature
    // store (row-wise quality features + label per micro-batch), REFIT
    // from the grown store, overwrite the model store, and emit the
    // persisted refit weights. The stream, the feature store round-trip,
    // and the model store round-trip must all be invisible: the oracle is
    // q164's monolithic 30-round GD replay VERBATIM.
    "q171_logit_refit" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = ivfIndexPath(d) + "_lrefit"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      // fresh run each call: the batch-dir ledgers make replays no-ops, so
      // a stale store would short-circuit the growth under test
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val store = s"$base/features"; val model = s"$base/model"
      val all = docs(s, d)
      // prefix generation: the already-curated slice, landed as batch=0
      StreamingPipeline.frameAppendBatch(store, logitFeaturesOf)(
        all.filter(col("doc_id") % 3 === 0), 0L)
      val fit0 = graft.operators.Logit.fit(
        s.read.parquet(s"$store/batch=0"), ridgeFeatureCols, "y")
      graft.operators.Logit.saveModel(s, fit0, model)
      // the rest of the corpus arrives as a stream of raw documents
      all.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text"))
        .repartition(8).write.mode("overwrite").parquet(s"$base/in")
      StreamingPipeline.maintain(
        StreamingPipeline.readDocStream(s, s"$base/in"), s"$base/ck") {
        (b, id) => StreamingPipeline.frameAppendBatch(store, logitFeaturesOf)(b, id + 1)
      }.start().awaitTermination()
      // refit from the grown store == the monolithic corpus fit
      val grown = s.read.parquet(store).select(col("doc_id"), col("n_words"),
        col("avg_word_len"), col("stopword_ratio"), col("y"))
      val refit = graft.operators.Logit.fit(grown, ridgeFeatureCols, "y")
      graft.operators.Logit.saveModel(s, refit, model)
      s.read.parquet(model).orderBy("i")
    }),

    // Exact AUC for the classifier (threshold-free ranking quality — the
    // complement of q165's thresholded accuracy and q167's calibration):
    // Mann-Whitney over the quantized scores, ties at half credit. After
    // grouping by distinct p the cumulative window is tie-free, every
    // count is an exact integer, and the single division + 6-decimal
    // quantization land both engines on the same double. The unpartitioned
    // window is SAFE at scale: it runs over the grouped score table, which
    // quantization bounds at <= 1e6+1 rows no matter the corpus size; the
    // pair-count products accumulate DECIMAL(38,0) inside
    // Logit.aucFromGroupedCounts (they cross the LONG envelope at ~3e9
    // docs per class). Measured 0.99995 at sf0.01.
    "q168_logit_auc" -> ((s, d) => {
      val f = logitFrame(s, d).localCheckpoint(true) // one text-feature pass; fit + predict + label join share it (guide §1.2)
      val fit = graft.operators.Logit.fit(f, ridgeFeatureCols, "y")
      val pred = graft.operators.Logit.predict(f, fit, "doc_id")
        .join(f.select(col("doc_id"), col("y")), "doc_id")
      val grp = pred.groupBy(col("p"))
        .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np"),
          sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("nn"))
      graft.operators.Logit.aucFromGroupedCounts(grp)
    }),

    // IVF-PQ served from BOTH persisted stores — the production composed
    // search path: centroids + cell assignments from the IVF store,
    // codes + codebooks from the PQ store, the corpus vectors read by
    // neither side. Must hash-match q133's in-memory compose (oracle
    // verbatim): two trained structures round-trip their stores without
    // moving a single ranking.
    "q151_ann_ivfpq_stores" -> ((s, d) => {
      val e = emb(s, d)
      val ivfPath = ivfIndexPath(d) + "_cmp_ivf"
      val pqPath = ivfIndexPath(d) + "_cmp_pq"
      Similarity.buildIvfIndex(e, numCentroids = 8, iters = 3, ivfPath)
      Similarity.buildPqIndex(e, m = 4, k = 8, iters = 2, pqPath)
      Similarity.ivfPqProbeStores(e.filter(col("vec_id") < 10), ivfPath, pqPath,
          k = 3, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    // Moments-path PCA: the covariance derives from ADDITIVE quantized
    // sums (count + first moments + the second-moment matrix) instead of
    // q138's centered Gram — the representation a streaming maintainer can
    // grow. Same driver eigensolve; the oracle replays the raw-moments
    // formula cov = M2/n/1e8 - mu mu^T bit-for-bit.
    "q152_pca_moments" -> ((s, d) => {
      graft.similarity.Pca.fitFromMoments(s,
          graft.similarity.Pca.momentSums(emb(s, d)), p = 4, iters = 8)
        .orderBy("comp", "dim")
    }),

    // The STREAM-grown twin (the q130 treatment): the embedding corpus
    // arrives as three ledgered micro-batch moment merges, and the fit
    // from the accumulated store must hash-match q152's batch fit (oracle
    // verbatim) — BIGINT-sum additivity makes the lifecycle exact, not
    // approximately healed.
    "q153_pca_moments_stream" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_pcamom"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(path + ".prev"), true)
      val e = emb(s, d)
      val up = graft.streaming.StreamingPipeline.pcaMomentsBatch(path) _
      up(e.filter(col("vec_id") % 3 === 0), 0L)
      up(e.filter(col("vec_id") % 3 === 1), 1L)
      up(e.filter(col("vec_id") % 3 === 2), 2L)
      graft.similarity.Pca.fitFromMoments(s, s.read.parquet(path), p = 4, iters = 8)
        .orderBy("comp", "dim")
    }),

    // Moments-store RETIREMENT (q197-q200's treatment for the one
    // additive stream-grown family they didn't cover): a departed vector
    // slice's count/first/second-moment contributions leave by one more
    // ledgered SUM-merge with the slice's own moment table negated — the
    // quantized floor terms sum exactly, so the retired store's fit must
    // hash-match q152's batch fit over the SURVIVORS (oracle re-rooted).
    // No zero-drop: fitFromMoments requires full cell coverage, and both
    // the retired store and a fresh build carry the complete d²+d+1 set.
    "q203_pca_moments_retired" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_pcamomret"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      fs.delete(new org.apache.hadoop.fs.Path(path + ".prev"), true)
      val e = emb(s, d)
      val up = graft.streaming.StreamingPipeline.pcaMomentsBatch(path) _
      up(e.filter(col("vec_id") % 3 === 0), 0L)
      up(e.filter(col("vec_id") % 3 === 1), 1L)
      up(e.filter(col("vec_id") % 3 === 2), 2L)
      graft.streaming.StreamingPipeline.retirePcaMoments(path)(
        e.filter(col("vec_id") % 3 === 1), retireId = 7L)
      graft.similarity.Pca.fitFromMoments(s, s.read.parquet(path), p = 4, iters = 8)
        .orderBy("comp", "dim")
    }),

    // Multi-probe IVF (nprobe=2 over q52's build): the recall/cost knob —
    // each query searches its 2 nearest cells while the corpus-side
    // partitioning is unchanged. Row-level oracle like q52's.
    "q107_ann_ivf_nprobe" -> ((s, d) =>
      Similarity.ivfKmeansTopKProbed(emb(s, d), numCentroids = 8, iters = 3, k = 3,
          nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")),

    // The persisted-index twin of q107: build the IVF structure ONCE into a
    // parquet store (centroids + cell-partitioned assignments), then answer
    // the same search by PROBING the store — no Lloyd recompute, no
    // aggregation over the stored corpus (PlanShapeSpec locks that plan
    // shape). Same oracle SQL as q107: the probe path must reproduce the
    // in-memory search bit-for-bit, which is what makes the store safe to
    // adopt as the production build-once/probe-many hot path.
    "q112_ann_ivf_store" -> ((s, d) => {
      val path = ivfIndexPath(d)
      Similarity.buildIvfIndex(emb(s, d), numCentroids = 8, iters = 3, path)
      Similarity.probeIvfIndex(emb(s, d), path, k = 3, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // The store LIFECYCLE gate (q112 covers only the fresh monolithic
    // build): build the IVF index from the vec_id < 300 corpus prefix,
    // append the remainder against the FROZEN stored centroids
    // (ivfAppendCells — the production write path), COMPACT the accumulated
    // batch dirs, then probe. The oracle replays exactly that semantics
    // (Lloyd fit on the prefix, assignment of everyone), so a bug anywhere
    // in append's assignment, compaction's rewrite, or the ledger/tombstone
    // plumbing shifts rows and fails the hash.
    "q119_ann_ivf_lifecycle" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_lc"
      val e = emb(s, d)
      Similarity.buildIvfIndex(e.filter(col("vec_id") < 300),
        numCentroids = 8, iters = 3, path)
      Similarity.ivfAppendCells(e.filter(col("vec_id") >= 300), path, appendId = 1)
      Similarity.compactIvfIndex(s, path)
      Similarity.probeIvfIndex(e, path, k = 3, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // The recall gate for the LSH path (q30's exact search: 64 sign-bit
    // buckets over the first 6 dims), completing quality measurement for
    // every ANN variant. Measured mean recall@3 is 0.047 / 0.047 / 0.033 at
    // sf0.001 / 0.01 / 0.1 — a SINGLE axis-aligned 6-bit table is by far
    // the weakest searcher here, which is exactly the kind of fact a gate
    // should put on the record (and why q111's multi-table random-hyperplane
    // variant exists); the 0.02 floor only guards against structural
    // collapse (empty candidate sets score 0).
    "q110_ann_recall_lsh" -> ((s, d) => {
      val e = emb(s, d)
      val lsh = Similarity.signLshTopK(e, k = 3, bits = 6)
        .filter(col("query_id") < 100)
        .select(col("query_id"), col("neighbor_id"))
      annRecallGate(e, lsh, k = 3, floor = 0.02,
        label = "q110: sign-LSH recall@3 fell below the 0.02 floor")
    }),

    // Recall gate for the AMPLIFIED LSH: 4 independent 6-bit
    // random-hyperplane tables, candidates unioned across tables — the
    // standard fix for q110's weak single table. Measured mean recall@3 is
    // 0.253 / 0.173 / 0.223 at sf0.001 / 0.01 / 0.1 — a ~5x amplification
    // over q110's 0.03-0.05 at the same scoring cost profile (production
    // tunes tables/bits to corpus size; the knob is tables, like q108's
    // nprobe). The 0.1 floor guards structural collapse.
    "q111_ann_recall_lshmulti" -> ((s, d) => {
      val e = emb(s, d)
      val lsh = Similarity.lshMultiTopK(e, k = 3, bits = 6, tables = 4, dim = 64)
        .filter(col("query_id") < 100)
        .select(col("query_id"), col("neighbor_id"))
      annRecallGate(e, lsh, k = 3, floor = 0.1,
        label = "q111: multi-table LSH recall@3 fell below the 0.1 floor")
    }),

    // The persisted-index twin of the tuned LSH search (the q112 treatment
    // for the hyperplane family): corpus signatures land partitioned by
    // (t, bucket) with the vector payloads and a geometry config row, then
    // the same 100-query search is answered by PROBING the store — query-
    // side hashing only, no corpus signature recompute. Oracle = the exact
    // row-level search the store must reproduce.
    "q117_ann_lsh_store" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_lsh"
      Similarity.buildLshIndex(emb(s, d), bits = 5, tables = 16, dim = 64, path)
      Similarity.probeLshIndex(emb(s, d).filter(col("vec_id") < 100), path, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // q119's lifecycle gate for the LSH store: build from the vec_id < 300
    // prefix, append the remainder with the STORED geometry
    // (lshAppendVectors), compact both halves, probe. Signatures are pure
    // per-vector functions of the config geometry, so — unlike the IVF
    // lifecycle, whose centroids freeze at build time — the probe after any
    // build/append split must be BIT-IDENTICAL to the monolithic q117
    // search: the oracle is q117's verbatim.
    "q122_ann_lsh_lifecycle" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_lshlc"
      val e = emb(s, d)
      Similarity.buildLshIndex(e.filter(col("vec_id") < 300),
        bits = 5, tables = 16, dim = 64, path)
      Similarity.lshAppendVectors(e.filter(col("vec_id") >= 300), path, appendId = 1)
      Similarity.compactLshIndex(s, path)
      Similarity.probeLshIndex(e.filter(col("vec_id") < 100), path, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // The MinHash dedup STORE through the oracle — the third store family
    // gets the q119/q122 lifecycle treatment: the corpus arrives as three
    // disjoint micro-batches through minhashDedupBatch (the streaming
    // maintainer's exact foreachBatch body — per-doc signatures, new-vs-all
    // candidate mining against the stored band index, append-only
    // publishes), the store compacts, and the accumulated pairs/ dirs are
    // read back. The documented parity contract says the union of the
    // increments over ANY batch partitioning equals the uncapped batch
    // miner over the whole corpus, so the oracle is q26's SQL verbatim —
    // a bug in the increment join, the re-sent-doc exclusion, the ledger,
    // or compaction's rewrite shifts or duplicates a pair and fails the
    // hash. (The store is wiped first: the pairs ledger makes replays
    // no-ops, so a stale store would short-circuit the mining under test.)
    "q124_minhash_store_lifecycle" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_mhlc"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val dd = docs(s, d)
      (0L to 2L).foreach(i =>
        StreamingPipeline.minhashDedupBatch(path)(dd.filter(col("doc_id") % 3 === i), i))
      StreamingPipeline.compactMinhashStore(s, path)
      s.read.parquet(s"$path/pairs")
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // The RE-INDEX gate, closing the IVF store's maintenance loop: build
    // from the vec_id < 300 prefix (frozen 8-centroid fit), append the
    // remainder against those FROZEN centroids — the drifted state q119
    // gates — then reindexIvf refits the k-means structure from the STORED
    // payloads and swaps it in. The probe afterwards must be bit-identical
    // to a monolithic full-corpus build (q107's oracle verbatim): the
    // re-index has to fully HEAL the drift, not merely reshuffle it, which
    // only holds if the stored `v` payloads are exactly the widened doubles
    // a fresh build derives and the refit is order-insensitive
    // (quantized-mean Lloyd). Any payload corruption in append/compact or
    // drift in the refit path shifts a centroid and fails the hash.
    "q123_ann_ivf_reindex" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_re"
      val e = emb(s, d)
      Similarity.buildIvfIndex(e.filter(col("vec_id") < 300),
        numCentroids = 8, iters = 3, path)
      Similarity.ivfAppendCells(e.filter(col("vec_id") >= 300), path, appendId = 1)
      Similarity.reindexIvf(s, path, numCentroids = 8, iters = 3)
      Similarity.probeIvfIndex(e, path, k = 3, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // The RE-TUNE gate for the LSH store (q123's treatment for the
    // hyperplane family): build at a WEAK 4x5 geometry on the vec_id < 300
    // prefix, append the remainder, then reindexLsh re-signs the stored
    // payloads at the tuned 16x5 geometry and swaps config. The probe
    // afterwards must be bit-identical to the monolithic 16x5 search
    // (q117's oracle verbatim) — signatures are pure functions of the
    // geometry, so the re-tune must leave NO trace of the old one, and any
    // payload loss in append or a stale-config read would shift candidates
    // and fail the hash.
    "q125_ann_lsh_reindex" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_lshre"
      val e = emb(s, d)
      Similarity.buildLshIndex(e.filter(col("vec_id") < 300),
        bits = 5, tables = 4, dim = 64, path)
      Similarity.lshAppendVectors(e.filter(col("vec_id") >= 300), path, appendId = 1)
      Similarity.reindexLsh(s, path, tables = 16, bits = 5)
      Similarity.probeLshIndex(e.filter(col("vec_id") < 100), path, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // The PRODUCTION-recall LSH config (q111 proves the knob moves; this
    // proves it reaches curation-pipeline recall): 16 random-hyperplane
    // tables x 5 bits through the query-side search (cost ∝ queries, not
    // corpus^2). Measured mean recall@3 is 0.80 / 0.73 / 0.82 at
    // sf0.001 / 0.01 / 0.1 (tools/TuneLsh.scala sweep) — the 0.6 floor is
    // deterministic margin below every measurement, and ~2.4x the nprobe=2
    // IVF gate (q108), at candidates/query ~= corpus/2.
    "q114_ann_recall_lshtuned" -> ((s, d) => {
      val e = emb(s, d)
      val lsh = Similarity.lshMultiTopKSearch(e, e.filter(col("vec_id") < 100),
          k = 3, bits = 5, tables = 16, dim = 64)
        .select(col("query_id"), col("neighbor_id"))
      annRecallGate(e, lsh, k = 3, floor = 0.6,
        label = "q114: tuned multi-table LSH recall@3 fell below the 0.6 floor")
    }),

    // ANN quality gate: recall@3 of the IVF-kmeans search (q52's exact
    // configuration) against the brute-force ground truth (q29's exact
    // scoring) on a deterministic 100-query sample — the standard
    // ANN-benchmark protocol. The q42/q52 gates prove the IVF results are
    // computed correctly; this one measures whether they are any GOOD:
    // per-query hit counts, plus the corpus mean recall carried on every
    // row (1-row broadcast, no unpartitioned window) with a floor ENFORCED
    // via assert_true — if a refactor degrades the cell structure, the
    // Spark side aborts loudly while the oracle still returns rows, and
    // the gate fails. Both searches rank by (sim desc, id asc), so recall
    // is deterministic and hash-matches. Measured mean recall@3 is
    // 0.39 / 0.37 / 0.31 at sf0.001 / 0.01 / 0.1 — honest single-probe
    // (nprobe=1) IVF recall with 8 cells; the 0.2 floor is the regression
    // guard (a broken assignment or collapsed cell structure scores ~0),
    // not a quality target.
    "q106_ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfKmeansTopK(e, numCentroids = 8, iters = 3, k = 3)
        .filter(col("query_id") < 100)
        .select(col("query_id"), col("neighbor_id"))
      annRecallGate(e, ivf, k = 3, floor = 0.2,
        label = "q106: IVF-kmeans recall@3 fell below the 0.2 floor")
    }),

    // The same gate at nprobe=2 (q107's search): probing the second-nearest
    // cell must buy real recall — measured mean recall@3 is
    // 0.593 / 0.54 / 0.52 at sf0.001 / 0.01 / 0.1 vs 0.39 / 0.37 / 0.31
    // single-probe, so the 0.4 floor sits ABOVE the single-probe ceiling:
    // if the probe fan-out silently degrades to one cell, this aborts.
    "q108_ann_recall_nprobe" -> ((s, d) => {
      val e = emb(s, d)
      val ivf = Similarity.ivfKmeansTopKProbed(e, numCentroids = 8, iters = 3, k = 3,
          nprobe = 2)
        .filter(col("query_id") < 100)
        .select(col("query_id"), col("neighbor_id"))
      annRecallGate(e, ivf, k = 3, floor = 0.4,
        label = "q108: nprobe=2 recall@3 fell below the 0.4 floor")
    }),

    // Deterministic hash-based train/val/test assignment (80/10/10): the
    // reproducible split every training pipeline needs — membership is a
    // pure function of the row key, so it survives reshuffles, reruns, and
    // incremental appends (no RNG, no sampleBy).
    "q59_hash_split" -> ((s, d) => {
      val bucket = Dedup.hex60(concat_ws(":", col("event_id"), col("user_id"))) % 100
      Tables.events(s, d)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("event_type"), col("split"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
        .orderBy("event_type", "split")
    }),

    // Symmetric int8 embedding quantization (the ANN compression path).
    "q60_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(emb(s, d)).orderBy("vec_id", "dim")),

    // Top-3 BM25 terms per document (Okapi k1=1.2, b=0.75), ranked on the
    // quantized score with a term tie-break.
    "q62_bm25_top_terms" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("bm25").desc, col("term").asc)
      TextOps.bm25(docs(s, d))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("doc_len"), col("bm25"), col("rank"))
        .orderBy("doc_id", "rank")
    }),

    // Gopher/C4-style repetition quality rule: documents dominated by a few
    // repeated words are low-quality training data. One token aggregation
    // feeds both the top-word share and the duplicate-word share; the keep
    // flag applies the thresholds. All work is two partial-agg shuffles on
    // (doc_id, word) then (doc_id) — no windows, no joins.
    "q66_text_repetition" -> ((s, d) => {
      val counts = docs(s, d)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_words"), count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("top_cnt"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          round(col("top_cnt") / col("n_words"), 6).as("top_word_frac"),
          round(lit(1.0) - col("n_distinct") / col("n_words"), 6).as("dup_word_frac"),
          (col("top_cnt") / col("n_words") <= 0.2 &&
            (lit(1.0) - col("n_distinct") / col("n_words")) <= 0.7).as("keep"))
        .orderBy("doc_id")
    }),

    // Sparse TF-IDF cosine neighbors over word-trigram shingles (the
    // inverted-index similarity join — the lexical complement to the
    // embedding ANN stack): top-3 neighbors per query doc among documents
    // SHARING at least one kept shingle, boilerplate shingles dropped at
    // df > 20, quantized partial dots. No dense vectors, no n^2 — pair
    // cost tracks shared-shingle fan-out only, capped per shingle.
    "q154_tfidf_ann" -> ((s, d) => {
      TextOps.tfidfCosineTopK(docs(s, d), k = 3, maxDf = 20, nQueries = 20)
        .orderBy("query_id", "rank")
    }),

    // Top-3 TF-IDF terms per document, ranked on the quantized score with a
    // term tie-break so ordering is total and cross-engine.
    "q61_tfidf_top_terms" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
      TextOps.tfidf(docs(s, d))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("tfidf"), col("rank"))
        .orderBy("doc_id", "rank")
    }),

    // Benchmark decontamination: every 20th doc plays the held-out eval
    // suite; each remaining doc reports what fraction of its distinct
    // trigram shingles leak from that set. One shingle-keyed left join +
    // per-doc aggregation — no pair mining.
    "q75_contamination" -> ((s, d) => {
      val sh = Dedup.wordShingles(docs(s, d), 3)
      Dedup.contamination(
          sh.filter(col("doc_id") % 20 =!= 0), sh.filter(col("doc_id") % 20 === 0))
        .withColumn("contaminated", col("n_overlap") / col("n_shingles") >= 0.5)
        .orderBy("doc_id")
    }),

    // Shard-local greedy sequence packing at a 512-token budget: the
    // concatenate-and-cut binning LLM pretraining runs before batching.
    "q76_seq_packing" -> ((s, d) =>
      TextOps.packSequences(docs(s, d), budget = 512, shards = 32).orderBy("doc_id")),

    // Deterministic vocabulary: top-200 terms by (df, cf, term) with df >= 2
    // — the reproducible tokenizer-training prep step.
    "q77_vocab_topk" -> ((s, d) =>
      TextOps.vocabulary(docs(s, d), minDf = 2, topK = 200).orderBy("rank")),

    // PII redaction audit: the corpus has no PII, so each doc gets a
    // deterministic synthetic email + phone appended and the redactor must
    // find exactly those (plus digest-match the scrubbed text cross-engine).
    "q79_pii_redact" -> ((s, d) => {
      val enriched = docs(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +1 (555) 010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      TextOps.redactPii(enriched).orderBy("doc_id")
    }),

    // Deterministic stratified sampling: per-stratum keep rates as a pure
    // hash function of the row key — reproducible across reruns/appends,
    // no RNG, no sampleBy. Output: per-stratum kept counts + value mass.
    "q80_stratified_sample" -> ((s, d) => {
      val bucket = Dedup.hex60(concat_ws(":", col("event_id"), col("user_id"))) % 1000
      val rate = when(col("event_type") === "view", 100)
        .when(col("event_type") === "click", 500).otherwise(1000)
      Tables.events(s, d)
        .filter(bucket < rate)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"), round(sum(col("value")), 2).as("value_kept"))
        .orderBy("event_type")
    }),

    // Temperature-based language mixture sampling (τ = 0.5, budget = half
    // the corpus tokens): high-resource languages downsample toward their
    // sqrt-tempered share, low-resource ones keep everything (threshold
    // capped at 1e6 ppm). The output is the per-language audit frame —
    // exact token totals, the derived ppm threshold, and the kept
    // docs/tokens under the deterministic hex60 gate.
    "q173_lang_mixture" -> ((s, d) =>
      TextOps.temperatureSampleByLang(docs(s, d), budgetPpm = 500000L)
        .orderBy("lang")),

    // Corpus snapshot delta (the incremental-crawl primitive): snapshot B
    // is derived deterministically from the documents table — one slice
    // removed (doc_id % 13 = 3), one revised (% 7 = 2, text + ' rev2'),
    // one added (% 17 = 5 re-keyed past the id space) — and every doc id
    // gets its added/removed/changed/unchanged verdict from one
    // hash-compare full-outer join. Downstream curation reruns on
    // added+changed only; the oracle replays derivation, join, and
    // verdict per id.
    "q175_corpus_delta" -> ((s, d) => {
      val a = docs(s, d).select(col("doc_id"), col("text"))
      Dedup.corpusDelta(a, snapshotB(a)).orderBy("doc_id")
    }),

    // INCREMENTAL re-curation through the delta (what q175's verdicts are
    // FOR): quality features recompute ONLY for added+changed docs; the
    // unchanged majority reuses the snapshot-A "store" untouched; removed
    // docs retire. The oracle is the FULL recompute over snapshot B
    // (q31's SQL re-rooted) — hash equality IS the proof that the
    // incremental path converges to the from-scratch one. At 100 TB this
    // is the operator that turns a full-crawl re-curation into a
    // 0.1%-of-crawl touch.
    // Delta-driven dedup-store maintenance (retireLm's treatment for the
    // ROW-store family): the MinHash store is built over snapshot A in two
    // batches; the crawl moves to snapshot B; retireMinhashStore lands the
    // removed/changed ids as a ledgered tombstone batch and the
    // changed-new/added slice re-enters through the ordinary appender
    // (the liveness rule r > k lets a retired id resurrect with its new
    // text). After compaction applies retirements physically, the store's
    // verified pairs must equal a from-scratch uncapped mine over snapshot
    // B — q26's oracle re-rooted at the derived snapshot. A pair that
    // survives with a dead endpoint, a tombstone that eats a re-mined
    // pair, or a compaction that resurrects a retired row fails the hash.
    "q178_dedup_delta_maintenance" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val path = ivfIndexPath(d) + "_mhdelta"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = docs(s, d).select(col("doc_id"), col("text"))
      val b = snapshotB(a)
      val delta = Dedup.corpusDelta(a, b).localCheckpoint(true)
      StreamingPipeline.minhashDedupBatch(path)(a.filter(col("doc_id") % 2 === 0), 0)
      StreamingPipeline.minhashDedupBatch(path)(a.filter(col("doc_id") % 2 === 1), 1)
      StreamingPipeline.retireMinhashStore(s, path,
        delta.filter(col("status").isin("removed", "changed")).select("doc_id"), 2)
      StreamingPipeline.minhashDedupBatch(path)(
        b.join(delta.filter(col("status").isin("added", "changed"))
          .select("doc_id"), "doc_id"), 3)
      StreamingPipeline.compactMinhashStore(s, path)
      StreamingPipeline.readDedupPairs(s, path)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // Delta-driven ANN store maintenance (q178's treatment for the IVF
    // index — the store family that most directly follows a moving
    // corpus): the index is built over embedding snapshot A, freezing the
    // A-fit centroid geometry; the crawl moves to snapshot B (one vector
    // slice removed, one revised in place, one added past the id space);
    // retireIvfVectors lands the removed/changed ids as a ledgered
    // tombstone batch (cost ∝ the delta) and the changed-new/added
    // vectors re-enter through the ordinary frozen-centroid appender at a
    // later batch id (the liveness rule r > k resurrects them). After
    // compaction applies the retirements physically, probing with the
    // snapshot-B queries must equal the fit-on-A/assign-B search computed
    // from scratch — q107's oracle with the final assignment re-rooted at
    // the derived snapshot. A dead vector that still answers, a tombstone
    // that eats a revised vector's re-entry, or a compaction that
    // resurrects a retired row fails the hash.
    "q179_ann_ivf_delta" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_ivfdelta"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = emb(s, d)
      val b = embSnapshotB(a)
      Similarity.buildIvfIndex(a, numCentroids = 8, iters = 3, path)
      val delta = embDelta(a, b).localCheckpoint(true)
      Similarity.retireIvfVectors(s, path,
        delta.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 1)
      Similarity.ivfAppendCells(
        b.join(delta.filter(col("status").isin("added", "changed"))
          .select("vec_id"), "vec_id"), path, appendId = 2)
      Similarity.compactIvfIndex(s, path)
      Similarity.probeIvfIndex(b, path, k = 3, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"),
          col("sim"))
        .orderBy("query_id", "rank")
    }),

    // SECOND delta cycle on the IVF store — maintenance must COMPOSE: the
    // corpus moves A→B→C; cycle 1 is q179's (retire, append, FULL
    // compaction — which applies the retirement and RELOCATES the merged
    // base to the max data id); cycle 2 retires/appends the B→C delta and
    // runs only a MINOR compaction, probing with cycle 2's retirement
    // ledger still pending. This is the oracle-level guard for the
    // relocated-base bug class the r12 advisor flagged: a minor compaction
    // that mistakes the relocated base for debris re-lands its rows ABOVE
    // the pending retirement id, resurrecting every dead C-removed row the
    // base carries — r > k liveness silently inverted — and the hash
    // fails. (The `_base` marker written by full compaction is what keeps
    // the base out of the debris merge; the file-level drill is in
    // DedupSimilaritySpec, this gates the RESULT.) Oracle: q107's probe
    // with the Lloyd fit frozen on A and the assignment re-rooted at the
    // twice-derived snapshot C.
    "q195_ann_ivf_delta2" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_ivfdelta2"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = emb(s, d)
      val b = embSnapshotB(a)
      val c = embSnapshotC(b)
      Similarity.buildIvfIndex(a, numCentroids = 8, iters = 3, path)
      // cycle 1 == q179: after this the merged base sits at batch=2 with
      // the _base marker recording the relocation
      val d1 = embDelta(a, b).localCheckpoint(true)
      Similarity.retireIvfVectors(s, path,
        d1.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 1)
      Similarity.ivfAppendCells(
        b.join(d1.filter(col("status").isin("added", "changed"))
          .select("vec_id"), "vec_id"), path, appendId = 2)
      Similarity.compactIvfIndex(s, path)
      // cycle 2: ledger pending at rid 3 (> the relocated base's id, < the
      // new appends'), two appends so the minor merge has real debris
      val d2 = embDelta(b, c).localCheckpoint(true)
      Similarity.retireIvfVectors(s, path,
        d2.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 3)
      val arriving = c.join(d2.filter(col("status").isin("added", "changed"))
        .select("vec_id"), "vec_id")
      Similarity.ivfAppendCells(arriving.filter(col("vec_id") % 2 === 0),
        path, appendId = 4)
      Similarity.ivfAppendCells(arriving.filter(col("vec_id") % 2 =!= 0),
        path, appendId = 5)
      Similarity.compactIvfIndexMinor(s, path)
      Similarity.probeIvfIndex(c, path, k = 3, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"),
          col("sim"))
        .orderBy("query_id", "rank")
    }),

    // The LSH twin of q179 (both halves of the store retire: candidate
    // signatures AND rescore payloads — a dead sig row would resurrect a
    // candidate, a dead payload row would rescore a ghost). Signatures are
    // pure functions of the stored geometry, so unlike q179 there is no
    // frozen-fit asymmetry: the store after retire → re-append → compact
    // must probe BIT-IDENTICAL to q117's monolithic search re-rooted at
    // snapshot B.
    "q180_ann_lsh_delta" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_lshdelta"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = emb(s, d)
      val b = embSnapshotB(a)
      Similarity.buildLshIndex(a, bits = 5, tables = 16, dim = 64, path)
      val delta = embDelta(a, b).localCheckpoint(true)
      Similarity.retireLshVectors(s, path,
        delta.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 1)
      Similarity.lshAppendVectors(
        b.join(delta.filter(col("status").isin("added", "changed"))
          .select("vec_id"), "vec_id"), path, appendId = 2)
      Similarity.compactLshIndex(s, path)
      Similarity.probeLshIndex(b.filter(col("vec_id") < 100), path, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // q180's lifecycle DRIVEN THROUGH THE VACUUM (the r15 verdict's item
    // 7, ANN edition): after the full compaction applies the retirement
    // and blanks the ledger, every historical batch dir on all three
    // ledger halves (sigs, vectors, the blanked retire ledger) collapses
    // into the `_vacuumed_below` watermark — the store the probes serve
    // carries ZERO tombstone dirs. The probe must stay BIT-IDENTICAL to
    // the monolithic search (q180's oracle verbatim): the vacuum touches
    // ledger metadata only, never rows. The replay contract is drilled in
    // DedupSimilaritySpec (vacuumed append/retire ids stay refused);
    // this row gates the serving side at the hash level.
    "q232_ann_lsh_vacuum" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_lshvac"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = emb(s, d)
      val b = embSnapshotB(a)
      Similarity.buildLshIndex(a, bits = 5, tables = 16, dim = 64, path)
      val delta = embDelta(a, b).localCheckpoint(true)
      Similarity.retireLshVectors(s, path,
        delta.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 1)
      Similarity.lshAppendVectors(
        b.join(delta.filter(col("status").isin("added", "changed"))
          .select("vec_id"), "vec_id"), path, appendId = 2)
      Similarity.compactLshIndex(s, path)
      graft.store.Ledger.vacuumStore(s, path, upTo = 3,
        Seq("sigs", "vectors", "retired"))
      Similarity.probeLshIndex(b.filter(col("vec_id") < 100), path, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // q195's A→B→C shape over the LSH store (the r13 verdict's item 5:
    // q195 gates the relocated-base class for IVF at the HASH level;
    // LSH/PQ relied on file-level drills, and the r12 advisor class showed
    // results-level gates catch what file drills frame). Cycle 1 is
    // q180's (retire, append, FULL compaction — applies the retirement
    // and relocates both halves' merged bases to the max data id, writing
    // the `_base` markers); cycle 2 retires/appends the B→C delta in TWO
    // appends and closes with a MINOR compaction, probing with cycle 2's
    // retirement ledger still pending. A minor merge that mistakes a
    // relocated base (sigs OR vectors half) for debris re-lands its rows
    // above the pending rid and resurrects every dead C-removed row —
    // the hash fails. Signatures are pure functions of the stored
    // geometry, so the probe over C must be BIT-IDENTICAL to q117's
    // monolithic search re-rooted at the twice-derived snapshot.
    // COST NOTE (the q122 adjudication class): this deliberately pays
    // build + TWO retire/re-sign/append cycles + a full AND a minor
    // compaction on the 16x5 signature store inside ONE plan so the
    // oracle can hash the whole two-cycle loop (~37 s at sf0.1 — the
    // registry's most expensive row, ~2x the one-cycle q180, exactly the
    // added cycle). The production path is the measured ~1.6 s probe;
    // every maintenance step is delta- or store-proportional on its own.
    "q201_ann_lsh_delta2" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_lshdelta2"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = emb(s, d)
      val b = embSnapshotB(a)
      val c = embSnapshotC(b)
      Similarity.buildLshIndex(a, bits = 5, tables = 16, dim = 64, path)
      val d1 = embDelta(a, b).localCheckpoint(true)
      Similarity.retireLshVectors(s, path,
        d1.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 1)
      Similarity.lshAppendVectors(
        b.join(d1.filter(col("status").isin("added", "changed"))
          .select("vec_id"), "vec_id"), path, appendId = 2)
      Similarity.compactLshIndex(s, path)
      val d2 = embDelta(b, c).localCheckpoint(true)
      Similarity.retireLshVectors(s, path,
        d2.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 3)
      val arriving = c.join(d2.filter(col("status").isin("added", "changed"))
        .select("vec_id"), "vec_id")
      Similarity.lshAppendVectors(arriving.filter(col("vec_id") % 2 === 0),
        path, appendId = 4)
      Similarity.lshAppendVectors(arriving.filter(col("vec_id") % 2 =!= 0),
        path, appendId = 5)
      Similarity.compactLshIndexMinor(s, path)
      Similarity.probeLshIndex(c.filter(col("vec_id") < 100), path, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // The PQ third of the delta-maintenance family (q179/q180's treatment
    // for the compressed-code store): codebooks stay frozen from the A
    // fit, the delta's departing ids retire the codes AND payload halves,
    // the changed/added vectors re-encode against the frozen codebooks at
    // a later id, and after compaction the ADC probe over snapshot B must
    // hash-match q131's ranking with the encode re-rooted at B.
    "q181_ann_pq_delta" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_pqdelta"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = emb(s, d)
      val b = embSnapshotB(a)
      Similarity.buildPqIndex(a, m = 4, k = 8, iters = 2, path)
      val delta = embDelta(a, b).localCheckpoint(true)
      Similarity.retirePqVectors(s, path,
        delta.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 1)
      Similarity.pqAppendVectors(
        b.join(delta.filter(col("status").isin("added", "changed"))
          .select("vec_id"), "vec_id"), path, appendId = 2)
      Similarity.compactPqIndex(s, path)
      Similarity.probePqIndex(b.filter(col("vec_id") < 10), path, k = 5)
        .orderBy("query_id", "rank")
    }),

    // q201's A→B→C shape over the PQ store — the third family's
    // results-level relocated-base gate: codebooks stay frozen from the A
    // fit (the store's geometry), both cycles retire the codes AND
    // payload halves and re-encode arrivals against the frozen codebooks,
    // cycle 1 closes with the FULL compaction (base relocation + _base),
    // cycle 2 with a MINOR one under a pending retirement ledger. The ADC
    // probe over C must hash-match q131's ranking with the encode
    // re-rooted at the twice-derived snapshot.
    "q202_ann_pq_delta2" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_pqdelta2"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = emb(s, d)
      val b = embSnapshotB(a)
      val c = embSnapshotC(b)
      Similarity.buildPqIndex(a, m = 4, k = 8, iters = 2, path)
      val d1 = embDelta(a, b).localCheckpoint(true)
      Similarity.retirePqVectors(s, path,
        d1.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 1)
      Similarity.pqAppendVectors(
        b.join(d1.filter(col("status").isin("added", "changed"))
          .select("vec_id"), "vec_id"), path, appendId = 2)
      Similarity.compactPqIndex(s, path)
      val d2 = embDelta(b, c).localCheckpoint(true)
      Similarity.retirePqVectors(s, path,
        d2.filter(col("status").isin("removed", "changed")).select("vec_id"),
        retireId = 3)
      val arriving = c.join(d2.filter(col("status").isin("added", "changed"))
        .select("vec_id"), "vec_id")
      Similarity.pqAppendVectors(arriving.filter(col("vec_id") % 2 === 0),
        path, appendId = 4)
      Similarity.pqAppendVectors(arriving.filter(col("vec_id") % 2 =!= 0),
        path, appendId = 5)
      Similarity.compactPqIndexMinor(s, path)
      Similarity.probePqIndex(c.filter(col("vec_id") < 10), path, k = 5)
        .orderBy("query_id", "rank")
    }),

    // DSIR importance weights (Xie et al. 2023, hashed-n-gram variant):
    // the target distribution is the English slice, the raw corpus is
    // everything; each document's integer micro-nat LLR sum says how
    // target-typical its hashed uni+bigram profile is. The model tables
    // are <= m rows (two bounded hash aggs + a 1-row totals broadcast);
    // scoring is one (doc, bucket) agg + a broadcast join — the corpus
    // never shuffles wider than m buckets.
    "q182_dsir_weights" -> ((s, d) => {
      val all = docs(s, d)
      val model = TextOps.dsirBucketLlr(all.filter(col("lang") === "en"), all)
      TextOps.dsirScore(all, model).orderBy("doc_id")
    }),

    // The DSIR resampling gate over those weights: acceptance from the
    // document's TOTAL LLR (the paper's importance weight in nats) through
    // the bounded algebraic squash s = x/(1+|x|) (exp stays banned), drawn
    // deterministically by hex60 — a consistently target-typical document
    // saturates toward keep, a raw-typical one toward drop.
    // Map-only over q182's frame; the oracle replays squash, ppm floor,
    // and gate exactly.
    "q183_dsir_sample" -> ((s, d) => {
      val all = docs(s, d)
      val model = TextOps.dsirBucketLlr(all.filter(col("lang") === "en"), all)
      TextOps.dsirSample(TextOps.dsirScore(all, model))
        .select(col("doc_id"), col("n_grams"), col("dsir6"), col("avg_llr"),
          col("rate_ppm"), col("kept"))
        .orderBy("doc_id")
    }),

    // The persisted DSIR model store (the q126 lifecycle convention on the
    // importance-resampling counts): build on the doc_id % 3 == 0 prefix,
    // append the other two thirds as ledgered count deltas, compact, score
    // the whole corpus FROM the store. Counts are additive longs, so the
    // grown store must equal the monolithic fit — q183's oracle VERBATIM;
    // a lost append, a replay double-count, or a compaction that drops a
    // bucket shifts some document's integer weight and fails the hash.
    "q184_dsir_store" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_dsir"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val all = docs(s, d)
      val isT = col("lang") === "en"
      TextOps.saveDsir(all.filter(col("doc_id") % 3 === 0), isT, m = 1024, path)
      TextOps.appendDsir(all.filter(col("doc_id") % 3 === 1), isT, path, appendId = 1)
      TextOps.appendDsir(all.filter(col("doc_id") % 3 === 2), isT, path, appendId = 2)
      TextOps.compactDsir(s, path)
      TextOps.scoreWithDsir(all, path).orderBy("doc_id")
    }),

    // Stream-grown DSIR store (q130's convention): batch-build the curated
    // prefix (appends need the store's pinned m — the decontam-appender
    // asymmetry), stream the rest through the exactly-once count-delta
    // maintainer, compact, score. The stream must be invisible: q183's
    // oracle verbatim.
    "q185_dsir_streamed" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = ivfIndexPath(d) + "_dsirst"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val all = docs(s, d)
      val isT = col("lang") === "en"
      TextOps.saveDsir(all.filter(col("doc_id") % 3 === 0), isT, m = 1024,
        s"$base/dsir")
      all.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("text"), col("lang"))
        .repartition(8).write.mode("overwrite").parquet(s"$base/in")
      StreamingPipeline.maintain(
          StreamingPipeline.readColumnsStream(s, s"$base/in",
            "doc_id LONG, text STRING, lang STRING"), s"$base/ck")(
          StreamingPipeline.dsirAppendBatch(s"$base/dsir", isT))
        .start().awaitTermination()
      TextOps.compactDsir(s, s"$base/dsir")
      TextOps.scoreWithDsir(all, s"$base/dsir").orderBy("doc_id")
    }),

    // Delta-maintained DSIR store following the moving corpus (q177's
    // treatment on the importance model): fit on snapshot A, retire the
    // NEGATED counts of the departing slice, append the arriving one,
    // compact, score snapshot B — hash-equal to a from-scratch fit on B
    // (q183's oracle re-rooted). The target rule is id-based (% 4) so it
    // survives text revisions in both engines.
    "q186_dsir_delta" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_dsirdelta"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val a = docs(s, d).select(col("doc_id"), col("text"))
      val b = snapshotB(a)
      val isT = col("doc_id") % 4 === 0
      TextOps.saveDsir(a, isT, m = 1024, path)
      val delta = Dedup.corpusDelta(a, b).localCheckpoint(true)
      TextOps.retireDsir(
        a.join(delta.filter(col("status").isin("removed", "changed"))
          .select("doc_id"), "doc_id"), isT, path, appendId = 1)
      TextOps.appendDsir(
        b.join(delta.filter(col("status").isin("added", "changed"))
          .select("doc_id"), "doc_id"), isT, path, appendId = 2)
      TextOps.compactDsir(s, path)
      TextOps.scoreWithDsir(b, path).orderBy("doc_id")
    }),

    // Filter attribution — the per-document kill matrix of the standard
    // curation rules (length, q31 quality, q66 repetition, q96 dup-shingle
    // fraction, at their established thresholds), with first_fail charging
    // each kill to the first failing rule in pipeline order. The oracle
    // recomputes all four verdicts from the published formulas.
    "q187_filter_attribution" -> ((s, d) =>
      TextOps.filterAttribution(docs(s, d))
        .select(col("doc_id"), col("n_words"),
          round(col("quality_score"), 6).as("quality_score"),
          col("pass_length"), col("pass_quality"), col("pass_repetition"),
          col("pass_dupngram"), col("first_fail"), col("kept"))
        .orderBy("doc_id")),

    // The survival funnel over that frame: sequential-chain accounting
    // (stage, n_in, n_killed, n_out), last stage's n_out == the kept
    // count. Four rows by construction.
    "q188_filter_funnel" -> ((s, d) =>
      TextOps.filterFunnel(TextOps.filterAttribution(docs(s, d)))),

    "q176_incremental_quality" -> ((s, d) => {
      val a = docs(s, d).select(col("doc_id"), col("text"))
      val b = snapshotB(a)
      val delta = Dedup.corpusDelta(a, b)
      val storedA = TextOps.qualityFeatures(a) // the already-curated store
      val reused = storedA.join(
        delta.filter(col("status") === "unchanged").select("doc_id"), "doc_id")
      val fresh = TextOps.qualityFeatures(b.join(
        delta.filter(col("status").isin("added", "changed")).select("doc_id"), "doc_id"))
      reused.unionByName(fresh)
        .select(col("doc_id"), col("n_words"),
          round(col("avg_word_len"), 6).as("avg_word_len"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("digit_ratio"), 6).as("digit_ratio"),
          round(col("quality_score"), 6).as("quality_score"))
        .orderBy("doc_id")
    }),

    // PSI drift report between two crawl snapshots (Drift.psiReport): the
    // distribution monitor a pipeline runs BEFORE retraining — language
    // mix, source mix, length and word-count profiles, each as a smoothed
    // Population Stability Index with the conventional 0.1/0.2 verdict
    // thresholds. Integer micro-nat quantization (the q95/q101 ln
    // discipline) + exact 128-bit numerators make the oracle replay
    // bit-identical; the corpus is touched by exactly one map-side
    // explode + one hash aggregate.
    "q209_drift_psi" -> ((s, d) => {
      val a = docs(s, d)
      val b = snapshotBFull(a)
      Drift.psiReport(a, b, driftFeatures).orderBy("feature")
    }),

    // Deterministic training-shard manifest (Shards.manifest): hex60(id)
    // routing, per-shard counts/bounds + an order-insensitive XOR content
    // checksum — the integrity ledger a 1000-executor export verifies its
    // shard files against. One projection + one 64-row hash aggregate.
    "q210_shard_manifest" -> ((s, d) =>
      Shards.manifest(docs(s, d), nShards = 64).orderBy("shard")),

    // Shard-level incremental export (Shards.manifestDelta): a ~2.6% crawl
    // delta (the deb1x moduli 130/70/170) against 256 shards — the
    // manifest diff says which shard files must be rewritten and which are
    // byte-equivalent and reused. The export-unit lift of corpusDelta.
    "q211_manifest_delta" -> ((s, d) => {
      val a = docs(s, d)
      val b = snapshotBWith(a, rmMod = 130, revMod = 70, addMod = 170)
      Shards.manifestDelta(Shards.manifest(a, 256), Shards.manifest(b, 256))
        .orderBy("shard")
    }),

    // The drift monitor as a per-crawl LOOP, not a one-shot: PSI over both
    // consecutive moves of the q196 three-snapshot chain (A→B, then B→C),
    // one report row per (cycle, feature). Each cycle's baseline is the
    // previous snapshot — exactly how a production monitor trails the
    // moving corpus.
    "q212_drift_cycles" -> ((s, d) => {
      val a = docs(s, d)
      val b = snapshotBFull(a)
      val c = snapshotCFull(b)
      Drift.psiReport(a, b, driftFeatures).withColumn("cycle", lit("a_b"))
        .unionByName(
          Drift.psiReport(b, c, driftFeatures).withColumn("cycle", lit("b_c")))
        .orderBy("cycle", "feature")
    }),

    // The vector-side drift monitor: PSI over IVF cell populations, both
    // snapshots assigned to the SAME frozen centroid set (fit once on A),
    // so the index-staleness question — "has the corpus moved enough that
    // the ANN index needs a re-fit?" — is a report row. Population shift
    // here is pure corpus movement; a re-fit per snapshot would fold
    // retraining noise into the signal.
    "q213_ivf_cell_drift" -> ((s, d) => {
      val a = emb(s, d)
      val b = embSnapshotB(a)
      val cents = Similarity.kmeansCentroids(a, numCentroids = 8, iters = 2)
      Drift.psiReport(
          Similarity.assignToCentroids(a, cents),
          Similarity.assignToCentroids(b, cents),
          Seq("ivf_cell" -> col("cell")))
        .orderBy("feature")
    }),

    // The packed training-file ledger: q76's shard-local packing grouped
    // to one row per (shard, bin) = one physical training file, checksum
    // binding member identity AND position (files are order-sensitive
    // bytes). The artifact a pretraining export ships alongside the files.
    "q214_packed_ledger" -> ((s, d) =>
      Shards.packedLedger(TextOps.packSequences(docs(s, d), budget = 512, shards = 32))
        .orderBy("shard", "bin")),

    // The ledger delta across a ~2.6% crawl change (deb1x moduli): packing
    // is id-ordered within a shard, so one removed doc shifts every later
    // bin_offset in its shard — the delta shows the rewrite RIPPLE
    // honestly (bins before the first change reuse; bins after rewrite),
    // which is exactly the evidence for cutting training files at shard
    // granularity rather than corpus granularity.
    "q215_packed_ledger_delta" -> ((s, d) => {
      val a = docs(s, d)
      val b = snapshotBWith(a, rmMod = 130, revMod = 70, addMod = 170)
      def ledger(df: DataFrame) =
        Shards.packedLedger(TextOps.packSequences(df, budget = 512, shards = 32))
      Shards.ledgerDelta(ledger(a), ledger(b), Seq("shard", "bin"),
          Seq("n_docs", "n_tokens", "first_doc", "checksum"))
        .orderBy("shard", "bin")
    }),

    // The drift monitor as a MAINTAINED store (the q126/q186 lifecycle
    // convention on bucket populations): baseline frozen at A, live
    // counts advanced to B through the corpusDelta cycle (retire the
    // leaving rows' counts, append the arriving rows'), compacted, then
    // the report SERVED from the store with no corpus pass. Bucket
    // populations are additive longs, so the served report must equal
    // the monolithic A->B one — q209's oracle VERBATIM is the gate.
    "q216_drift_store" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_drift"
      val a = docs(s, d)
      val b = snapshotBFull(a)
      Drift.buildDriftStore(a, driftFeatures, path)
      val delta = Dedup.corpusDelta(a, b).localCheckpoint(true)
      Drift.retireDriftCounts(
        a.join(delta.filter(col("status").isin("removed", "changed"))
          .select("doc_id"), "doc_id"), driftFeatures, path, appendId = 1)
      Drift.appendDriftCounts(
        b.join(delta.filter(col("status").isin("added", "changed"))
          .select("doc_id"), "doc_id"), driftFeatures, path, appendId = 2)
      Drift.compactDriftStore(s, path)
      Drift.psiFromStore(s, path).orderBy("feature")
    }),

    // The incremental export CONVERGES: assemble snapshot B's export by
    // reusing snapshot-A rows for unchanged shards and rewriting only the
    // changed/added ones (q211's delta made load-bearing), then manifest
    // the assembly. Oracle = the manifest of a FULL export of B — hash
    // equality proves reuse+rewrite reconstructs the corpus exactly.
    "q217_incremental_export" -> ((s, d) => {
      val a = docs(s, d)
      val b = snapshotBWith(a, rmMod = 130, revMod = 70, addMod = 170)
      Shards.manifest(
          Shards.incrementalExport(a, b, nShards = 256).select("doc_id", "text"),
          nShards = 256)
        .orderBy("shard")
    }),

    // The monitor's full LOOP, second cycle included: advance to B,
    // ACCEPT the drift (retrain happened — rebase makes B the new
    // reference, PSI restarts from 0), advance to C, serve. The report
    // must equal a from-scratch B-vs-C comparison — q212's b_c block —
    // proving the rebase is exact and the second cycle measures only
    // movement since the retrain.
    "q218_drift_cycle2" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_drift2"
      val a = docs(s, d)
      val b = snapshotBFull(a)
      val c = snapshotCFull(b)
      Drift.buildDriftStore(a, driftFeatures, path)
      def advance(from: DataFrame, to: DataFrame, rid: Long, aid: Long): Unit = {
        val delta = Dedup.corpusDelta(from, to).localCheckpoint(true)
        Drift.retireDriftCounts(
          from.join(delta.filter(col("status").isin("removed", "changed"))
            .select("doc_id"), "doc_id"), driftFeatures, path, rid)
        Drift.appendDriftCounts(
          to.join(delta.filter(col("status").isin("added", "changed"))
            .select("doc_id"), "doc_id"), driftFeatures, path, aid)
        ()
      }
      advance(a, b, rid = 1, aid = 2)
      Drift.rebaseDriftBaseline(s, path)
      advance(b, c, rid = 3, aid = 4)
      Drift.compactDriftStore(s, path)
      Drift.psiFromStore(s, path).orderBy("feature")
    }),

    // Drift on the TIME axis: each day's event-type mix vs the previous
    // day's, one PSI row per day — the monitor run as a daily job over
    // the event stream instead of crawl snapshots. Pure reuse: label the
    // shifted day as the 'feature' and psiFromCounts computes every
    // day-pair in one count-frame pass (the corpus is touched by ONE
    // (day, type) aggregate; the shift is a projection of that tiny
    // frame). Days without a populated predecessor carry no baseline and
    // are excluded on both engines.
    "q220_daily_drift" -> ((s, d) => {
      val counts = Tables.cleanEvents(s, d)
        .select(to_date(col("ts")).as("day"), col("metric"))
        .groupBy("day", "metric").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val bc = counts.select(col("day").cast("string").as("feature"),
        col("metric").as("bucket"), col("c"))
      val ac = counts.select(date_add(col("day"), 1).cast("string").as("feature"),
        col("metric").as("bucket"), col("c"))
      Drift.psiFromCounts(ac, bc)
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .withColumnRenamed("feature", "day")
        .orderBy("day")
    }),

    // q220 SERVED FROM A MAINTAINED STORE (the r14 verdict's item 3): the
    // day-pair monitor a scheduler actually polls. History lands once as
    // ledgered per-day bucket-count batches (the day IS the ledger key);
    // the last day arrives through the daily append path (replay-safe);
    // the report is computed from the count ledger alone — zero event
    // re-scans at serve time. Oracle = q220's SQL verbatim: store-served
    // must hash-equal the recompute-from-raw monitor.
    "q225_daily_drift_served" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_daily_drift"
      val ev = Tables.cleanEvents(s, d)
        .select(to_date(col("ts")).as("day"), col("metric"))
        .localCheckpoint(true)
      // bounded collect: ONE date — the "today" whose counts arrive via
      // the daily append instead of the backfill
      val maxDay = ev.agg(max("day")).head().getDate(0)
      Drift.buildDailyDriftStore(ev.filter(col("day") < lit(maxDay)),
        col("day"), col("metric"), path)
      Drift.appendDailyDriftCounts(ev.filter(col("day") === lit(maxDay)),
        col("metric"), path, maxDay.toLocalDate.toEpochDay)
      Drift.dailyDriftFromStore(s, path).orderBy("day")
    }),

    // q220/q225's monitor grown by a STREAM (the ingestion mode the
    // day-keyed ledger cannot honor — a micro-batch splits days
    // arbitrarily): each batch lands its own (day, bucket, c) counts as
    // an exactly-once frame-store append, sums recover the exact per-day
    // populations, and the served report must hash-equal the
    // recompute-from-raw monitor. Oracle = q220's SQL verbatim.
    "q228_daily_drift_streamed" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = ivfIndexPath(d) + "_dailyst"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      Tables.cleanEvents(s, d)
        .select(to_date(col("ts")).as("day"), col("metric"))
        .repartition(24).write.mode("overwrite").parquet(s"$base/in")
      StreamingPipeline.maintain(
          s.readStream.schema("day DATE, metric STRING")
            .option("maxFilesPerTrigger", "4").parquet(s"$base/in"), s"$base/ck") {
          (b, id) => StreamingPipeline.frameAppendBatch(s"$base/store",
            _.groupBy(col("day"), col("metric").as("bucket"))
              .agg(count(lit(1)).as("c")))(b, id + 1)
        }.start().awaitTermination()
      Drift.dailyDriftFromCountDeltas(s, s"$base/store").orderBy("day")
    }),

    // The report's drill-down: WHICH bucket moved — every (feature,
    // bucket)'s own quantized PSI contribution with both populations,
    // the row an operator acts on when q209 says 'drifted'.
    "q221_drift_buckets" -> ((s, d) => {
      val a = docs(s, d)
      Drift.psiContributions(a, snapshotBFull(a), driftFeatures)
        .orderBy("feature", "bucket")
    }),

    // Sliding-window chunking at a 64-token context with a 48-token
    // stride (25% overlap) — the context-window prep between curation
    // and packing. Map-only; the md5 stands in for the chunk text so
    // both engines verify fixed-width rows.
    "q222_chunking" -> ((s, d) =>
      TextOps.chunkDocs(docs(s, d), size = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx"))
    ,

    // The REAL export chain composed end-to-end: chunk the corpus into
    // overlapping contexts (q222), pack the CHUNKS into 512-token
    // training files by their exact token counts (q76's packing over a
    // synthetic chunk id), and ledger every file (q214). Each stage is
    // the already-gated operator; the composition is what a pretraining
    // job actually ships.
    "q223_chunk_pack_ledger" -> ((s, d) => {
      // ENVELOPE (r14 ADVICE): the folded scalar key collides once a
      // document has >= 1e6 chunks (~48M tokens at stride 48) — far past
      // any real document, but a collision would SILENTLY corrupt packing
      // and the ledger, so the bound is enforced per row: out-of-envelope
      // corpora fail loudly here (and should key packing on
      // (doc_id, chunk_idx) directly instead of the fold).
      val chunks = TextOps.chunkDocs(docs(s, d), size = 64, stride = 48)
        .select(when(col("chunk_idx") < 1000000L,
            col("doc_id") * 1000000L + col("chunk_idx"))
          .otherwise(raise_error(concat(
            lit("q223 packing-key fold overflow: chunk_idx "),
            col("chunk_idx").cast("string"),
            lit(" >= 1e6 for doc_id "), col("doc_id").cast("string"))))
          .as("doc_id"),
          col("n_tok"))
      Shards.packedLedger(TextOps.packSequences(chunks, budget = 512,
          shards = 32, tokenCount = Some(col("n_tok"))))
        .orderBy("shard", "bin")
    }),

    // The export chain CLOSED INCREMENTALLY at chunk granularity (the
    // q191 treatment for q223): cycle A builds the packed store; the
    // corpus delta to snapshot B invalidates only the affected docs'
    // chunks; incrementalPackedLedger reuses every per-shard bin prefix
    // the ripple can't reach and re-packs from the first affected chunk
    // onward, seeded at the reused token offset. The assembled ledger
    // must hash-equal the from-scratch q223 over B — the oracle IS
    // q223's SQL re-rooted at the B snapshot.
    "q224_incr_chunk_export" -> ((s, d) => {
      val a = docs(s, d)
      val b = snapshotBFull(a)
      // cycle A's stored artifacts (in production: read back from disk) —
      // materialized once; ledgerA feeds the bin-reuse half
      val packA = TextOps.packSequences(chunkUnits(a), budget = 512, shards = 32,
        tokenCount = Some(col("n_tokens"))).localCheckpoint(true)
      val ledgerA = Shards.packedLedger(packA).localCheckpoint(true)
      Shards.incrementalPackedLedger(chunkUnits(b), packA, ledgerA,
          chunkAffected(a, b), budget = 512, nShards = 32)
        .orderBy("shard", "bin")
    }),

    // The chain CHAINS (the q196 treatment for q224): two corpus moves,
    // A→B→C, with cycle 2 maintained ENTIRELY from cycle 1's incremental
    // artifacts — packB is the assembled incremental pack frame (reused
    // packA rows + re-packed rows, never a from-scratch rebuild), and the
    // ledger rows cycle 2 reuses came through cycle 1's assembly, so a
    // surviving bin's checksum may be two generations old. The final
    // ledger must still hash-equal a from-scratch export of C.
    "q226_incr_chunk_export2" -> ((s, d) => {
      val a = docs(s, d)
      val b = snapshotBFull(a)
      val c = snapshotCFull(b)
      val packA = TextOps.packSequences(chunkUnits(a), budget = 512, shards = 32,
        tokenCount = Some(col("n_tokens"))).localCheckpoint(true)
      val ledgerA = Shards.packedLedger(packA).localCheckpoint(true)
      // aff1 and B's chunk units each feed BOTH cycle-1 consumers (pack
      // frame + ledger assembly) — materialize once instead of re-running
      // the corpus chunk/tokenize pass and the delta per consumer (§1.2)
      val aff1 = chunkAffected(a, b).localCheckpoint(true)
      val cuB = chunkUnits(b).localCheckpoint(true)
      val packB = Shards.incrementalPackFrame(cuB, packA, aff1,
        budget = 512, nShards = 32).localCheckpoint(true)
      val ledgerB = Shards.incrementalPackedLedger(cuB, packA,
        ledgerA, aff1, budget = 512, nShards = 32).localCheckpoint(true)
      Shards.incrementalPackedLedger(chunkUnits(c), packB, ledgerB,
          chunkAffected(b, c), budget = 512, nShards = 32)
        .orderBy("shard", "bin")
    }),

    // The export chain as a STREAMING store (the tail-grower): documents
    // arrive in three crawl-ordered tranches through three stream
    // sessions on one checkpoint (a restart drill by construction); each
    // micro-batch's chunks pack onto the per-shard tails of the landed
    // export — the stored corpus is never re-read — and the served
    // ledger must hash-equal the monolithic q223 chain over everything
    // delivered. Oracle = q223's SQL verbatim.
    "q227_packed_export_streamed" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = ivfIndexPath(d) + "_packst"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      // fresh run each call: the pack ledger makes replays no-ops, so a
      // stale store would short-circuit the maintenance under test
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val dd = docs(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
      // bounded collect: two cut points — the monotone-ingest tranches
      val maxId = dd.agg(max("doc_id")).head().getLong(0)
      val (c1, c2) = (maxId / 3, 2 * maxId / 3)
      def deliver(df: DataFrame): Unit =
        df.coalesce(1).write.mode("append").parquet(s"$base/in")
      def drain(): Unit = StreamingPipeline.maintain(
          StreamingPipeline.readDocStream(s, s"$base/in"), s"$base/ck") {
          (b, id) => StreamingPipeline.packedExportAppendBatch(
            s"$base/store", budget = 512, nShards = 32)(b, id + 1)
        }.start().awaitTermination()
      deliver(dd.filter(col("doc_id") <= c1)); drain()
      deliver(dd.filter(col("doc_id") > c1 && col("doc_id") <= c2)); drain()
      deliver(dd.filter(col("doc_id") > c2)); drain()
      // small-file compaction between sessions: the served ledger is
      // invariant (bins never move), so the oracle hashes right across it
      StreamingPipeline.compactPackedExport(s, s"$base/store")
      StreamingPipeline.packedExportLedger(s, s"$base/store")
        .orderBy("shard", "bin")
    }),

    // RETENTION + VACUUM on the day-keyed monitor (the r15 verdict's top
    // ask, landed): retire every day before the horizon (max day - 10),
    // then VACUUM the tombstone dirs into the `_vacuumed_below` watermark
    // ([[graft.store.Ledger]]) — ZERO ledger dirs kept below the horizon,
    // the metadata-growth reset the dir-per-batch pattern needs at one
    // batch a minute. The replay-no-op contract must survive the dirs'
    // deletion: a retired+vacuumed day is re-offered through the append
    // path inside the query — if it landed, the served report would grow
    // a pre-horizon pair and the hash would break. Oracle = the day-pair
    // monitor over events from the horizon on (the retired days simply
    // never existed).
    "q229_daily_drift_vacuum" -> ((s, d) => {
      val path = ivfIndexPath(d) + "_daily_vac"
      val ev = Tables.cleanEvents(s, d)
        .select(to_date(col("ts")).as("day"), col("metric"))
        .localCheckpoint(true)
      // bounded collect: ONE date — the horizon anchor
      val maxDay = ev.agg(max("day")).head().getDate(0)
      val horizon = maxDay.toLocalDate.toEpochDay - 10
      Drift.buildDailyDriftStore(ev, col("day"), col("metric"), path)
      Drift.retireDailyDriftDays(s, path, horizon)
      graft.store.Ledger.vacuumStore(s, path, horizon, Seq("days"))
      // at-least-once replay of a retired day against the vacuumed
      // ledger: a no-op BY RULE (the dir is gone; the watermark holds)
      Drift.appendDailyDriftCounts(
        ev.filter(col("day") === date_add(to_date(lit("1970-01-01")),
          (horizon - 1).toInt)), col("metric"), path, horizon - 1)
      Drift.dailyDriftFromStore(s, path).orderBy("day")
    }),

    // The streamed export THROUGH A CORPUS MOVE (the r15 verdict's item
    // 6): tranche 1 streams into the packed store (q227's grower); a
    // re-crawl then revises/removes documents ALREADY PACKED;
    // repackPackedExport applies the delta in place — incremental re-pack
    // from each shard's first affected unit (q224's reuse boundary), the
    // repaired pack landing as one batch=0 generation with the ledger
    // VACUUMED to a watermark; tranche 2 then streams onto the REPAIRED
    // tails through the same checkpoint. The served ledger must
    // hash-equal the from-scratch q223 chain over the FINAL snapshot
    // (revised tranche 1 + tranche 2) — the proof that delta repair and
    // stream growth compose on one store.
    "q231_packed_export_moved" -> ((s, d) => {
      import graft.streaming.StreamingPipeline
      val base = ivfIndexPath(d) + "_packmv"
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val dd = docs(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
      // bounded collect: the tranche cut
      val maxId = dd.agg(max("doc_id")).head().getLong(0)
      val cut = 2L * maxId / 3L
      val t1 = dd.filter(col("doc_id") <= cut)
      def deliver(df: DataFrame): Unit =
        df.coalesce(1).write.mode("append").parquet(s"$base/in")
      def drain(): Unit = StreamingPipeline.maintain(
          StreamingPipeline.readDocStream(s, s"$base/in"), s"$base/ck") {
          (b, id) => StreamingPipeline.packedExportAppendBatch(
            s"$base/store", budget = 512, nShards = 32)(b, id + 1)
        }.start().awaitTermination()
      deliver(t1); drain()
      // the re-crawl of the stored range: revise %7==2, remove %13==3
      // (the snapshot-B moduli, additions excluded — new ids arrive
      // through the stream, which is the point of the composition)
      val b1 = t1.filter(col("doc_id") % 13 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 2, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
      val affected = chunkUnits(
          t1.filter(col("doc_id") % 13 === 3 || col("doc_id") % 7 === 2))
        .unionByName(chunkUnits(b1.filter(col("doc_id") % 7 === 2)))
        .select("doc_id")
      StreamingPipeline.repackPackedExport(s, s"$base/store", budget = 512,
        nShards = 32, newDocs = b1, affectedUnitIds = affected)
      deliver(dd.filter(col("doc_id") > cut)); drain()
      StreamingPipeline.packedExportLedger(s, s"$base/store")
        .orderBy("shard", "bin")
    }),

    // The MODULO OPT-OUT of the export chain (roles flipped in r17: the
    // hash-balanced key q234 proved last round is now packSequences'
    // DEFAULT across q223-q231 and the streamed store — the folded-id
    // modulo collapsed to chunk_idx mod 32 and was the one 100×-scale
    // skew wall left). The plain `id % shards` routing stays available
    // through `shardBy` for exports whose shard placement must mirror an
    // external id-range layout; this query pins that opt-out end-to-end.
    // Oracle = q223's SQL with the modulo shard key.
    "q234_chunk_pack_modshard" -> ((s, d) => {
      val chunks = chunkUnits(docs(s, d))
      Shards.packedLedger(TextOps.packSequences(chunks, budget = 512,
          shards = 32, tokenCount = Some(col("n_tokens")),
          shardBy = Some(pmod(col("doc_id"), lit(32L)))))
        .orderBy("shard", "bin")
    }),

    // Packing-efficiency report — the utilization metric a packed export
    // is tuned BY: per shard, how full its 512-token training files run
    // (the last bin of each shard is partial by construction).
    // fill_ppm = (1e6 * tokens) div (bins * budget), integer division on
    // integer sums — exact on both engines. Ledger-sized input (one
    // grouped aggregate over the (shard, bin) ledger); the corpus is
    // touched only by the chunk+pack chain q223 already pays. Since r17
    // the chain shards on the hash-balanced default (hex60(folded id) %
    // 32), so this report shows ALL 32 shards loaded — under the old
    // folded-id modulo it showed the skew wall instead (1e6 ≡ 0 mod 32
    // collapsed shard to chunk_idx mod 32: 3 populated shards at
    // sf0.01). An operator tuning a real export reads exactly this row
    // set to spot such geometry; q234 pins the modulo opt-out.
    "q233_pack_efficiency" -> ((s, d) => {
      val ledger = Shards.packedLedger(TextOps.packSequences(
        chunkUnits(docs(s, d)), budget = 512, shards = 32,
        tokenCount = Some(col("n_tokens"))))
      ledger.groupBy("shard")
        .agg(count(lit(1)).as("n_bins"), sum("n_tokens").as("n_tokens"))
        .withColumn("fill_ppm",
          expr("(1000000 * n_tokens) div (n_bins * 512)"))
        .orderBy("shard")
    })
  )

  /** The q223/q224/q226 chunk-export unit: sliding-window chunks folded to
    * the scalar packing key (collision-guarded in q223 itself; these
    * derived snapshots stay far inside the 1e6-chunks-per-doc envelope).
    */
  private[queries] def chunkUnits(df: DataFrame): DataFrame =
    TextOps.chunkDocs(df, size = 64, stride = 48).select(
      (col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
      col("n_tok").as("n_tokens"))

  /** Chunk-level invalidation from the doc-level corpus delta: BOTH sides'
    * chunks of non-unchanged docs (a shrunk doc's vanished tail chunks
    * exist only on the old side). Chunking runs over the affected docs
    * only — delta-sized, not corpus-sized.
    */
  private def chunkAffected(x: DataFrame, y: DataFrame): DataFrame = {
    val delta = Dedup.corpusDelta(x, y).localCheckpoint(true)
    chunkUnits(x.join(delta.filter(col("status").isin("changed", "removed"))
        .select("doc_id"), "doc_id"))
      .unionByName(chunkUnits(y.join(
        delta.filter(col("status").isin("changed", "added"))
          .select("doc_id"), "doc_id")))
      .select("doc_id")
  }

  /** The q209/q212 drift feature set: the two categorical metadata axes
    * plus bucketed length and word-count profiles — re-built per call
    * because Columns close over nothing, but ONE definition so the two
    * queries and their oracles can never skew.
    */
  private[queries] def driftFeatures: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "lang" -> col("lang"),
    "source" -> col("source"),
    "len_b" -> floor(col("n_chars") / lit(50)),
    "words_b" -> floor(size(TextOps.words(col("text"))) / lit(10)))

  /** The q175/q176 derived second snapshot: one slice removed
    * (doc_id % 13 = 3), one revised (% 7 = 2, text + ' rev2'), one added
    * (% 17 = 5 re-keyed past the id space). Deterministic, so both
    * engines derive the identical snapshot.
    */
  /** The q179/q180 derived second EMBEDDING snapshot — [[snapshotB]]'s
    * modular rule applied to vectors: one slice removed (vec_id % 13 = 3),
    * one revised in place (% 7 = 2, vector reversed — exact in both
    * engines, and norm-preserving so the change is purely directional),
    * one added (% 17 = 5 re-keyed past the id space, vector negated —
    * exact sign flips). Deterministic, so both engines derive the
    * identical snapshot.
    */
  private[queries] def embSnapshotB(a: DataFrame): DataFrame =
    a.filter(col("vec_id") % 13 =!= 3)
      .select(col("vec_id"),
        when(col("vec_id") % 7 === 2, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      .unionByName(a.filter(col("vec_id") % 17 === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))

  /** The THIRD embedding snapshot (q195's second crawl move): the same
    * modular derivation pattern applied to B — removed % 11 = 4, revised
    * % 5 = 1 (vector negated), added % 19 = 7 (re-keyed +2e6, past B's
    * +1e6 id space, vector reversed). Exact transforms, deterministic in
    * both engines.
    */
  private[queries] def embSnapshotC(b: DataFrame): DataFrame =
    b.filter(col("vec_id") % 11 =!= 4)
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 1, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
      .unionByName(b.filter(col("vec_id") % 19 === 7)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))

  /** [[graft.dedup.Dedup.corpusDelta]] over vectors: the hash-compare
    * full-outer join runs on the stringified embedding (any deterministic
    * equality marker works — the oracle never replays the delta, only the
    * store state it drives).
    */
  private def embDelta(a: DataFrame, b: DataFrame): DataFrame = {
    def keyed(df: DataFrame) =
      df.select(col("vec_id"), col("embedding").cast("string").as("vtxt"))
    Dedup.corpusDelta(keyed(a), keyed(b), idCol = "vec_id", textCol = "vtxt")
  }

  private[queries] def snapshotB(a: DataFrame): DataFrame =
    a.filter(col("doc_id") % 13 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(a.filter(col("doc_id") % 17 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text")))

  /** [[snapshotB]] carrying the FULL document row — the q191 incremental
    * pipeline needs lang (the DSIR target), source (the balance stage),
    * and n_chars (the profiler and the ridge label). Metadata persists
    * across a revision; n_chars tracks the text edit exactly (+5 for
    * ' rev2', +4 for the 'new ' prefix) so both engines derive the
    * identical snapshot with integer arithmetic.
    */
  private[queries] def snapshotBFull(a: DataFrame): DataFrame =
    snapshotBWith(a, rmMod = 13, revMod = 7, addMod = 17)

  /** [[snapshotBFull]] with the delta moduli as parameters — the bench's
    * delta-axis pair derives a ~26% delta (13/7/17, the oracle-pinned
    * snapshot) and a ~2.6% one (130/70/170) from the SAME corpus, so the
    * incremental cycle's cost can be measured on the axis its claim lives
    * on (delta size at fixed corpus size).
    */
  private[graft] def snapshotBWith(a: DataFrame, rmMod: Int, revMod: Int,
                                   addMod: Int): DataFrame =
    a.filter(col("doc_id") % rmMod =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % revMod === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"),
        when(col("doc_id") % revMod === 2, col("n_chars") + 5)
          .otherwise(col("n_chars")).as("n_chars"))
      .unionByName(a.filter(col("doc_id") % addMod === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + 4).as("n_chars")))

  /** The THIRD corpus snapshot (q196's second crawl move) — the
    * [[snapshotBFull]] derivation pattern applied to B with fresh moduli:
    * removed % 11 = 4, revised % 5 = 1 (' rev3', n_chars + 5), added
    * % 19 = 7 (re-keyed +2e6 past B's id space, 'new2 ' prefix,
    * n_chars + 5). Deterministic and integer-exact in both engines.
    */
  private[queries] def snapshotCFull(b: DataFrame): DataFrame =
    b.filter(col("doc_id") % 11 =!= 4)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 1, concat(col("text"), lit(" rev3")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"),
        when(col("doc_id") % 5 === 1, col("n_chars") + 5)
          .otherwise(col("n_chars")).as("n_chars"))
      .unionByName(b.filter(col("doc_id") % 19 === 7)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("new2 "), col("text")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + 5).as("n_chars")))
}
