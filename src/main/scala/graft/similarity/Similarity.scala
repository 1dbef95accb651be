package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.store.{BatchStore, StoreFamily}
import graft.store.StoreFamily.Half

/** Similarity search over an embedding column (`array<float>`).
  *
  * Dot products run through the native codegen'd
  * [[graft.expressions.DotProduct]] (primitive loop, consumes float arrays
  * directly), so a scan over N vectors x k queries is a single
  * broadcast-join + projection plan with no per-element closures.
  *
  * Scale paths: [[cosineTopK]] broadcasts a small query set against the full
  * corpus (embarrassingly parallel); [[signLshTopK]] buckets the corpus by
  * hyperplane sign bits so each query only scans its bucket — the classic
  * LSH-ANN trade (recall vs fan-out) without any n^2 join. Same-bucket
  * blocking also powers [[cosinePairs]] for near-dup mining.
  */
object Similarity {

  /** The key of every vector store below: builds, appends, retirements
    * and probes all name rows by it.
    */
  private val VecId = "vec_id"

  private[graft] val IvfStore = StoreFamily("ivf",
    Seq(Half("cells", Seq(VecId), BatchStore.partitioned("cell"))),
    retiredKey = "rid", swapped = Seq("centroids"), built = true, vacuum = false)

  private[graft] val LshStore = StoreFamily("lsh",
    Seq(Half("vectors", Seq(VecId)), Half("sigs", Seq(VecId), BatchStore.rebalanced("t", "bucket"))),
    retiredKey = "rid", swapped = Seq("config"), built = true, vacuum = false)

  private[graft] val PqStore = StoreFamily("pq",
    Seq(Half("vectors", Seq(VecId)), Half("codes", Seq(VecId))),
    retiredKey = "rid", built = true, vacuum = false)

  /** Strict left-to-right fold; kept as the generic array-math API. The hot
    * paths below use the codegen'd [[graft.expressions.DotProduct]], which
    * produces bit-identical results (same accumulation order).
    */
  def dot(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (u, v) => u * v), lit(0.0), (acc, t) => acc + t)

  private def ndot(x: Column, y: Column): Column = graft.expressions.DotProduct(x, y)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Brute-force cosine top-k: every query row against the full corpus.
    * Deterministic ranking: (rounded similarity desc, neighbor id asc).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms are precomputed per vector, not per pair — same doubles, 3x
    // fewer dot products
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(ndot(col("qv"), col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(ndot(col("cv"), col("cv"))))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(ndot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** Sign-bit LSH bucket id: bit i set iff vector[i] > 0 (axis-aligned
    * hyperplanes over the first `bits` dimensions).
    */
  def signBucket(vec: Column, bits: Int): Column = {
    val powers = transform(sequence(lit(0), lit(bits - 1)), i => pow(lit(2.0), i).cast("long"))
    aggregate(
      zip_with(slice(vec, 1, bits), powers, (v, p) => when(v > 0.0, p).otherwise(0L)),
      lit(0L), (acc, t) => acc + t)
  }

  /** LSH-bucketed ANN top-k: queries only scan their own bucket. */
  def signLshTopK(vectors: DataFrame, k: Int, bits: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = vectors.select(col(idCol), col(vecCol).as("v"),
        signBucket(col(vecCol), bits).as("bucket"))
      .withColumn("n", sqrt(ndot(col("v"), col("v"))))
    val scored = b.as("q").join(b.as("c"),
        col("q.bucket") === col("c.bucket") && col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        round(ndot(col("q.v"), col("c.v")) / (col("q.n") * col("c.n")), 6).as("sim"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplanes shared with any oracle engine:
    * component h(t, j, d) = (hex60("t:j:d") % 2001 − 1000) / 1000 ∈ [−1, 1]
    * — an integer hash and ONE exact division, so there is no RNG state and
    * both engines derive bit-identical planes. Returns (t, harr) rows,
    * `tables × bits` of them (broadcast-sized), harr ordered by (j, d)
    * grouped per j into (t, j, harr).
    */
  private def lshPlanes(vectors: DataFrame, tables: Int, bits: Int, dim: Int): DataFrame = {
    val spark = vectors.sparkSession
    val t = spark.range(tables).select(col("id").as("t"))
    val j = spark.range(bits).select(col("id").as("j"))
    val d = spark.range(dim).select(col("id").as("d"))
    t.crossJoin(j).crossJoin(d)
      .withColumn("h",
        (graft.dedup.Dedup.hex60(concat_ws(":", col("t"), col("j"), col("d"))) % 2001 - 1000)
          .cast("double") / 1000.0)
      .groupBy(col("t"), col("j"))
      .agg(transform(sort_array(collect_list(struct(col("d"), col("h")))),
        x => x.getField("h")).as("harr"))
  }

  /** Multi-table random-hyperplane LSH top-k — the amplified form of
    * [[signLshTopK]] (whose single axis-aligned 6-bit table measures only
    * ~0.03-0.05 recall@3 on the test embeddings, the q110 gate). Each of
    * `tables` independent tables hashes a vector to a `bits`-bit signature
    * of pseudo-random-hyperplane signs; candidates are the UNION of
    * same-bucket pairs across tables (deduplicated), then scored exactly —
    * missing a true neighbor now requires disagreeing in EVERY table, so
    * recall amplifies ~linearly in tables while candidate volume (the cost)
    * grows the same way: the standard LSH recall/cost knob, analogous to
    * [[ivfKmeansTopKProbed]]'s nprobe.
    *
    * Scale: the plane table is broadcast; signatures reduce map-side from
    * tables × bits rows to tables rows per vector; the candidate join is
    * bucket-local per table; the pair dedup is one distinct shuffle; exact
    * vectors re-attach via two id-keyed joins (no array payload rides
    * through the dedup). `dim` must equal the embedding dimensionality —
    * ENFORCED via assert_true so a mismatch aborts instead of silently
    * nulling the dot products.
    */
  /** Dim-checked (id, v, n) projection for the LSH searches. */
  private def lshPrepped(vectors: DataFrame, dim: Int, idCol: String,
                         vecCol: String): DataFrame =
    vectors
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .filter(assert_true(size(col("v")) === dim,
        lit(s"lshMultiTopK: dim=$dim does not match the embedding width")).isNull)
      .withColumn("n", sqrt(ndot(col("v"), col("v"))))

  /** Per-table signature rows (idCol, t, bucket) against broadcast planes:
    * map-side reduction from tables x bits rows to tables rows per vector.
    */
  private def lshSigs(b: DataFrame, planes: DataFrame, idCol: String): DataFrame =
    b.join(broadcast(planes))
      .withColumn("dot", ndot(col("v"), col("harr")))
      .groupBy(col(idCol), col("t"))
      .agg(sum(when(col("dot") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))")).otherwise(0L)).as("bucket"))

  def lshMultiTopK(vectors: DataFrame, k: Int, bits: Int, tables: Int, dim: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = lshPrepped(vectors, dim, idCol, vecCol)
    val planes = lshPlanes(vectors, tables, bits, dim)
    val sigs = lshSigs(b, planes, idCol)
    val cand = sigs.as("q").join(sigs.as("c"),
        col("q.t") === col("c.t") && col("q.bucket") === col("c.bucket") &&
          col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"))
      .distinct()
    val scored = cand
      .join(b.select(col(idCol).as("query_id"), col("v").as("qv"), col("n").as("qn")),
        Seq("query_id"))
      .join(b.select(col(idCol).as("neighbor_id"), col("v").as("cv"), col("n").as("cn")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(ndot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
  }

  /** Query-side [[lshMultiTopK]] — the production search shape: a bounded
    * query set probes a large corpus, so candidate volume is
    * O(queries x tables x bucket-size), NOT O(corpus^2 / 2^bits). The
    * corpus-side work is exactly the map-only signature pass (tables rows
    * per vector); only the probed buckets join.
    *
    * This is also where a tuned (tables, bits) config earns its keep: the
    * q114 gate runs 16 tables x 5 bits and clears a 0.6 mean-recall@3
    * floor (measured 0.80 / 0.73 / 0.82 at sf0.001 / 0.01 / 0.1 —
    * tools/TuneLsh.scala is the sweep), vs q111's 4x6 config at
    * 0.17-0.25. Recall amplifies as 1-(1-p)^tables while per-query
    * candidate cost grows only linearly in tables: candidates/query ~=
    * tables x corpus / 2^bits (here 16n/32 = n/2, vs q111's n/16 — an 8x
    * cost buying ~3.5x recall). That is the map a capacity planner needs:
    * pick bits so corpus/2^bits candidates per table fit the latency
    * budget, then raise tables until recall clears target.
    */
  def lshMultiTopKSearch(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int,
                         tables: Int, dim: Int, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    val c = lshPrepped(corpus, dim, idCol, vecCol)
    val q = lshPrepped(queries, dim, idCol, vecCol)
    val planes = lshPlanes(corpus, tables, bits, dim)
    val sigC = boundedBuckets(lshSigs(c, planes, idCol), maxBucket)
    val sigQ = lshSigs(q, planes, idCol)
    val cand = sigQ.as("q").join(sigC.as("c"),
        col("q.t") === col("c.t") && col("q.bucket") === col("c.bucket") &&
          col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"))
      .distinct()
    val scored = cand
      .join(q.select(col(idCol).as("query_id"), col("v").as("qv"), col("n").as("qn")),
        Seq("query_id"))
      .join(c.select(col(idCol).as("neighbor_id"), col("v").as("cv"), col("n").as("cn")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(ndot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
  }

  /** Build-once half of the persisted LSH index (the [[buildIvfIndex]]
    * treatment for the multi-table random-hyperplane family): land the
    * corpus signatures CLUSTERED by (t, bucket) — plain data columns,
    * sorted within each file so parquet min/max row-group stats let a
    * probe skip the unprobed bulk — plus the prepped vector payloads (for
    * the exact rescore) and a 1-row config table (tables, bits, dim), so
    * the probe side cannot silently hash with a different geometry than
    * the build. (r18, guide §6: the original layout PARTITIONED BY
    * (t, bucket) — tables x 2^bits = 512 directories of tiny files PER
    * WRITE JOB, and the store takes ~6 sigs-tree writes per lifecycle
    * gate. The per-dir create/commit/list overhead dominated the whole
    * ANN-lifecycle tier, and the directory pruning it bought was inert
    * for real probes: the probe JOINs on (t, bucket), so only dynamic
    * partition pruning could fire, and any probe batch of >= 2^bits
    * queries touches every bucket of every table — DPP eliminates
    * nothing at bench scale (100 queries x 16 tables over 32
    * buckets/table) nor for batch probes at 100 TB. One sorted file per
    * write task keeps row-group min/max skipping for the narrow probes
    * that would have pruned, and drops the 512-dir metadata wall; it
    * also removes the pre-write repartition Exchange — the sort is
    * local.)
    * The planes themselves need no storage: they are pure integer-hash
    * functions of (t, j, d) ([[lshPlanes]]), the same property that lets
    * the DuckDB oracles re-derive them.
    */
  def buildLshIndex(vectors: DataFrame, bits: Int, tables: Int, dim: Int, path: String,
                    vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // lock + build marker: see [[buildPqIndex]] — a rebuild over a live
    // store must not interleave with appenders, and a crash mid-rebuild
    // must refuse maintenance loudly rather than mix geometry generations
    BatchStore.build(LshStore, spark, path) { fs =>
      val c = lshPrepped(vectors, dim, VecId, vecCol)
      // sigs/vectors nest a batch=<append id> level so [[lshAppendVectors]]
      // can land increments as whole directories (the [[ivfAppendCells]]
      // layout); a REBUILD must clear prior appends, hence the deletes
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/sigs"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors"), true)
      lshSigs(c, lshPlanes(vectors, tables, bits, dim), VecId)
        .sortWithinPartitions("t", "bucket")
        .write.mode("overwrite").parquet(s"$path/sigs/batch=0")
      c.write.mode("overwrite").parquet(s"$path/vectors/batch=0")
      Seq((tables, bits, dim)).toDF("tables", "bits", "dim")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/config")
    }
  }

  /** Append-half of the persisted LSH index for a GROWING corpus: hash a
    * batch of NEW vectors with the STORED geometry (the planes are pure
    * integer-hash functions of (t, j, d), so `config`'s (tables, bits, dim)
    * IS the complete hash state — nothing drifts) and land it as the
    * `batch=<appendId>` directories. Exactly-once via the same
    * directory-existence ledger as [[ivfAppendCells]], with one extra
    * subtlety: an append lands TWO directories (rescore payloads under
    * `vectors/`, candidate signatures under `sigs/`), so payloads land
    * FIRST and the sigs rename publishes the append — a crash in between
    * leaves payload rows no candidate can reach (invisible, re-landed by
    * the replay) rather than candidates whose rescore join would silently
    * drop rows.
    */
  def lshAppendVectors(vectors: DataFrame, path: String, appendId: Long,
                       vecCol: String = "embedding"): Boolean = {
    require(appendId >= 1, "appendId 0 is the initial build")
    val spark = vectors.sparkSession
    BatchStore.land(LshStore, spark, path, appendId, "append") { fs =>
      val cfg = spark.read.parquet(s"$path/config").head()
      val (tables, bits, dim) = (cfg.getAs[Int]("tables"), cfg.getAs[Int]("bits"),
        cfg.getAs[Int]("dim"))
      val c = lshPrepped(vectors, dim, VecId, vecCol)
      // payloads first; the sigs publish is the commit marker
      BatchStore.publish(fs, s"$path/vectors", appendId)(
        c.write.mode("overwrite").parquet(_))
      BatchStore.publish(fs, s"$path/sigs", appendId)(
        lshSigs(c, lshPlanes(vectors, tables, bits, dim), VecId)
          .sortWithinPartitions("t", "bucket")
          .write.mode("overwrite").parquet(_))
    }
  }

  /** [[compactIvfIndex]] for the LSH index: collapse the accumulated
    * `batch=` directories of BOTH halves (signatures and payloads) into
    * single compacted trees, preserving rows, probe results, and the
    * append ledger (tombstone dirs) — see [[BatchStore.compact]] for the
    * staging/swap/tombstone contract. Returns the number of data dirs
    * compacted across the two halves (0 = nothing to do).
    */
  def compactLshIndex(spark: SparkSession, path: String): Int =
    BatchStore.compactStore(LshStore, spark, path, minor = false)

  /** [[compactIvfIndexMinor]] for the LSH store: debris-only merge of both
    * halves' appended batch dirs, `batch=0` bases untouched.
    */
  def compactLshIndexMinor(spark: SparkSession, path: String): Int =
    BatchStore.compactStore(LshStore, spark, path, minor = true)

  /** Probe-many half: hash ONLY the query set (tables rows per query, with
    * the geometry read from the stored config), candidate-join into the
    * stored signature partitions, and rescore exactly against the stored
    * vector payloads — no corpus-side signature recompute. Produces exactly
    * [[lshMultiTopKSearch]]'s rows for the stored (tables, bits) build (the
    * q117 gate hash-checks that equivalence).
    */
  def probeLshIndex(queries: DataFrame, path: String, k: Int,
                    vecCol: String = "embedding",
                    maxBucket: Int = Int.MaxValue): DataFrame = {
    val spark = queries.sparkSession
    val idCol = VecId
    // pending retirements filter BOTH halves logically (candidates and
    // rescore payloads) until full compaction applies them physically
    val Seq(sigs, vecs) = BatchStore.live(LshStore, spark, path, Seq("sigs", "vectors")).flatten
    // read-only .prev fallback: reindexLsh's config swap publishes a re-tune
    val fs = BatchStore.fs(spark, path)
    val cfg = spark.read.parquet(BatchStore.active(fs, s"$path/config")).head()
    val (tables, bits, dim) = (cfg.getAs[Int]("tables"), cfg.getAs[Int]("bits"),
      cfg.getAs[Int]("dim"))
    // partition columns come back as directory-inferred ints; restore the
    // build's longs so the join keys and output hash-match the in-memory
    // path
    val sigC = boundedBuckets(
      sigs.select(col(idCol), col("t").cast("long").as("t"),
        col("bucket").cast("long").as("bucket")),
      maxBucket)
    val cVec = vecs.select(col(idCol), col("v"), col("n"))
    val q = lshPrepped(queries, dim, idCol, vecCol)
    val sigQ = lshSigs(q, lshPlanes(queries, tables, bits, dim), idCol)
    val cand = sigQ.as("q").join(sigC.as("c"),
        col("q.t") === col("c.t") && col("q.bucket") === col("c.bucket") &&
          col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"))
      .distinct()
    val scored = cand
      .join(q.select(col(idCol).as("query_id"), col("v").as("qv"), col("n").as("qn")),
        Seq("query_id"))
      .join(cVec.select(col(idCol).as("neighbor_id"), col("v").as("cv"), col("n").as("cn")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(ndot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("sim"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
  }

  /** Drop corpus-side signature rows belonging to HOT buckets (> maxBucket
    * members within one (t, bucket)) — the [[graft.dedup.Dedup.minhashLshPairs]]
    * maxBucket treatment for the query-side searches: a degenerate embedding
    * batch (e.g. many near-zero vectors hashing identically in EVERY table)
    * otherwise makes per-query candidate volume O(corpus), the one unbounded
    * fan-out in the ANN family. Whole buckets drop (recall contract: such
    * buckets are hash pathologies, not neighbor structure — a bucket holding
    * 1% of the corpus carries no discrimination), and the drop is AUDITED,
    * never silent: [[lshSearchOverflow]] / [[lshIndexOverflow]] report
    * exactly which (t, bucket) a given cap excludes. The default cap is
    * unbounded — correctness gates mirror their oracle exactly; production
    * callers opt in.
    */
  private def boundedBuckets(sigs: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) sigs
    else sigs.join(
      sigs.groupBy(col("t"), col("bucket")).agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= maxBucket),
      Seq("t", "bucket"), "left_semi")

  /** Audit companion for [[lshMultiTopKSearch]]'s maxBucket: the corpus
    * buckets a given cap would drop, as (t, bucket, bucket_size). Empty
    * means the cap loses nothing on this corpus — the
    * [[graft.dedup.Dedup.minhashLshOverflow]] contract.
    */
  def lshSearchOverflow(corpus: DataFrame, bits: Int, tables: Int, dim: Int,
                        maxBucket: Int, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val c = lshPrepped(corpus, dim, idCol, vecCol)
    lshSigs(c, lshPlanes(corpus, tables, bits, dim), idCol)
      .groupBy(col("t"), col("bucket")).agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)
  }

  /** [[lshSearchOverflow]] against a PERSISTED index: audits the stored
    * signature partitions without re-signing anything.
    */
  def lshIndexOverflow(spark: SparkSession, path: String, maxBucket: Int): DataFrame = {
    val fs = BatchStore.fs(spark, path)
    spark.read.parquet(BatchStore.active(fs, s"$path/sigs"))
      .groupBy(col("t").cast("long").as("t"), col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)
  }

  /** A tuned multi-table LSH configuration: what [[lshTuneConfig]] returns
    * and [[lshMultiTopKSearch]] consumes.
    *
    * @param tables            independent hash tables (the recall knob)
    * @param bits              hyperplane bits per table (the cost knob)
    * @param sampleRecall      recall@k MEASURED on the tuning sample at
    *                          exactly (tables, bits) — not a model output
    * @param candidatesPerQuery tables * corpusSize / 2^bits (expected scan
    *                          volume per query before the exact rescore)
    */
  case class LshConfig(tables: Int, bits: Int, sampleRecall: Double,
                       candidatesPerQuery: Double)

  /** The (corpus size, target recall) -> (tables, bits) map the LSH knobs
    * were missing. Protocol, all on a deterministic query sample with
    * brute-force truth (`idCol < sampleQueries` — the q106-q114 gate
    * protocol):
    *
    *  1. measure single-table recall p at each bits setting and seed a
    *     table count from the amplification model recall(T) = 1-(1-p)^T,
    *     picking the bits whose modeled config costs the fewest candidates
    *     within `maxCandidatesPerQuery`;
    *  2. MEASURE recall at that seed config, then climb the table count
    *     (x1.5 steps) re-measuring until the measured value clears
    *     `targetRecall`, or the candidate budget / `maxTables` binds.
    *
    * Step 2 exists because the independence model OVERESTIMATES: table
    * misses correlate on exactly the hard pairs (a wide-angle neighbor is
    * missed by most random tables), so 1-(1-p)^T predicted 0.5 where a
    * real run measured 0.38 on the test embeddings. The returned
    * `sampleRecall` is therefore always a measured number at the returned
    * config; if the budget binds first, it is honest best-effort below
    * target. This is a TUNING utility, not a per-query path — a handful of
    * sampled searches once, offline (the tools/TuneLsh budget), whose
    * output configures the production [[lshMultiTopKSearch]].
    */
  def lshTuneConfig(vectors: DataFrame, k: Int, targetRecall: Double,
                    maxCandidatesPerQuery: Double, dim: Int,
                    minBits: Int = 4, maxBits: Int = 8, maxTables: Int = 64,
                    sampleQueries: Int = 100,
                    idCol: String = "vec_id", vecCol: String = "embedding"): LshConfig = {
    require(targetRecall > 0 && targetRecall < 1, "need 0 < targetRecall < 1")
    val n = vectors.count().toDouble
    val sample = vectors.filter(col(idCol) < sampleQueries)
    val brute = cosineTopK(vectors, sample, k)
      .select(col("query_id"), col("neighbor_id"))
    val nTruth = math.max(1L, brute.count())
    def measure(tables: Int, bits: Int): Double =
      lshMultiTopKSearch(vectors, sample, k, bits, tables, dim, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / nTruth
    def cost(tables: Int, bits: Int): Double = tables * n / math.pow(2.0, bits.toDouble)
    // step 1: model-seeded starting point per bits, cheapest in-budget wins
    val seeds = (minBits to maxBits).map { bits =>
      // clamp away 0/1 so the log model stays finite; p = 0 still yields
      // the max table count rather than a division blow-up
      val p = math.min(0.999, math.max(1e-6, measure(1, bits)))
      val t = math.min(maxTables.toDouble,
        math.ceil(math.log(1 - targetRecall) / math.log(1 - p))).toInt
      (t, bits)
    }
    val inBudget = seeds.filter { case (t, b) => cost(t, b) <= maxCandidatesPerQuery }
    val (t0, bits) =
      if (inBudget.nonEmpty) inBudget.minBy { case (t, b) => cost(t, b) }
      else seeds.minBy { case (t, b) => cost(t, b) }
    // step 2: measured climb at the chosen bits
    var t = math.max(1, t0)
    var r = measure(t, bits)
    var next = math.max(t + 1, math.ceil(t * 1.5).toInt)
    while (r < targetRecall && next <= maxTables &&
        cost(next, bits) <= maxCandidatesPerQuery) {
      t = next
      r = measure(t, bits)
      next = math.max(t + 1, math.ceil(t * 1.5).toInt)
    }
    LshConfig(t, bits, sampleRecall = r, candidatesPerQuery = cost(t, bits))
  }

  /** IVF-flat ANN (nprobe=1): the corpus is partitioned into cells by
    * nearest centroid (centroids = the first `numCentroids` vectors — a
    * deterministic seed choice; k-means iterations would slot in here), and
    * every vector searches only its own cell. The cell assignment is a
    * broadcast join against the tiny centroid set; the search join is
    * cell-local — at 100 TB this is the difference between an n^2 shuffle
    * and per-cell work proportional to n^2/numCells.
    */
  def ivfTopK(vectors: DataFrame, numCentroids: Int, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = vectors.select(col(idCol), col(vecCol).as("v"))
      .withColumn("n", sqrt(ndot(col("v"), col("v"))))
    val cent = b.filter(col(idCol) < numCentroids)
      .select(col(idCol).as("cid"), col("v").as("cv"), col("n").as("cn"))
    // argmax via max_by partial aggregation (tie -> least cid), not a sort
    // window: the (id x centroid) rows reduce map-side to one row per id
    // before any shuffle, where a window would shuffle-and-sort all of them
    val assigned = b.join(broadcast(cent))
      .withColumn("csim", round(ndot(col("v"), col("cv")) / (col("n") * col("cn")), 6))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("v"), col("n"), col("cid")),
        struct(col("csim"), (-col("cid")).as("nc"))).as("__best"))
      .select(col(idCol), col("__best.v").as("v"), col("__best.n").as("n"),
        col("__best.cid").as("cell"))
    val scored = assigned.as("q").join(assigned.as("c"),
        col("q.cell") === col("c.cell") && col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        col("q.cell").as("cell"),
        round(ndot(col("q.v"), col("c.v")) / (col("q.n") * col("c.n")), 6).as("sim"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
  }

  /** Lloyd assignment shared by [[ivfKmeansTopK]] and [[semanticDedup]]:
    * seed = first `numCentroids` vectors, then `iters` Lloyd iterations
    * (assign to nearest centroid, recompute centroids as the element-wise
    * mean of their cells), returning each vector's final cell as
    * (idCol, v, n, cell). Refinement balances the cells, which is what
    * bounds per-cell fan-out at scale — a seed centroid that captures half
    * the corpus makes that cell's downstream search quadratic again.
    *
    * Each iteration is two shuffles (assignment keeps only (id, cell);
    * the mean is one groupBy over exploded dimensions) and the centroid set
    * stays broadcast-sized throughout — so, per the standard MLlib k-means
    * pattern, each iteration COLLECTS the (<= numCentroids x dim) quantized
    * means to the driver and rebuilds the centroid set as a local relation:
    * plan depth and lineage stay O(1) per iteration instead of compounding
    * two shuffles each, making iters > 1 safe at scale. Centroid means
    * quantize each term to 1e-8 and sum as integers so the collected values
    * are identical regardless of partial-aggregation order (and match any
    * engine computing the same quantized mean — floating sums are
    * order-sensitive, integer sums are not). Inputs are widened to
    * `array<double>` once upfront so refined (double) centroids and corpus
    * vectors share one dot-product kernel.
    */
  def kmeansAssign(vectors: DataFrame, numCentroids: Int, iters: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignTo(prepped(vectors, idCol, vecCol),
      kmeansCentroids(vectors, numCentroids, iters, idCol, vecCol), idCol)

  /** Nearest-centroid assignment against a FROZEN centroid set — the
    * monitoring/serving half of [[kmeansAssign]] without the re-fit: the
    * q213 cell-drift monitor assigns two corpus snapshots to the SAME
    * centroids so population shift measures corpus movement, never
    * retraining noise. Same argmax, rounding, and tie order as the fit
    * path. Returns (idCol, v, n, cell).
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    assignTo(prepped(vectors, idCol, vecCol), centroids, idCol)

  /** Widened-input prep shared by the IVF family: (idCol, v: array<double>, n). */
  private def prepped(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("n", sqrt(ndot(col("v"), col("v"))))

  /** Nearest-centroid assignment: same max_by argmax shape as [[ivfTopK]] —
    * map-side reduction, no sort window; tie -> least cid.
    */
  private def assignTo(b: DataFrame, centroids: DataFrame, idCol: String): DataFrame =
    b.join(broadcast(centroids))
      .withColumn("csim", round(ndot(col("v"), col("cv")) / (col("n") * col("cn")), 6))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("v"), col("n"), col("cid")),
        struct(col("csim"), (-col("cid")).as("nc"))).as("__best"))
      .select(col(idCol), col("__best.v").as("v"), col("__best.n").as("n"),
        col("__best.cid").as("cell"))

  /** The refined centroid set after `iters` Lloyd rounds — the loop behind
    * [[kmeansAssign]] (see its scaladoc for the bounded driver-collect and
    * integer-sum quantization). Returns (cid, cv, cn), <= numCentroids rows.
    */
  def kmeansCentroids(vectors: DataFrame, numCentroids: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val b = prepped(vectors, idCol, vecCol)
    var cent = b.filter(col(idCol) < numCentroids)
      .select(col(idCol).cast("long").as("cid"), col("v").as("cv"), col("n").as("cn"))
    for (_ <- 0 until iters) {
      val means = assignTo(b, cent, idCol)
        .select(col("cell").as("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg((sum(floor(col("x") * 1e8)).cast("double") / count(lit(1)) / 1e8).as("m"))
        .collect()
      val centLocal = means.groupBy(_.getAs[Long]("cid")).toSeq
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("m")).toSeq)
        }
      cent = centLocal.toDF("cid", "cv")
        .withColumn("cn", sqrt(ndot(col("cv"), col("cv"))))
    }
    cent
  }

  /** Multi-probe IVF search — the standard IVF recall/cost knob. Corpus
    * vectors stay in their single nearest cell (the build is unchanged);
    * each QUERY additionally searches its `nprobe` nearest centroids'
    * cells, so search cost grows ~linearly in nprobe while recall climbs
    * toward brute force (nprobe = numCentroids IS brute force). Probe
    * selection uses the same rounded cosine and (csim desc, cid asc) total
    * order as assignment — deterministic and engine-mirrorable; the
    * top-nprobe pick is a bounded sort_array over the <= numCentroids
    * scored centroids inside one aggregation (map-side combinable, no
    * ranking window), and the query side fans out exactly nprobe rows.
    * A (query, neighbor) pair can't duplicate: the neighbor has ONE cell,
    * so at most one probe row matches it. Output: same as [[ivfTopK]].
    */
  def ivfKmeansTopKProbed(vectors: DataFrame, numCentroids: Int, iters: Int, k: Int,
                          nprobe: Int, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCentroids, "need 1 <= nprobe <= numCentroids")
    val b = prepped(vectors, idCol, vecCol)
    val cent = kmeansCentroids(vectors, numCentroids, iters, idCol, vecCol)
    // ONE corpus x broadcast(centroids) scoring pass feeds both sides: the
    // assignment is by construction probe rank 1 (element 1 of the sorted
    // take), so the corpus side needs no second assignTo scan. Like the
    // ivfTopK/q52 self-join, the two consumers of `topCells` compile as two
    // subtrees — at production scale, land the assignment table in the
    // store once and search from it.
    val topCells = b.join(broadcast(cent))
      .withColumn("csim", round(ndot(col("v"), col("cv")) / (col("n") * col("cn")), 6))
      .groupBy(col(idCol))
      // first() is order-stable here: v and n are copied unchanged onto
      // every scored-centroid row of the group
      .agg(first(col("v")).as("v"), first(col("n")).as("n"),
        slice(sort_array(collect_list(
          struct(col("csim"), (-col("cid")).as("nc"), col("cid"))), asc = false),
          1, nprobe).as("__p"))
    val assigned = topCells.select(col(idCol), col("v"), col("n"),
      element_at(col("__p.cid"), 1).as("cell"))
    val probes = topCells
      .select(col(idCol), col("v"), col("n"), explode(col("__p.cid")).as("cell"))
    val scored = probes.as("q").join(assigned.as("c"),
        col("q.cell") === col("c.cell") && col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        col("q.cell").as("cell"),
        round(ndot(col("q.v"), col("c.v")) / (col("q.n") * col("c.n")), 6).as("sim"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
  }

  /** Build-once half of the persisted IVF index: fit the k-means structure
    * ([[kmeansCentroids]]' Lloyd loop — the expensive part) and land BOTH
    * halves of the index in parquet under `path`:
    *
    *  - `centroids/` — (cid, cv, cn), <= numCentroids rows;
    *  - `cells/` — (idCol, v, n, cell), the corpus with its final cell
    *    assignment, PARTITIONED BY cell (one directory + one file per cell
    *    via a pre-write repartition on the partition column).
    *
    * Per-cell directories are what make the probe side scale: a probe
    * touches `nprobe` cells, and the cell-equijoin against a broadcast
    * probe set triggers dynamic partition pruning, so only the probed
    * cells' files are READ — at 100 TB the unprobed bulk of the index
    * costs zero I/O. This is the compute-once/read-many treatment the
    * reference applies to forecasts (`backend/app/services/forecast.py:
    * 95-107`: persist results, re-read on every GET) applied to the ANN
    * structure: the Lloyd refits that q42/q52/q107 pay per query become a
    * batch build, and [[probeIvfIndex]] is the hot path.
    */
  def buildIvfIndex(vectors: DataFrame, numCentroids: Int, iters: Int, path: String,
                    vecCol: String = "embedding"): Unit =
    // lock + build marker: see [[buildPqIndex]]
    BatchStore.build(IvfStore, vectors.sparkSession, path) { fs =>
      val cent = kmeansCentroids(vectors, numCentroids, iters, VecId, vecCol)
      cent.write.mode("overwrite").parquet(s"$path/centroids")
      // cells nest one more partition level (batch=<append id>/cell=<cell>)
      // so [[ivfAppendCells]] can land increments as whole directories; a
      // REBUILD must clear prior appends, not just batch=0, hence the delete
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/cells"), true)
      assignTo(prepped(vectors, VecId, vecCol), cent, VecId)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells/batch=0")
    }

  /** Append-half of the persisted IVF index for a GROWING corpus: assign a
    * batch of NEW vectors to the STORED centroids — no Lloyd refit; the
    * index geometry is fixed at build time and drift correction is a batch
    * re-index, exactly how production IVF deployments behave — and land
    * them as the `cells/batch=<appendId>` partition directory. Exactly-once
    * without a ledger file: the batch directory's EXISTENCE is the ledger
    * (returns false and does nothing when it already exists), the write
    * stages into a dot-prefixed dir Spark's partition discovery ignores,
    * and one checked rename publishes it atomically. Replays after a crash
    * therefore re-stage and re-publish with no double counting, and
    * [[probeIvfIndex]] sees every published batch with zero changes — the
    * `batch` column is simply never selected.
    */
  def ivfAppendCells(vectors: DataFrame, path: String, appendId: Long,
                     vecCol: String = "embedding"): Boolean = {
    require(appendId >= 1, "appendId 0 is the initial build")
    val spark = vectors.sparkSession
    BatchStore.land(IvfStore, spark, path, appendId, "append") { fs =>
      val cent = spark.read.parquet(s"$path/centroids")
      BatchStore.publish(fs, s"$path/cells", appendId)(
        assignTo(prepped(vectors, VecId, vecCol), cent, VecId)
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(_))
    }
  }

  /** Retirement ledger of a row-store index family (IVF cells, LSH
    * sigs/vectors, PQ codes/vectors) — [[graft.streaming.StreamingPipeline
    * .retireMinhashStore]]'s treatment generalized to the ANN stores,
    * which face the same moving-corpus problem: a crawl delta removes or
    * revises documents whose vectors the store already holds. Rows are
    * per-vector (not additive counts), so retirement is a ledgered
    * tombstone batch: the departing ids land under
    * `retired/batch=<retireId>` as a single `rid` column, and every
    * reader applies [[BatchStore.alive]]'s ordering rule. Nothing in the
    * store's data halves is touched — cost ∝ the retired slice.
    * `retireId` must exceed every published data batch id, and re-appends
    * of a changed vector must use a later id still (the delta cycle's
    * natural monotone numbering) — that strictly-greater rule is what
    * lets a retired id resurrect with its new vector. Exactly-once via
    * the same dir-existence ledger as the appenders (returns false on a
    * replay). Only the family's FULL compaction applies retirements
    * physically and blanks the ledger; minor compaction and reindex
    * preserve it (their merged rows land at the max data id, which the
    * strictly-greater rule makes immune to the still-pending ids).
    */
  def retireIvfVectors(spark: SparkSession, path: String, retiredIds: DataFrame,
                       retireId: Long): Boolean =
    BatchStore.retire(IvfStore, spark, path, retiredIds, retireId)

  def retireLshVectors(spark: SparkSession, path: String, retiredIds: DataFrame,
                       retireId: Long): Boolean =
    BatchStore.retire(LshStore, spark, path, retiredIds, retireId)

  def retirePqVectors(spark: SparkSession, path: String, retiredIds: DataFrame,
                      retireId: Long): Boolean =
    BatchStore.retire(PqStore, spark, path, retiredIds, retireId)

  /** Batch re-index of a persisted IVF store — the documented drift answer
    * for [[ivfAppendCells]]' frozen-centroid appends: refit the k-means
    * structure FROM THE STORED PAYLOADS (no re-read of the source corpus —
    * the store's `v` arrays are exactly the widened doubles a fresh build
    * would derive, so the refit is bit-identical to
    * [[buildIvfIndex]] over the same vectors with the same parameters),
    * stage complete replacement `centroids/` and `cells/` trees, and land
    * each via the [[BatchStore.swap]] two-rename `.prev` swap. The
    * append LEDGER survives: every previously-published batch id is left
    * behind as an empty tombstone, so replays of merged batches stay
    * refused. The two halves swap one after the other — not jointly
    * atomic; like compaction this is a single-maintainer maintenance job
    * to run between probes, and [[BatchStore.recover]]/the probes' `.prev`
    * fallbacks heal a crash inside either window. Returns the number of
    * vectors re-indexed.
    */
  def reindexIvf(spark: SparkSession, path: String, numCentroids: Int,
                 iters: Int): Long =
    BatchStore.maintain(IvfStore, spark, path, "reindex") { fs =>
      // pending retirements: the refit reads LIVE rows only, and the
      // reassigned corpus lands at the max data id so the preserved ledger
      // (reindex never blanks it — that is full compaction's job) cannot
      // kill the re-landed rows. With none pending this is the batch=0 base.
      val Seq(live) = BatchStore.live(IvfStore, spark, path, Seq("cells")).flatten
      val stored = live.select(col(VecId), col("v"))
      val n = stored.count()
      val cent = kmeansCentroids(stored, numCentroids, iters, VecId, "v")
      val assigned = assignTo(prepped(stored, VecId, "v"), cent, VecId)
      val stagingCells = restage(fs, path, "cells") { (st, baseId) =>
        assigned.repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$st/batch=$baseId")
      }
      val stagingCent = BatchStore.stage(fs, s"$path/centroids", "reindex")(
        cent.write.mode("overwrite").parquet(_))
      // cells first, then the (broadcast-sized) centroids — both windows are
      // covered by the read-side fallbacks
      BatchStore.swap(fs, stagingCells, s"$path/cells")
      BatchStore.swap(fs, stagingCent, s"$path/centroids")
      n
    }

  /** Stage a reindex's replacement of a batch half: `write` lands
    * the live rows at the base id — the max data id while retirements are
    * pending (they stay in the ledger, which must not kill the re-landed
    * rows), else 0 — and every published id stays a tombstone.
    */
  private def restage(fs: org.apache.hadoop.fs.FileSystem, path: String, half: String)
                     (write: (String, Long) => Unit): org.apache.hadoop.fs.Path = {
    val dir = s"$path/$half"
    val allIds = BatchStore.batchIds(fs, dir)
    val dataIds = BatchStore.dataIds(fs, dir)
    val pending = BatchStore.dataIds(fs, s"$path/retired").nonEmpty
    val baseId = if (pending && dataIds.nonEmpty) dataIds.max else 0L
    BatchStore.stage(fs, dir, "reindex") { st =>
      write(st, baseId)
      BatchStore.stageLedger(fs, dir, st, allIds, baseId, vacuumLedger = false)
    }
  }

  /** Batch re-tune of a persisted LSH index — [[reindexIvf]] for the
    * hyperplane family, except nothing is "fit": signatures are pure
    * integer-hash functions of (t, j, d), so re-tuning to a NEW
    * (tables, bits) geometry (e.g. the [[lshTuneConfig]] answer after the
    * corpus grew) is a deterministic re-sign of the stored payloads. The
    * `vectors/` half is geometry-independent and is NOT rewritten — only
    * `sigs/` is restaged (one `batch=0` tree plus a tombstone per
    * previously-published append id, so replays of merged batches stay
    * refused) and `config` swaps after it, pinning the new geometry for
    * probes and appends. The two swaps are not jointly atomic: a crash in
    * between leaves new-geometry signatures under an old-geometry config,
    * which a probe would answer near-empty (geometry mismatch finds no
    * collisions — wrong, but loud, and nothing is lost). RECOVERY IS
    * RE-RUNNING THE JOB: every output is a deterministic function of the
    * untouched payload half, so the re-run re-stages both and converges —
    * the same single-maintainer, run-between-probes contract as
    * compaction and [[reindexIvf]]. Returns the number of vectors
    * re-signed.
    */
  def reindexLsh(spark: SparkSession, path: String, tables: Int, bits: Int): Long =
    BatchStore.maintain(LshStore, spark, path, "reindex") { fs =>
      val dim = spark.read.parquet(s"$path/config").head().getAs[Int]("dim")
      // the stored payloads ARE the prepped (vec_id, v, n) rows a fresh build
      // would derive — re-sign them directly, no source-corpus re-read.
      // Pending retirements: only LIVE payloads re-sign, and the new sigs
      // land at the max data id (reindexIvf's note — the vectors half keeps
      // its dead rows + the ledger, so probes keep filtering them until a
      // full compaction applies-and-blanks).
      val Seq(live) = BatchStore.live(LshStore, spark, path, Seq("vectors")).flatten
      val c = live.select(col(VecId), col("v"), col("n"))
      val n = c.count()
      val stagingSigs = restage(fs, path, "sigs") { (st, baseId) =>
        lshSigs(c, lshPlanes(c, tables, bits, dim), VecId)
          .sortWithinPartitions("t", "bucket")
          .write.mode("overwrite").parquet(s"$st/batch=$baseId")
      }
      import spark.implicits._
      val stagingCfg = BatchStore.stage(fs, s"$path/config", "reindex")(
        Seq((tables, bits, dim)).toDF("tables", "bits", "dim")
          .coalesce(1).write.mode("overwrite").parquet(_))
      // sigs first, then the 1-row config that publishes the new geometry
      BatchStore.swap(fs, stagingSigs, s"$path/sigs")
      BatchStore.swap(fs, stagingCfg, s"$path/config")
      n
    }

  /** Maintenance half of the persisted IVF index: collapse the accumulated
    * `cells/batch=<id>` append directories into a single compacted
    * `batch=0`. Why this exists: every append lands one file per touched
    * cell, so after B appends a probe of one cell opens up to B small files
    * — the classic small-files decay of any append-only store; compaction
    * restores the one-file-per-cell read path the initial build had.
    * Rows are preserved exactly ([[probeIvfIndex]] results are
    * bit-identical before/after — the spec asserts it) and the
    * EXACTLY-ONCE ledger survives: every previously-published append id is
    * left behind as an EMPTY `batch=<id>` tombstone directory, so
    * [[ivfAppendCells]]'s existence check still refuses replays of merged
    * batches (parquet readers ignore file-less directories, so tombstones
    * cost nothing at probe time). The rewritten tree stages complete under
    * a dot-prefixed dir, then lands via the same two-rename swap as the
    * sketch stores — [[probeIvfIndex]] falls back to `cells.prev` inside
    * the window, and [[BatchStore.recover]] heals a crash between the renames.
    * Single-maintainer contract as with all the stores — and since round 9
    * it is CHECKED, not assumed: every append/compact/reindex entry point
    * holds the store's [[graft.store.MaintenanceLock]], so a concurrent
    * maintainer refuses loudly instead of racing the staging swaps.
    * Returns the number of data-bearing batch directories compacted
    * (0 = nothing to do).
    */
  def compactIvfIndex(spark: SparkSession, path: String): Int =
    // pending retirements apply physically here (and only here): dead
    // rows drop, the merged base lands at the MAX data id so a crash
    // mid-blank leaves the leftover retirement ids harmless, and the
    // ledger blanks to tombstones — the compactMinhashStore contract
    BatchStore.compactStore(IvfStore, spark, path, minor = false)

  /** [[BatchStore.compactMinor]] for the IVF store's cells half: merge the
    * append debris only, never touching the `batch=0` base — per-cycle
    * maintenance whose cost tracks the appends since the last cycle, with
    * [[compactIvfIndex]] as the occasional full fold. Probe results are
    * row-identical before and after (rows are only re-grouped), and the
    * append ledger's tombstones keep replays refused.
    */
  def compactIvfIndexMinor(spark: SparkSession, path: String): Int =
    BatchStore.compactStore(IvfStore, spark, path, minor = true)

  /** Probe-many half of the persisted IVF index: NO Lloyd recompute and no
    * aggregation over the stored corpus — the index is scanned as-is and
    * only the QUERY side does any work (score against the <= numCentroids
    * stored centroids, pick its `nprobe` nearest cells, then a cell-local
    * join into the stored assignments). Produces exactly
    * [[ivfKmeansTopKProbed]]'s rows for the same (numCentroids, iters,
    * nprobe) build — the q112 gate hash-checks that equivalence against
    * q107 — but its plan reads two parquet scans instead of refitting:
    * probing is O(queries x centroids + probed-cell volume).
    */
  def probeIvfIndex(queries: DataFrame, path: String, k: Int, nprobe: Int,
                    vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val idCol = VecId
    require(nprobe >= 1, "need nprobe >= 1")
    // a crashed (re)build or MINOR compaction leaves a tree a read-only
    // probe cannot heal — live refuses it loudly; pending retirements
    // (delta-driven maintenance) filter logically here until the next
    // full compaction applies them physically
    val Seq(cells) = BatchStore.live(IvfStore, spark, path, Seq("cells")).flatten
    // read-only .prev fallbacks cover the windows between compactIvfIndex's
    // / reindexIvf's two renames (and a crash inside) without mutating
    val cent = spark.read.parquet(BatchStore.active(BatchStore.fs(spark, path), s"$path/centroids"))
    // the partition column comes back as the inferred directory type (int);
    // restore the build's long so q112 hash-matches q107's cell column
    val idx = cells
      .select(col(idCol), col("v"), col("n"), col("cell").cast("long").as("cell"))
    val q = prepped(queries, idCol, vecCol)
    val topCells = q.join(broadcast(cent))
      .withColumn("csim", round(ndot(col("v"), col("cv")) / (col("n") * col("cn")), 6))
      .groupBy(col(idCol))
      .agg(first(col("v")).as("v"), first(col("n")).as("n"),
        slice(sort_array(collect_list(
          struct(col("csim"), (-col("cid")).as("nc"), col("cid"))), asc = false),
          1, nprobe).as("__p"))
    val probes = topCells
      .select(col(idCol), col("v"), col("n"), explode(col("__p.cid")).as("cell"))
    val scored = probes.as("q").join(idx.as("c"),
        col("q.cell") === col("c.cell") && col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        col("q.cell").as("cell"),
        round(ndot(col("q.v"), col("c.v")) / (col("q.n") * col("c.n")), 6).as("sim"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
  }

  /** SemDeDup-style semantic dedup: k-means cells are the semantic blocks,
    * and within each cell every cosine >= threshold pair collapses to its
    * smallest id — a document is `kept` iff no near-duplicate with a
    * smaller id shares its cell (deterministic, no transitive chase; the
    * pairwise rule is what the SemDeDup recipe applies per cluster).
    *
    * Scale: the pair join is CELL-LOCAL (the whole point of clustering
    * first), so fan-out is bounded by the largest refined cell, and Lloyd
    * refinement is what keeps cells balanced; the dedup verdict itself is
    * one aggregation over the surviving pairs. Output:
    * (idCol, cell, n_dups, kept) — n_dups counts same-cell near-duplicates.
    */
  def semanticDedup(vectors: DataFrame, numCentroids: Int, iters: Int, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = kmeansAssign(vectors, numCentroids, iters, idCol, vecCol)
    val dups = assigned.as("q").join(assigned.as("c"),
        col("q.cell") === col("c.cell") && col(s"q.$idCol") =!= col(s"c.$idCol"))
      .withColumn("sim", round(ndot(col("q.v"), col("c.v")) / (col("q.n") * col("c.n")), 6))
      .filter(col("sim") >= threshold)
      .groupBy(col(s"q.$idCol").as(idCol))
      .agg(count(lit(1)).as("n_dups"), min(col(s"c.$idCol")).as("min_dup_id"))
    assigned.select(col(idCol), col("cell"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("min_dup_id"), col(idCol) + 1) > col(idCol)).as("kept"))
  }

  /** IVF with k-means-refined centroids: [[kmeansAssign]] picks each
    * vector's cell (see its scaladoc for the bounded driver-collect pattern
    * and the integer-sum quantization that keeps the means engine-exact),
    * then the same cell-local top-k cosine search as [[ivfTopK]].
    */
  def ivfKmeansTopK(vectors: DataFrame, numCentroids: Int, iters: Int, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = kmeansAssign(vectors, numCentroids, iters, idCol, vecCol)
    val scored = assigned.as("q").join(assigned.as("c"),
        col("q.cell") === col("c.cell") && col(s"q.$idCol") =!= col(s"c.$idCol"))
      .select(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("neighbor_id"),
        col("q.cell").as("cell"),
        round(ndot(col("q.v"), col("c.v")) / (col("q.n") * col("c.n")), 6).as("sim"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
  }

  /** Per-vector symmetric int8 quantization: scale = 127 / max|x| (floored
    * at 1e-12 so zero vectors quantize to zeros), values round half-up via
    * `floor(x*scale + 0.5)` — pure floor arithmetic, so the quantized codes
    * are identical on any engine computing the same expression (`round`'s
    * half-handling is NOT cross-engine stable). This is the storage/compute
    * compression path for ANN at scale: 4x smaller than float32, and dot
    * products on int8 codes stay in integer SIMD.
    * Output: (idCol, dim (1-based), q8).
    */
  def quantizeInt8(vectors: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    vectors.select(col(idCol), v.as("__v"))
      .withColumn("__m", greatest(array_max(transform(col("__v"), x => abs(x))), lit(1e-12)))
      .select(col(idCol), col("__m"), posexplode(col("__v")).as(Seq("__d0", "__x")))
      .select(col(idCol), (col("__d0") + 1).as("dim"),
        floor(col("__x") * 127.0 / col("__m") + 0.5).cast("int").as("q8"))
  }

  /** Embedding-cosine near-dup pairs, blocked by a partition column (e.g. a
    * cluster label or LSH bucket) so the pair join is per-block, not global.
    */
  def cosinePairs(vectors: DataFrame, blockCol: String, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = vectors.select(col(idCol), col(blockCol).as("block"), col(vecCol).as("v"))
      .withColumn("n", sqrt(ndot(col("v"), col("v"))))
    b.as("a").join(b.as("b"),
        col("a.block") === col("b.block") && col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("sim", round(ndot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")), 6))
      .filter(col("sim") >= threshold)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), col("sim"))
  }

  // ===== Product quantization (the ANN *compression* path: PQ codes are
  // m small ints per vector — 16-64x smaller than float32 — and ADC scores
  // candidates from a per-query lookup table without touching the original
  // vectors; composes with IVF cell pruning the way IVF-PQ engines do) ====

  /** The (idCol, s, v: subvector, n) long frame carrying all `m` subspace
    * problems of the PQ family at once — one corpus pass serves every
    * subspace, instead of m sequential jobs.
    */
  private def pqSubvectors(vectors: DataFrame, m: Int, sub: Int,
                           idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("s"), col("__v"))
      .select(col(idCol), col("s"),
        slice(col("__v"), col("s") * sub + lit(1), lit(sub)).as("v"))
      .withColumn("n", sqrt(ndot(col("v"), col("v"))))

  /** PQ codebooks: split each `dim`-vector into `m` contiguous subvectors
    * (dim/m each) and fit an INDEPENDENT codebook of `k` codewords per
    * subspace — the same deterministic spherical Lloyd as the IVF family
    * (quantized integer-sum means, `vec_id < k` seeding, cosine argmax
    * with round-6 and least-cid ties), applied to the subvector slice.
    * All m fits advance together: each Lloyd iteration is ONE corpus pass
    * over the s-keyed subvector frame (a broadcast hash join on s + one
    * aggregation), not m sequential jobs — per-iteration cost is
    * independent of m, and the bounded driver collect is m*k*(dim/m) =
    * k*dim doubles. m*k rows total — broadcast-sized at any corpus
    * scale. Output: (s, cid, cv, cn).
    */
  def pqCodebooks(vectors: DataFrame, m: Int, k: Int, iters: Int, dim: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"need dim ($dim) divisible by m ($m)")
    val spark = vectors.sparkSession
    import spark.implicits._
    val subs = pqSubvectors(vectors, m, dim / m, idCol, vecCol)
    var cent = subs.filter(col(idCol) < k)
      .select(col("s"), col(idCol).cast("long").as("cid"),
        col("v").as("cv"), col("n").as("cn"))
    for (_ <- 0 until iters) {
      val means = subs.join(broadcast(cent), "s")
        .withColumn("csim", round(ndot(col("v"), col("cv")) / (col("n") * col("cn")), 6))
        .groupBy(col("s"), col(idCol))
        .agg(max_by(struct(col("v"), col("cid")),
          struct(col("csim"), (-col("cid")).as("nc"))).as("__best"))
        .select(col("s"), col("__best.cid").as("cid"),
          posexplode(col("__best.v")).as(Seq("dim", "x")))
        .groupBy(col("s"), col("cid"), col("dim"))
        .agg((sum(floor(col("x") * 1e8)).cast("double") / count(lit(1)) / 1e8).as("m"))
        .collect()
      val centLocal = means.groupBy(r => (r.getAs[Int]("s"), r.getAs[Long]("cid"))).toSeq
        .map { case ((s, cid), rows) =>
          (s, cid, rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("m")).toSeq)
        }
      cent = centLocal.toDF("s", "cid", "cv")
        .withColumn("cn", sqrt(ndot(col("cv"), col("cv"))))
    }
    cent.select(col("s"), col("cid"), col("cv"), col("cn"))
  }

  /** PQ encoding: each vector's s-th subvector -> its nearest codeword in
    * subspace s (assignTo's exact total order: rounded cosine desc, least
    * cid on ties). LONG form (idCol, s, code) — m rows per vector, the
    * compressed corpus representation ADC scores against. One corpus pass
    * for all m subspaces: broadcast-join the s-keyed subvector frame with
    * the codebooks, argmax per (vector, s) map-side.
    */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame, m: Int, dim: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"need dim ($dim) divisible by m ($m)")
    pqSubvectors(vectors, m, dim / m, idCol, vecCol)
      .join(broadcast(codebooks), "s")
      .withColumn("csim", round(ndot(col("v"), col("cv")) / (col("n") * col("cn")), 6))
      .groupBy(col(idCol), col("s"))
      .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("nc"))).as("code"))
      .select(col(idCol), col("s"), col("code"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query side builds a
    * (query, s, code) -> partial-dot lookup table against the broadcast
    * codebooks (queries x m x k rows — tiny), the corpus side is ONLY its
    * codes (never the original vectors), and each candidate's approximate
    * cosine is the LUT-sum divided by |q| times the RECONSTRUCTED corpus
    * norm (sqrt of the summed codeword norm-squares). Partials are
    * integer-quantized (floor x 1e8 longs) BEFORE summing so the per-pair
    * sums are addition-order-independent — the same exactness discipline
    * as the Lloyd means — which is what lets a SQL oracle reproduce the
    * ranking bit-for-bit. Scale: the scoring join streams N x m code rows
    * against a broadcast LUT with map-side partial aggregation; nothing
    * shuffles but (query, candidate) partial sums.
    * Output: (query_id, neighbor_id, rank, sim) — [[cosineTopK]]'s shape,
    * with sim the PQ-approximate cosine.
    */
  /** The per-(query, s, code) ADC lookup table: integer-quantized partial
    * dots of each query subvector against every codeword, plus the
    * codeword's quantized norm-square. queries x m x k rows — broadcast
    * material whenever the query batch is bounded.
    */
  private def pqLut(queries: DataFrame, codebooks: DataFrame, sub: Int,
                    idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(ndot(col("qv"), col("qv"))))
      .crossJoin(codebooks)
      .select(col("query_id"), col("qn"), col("s").as("ls"), col("cid").as("lcid"),
        floor(ndot(slice(col("qv"), col("s") * sub + lit(1), lit(sub)), col("cv")) * 1e8)
          .cast("long").as("pdot"),
        floor(col("cn") * col("cn") * 1e8).cast("long").as("pn2"))

  def pqAdcTopK(corpusCodes: DataFrame, codebooks: DataFrame, queries: DataFrame,
                k: Int, m: Int, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"need dim ($dim) divisible by m ($m)")
    val lut = pqLut(queries, codebooks, dim / m, idCol, vecCol)
    corpusCodes
      .join(broadcast(lut), col("s") === col("ls") && col("code") === col("lcid"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("pdot")).as("sdot"), sum(col("pn2")).as("sn2"), max(col("qn")).as("qn"))
      .withColumn("sim",
        round((col("sdot") / 1e8) / (col("qn") * sqrt(col("sn2") / 1e8)), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("rank"), col("sim"))
  }

  /** Build-once half of the persisted PQ index — the store treatment every
    * trained structure here gets. Lands four parts under `path`:
    * `codebooks/` (s, cid, cv, cn — m*k rows), `config/` (1-row m/k/dim
    * geometry, the LSH-store pattern), `codes/batch=0` (the compressed
    * corpus: m small ints per vector), and `vectors/batch=0` (the prepped
    * payloads a future re-fit would need — the LSH payload-half pattern).
    * Probes read codes + codebooks only.
    */
  def buildPqIndex(vectors: DataFrame, m: Int, k: Int, iters: Int, path: String,
                   dim: Int = 64, vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // the store-wide lock serializes the long Lloyd fit against concurrent
    // appenders (an append encoded against the OLD codebooks landing after
    // the rebuild would silently mix codeword generations); the build
    // marker turns a crash mid-rebuild into a loud refusal downstream
    BatchStore.build(PqStore, spark, path) { fs =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors"), true)
      val cb = pqCodebooks(vectors, m, k, iters, dim, VecId, vecCol)
      prepped(vectors, VecId, vecCol)
        .write.mode("overwrite").parquet(s"$path/vectors/batch=0")
      cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
      Seq((m, k, dim)).toDF("m", "k", "dim")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/config")
      pqEncode(vectors, cb, m, dim, VecId, vecCol)
        .write.mode("overwrite").parquet(s"$path/codes/batch=0")
    }
  }

  /** Incremental half: encode a new batch against the STORED (frozen)
    * codebooks and publish it exactly-once — payloads land first, the
    * `codes/batch=<id>` rename is the commit marker (the lshAppendVectors
    * two-dir publish order, for the same reason: a crash in between
    * leaves unreachable payload rows, not codes that can't rescore).
    */
  def pqAppendVectors(vectors: DataFrame, path: String, appendId: Long,
                      vecCol: String = "embedding"): Boolean = {
    require(appendId >= 1, "appendId 0 is the initial build")
    val spark = vectors.sparkSession
    BatchStore.land(PqStore, spark, path, appendId, "append") { fs =>
      val cfg = spark.read.parquet(BatchStore.active(fs, s"$path/config")).head()
      val (m, dim) = (cfg.getAs[Int]("m"), cfg.getAs[Int]("dim"))
      val cb = spark.read.parquet(BatchStore.active(fs, s"$path/codebooks"))
      BatchStore.publish(fs, s"$path/vectors", appendId)(
        prepped(vectors, VecId, vecCol).write.mode("overwrite").parquet(_))
      BatchStore.publish(fs, s"$path/codes", appendId)(
        pqEncode(vectors, cb, m, dim, VecId, vecCol).write.mode("overwrite").parquet(_))
    }
  }

  /** [[compactIvfIndex]] for the PQ store: collapse both halves' `batch=`
    * dirs (rows, probe results, and the append ledger preserved).
    */
  def compactPqIndex(spark: SparkSession, path: String): Int =
    // retirements apply physically to BOTH halves (compactIvfIndex note)
    BatchStore.compactStore(PqStore, spark, path, minor = false)

  /** [[compactIvfIndexMinor]] for the PQ store: debris-only merge of both
    * halves' appended batch dirs, `batch=0` bases untouched.
    */
  def compactPqIndexMinor(spark: SparkSession, path: String): Int =
    BatchStore.compactStore(PqStore, spark, path, minor = true)

  /** Probe-many half: ADC top-k from the STORED codes and codebooks — the
    * original vectors are never read; the only per-query work is the
    * m*k-row LUT. `.prev`-aware reads cover the compaction swap window.
    */
  def probePqIndex(queries: DataFrame, path: String, k: Int,
                   vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    // pending retirements filter the candidate codes logically until full
    // compaction applies them (the vectors half is not read by ADC probes,
    // so neither is it guarded)
    val Seq(codes) = BatchStore.live(PqStore, spark, path, Seq("codes")).flatten
    val fs = BatchStore.fs(spark, path)
    val cfg = spark.read.parquet(BatchStore.active(fs, s"$path/config")).head()
    val (m, dim) = (cfg.getAs[Int]("m"), cfg.getAs[Int]("dim"))
    val cb = spark.read.parquet(BatchStore.active(fs, s"$path/codebooks"))
    pqAdcTopK(codes.select(col(VecId), col("s"), col("code")), cb, queries, k, m, dim,
      VecId, vecCol)
  }

  /** IVF-PQ search — the composition large-scale ANN engines actually run:
    * IVF cell pruning bounds WHICH candidates are scored (each query
    * touches its `nprobe` nearest cells, never the whole corpus) and PQ/ADC
    * bounds WHAT scoring reads (m small ints per candidate + a broadcast
    * lookup table, never the original vectors). The corpus-side artifacts
    * — cell assignments, codebooks, codes — are all build-once structures;
    * at production scale they live in the persisted-index stores and the
    * codes table is co-partitioned with the cells so the candidate join is
    * cell-local. Probe selection uses [[ivfKmeansTopKProbed]]'s exact
    * total order; scoring uses [[pqAdcTopK]]'s integer-quantized partials.
    * Output: (query_id, neighbor_id, cell, rank, sim) — q107's shape with
    * sim the PQ-approximate cosine.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, numCentroids: Int, iters: Int,
                m: Int, codebookK: Int, pqIters: Int, k: Int, nprobe: Int,
                dim: Int = 64, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCentroids, "need 1 <= nprobe <= numCentroids")
    require(m >= 1 && dim % m == 0, s"need dim ($dim) divisible by m ($m)")
    val cent = kmeansCentroids(corpus, numCentroids, iters, idCol, vecCol)
    val assigned = assignTo(prepped(corpus, idCol, vecCol), cent, idCol)
      .select(col(idCol), col("cell"))
    val cb = pqCodebooks(corpus, m, codebookK, pqIters, dim, idCol, vecCol)
    val codes = pqEncode(corpus, cb, m, dim, idCol, vecCol)
    ivfPqSearchCore(cent, assigned, cb, codes, queries, k, nprobe, m, dim,
      idCol, vecCol)
  }

  /** The ONE query-side IVF-PQ pipeline behind [[ivfPqTopK]] (in-memory)
    * and [[ivfPqProbeStores]] (from artifacts): nprobe cell selection with
    * the exact assignment total order (the ivfKmeansTopKProbed bounded
    * sorted-take, no ranking window), cell-local candidates, and the
    * integer-quantized ADC scoring tail. Both callers' gates (q133/q151)
    * assume bit-identical rankings, so the tie-breaks and rounding live
    * here exactly once.
    */
  private def ivfPqSearchCore(cent: DataFrame, assigned: DataFrame, cb: DataFrame,
                              codes: DataFrame, queries: DataFrame, k: Int,
                              nprobe: Int, m: Int, dim: Int, idCol: String,
                              vecCol: String): DataFrame = {
    val probes = prepped(queries, idCol, vecCol).join(broadcast(cent))
      .withColumn("csim", round(ndot(col("v"), col("cv")) / (col("n") * col("cn")), 6))
      .groupBy(col(idCol))
      .agg(slice(sort_array(collect_list(
        struct(col("csim"), (-col("cid")).as("nc"), col("cid"))), asc = false),
        1, nprobe).as("__p"))
      .select(col(idCol).as("query_id"), explode(col("__p.cid")).as("cell"))
    // candidates are cell-local; a neighbor has ONE cell so a (query,
    // neighbor) pair cannot duplicate across probes
    val cand = probes.join(assigned.withColumnRenamed(idCol, "neighbor_id"), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
    val lut = pqLut(queries, cb, dim / m, idCol, vecCol)
    cand.join(codes.withColumnRenamed(idCol, "neighbor_id"), "neighbor_id")
      .join(broadcast(lut.withColumnRenamed("query_id", "lqid")),
        col("query_id") === col("lqid") &&
          col("s") === col("ls") && col("code") === col("lcid"))
      .groupBy(col("query_id"), col("neighbor_id"), col("cell"))
      .agg(sum(col("pdot")).as("sdot"), sum(col("pn2")).as("sn2"), max(col("qn")).as("qn"))
      .withColumn("sim",
        round((col("sdot") / 1e8) / (col("qn") * sqrt(col("sn2") / 1e8)), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
  }

  /** [[ivfPqTopK]] served entirely from the persisted artifacts — the
    * production composed-search path: cell pruning reads the IVF store's
    * centroids (broadcast) + cell assignments (DPP prunes to the probed
    * cells), scoring reads the PQ store's codes + codebooks, and the
    * original corpus vectors are touched by NEITHER side. Bit-identical to
    * the in-memory [[ivfPqTopK]] over the same corpus and geometry (the
    * q151 gate's contract — both trained structures round-trip through
    * their stores without moving a single ranking).
    */
  def ivfPqProbeStores(queries: DataFrame, ivfPath: String, pqPath: String,
                       k: Int, nprobe: Int, vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    // refuse a crashed (re)build or minor compaction on EITHER side; pending
    // retirements on either store filter its rows logically
    val Seq(cells) = BatchStore.live(IvfStore, spark, ivfPath, Seq("cells")).flatten
    val Seq(codes) = BatchStore.live(PqStore, spark, pqPath, Seq("codes")).flatten
    val fsI = BatchStore.fs(spark, ivfPath)
    val fsP = BatchStore.fs(spark, pqPath)
    val cent = spark.read.parquet(BatchStore.active(fsI, s"$ivfPath/centroids"))
    val cfg = spark.read.parquet(BatchStore.active(fsP, s"$pqPath/config")).head()
    val (m, dim) = (cfg.getAs[Int]("m"), cfg.getAs[Int]("dim"))
    val cb = spark.read.parquet(BatchStore.active(fsP, s"$pqPath/codebooks"))
    ivfPqSearchCore(cent, cells.select(col(VecId), col("cell")), cb,
      codes.select(col(VecId), col("s"), col("code")), queries, k, nprobe, m, dim,
      VecId, vecCol)
  }
}
