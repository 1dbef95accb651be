package graft

import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextOps
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup
    (4L, "completely different words live in this document here now yes"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps smallest id") {
    val g = Dedup.exactGroups(docs).collect()
    assert(g.length == 3)
    val dup = g.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("ngram jaccard finds exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup.ngramJaccardPairs(Dedup.wordShingles(docs, 3), threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    val exact = Dedup.ngramJaccardPairs(Dedup.wordShingles(docs, 3), threshold = 0.5)
      .filter(col("doc_a") === 1 && col("doc_b") === 2).select("jaccard").as[Double].head()
    assert(exact == 1.0)
  }

  test("minhash LSH recovers the exact-dup pair with jaccard 1.0") {
    val pairs = Dedup.minhashLshPairs(Dedup.wordShingles(docs, 3), 16, 4, 0.9)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
  }

  test("minhash LSH survives a degenerate bucket of 10k identical docs") {
    // Real crawl corpora put millions of byte-identical boilerplate docs in
    // ONE LSH bucket; pre-hardening this exploded C(n,2) pairs through the
    // per-pair shingle-set joins. The exact-collapse pre-pass must (a) finish
    // fast, (b) still honor the all-pairs contract, (c) expand cross-set rep
    // pairs back to every member.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val variant = "the quick brown fox jumps over the lazy dog again and often"
    val many = (10L until 10010L).map(i => (i, base)) :+
      (1L, variant) :+ (2L, "completely different words live in this document here now yes")
    val bigDocs = spark.createDataFrame(many).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashLshPairs(Dedup.wordShingles(bigDocs, 3), 16, 4, threshold = 0.5)
    val n = pairs.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // all C(10k,2) within-group pairs + the variant paired with every member
    assert(n == 10000L * 9999L / 2 + 10000L)
    assert(secs < 120.0, s"degenerate bucket took $secs s")
    // the variant's rep pair expanded to all members, with consistent jaccard
    val cross = pairs.filter(col("doc_a") === 1L || col("doc_b") === 1L)
    assert(cross.count() == 10000L)
    assert(cross.select("jaccard").distinct().count() == 1L)
    // post-collapse buckets are tiny: even a cap of 2 drops nothing here
    assert(Dedup.minhashLshOverflow(Dedup.wordShingles(bigDocs, 3), 16, 4, maxBucket = 2).isEmpty)
  }

  test("maxBucket straddle: capped run drops exactly the pairs the uncapped run keeps") {
    // Post-collapse this corpus has a band bucket holding BOTH reps (docs
    // 1/2 collapse to rep 1; doc 3 is a near-dup of them) — bucket size 2.
    // A cap of 1 straddles it: the uncapped run (q26's shape, mirroring the
    // DuckDB oracle which has no bucket cap) keeps the cross-set pairs, the
    // capped run drops them, and the overflow audit names the dropped
    // bucket. This is the divergence the q26 call site avoids by passing
    // maxBucket = Int.MaxValue.
    val sh = Dedup.wordShingles(docs, 3)
    val uncapped = Dedup.minhashLshPairs(sh, 16, 4, threshold = 0.5, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(uncapped.contains((1L, 3L)) && uncapped.contains((2L, 3L)),
      "uncapped run must keep the cross-set near-dup pairs")
    val capped = Dedup.minhashLshPairs(sh, 16, 4, threshold = 0.5, maxBucket = 1)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(!capped.contains((1L, 3L)) && !capped.contains((2L, 3L)),
      "a cap below the bucket size must drop the bucket whole")
    assert(capped.contains((1L, 2L)), "within-set pairs don't go through buckets")
    assert(Dedup.minhashLshOverflow(sh, 16, 4, maxBucket = 1).count() >= 1,
      "the audit must surface what the cap dropped")
  }

  test("bounded pair mode stays linear on 10k identical docs and counts the remainder") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val variant = "the quick brown fox jumps over the lazy dog again and often"
    val many = (10L until 10010L).map(i => (i, base)) :+ (1L, variant)
    val bigDocs = spark.createDataFrame(many).toDF("doc_id", "text")
    val sh = Dedup.wordShingles(bigDocs, 3)
    val pairs = Dedup.minhashLshPairsBounded(sh, 16, 4, threshold = 0.5,
      maxPairsPerGroup = 100).collect()
    // 100 star pairs inside the 10k-identical group + ONE rep-rep cross edge
    // to the variant — vs ~50M pairs under the full contract
    assert(pairs.length == 101, s"got ${pairs.length} pairs")
    val star = pairs.filter(p => p.getAs[Double]("jaccard") == 1.0)
    assert(star.length == 100 && star.forall(_.getAs[Long]("doc_a") == 10L),
      "within-group emission must be a star on the rep (min doc_id)")
    val cross = pairs.filter(p => p.getAs[Double]("jaccard") < 1.0)
    assert(cross.length == 1 && cross.head.getAs[Long]("doc_a") == 1L &&
      cross.head.getAs[Long]("doc_b") == 10L,
      "cross-group emission must be the single rep-rep edge")
    val omitted = Dedup.minhashLshBoundedOmitted(sh, maxPairsPerGroup = 100).collect()
    assert(omitted.length == 1 && omitted.head.getAs[Long]("rep_id") == 10L)
    assert(omitted.head.getAs[Long]("omitted_pairs") == 10000L * 9999L / 2 - 100L,
      "audit must count exactly the pairs the star left out")
    // DEFAULT (uncapped) mode: the full star — linear n-1 edges, every
    // member reachable from the rep, so union-find clusters are equivalent
    // to the C(n,2) contract
    val full = Dedup.minhashLshPairsBounded(sh, 16, 4, threshold = 0.5).collect()
    assert(full.count(_.getAs[Double]("jaccard") == 1.0) == 9999,
      "default star must cover every duplicate member")
  }

  test("simhash: identical docs have hamming 0; banded pairs find them") {
    val sims = Dedup.simhash(docs)
    val h = sims.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(h(1L) == h(2L))
    val pairs = Dedup.simhashPairs(sims, maxHamming = 3).collect()
    assert(pairs.exists(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L &&
      r.getAs[Int]("hamming") == 0))
  }

  test("cosine top-k ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(0.9f, 0.1f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.cosineTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2).orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L && top(0).getAs[Double]("sim") == 1.0)
    assert(top(1).getAs[Long]("neighbor_id") == 3L)
    val pairs = Similarity.cosinePairs(vecs, "label", threshold = 0.99).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 1L))
  }

  test("ivf with k-means refinement keeps near-identical vectors in one cell") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f)), (3L, Array(0.01f, 0.99f, 0.0f)),
      (4L, Array(0.98f, 0.02f, 0.0f)), (5L, Array(0.02f, 0.98f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.ivfKmeansTopK(vecs, numCentroids = 2, iters = 2, k = 2).collect()
    // each vector's nearest true neighbor shares its cell, so it appears at rank 1
    val rank1 = r.filter(_.getAs[Int]("rank") == 1)
      .map(x => x.getAs[Long]("query_id") -> x.getAs[Long]("neighbor_id")).toMap
    assert(rank1(0L) == 2L) // x-axis cluster stays together
    assert(rank1(1L) == 3L) // y-axis cluster stays together
    // determinism: a second run yields the identical result set
    val r2 = Similarity.ivfKmeansTopK(vecs, numCentroids = 2, iters = 2, k = 2).collect()
    assert(r.map(_.toString).sorted.sameElements(r2.map(_.toString).sorted))
  }

  test("multi-probe ivf: nprobe=1 equals the single-probe search, full probe equals brute force") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f)), (3L, Array(0.01f, 0.99f, 0.0f)),
      (4L, Array(0.7f, 0.7f, 0.1f)), (5L, Array(0.6f, 0.75f, 0.0f)),
      (6L, Array(0.98f, 0.02f, 0.0f)), (7L, Array(0.02f, 0.98f, 0.0f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank", "sim")
      .collect().map(_.toString).sorted.toSeq
    // nprobe=1 must reproduce the single-probe search exactly
    assert(rows(Similarity.ivfKmeansTopKProbed(vecs, 2, 2, k = 2, nprobe = 1)) ==
      rows(Similarity.ivfKmeansTopK(vecs, 2, 2, k = 2)))
    // nprobe = numCentroids searches everything -> brute-force results
    assert(rows(Similarity.ivfKmeansTopKProbed(vecs, 2, 2, k = 2, nprobe = 2)) ==
      rows(Similarity.cosineTopK(vecs, vecs, k = 2)))
    // and the probed candidate set can only grow with nprobe: every
    // single-probe neighbor pair survives into the nprobe=2 candidates
    val one = Similarity.ivfKmeansTopKProbed(vecs, 2, 2, k = 8, nprobe = 1)
      .select("query_id", "neighbor_id").collect().map(_.toString).toSet
    val two = Similarity.ivfKmeansTopKProbed(vecs, 2, 2, k = 8, nprobe = 2)
      .select("query_id", "neighbor_id").collect().map(_.toString).toSet
    assert(one.subsetOf(two))
  }

  test("multi-table lsh: exact duplicates always surface; runs are deterministic") {
    // identical vectors share every table's signature, so a duplicate can
    // NEVER be missed — the property that makes amplified LSH a dedup tool
    val vecs = Seq(
      (0L, Array.tabulate(8)(i => math.sin(i + 1).toFloat)),
      (1L, Array.tabulate(8)(i => math.cos(i + 1).toFloat)),
      (2L, Array.tabulate(8)(i => math.sin(i + 1).toFloat)),  // dup of 0
      (3L, Array.tabulate(8)(i => (math.sin(i + 1) * -1).toFloat)),
      (4L, Array.tabulate(8)(i => math.cos(i + 1).toFloat))   // dup of 1
    ).toDF("vec_id", "embedding")
    val r = Similarity.lshMultiTopK(vecs, k = 2, bits = 4, tables = 3, dim = 8)
    val rank1 = r.filter(col("rank") === 1).collect()
      .map(x => x.getAs[Long]("query_id") -> x.getAs[Long]("neighbor_id")).toMap
    assert(rank1(0L) == 2L && rank1(2L) == 0L, "exact duplicate found at rank 1")
    assert(rank1(1L) == 4L && rank1(4L) == 1L)
    val again = Similarity.lshMultiTopK(vecs, k = 2, bits = 4, tables = 3, dim = 8)
    assert(r.collect().map(_.toString).sorted.sameElements(
      again.collect().map(_.toString).sorted), "hyperplanes are deterministic")
    // dim contract is enforced, not assumed
    val e = intercept[Exception](
      Similarity.lshMultiTopK(vecs, k = 2, bits = 4, tables = 3, dim = 16).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("does not match")))
  }

  test("persisted IVF index: probe reproduces the in-memory nprobe search bit-for-bit") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.1f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.1f)),
      (2L, Array(0.9f, 0.2f, 0.1f)), (3L, Array(0.1f, 0.9f, 0.0f)),
      (4L, Array(0.8f, 0.3f, 0.2f)), (5L, Array(0.2f, 0.8f, 0.1f)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_eq").toString
    Similarity.buildIvfIndex(vecs, numCentroids = 2, iters = 2, path)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    val mem = canon(Similarity.ivfKmeansTopKProbed(vecs, numCentroids = 2, iters = 2,
      k = 2, nprobe = 2))
    val stored = canon(Similarity.probeIvfIndex(vecs, path, k = 2, nprobe = 2))
    assert(stored == mem, "store round-trip changed the search results")
    // a query subset probes without touching the build
    val one = Similarity.probeIvfIndex(vecs.filter(col("vec_id") === 0), path,
      k = 2, nprobe = 2).collect()
    assert(one.map(_.getAs[Long]("query_id")).toSet == Set(0L))
    assert(one.length == 2)
  }

  test("query-side LSH search matches the self-join search on the shared queries") {
    val vecs = (0L to 19L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    val self = canon(Similarity.lshMultiTopK(vecs, k = 3, bits = 4, tables = 4, dim = 8)
      .filter(col("query_id") < 5))
    val search = canon(Similarity.lshMultiTopKSearch(vecs,
      vecs.filter(col("vec_id") < 5), k = 3, bits = 4, tables = 4, dim = 8))
    assert(search == self, "query-side search diverged from the self-join search")
  }

  test("persisted IVF index: appends assign to the FIXED centroids exactly once") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 9); val b2 = mk(10 to 14); val b3 = mk(15 to 19)
    val p1 = java.nio.file.Files.createTempDirectory("graft_ivf_app1").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft_ivf_app2").toString
    Similarity.buildIvfIndex(b1, numCentroids = 2, iters = 2, p1)
    Similarity.buildIvfIndex(b1, numCentroids = 2, iters = 2, p2)
    // streamed shape: two appends with a replayed id in between
    assert(Similarity.ivfAppendCells(b2, p1, appendId = 1))
    assert(!Similarity.ivfAppendCells(b2, p1, appendId = 1),
      "replayed append id must be a no-op")
    assert(Similarity.ivfAppendCells(b3, p1, appendId = 2))
    // reference shape: the same rows landed as ONE append
    assert(Similarity.ivfAppendCells(b2.unionByName(b3), p2, appendId = 1))
    val all = b1.unionByName(b2).unionByName(b3)
    def canon(path: String): Seq[String] =
      Similarity.probeIvfIndex(all, path, k = 2, nprobe = 1)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    val streamed = canon(p1)
    assert(streamed == canon(p2), "append batching order changed the index contents")
    // appended vectors really participate in search
    val neighbors = Similarity.probeIvfIndex(all, p1, k = 2, nprobe = 1)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(neighbors.exists(_ >= 10L), "appended vectors never surfaced as neighbors")
  }

  test("persisted IVF index: compaction collapses batch dirs, preserves probes and the ledger") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 9); val b2 = mk(10 to 14); val b3 = mk(15 to 19)
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_compact").toString
    Similarity.buildIvfIndex(b1, numCentroids = 2, iters = 2, p)
    assert(Similarity.ivfAppendCells(b2, p, appendId = 1))
    assert(Similarity.ivfAppendCells(b3, p, appendId = 2))
    val all = b1.unionByName(b2).unionByName(b3)
    def canon(): Seq[String] =
      Similarity.probeIvfIndex(all, p, k = 2, nprobe = 1)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    val before = canon()
    assert(Similarity.compactIvfIndex(spark, p) == 3, "three data dirs to compact")
    assert(canon() == before, "compaction changed probe results")
    // one data-bearing dir left; merged ids survive as tombstones
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$p/cells"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
    assert(dirs.count(s => fs.listFiles(s.getPath, true).hasNext) == 1,
      "all rows must land in a single compacted batch dir")
    assert(dirs.map(_.getPath.getName).toSet == Set("batch=0", "batch=1", "batch=2"))
    // the existence ledger still refuses replays of merged batches
    assert(!Similarity.ivfAppendCells(b2, p, appendId = 1))
    assert(!Similarity.ivfAppendCells(b3, p, appendId = 2))
    // a compacted index keeps accepting and serving NEW appends
    val b4 = mk(20 to 24)
    assert(Similarity.ivfAppendCells(b4, p, appendId = 3))
    val withNew = Similarity.probeIvfIndex(b1.unionByName(b4), p, k = 2, nprobe = 1)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(withNew.exists(_ >= 20L), "post-compaction append never surfaced")
    // idempotence: base + one append -> compact merges 2; immediate re-run is a no-op
    val afterAppend = canon()
    assert(Similarity.compactIvfIndex(spark, p) == 2)
    assert(Similarity.compactIvfIndex(spark, p) == 0, "second compaction must be a no-op")
    assert(canon() == afterAppend, "recompaction changed probe results")
  }

  test("persisted IVF index: MINOR compaction merges debris only, base untouched, ledger preserved") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 9); val b2 = mk(10 to 14); val b3 = mk(15 to 19)
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_minor").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    Similarity.buildIvfIndex(b1, numCentroids = 2, iters = 2, p)
    assert(Similarity.ivfAppendCells(b2, p, appendId = 1))
    assert(Similarity.ivfAppendCells(b3, p, appendId = 2))
    val all = b1.unionByName(b2).unionByName(b3)
    def canon(): Seq[String] =
      Similarity.probeIvfIndex(all, p, k = 2, nprobe = 1)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    def listing(dir: String): Seq[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) { val f = it.next(); buf += s"${f.getPath}:${f.getLen}" }
      buf.sorted.toSeq
    }
    val before = canon()
    val base0 = listing(s"$p/cells/batch=0")
    assert(Similarity.compactIvfIndexMinor(spark, p) == 2, "two debris dirs to merge")
    assert(canon() == before, "minor compaction changed probe results")
    // base is byte-for-byte untouched — the cost ∝ debris claim in file terms
    assert(listing(s"$p/cells/batch=0") == base0,
      "minor compaction must never rewrite the batch=0 base")
    // debris merged into the greatest id; batch=1 is a file-less tombstone
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$p/cells"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
    assert(dirs.map(_.getPath.getName).toSet == Set("batch=0", "batch=1", "batch=2"))
    assert(!fs.listFiles(new org.apache.hadoop.fs.Path(s"$p/cells/batch=1"), true).hasNext)
    assert(fs.listFiles(new org.apache.hadoop.fs.Path(s"$p/cells/batch=2"), true).hasNext)
    // ledger: replays of merged ids stay refused; re-run is a no-op
    assert(!Similarity.ivfAppendCells(b2, p, appendId = 1))
    assert(!Similarity.ivfAppendCells(b3, p, appendId = 2))
    assert(Similarity.compactIvfIndexMinor(spark, p) == 0)
    // a full compaction afterwards folds the merged debris into the base
    assert(Similarity.compactIvfIndex(spark, p) == 2)
    assert(canon() == before)
  }

  test("ivf store retirement: tombstones, resurrection, minor merge, stale-ledger immunity") {
    def mk(ids: Seq[Long], salt: Int = 0) = ids.map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7 + salt * 13).toFloat))
    }.toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_retire").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    Similarity.buildIvfIndex(mk(0L to 9L), numCentroids = 2, iters = 2, p)
    assert(Similarity.ivfAppendCells(mk(10L to 14L), p, appendId = 1))
    val queries = mk(0L to 14L)
    def neighbors(): Set[Long] =
      Similarity.probeIvfIndex(queries, p, k = 10, nprobe = 2)
        .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    def canon(): Seq[String] =
      Similarity.probeIvfIndex(queries, p, k = 10, nprobe = 2)
        .collect().map(_.toString).sorted.toSeq
    // retire one base row and one appended row: logical tombstones only —
    // nothing in the data halves moves, but neither id answers
    assert(Similarity.retireIvfVectors(spark, p, Seq(5L, 12L).toDF("vec_id"),
      retireId = 2))
    assert(!Similarity.retireIvfVectors(spark, p, Seq(99L).toDF("vec_id"),
      retireId = 2), "retire replay must be refused by the dir ledger")
    val live1 = neighbors()
    assert(!live1.contains(5L) && !live1.contains(12L), "retired ids still answer")
    assert(live1.contains(4L) && live1.contains(11L), "liveness over-killed")
    // resurrection: the changed vector re-enters at a LATER append id
    assert(Similarity.ivfAppendCells(mk(Seq(12L), salt = 1), p, appendId = 3))
    val live2 = neighbors()
    assert(live2.contains(12L) && !live2.contains(5L), "r > k resurrection broke")
    val before = canon()
    // minor merge with the retirement pending: dead debris (12@1, killed by
    // r=2) must NOT resurrect when the merge re-lands rows at max id 3
    assert(Similarity.compactIvfIndexMinor(spark, p) == 2)
    assert(canon() == before, "minor merge with pending retirement changed probes")
    assert(fs.listFiles(new org.apache.hadoop.fs.Path(s"$p/retired/batch=2"), true)
      .hasNext, "minor compaction must preserve the retirement ledger")
    // full compaction applies retirements physically and blanks the ledger
    assert(Similarity.compactIvfIndex(spark, p) == 2)
    assert(canon() == before, "retirement-applying compaction changed probes")
    assert(!fs.listFiles(new org.apache.hadoop.fs.Path(s"$p/retired/batch=2"), true)
      .hasNext, "applied ledger must blank to a tombstone")
    val stored = spark.read.parquet(s"$p/cells")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!stored.contains(5L) && stored.contains(12L),
      "physical application: dead rows dropped, resurrected row kept")
    // stale-ledger immunity (a crash mid-blank): re-plant the applied
    // retirement rows — the base landed at the max data id, so the stale
    // r=2 can kill nothing
    Seq(5L, 12L).toDF("rid").write.mode("overwrite").parquet(s"$p/retired/batch=2")
    assert(canon() == before, "stale retirement rows re-killed compacted rows")
    // the next compaction finishes the blanking job
    Similarity.compactIvfIndex(spark, p)
    assert(!fs.listFiles(new org.apache.hadoop.fs.Path(s"$p/retired/batch=2"), true)
      .hasNext, "stale ledger must blank on the next cycle")
    assert(canon() == before)
  }

  test("relocated base after retirement compaction: minor merge stays debris-only") {
    def mk(ids: Seq[Long], salt: Int = 0) = ids.map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7 + salt * 13).toFloat))
    }.toDF("vec_id", "embedding")
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_relobase").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    Similarity.buildIvfIndex(mk(0L to 9L), numCentroids = 2, iters = 2, p)
    assert(Similarity.ivfAppendCells(mk(10L to 14L), p, appendId = 1))
    assert(Similarity.retireIvfVectors(spark, p, Seq(5L).toDF("vec_id"), retireId = 2))
    // the retirement-applying full compaction re-lands the merged base at
    // the MAX data id (1) and records the relocation in the _base marker
    assert(Similarity.compactIvfIndex(spark, p) == 2)
    assert(graft.store.BatchStore.readBaseId(fs, s"$p/cells") == 1L,
      "_base marker must record the relocated base id")
    assert(!fs.listFiles(hp(s"$p/cells/batch=0"), true).hasNext,
      "batch=0 must be a file-less tombstone after relocation")
    // fresh debris lands ABOVE the relocated base
    assert(Similarity.ivfAppendCells(mk(15L to 19L), p, appendId = 3))
    assert(Similarity.ivfAppendCells(mk(20L to 24L), p, appendId = 4))
    val queries = mk(0L to 24L)
    def canon(): Seq[String] =
      Similarity.probeIvfIndex(queries, p, k = 3, nprobe = 2)
        .collect().map(_.toString).sorted.toSeq
    def listing(dir: String): Seq[String] = {
      val it = fs.listFiles(hp(dir), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) { val f = it.next(); buf += s"${f.getPath}:${f.getLen}" }
      buf.sorted.toSeq
    }
    val before = canon()
    val baseFiles = listing(s"$p/cells/batch=1")
    // exactly the two appended dirs merge; the relocated base — the bulk
    // of the store — is byte-for-byte untouched (the ∝-debris contract)
    assert(Similarity.compactIvfIndexMinor(spark, p) == 2,
      "relocated base must be excluded from the debris merge")
    assert(listing(s"$p/cells/batch=1") == baseFiles,
      "minor compaction rewrote the RELOCATED base")
    assert(canon() == before, "minor merge over a relocated base changed probes")
    // a later full compaction (no retirement pending) folds everything
    // back to batch=0; the marker disappears with the swapped tree
    assert(Similarity.compactIvfIndex(spark, p) == 2)
    assert(graft.store.BatchStore.readBaseId(fs, s"$p/cells") == 0L,
      "marker must not survive a base-at-0 full rewrite")
    assert(fs.listFiles(hp(s"$p/cells/batch=0"), true).hasNext)
    assert(canon() == before)
  }

  test("lsh/pq store retirement: both halves filter; lsh reindex keeps the ledger") {
    def mk(ids: Seq[Long], salt: Int = 0) = ids.map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7 + salt * 13).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = mk(0L to 14L)
    // LSH: retire → probe excludes; re-append resurrects; reindex to a new
    // geometry with the retirement pending re-signs LIVE payloads only and
    // PRESERVES the ledger; full compaction applies-and-blanks
    val pl = java.nio.file.Files.createTempDirectory("graft_lsh_retire").toString
    val fsL = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(pl),
      spark.sparkContext.hadoopConfiguration)
    Similarity.buildLshIndex(mk(0L to 9L), bits = 3, tables = 4, dim = 8, pl)
    assert(Similarity.lshAppendVectors(mk(10L to 14L), pl, appendId = 1))
    def lshN(): Set[Long] =
      Similarity.probeLshIndex(queries, pl, k = 10)
        .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(Similarity.retireLshVectors(spark, pl, Seq(5L, 12L).toDF("vec_id"),
      retireId = 2))
    val l1 = lshN()
    assert(!l1.contains(5L) && !l1.contains(12L), "retired ids still answer (lsh)")
    assert(Similarity.lshAppendVectors(mk(Seq(12L), salt = 1), pl, appendId = 3))
    assert(lshN().contains(12L), "lsh resurrection broke")
    val beforeL = Similarity.probeLshIndex(queries, pl, k = 10)
      .collect().map(_.toString).sorted.toSeq
    // re-tune with the retirement pending: results identical (signatures
    // are pure functions of geometry+payload), ledger still data-bearing
    Similarity.reindexLsh(spark, pl, tables = 4, bits = 3)
    assert(Similarity.probeLshIndex(queries, pl, k = 10)
      .collect().map(_.toString).sorted.toSeq == beforeL,
      "same-geometry reindex with pending retirement changed probes")
    assert(fsL.listFiles(new org.apache.hadoop.fs.Path(s"$pl/retired/batch=2"), true)
      .hasNext, "reindex must preserve the retirement ledger")
    assert(Similarity.compactLshIndex(spark, pl) >= 1)
    assert(!fsL.listFiles(new org.apache.hadoop.fs.Path(s"$pl/retired/batch=2"), true)
      .hasNext, "lsh compaction must blank the applied ledger")
    val storedL = spark.read.parquet(s"$pl/vectors")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!storedL.contains(5L) && storedL.contains(12L),
      "lsh physical application broke")
    // VACUUM (r15 verdict items 1+7): the compacted store's tombstone
    // dirs — append ids on both halves, the blanked retire ledger —
    // collapse into the watermark; probes serve identically, replays of
    // vacuumed ids stay refused BY RULE, and later maintenance still lands
    val probePreVac = Similarity.probeLshIndex(queries, pl, k = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(graft.store.Ledger.vacuumStore(spark, pl, 4L,
      Seq("sigs", "vectors", "retired")) >= 3,
      "vacuum must collapse the append + retire tombstones")
    def liveDirs(half: String) = fsL.listStatus(
        new org.apache.hadoop.fs.Path(s"$pl/$half"))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    assert(liveDirs("retired").isEmpty,
      "the blanked retire ledger must vacuum to zero dirs")
    assert(Similarity.probeLshIndex(queries, pl, k = 10)
      .collect().map(_.toString).sorted.toSeq == probePreVac,
      "vacuum must not change a single probe row")
    assert(!Similarity.lshAppendVectors(mk(10L to 14L), pl, appendId = 1),
      "a vacuumed append id must stay a ledgered no-op via the watermark")
    assert(!Similarity.retireLshVectors(spark, pl, Seq(9L).toDF("vec_id"),
      retireId = 2), "a vacuumed retire id must stay a ledgered no-op")
    assert(Similarity.lshAppendVectors(mk(Seq(20L)), pl, appendId = 4),
      "post-watermark appends must land")
    assert(lshN().contains(20L))
    // the next full compaction must carry the watermark through its swap
    assert(Similarity.retireLshVectors(spark, pl, Seq(20L).toDF("vec_id"),
      retireId = 5))
    assert(Similarity.compactLshIndex(spark, pl) >= 1)
    assert(graft.store.Ledger.watermark(fsL, s"$pl/sigs") == 4L,
      "compaction swap must preserve the vacuum watermark")
    assert(!Similarity.lshAppendVectors(mk(10L to 14L), pl, appendId = 1),
      "watermark lost in compaction: vacuumed replay resurrected")
    // PQ: the codes half drives candidates — retire → probe excludes;
    // compaction applies to both halves
    val pp = java.nio.file.Files.createTempDirectory("graft_pq_retire").toString
    Similarity.buildPqIndex(mk(0L to 9L), m = 2, k = 4, iters = 2, pp, dim = 8)
    assert(Similarity.pqAppendVectors(mk(10L to 14L), pp, appendId = 1))
    assert(Similarity.retirePqVectors(spark, pp, Seq(5L, 12L).toDF("vec_id"),
      retireId = 2))
    val pqN = Similarity.probePqIndex(queries, pp, k = 10)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(!pqN.contains(5L) && !pqN.contains(12L), "retired ids still answer (pq)")
    val beforeP = Similarity.probePqIndex(queries, pp, k = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(Similarity.compactPqIndex(spark, pp) >= 1)
    assert(Similarity.probePqIndex(queries, pp, k = 10)
      .collect().map(_.toString).sorted.toSeq == beforeP,
      "pq retirement-applying compaction changed probes")
    val storedP = spark.read.parquet(s"$pp/codes")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!storedP.contains(5L) && !storedP.contains(12L),
      "pq physical application broke")
  }

  test("composed ivf-pq store search: retirements on EITHER store filter the probe") {
    // ivfPqProbeStores reads two independent retirement ledgers (the IVF
    // cells drive candidates, the PQ codes drive scoring) — a dead row
    // surviving on EITHER side resurrects a neighbor, which the per-family
    // drills cannot see
    def mk(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val vecs = mk(0L to 19L)
    val queries = mk(0L to 4L)
    val pi = java.nio.file.Files.createTempDirectory("graft_ivfpq_ri").toString
    val pp = java.nio.file.Files.createTempDirectory("graft_ivfpq_rp").toString
    Similarity.buildIvfIndex(vecs, numCentroids = 2, iters = 2, pi)
    Similarity.buildPqIndex(vecs, m = 2, k = 4, iters = 2, pp, dim = 8)
    def neighbors(): Set[Long] =
      Similarity.ivfPqProbeStores(queries, pi, pp, k = 15, nprobe = 2)
        .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    val base = neighbors()
    assert(base.contains(7L) && base.contains(9L), "baseline probe too sparse")
    // retire 7 on the IVF side only and 9 on the PQ side only: both must
    // vanish — a candidate without a code row, and a code row without a
    // candidate, are each half-dead and must read as dead
    assert(Similarity.retireIvfVectors(spark, pi, Seq(7L).toDF("vec_id"), retireId = 1))
    assert(Similarity.retirePqVectors(spark, pp, Seq(9L).toDF("vec_id"), retireId = 1))
    val live = neighbors()
    assert(!live.contains(7L), "IVF-side retirement ignored by the composed search")
    assert(!live.contains(9L), "PQ-side retirement ignored by the composed search")
    assert(live.contains(8L), "liveness over-killed")
  }

  test("LSH and PQ stores: minor compaction merges debris only, bases untouched, probes identical") {
    val rng = new scala.util.Random(41)
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.fill(64)(rng.nextDouble() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 59); val b2 = mk(60 to 69); val b3 = mk(70 to 79)
    val qs = mk(100 to 104)
    // (name, build, append, minor, full, probe, halves)
    val fams = Seq(
      ("lsh",
        (df: org.apache.spark.sql.DataFrame, p: String) =>
          Similarity.buildLshIndex(df, bits = 4, tables = 4, dim = 64, p),
        (df: org.apache.spark.sql.DataFrame, p: String, id: Long) =>
          Similarity.lshAppendVectors(df, p, id),
        (p: String) => Similarity.compactLshIndexMinor(spark, p),
        (p: String) => Similarity.compactLshIndex(spark, p),
        (p: String) => Similarity.probeLshIndex(qs, p, k = 3),
        Seq("sigs", "vectors")),
      ("pq",
        (df: org.apache.spark.sql.DataFrame, p: String) =>
          Similarity.buildPqIndex(df, m = 4, k = 4, iters = 1, p),
        (df: org.apache.spark.sql.DataFrame, p: String, id: Long) =>
          Similarity.pqAppendVectors(df, p, id),
        (p: String) => Similarity.compactPqIndexMinor(spark, p),
        (p: String) => Similarity.compactPqIndex(spark, p),
        (p: String) => Similarity.probePqIndex(qs, p, k = 3),
        Seq("codes", "vectors")))
    for ((name, build, append, minor, full, probe, halves) <- fams) {
      val p = java.nio.file.Files.createTempDirectory(s"graft_${name}_minor").toString
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
        spark.sparkContext.hadoopConfiguration)
      build(b1, p)
      assert(append(b2, p, 1L)); assert(append(b3, p, 2L))
      def canon(): Seq[String] =
        probe(p).collect().map(_.toString).sorted.toSeq
      def listing(dir: String): Seq[String] = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) { val f = it.next(); buf += s"${f.getPath}:${f.getLen}" }
        buf.sorted.toSeq
      }
      val before = canon()
      val bases = halves.map(h => h -> listing(s"$p/$h/batch=0")).toMap
      assert(minor(p) == 4, s"$name: two debris dirs per half to merge")
      assert(canon() == before, s"$name: minor compaction changed probe results")
      halves.foreach(h => assert(listing(s"$p/$h/batch=0") == bases(h),
        s"$name/$h: minor compaction rewrote the batch=0 base"))
      // ledger survives; re-run is a no-op; full fold still works
      assert(!append(b2, p, 1L), s"$name: merged id replay must stay refused")
      assert(minor(p) == 0, s"$name: immediate minor re-run must be a no-op")
      assert(full(p) == 4, s"$name: full fold after minor")
      assert(canon() == before, s"$name: full fold changed probe results")
    }
  }

  test("LSH and PQ stores: relocated bases after retirement compaction, minor stays debris-only") {
    // the IVF relocated-base drill's family twins: BOTH halves of each
    // store relocate under a retirement-applying full compaction (each
    // writes its own _base marker), and a later minor merge must exclude
    // both relocated bases from the debris
    val rng = new scala.util.Random(43)
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.fill(64)(rng.nextDouble() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 59); val b2 = mk(60 to 69)
    val b3 = mk(70 to 79); val b4 = mk(80 to 89)
    val qs = mk(100 to 104)
    val fams = Seq(
      ("lsh",
        (df: org.apache.spark.sql.DataFrame, p: String) =>
          Similarity.buildLshIndex(df, bits = 4, tables = 4, dim = 64, p),
        (df: org.apache.spark.sql.DataFrame, p: String, id: Long) =>
          Similarity.lshAppendVectors(df, p, id),
        (p: String, rid: Long) =>
          Similarity.retireLshVectors(spark, p, Seq(5L, 62L).toDF("vec_id"), rid),
        (p: String) => Similarity.compactLshIndexMinor(spark, p),
        (p: String) => Similarity.compactLshIndex(spark, p),
        (p: String) => Similarity.probeLshIndex(qs, p, k = 3),
        Seq("sigs", "vectors")),
      ("pq",
        (df: org.apache.spark.sql.DataFrame, p: String) =>
          Similarity.buildPqIndex(df, m = 4, k = 4, iters = 1, p),
        (df: org.apache.spark.sql.DataFrame, p: String, id: Long) =>
          Similarity.pqAppendVectors(df, p, id),
        (p: String, rid: Long) =>
          Similarity.retirePqVectors(spark, p, Seq(5L, 62L).toDF("vec_id"), rid),
        (p: String) => Similarity.compactPqIndexMinor(spark, p),
        (p: String) => Similarity.compactPqIndex(spark, p),
        (p: String) => Similarity.probePqIndex(qs, p, k = 3),
        Seq("codes", "vectors")))
    for ((name, build, append, retire, minor, full, probe, halves) <- fams) {
      val p = java.nio.file.Files.createTempDirectory(s"graft_${name}_relo").toString
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
        spark.sparkContext.hadoopConfiguration)
      build(b1, p)
      assert(append(b2, p, 1L))
      assert(retire(p, 2L))
      assert(full(p) >= 1, s"$name: retirement-applying full compaction ran")
      halves.foreach { h =>
        assert(graft.store.BatchStore.readBaseId(fs, s"$p/$h") == 1L,
          s"$name/$h: _base marker must record the relocated base")
        assert(!fs.listFiles(new org.apache.hadoop.fs.Path(s"$p/$h/batch=0"), true).hasNext,
          s"$name/$h: batch=0 must be a tombstone after relocation")
      }
      assert(append(b3, p, 3L)); assert(append(b4, p, 4L))
      def canon(): Seq[String] =
        probe(p).collect().map(_.toString).sorted.toSeq
      def listing(dir: String): Seq[String] = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) { val f = it.next(); buf += s"${f.getPath}:${f.getLen}" }
        buf.sorted.toSeq
      }
      val before = canon()
      val bases = halves.map(h => h -> listing(s"$p/$h/batch=1")).toMap
      assert(minor(p) == 4,
        s"$name: relocated bases must be excluded from the debris merge")
      assert(canon() == before, s"$name: minor over relocated bases changed probes")
      halves.foreach(h => assert(listing(s"$p/$h/batch=1") == bases(h),
        s"$name/$h: minor compaction rewrote the RELOCATED base"))
    }
  }

  test("persisted IVF index: minor-compaction crash windows roll forward; probes refuse meanwhile") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 9); val b2 = mk(10 to 14); val b3 = mk(15 to 19)
    val all = b1.unionByName(b2).unionByName(b3)
    def canon(p: String): Seq[String] =
      Similarity.probeIvfIndex(all, p, k = 2, nprobe = 1)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    def freshStore(): (String, org.apache.hadoop.fs.FileSystem) = {
      val p = java.nio.file.Files.createTempDirectory("graft_ivf_minorcrash").toString
      Similarity.buildIvfIndex(b1, numCentroids = 2, iters = 2, p)
      assert(Similarity.ivfAppendCells(b2, p, appendId = 1))
      assert(Similarity.ivfAppendCells(b3, p, appendId = 2))
      (p, org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
        spark.sparkContext.hadoopConfiguration))
    }
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    // stage the exact crash states: staged tree complete + journal
    // published (the journal's contract), renames in various stages
    def stageCrash(p: String, fs: org.apache.hadoop.fs.FileSystem,
                   renames: Int): Unit = {
      val cells = s"$p/cells"
      spark.read.option("basePath", cells)
        .parquet(s"$cells/batch=1", s"$cells/batch=2")
        .drop("batch").repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(s"$cells/.minor-staged")
      val out = fs.create(hp(s"$cells/_minor-pending"), true)
      try out.write("2,1,2".getBytes("UTF-8")) finally out.close()
      if (renames >= 1) assert(fs.rename(hp(s"$cells/batch=1"), hp(s"$cells/.gone-1")))
      if (renames >= 2) assert(fs.rename(hp(s"$cells/batch=2"), hp(s"$cells/.gone-2")))
      if (renames >= 3) assert(fs.rename(hp(s"$cells/.minor-staged"), hp(s"$cells/batch=2")))
    }
    val expected = { val (p, _) = freshStore(); canon(p) }
    (0 to 3).foreach { renames =>
      val (p, fs) = freshStore()
      stageCrash(p, fs, renames)
      // probes refuse while the journal exists
      val ex = intercept[Exception] { canon(p) }
      assert(Option(ex.getMessage).exists(_.contains("incomplete minor compaction")),
        s"renames=$renames: probe refused with the wrong error: ${ex.getMessage}")
      // ANY maintenance entry heals by rolling forward (here: a replayed
      // append, whose ledger check then refuses — exactly W2's shape)
      assert(!Similarity.ivfAppendCells(b3, p, appendId = 2),
        s"renames=$renames: healed ledger lost a merged id")
      assert(!fs.exists(hp(s"$p/cells/_minor-pending")),
        s"renames=$renames: journal not cleared by the heal")
      assert(canon(p) == expected, s"renames=$renames: healed store diverged")
    }
  }

  test("persisted IVF index: reindexIvf refits from stored payloads, probes continue, ledger survives") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 9); val b2 = mk(10 to 19)
    val all = b1.unionByName(b2)
    val grown = java.nio.file.Files.createTempDirectory("graft_ivf_re1").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivf_re2").toString
    // grown store: build on b1 (frozen 4-centroid fit), append b2 — the
    // drifted state a re-index exists to correct
    Similarity.buildIvfIndex(b1, numCentroids = 4, iters = 2, grown)
    assert(Similarity.ivfAppendCells(b2, grown, appendId = 1))
    // re-index refits over ALL stored vectors; must equal a fresh build of
    // the union corpus with the same parameters, bit for bit
    assert(Similarity.reindexIvf(spark, grown, numCentroids = 4, iters = 2) == 20L)
    Similarity.buildIvfIndex(all, numCentroids = 4, iters = 2, fresh)
    def canon(path: String): Seq[String] =
      Similarity.probeIvfIndex(all.filter(col("vec_id") < 5), path, k = 3, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cell"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    assert(canon(grown) == canon(fresh),
      "reindexed store diverged from a fresh build over the same vectors")
    // the append ledger survives the swap: merged ids stay refused
    assert(!Similarity.ivfAppendCells(b2, grown, appendId = 1),
      "replayed append id must stay refused after reindex")
    // and new appends assign against the REFIT centroids
    val b3 = mk(20 to 24)
    assert(Similarity.ivfAppendCells(b3, grown, appendId = 2))
    assert(spark.read.parquet(s"$grown/cells").count() == 25L,
      "post-reindex append lost rows")
  }

  test("decontam store lifecycle: OR-merged appends reproduce the monolithic build; ledger holds") {
    val bench1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val bench2 = Seq((3L, "red green blue yellow purple orange")).toDF("doc_id", "text")
    val corpus = Seq((10L, "alpha beta gamma completely new tail"),
      (11L, "red green blue yellow something else"),
      (12L, "nothing shared with any bench suite here")).toDF("doc_id", "text")
    val grown = java.nio.file.Files.createTempDirectory("graft_dc1").toString + "/s"
    val fresh = java.nio.file.Files.createTempDirectory("graft_dc2").toString + "/s"
    Dedup.buildDecontamStore(bench1, grown, n = 3, k = 4, m = 1 << 16)
    assert(Dedup.appendDecontamBench(bench2, grown, appendId = 1))
    Dedup.buildDecontamStore(bench1.unionByName(bench2), fresh, n = 3, k = 4, m = 1 << 16)
    def words(p: String): Set[(Long, Long)] = spark.read.parquet(s"$p/words")
      .collect().map(r => (r.getAs[Long]("word_idx"), r.getAs[Long]("word"))).toSet
    assert(words(grown) == words(fresh),
      "OR-merged filter must be bit-identical to the monolithic build's")
    def verdicts(p: String): Seq[String] =
      Dedup.bloomContaminationAgainst(Dedup.wordShingles(corpus, 3),
          spark.read.parquet(s"$p/shingles"), spark.read.parquet(s"$p/words"),
          k = 4, m = 1 << 16)
        .select(col("doc_id"), col("n_shingles"), col("n_bloom_pos"),
          col("n_present"), col("contaminated"))
        .collect().map(_.toString).sorted.toSeq
    assert(verdicts(grown) == verdicts(fresh),
      "lifecycle store verdicts diverged from the monolithic build")
    // replayed append ids are refused
    assert(!Dedup.appendDecontamBench(bench2, grown, appendId = 1))
    // an append whose shingles are all already stored keeps its OWN
    // complete copy (per-batch completeness is what makes batch-level
    // rotation exact — see retireDecontamBench) and flips no bits
    val dupOnly = Seq((4L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    assert(Dedup.appendDecontamBench(dupOnly, grown, appendId = 2))
    val b2 = spark.read.parquet(s"$grown/shingles/batch=2")
    assert(b2.select("shingle").distinct().count() == b2.count(),
      "each batch must be distinct within itself")
    assert(b2.count() > 0, "a duplicate-only suite still stores its own copy")
    assert(words(grown) == words(fresh), "duplicate-only append changed the filter")
    // compaction preserves verdicts and keeps replays refused
    assert(Dedup.compactDecontamStore(spark, grown) > 0)
    assert(verdicts(grown) == verdicts(fresh), "compaction changed the verdicts")
    assert(!Dedup.appendDecontamBench(bench2, grown, appendId = 1),
      "replay of a compacted append id must stay refused")
  }

  test("persisted LSH index: reindexLsh re-signs at the new geometry, ledger survives, appends use it") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 9); val b2 = mk(10 to 19)
    val all = b1.unionByName(b2)
    val grown = java.nio.file.Files.createTempDirectory("graft_lsh_re1").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_lsh_re2").toString
    // grown store at a weak 2x4 geometry, then re-tune to 8x4
    Similarity.buildLshIndex(b1, bits = 4, tables = 2, dim = 8, grown)
    assert(Similarity.lshAppendVectors(b2, grown, appendId = 1))
    assert(Similarity.reindexLsh(spark, grown, tables = 8, bits = 4) == 20L)
    Similarity.buildLshIndex(all, bits = 4, tables = 8, dim = 8, fresh)
    def canon(path: String): Seq[String] =
      Similarity.probeLshIndex(all.filter(col("vec_id") < 5), path, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    assert(canon(grown) == canon(fresh),
      "re-tuned store diverged from a fresh build at the same geometry")
    // ledger survives the swap: merged append ids stay refused
    assert(!Similarity.lshAppendVectors(b2, grown, appendId = 1),
      "replayed append id must stay refused after reindex")
    // new appends sign with the NEW stored geometry and stay probe-visible
    val b3 = mk(20 to 24)
    assert(Similarity.lshAppendVectors(b3, grown, appendId = 2))
    Similarity.buildLshIndex(all.unionByName(b3), bits = 4, tables = 8, dim = 8, fresh)
    assert(canon(grown) == canon(fresh),
      "post-reindex append diverged from the monolithic build")
  }

  test("persisted LSH index: probe reproduces the in-memory search bit-for-bit") {
    val vecs = (0L to 19L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_lsh_eq").toString
    Similarity.buildLshIndex(vecs, bits = 4, tables = 4, dim = 8, path)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    val mem = canon(Similarity.lshMultiTopKSearch(vecs,
      vecs.filter(col("vec_id") < 5), k = 3, bits = 4, tables = 4, dim = 8))
    val stored = canon(Similarity.probeLshIndex(vecs.filter(col("vec_id") < 5), path, k = 3))
    assert(stored == mem, "store round-trip changed the search results")
    // the probe plan reads the stored signatures; the only aggregation
    // allowed above store relations is the pure candidate DISTINCT — an
    // aggregate FUNCTION there would be the corpus signature recompute
    // (lshSigs' sum) leaking back into the hot path
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val probe = Similarity.probeLshIndex(vecs.filter(col("vec_id") < 5), path, k = 3)
    def scansStore(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation =>
          f.location.rootPaths.exists(r => r.toString.contains(s"$path/sigs") ||
            r.toString.contains(s"$path/vectors"))
        case _ => false
      }
      case _ => false
    }
    val plan = probe.queryExecution.optimizedPlan
    assert(scansStore(plan), "probe plan lost its store scans")
    val withAggFns = plan.collect {
      case a: Aggregate if scansStore(a) &&
        a.aggregateExpressions.exists(_.exists(_.isInstanceOf[AggregateExpression])) => a
    }
    assert(withAggFns.isEmpty,
      "aggregate functions over the stored index — corpus hashing leaked back in")
  }

  test("persisted LSH index: appends hash with the stored geometry exactly once; compaction preserves all of it") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 9); val b2 = mk(10 to 14); val b3 = mk(15 to 19)
    val p1 = java.nio.file.Files.createTempDirectory("graft_lsh_app1").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft_lsh_app2").toString
    Similarity.buildLshIndex(b1, bits = 4, tables = 4, dim = 8, p1)
    Similarity.buildLshIndex(b1, bits = 4, tables = 4, dim = 8, p2)
    assert(Similarity.lshAppendVectors(b2, p1, appendId = 1))
    assert(!Similarity.lshAppendVectors(b2, p1, appendId = 1),
      "replayed append id must be a no-op")
    assert(Similarity.lshAppendVectors(b3, p1, appendId = 2))
    assert(Similarity.lshAppendVectors(b2.unionByName(b3), p2, appendId = 1))
    val all = b1.unionByName(b2).unionByName(b3)
    def canon(path: String): Seq[String] =
      Similarity.probeLshIndex(all, path, k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    val streamed = canon(p1)
    assert(streamed == canon(p2), "append batching order changed the index contents")
    // the incrementally-built index answers exactly like the in-memory search
    val mem = Similarity.lshMultiTopKSearch(all, all, k = 3, bits = 4, tables = 4, dim = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == mem, "appended index diverged from the one-shot search")
    // compaction: single data dir per half, probes bit-identical, ledger kept
    assert(Similarity.compactLshIndex(spark, p1) == 6, "3 sig dirs + 3 vector dirs")
    assert(canon(p1) == streamed, "compaction changed probe results")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p1),
      spark.sparkContext.hadoopConfiguration)
    for (half <- Seq("sigs", "vectors")) {
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$p1/$half"))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      assert(dirs.count(s => fs.listFiles(s.getPath, true).hasNext) == 1,
        s"$half must compact to one data dir")
    }
    assert(!Similarity.lshAppendVectors(b2, p1, appendId = 1),
      "merged ids must stay refused after compaction")
    assert(Similarity.compactLshIndex(spark, p1) == 0, "re-run must be a no-op")
  }

  test("lsh hot-bucket cap: degenerate duplicates drop whole and audited; normal buckets unaffected") {
    // 40 byte-identical near-zero vectors hash to the SAME bucket in every
    // table — the degenerate batch that makes per-query candidate volume
    // O(corpus) without a cap; 10 ordinary vectors spread normally
    val hot = (100L to 139L).map(i => (i, Array.fill(8)(0.001f)))
    val normal = (0L to 9L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat)))
    val vecs = (hot ++ normal).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") === 100L || col("vec_id") < 5L)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
        .collect().map(_.toString).sorted.toSeq
    val uncapped = Similarity.lshMultiTopKSearch(vecs, queries, k = 3,
      bits = 4, tables = 4, dim = 8)
    val capped = Similarity.lshMultiTopKSearch(vecs, queries, k = 3,
      bits = 4, tables = 4, dim = 8, maxBucket = 20)
    // uncapped: the hot query drowns in its 39 duplicates; capped: the hot
    // bucket drops WHOLE in every table, so the hot query returns nothing
    assert(uncapped.filter(col("query_id") === 100L).count() == 3)
    assert(capped.filter(col("query_id") === 100L).count() == 0,
      "capped search must drop the pathological bucket entirely")
    // ordinary queries are untouched by the cap
    assert(canon(capped.filter(col("query_id") < 5L)) ==
      canon(uncapped.filter(col("query_id") < 5L)),
      "cap must not disturb normal buckets")
    // the drop is audited, never silent: one hot bucket per table
    val audit = Similarity.lshSearchOverflow(vecs, bits = 4, tables = 4, dim = 8,
      maxBucket = 20).collect()
    assert(audit.length == 4, s"expected 4 hot buckets (one per table): ${audit.length}")
    assert(audit.forall(_.getAs[Long]("bucket_size") >= 40L))
    // same contract through the persisted index
    val path = java.nio.file.Files.createTempDirectory("graft_lsh_cap").toString
    Similarity.buildLshIndex(vecs, bits = 4, tables = 4, dim = 8, path)
    val cappedProbe = Similarity.probeLshIndex(queries, path, k = 3, maxBucket = 20)
    assert(cappedProbe.filter(col("query_id") === 100L).count() == 0)
    assert(canon(cappedProbe.filter(col("query_id") < 5L)) ==
      canon(uncapped.filter(col("query_id") < 5L)),
      "probe cap must match the in-memory capped search")
    assert(Similarity.lshIndexOverflow(spark, path, maxBucket = 20).count() == 4)
    assert(Similarity.lshIndexOverflow(spark, path, maxBucket = 50).count() == 0,
      "a cap above every bucket size must audit clean")
  }

  test("lshTuneConfig: measured-p model picks a config that reaches its target") {
    val e = graft.core.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cfg = Similarity.lshTuneConfig(e, k = 3, targetRecall = 0.5,
      maxCandidatesPerQuery = 500.0, dim = 64)
    assert(cfg.tables >= 1 && cfg.bits >= 4 && cfg.bits <= 8)
    assert(cfg.candidatesPerQuery <= 500.0, s"config exceeds its own budget: $cfg")
    assert(cfg.sampleRecall >= 0.5,
      s"tuner could not reach the target inside a generous budget: $cfg")
    // the returned recall is a MEASURED number: an independent rerun of the
    // returned config must reproduce it exactly (everything deterministic)
    val brute = Similarity.cosineTopK(e, e.filter(col("vec_id") < 100), 3)
      .select(col("query_id"), col("neighbor_id"))
    val lsh = Similarity.lshMultiTopKSearch(e, e.filter(col("vec_id") < 100),
        k = 3, bits = cfg.bits, tables = cfg.tables, dim = 64)
      .select(col("query_id"), col("neighbor_id"))
    val hits = lsh.join(brute, Seq("query_id", "neighbor_id"), "left_semi").count()
    val actual = hits.toDouble / brute.count()
    assert(math.abs(actual - cfg.sampleRecall) < 1e-9,
      f"reported $cfg but independent rerun measured $actual%.3f")
  }

  test("ivf k-means: plan depth is flat in iteration count") {
    // Lloyd iterations collect the broadcast-sized centroid set to the driver
    // and rebuild it as a local relation, so the FINAL search plan must be
    // structurally identical no matter how many iterations ran — the failure
    // mode guarded against is per-iteration lineage compounding.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    def planNodes(iters: Int): Int =
      Similarity.ivfKmeansTopK(vecs, numCentroids = 2, iters = iters, k = 2)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    assert(planNodes(3) == planNodes(1))
  }

  test("int8 quantization: max maps to ±127, zero vectors stay zero") {
    val vecs = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs).orderBy("vec_id", "dim").collect()
      .map(r => (r.getLong(0), r.getAs[Int]("q8")))
    assert(q.filter(_._1 == 0L).map(_._2).toSeq == Seq(64, -127, 32))
    assert(q.filter(_._1 == 1L).forall(_._2 == 0))
  }

  test("tfidf: corpus-wide terms score zero, rare terms rank first") {
    val d2 = Seq(
      (1L, "shared rare1 shared"),
      (2L, "shared rare2"),
      (3L, "shared other")).toDF("doc_id", "text")
    val t = TextOps.tfidf(d2).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(t((1L, "shared")) == 0.0) // df == n_docs => idf 0
    assert(t((1L, "rare1")) > 0.0 && t((2L, "rare2")) > 0.0)
    assert(math.abs(t((1L, "rare1")) - math.floor(math.log(3.0) * 1e6 + 0.5) / 1e6) < 1e-12)
  }

  test("contamination: full shingle leak scores 1.0, disjoint scores 0.0") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // same shingles as bench doc
      (2L, "totally different words entirely here")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = Dedup.contamination(
        Dedup.wordShingles(corpus, 3), Dedup.wordShingles(bench, 3))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("overlap_frac")).toMap
    assert(out(1L) == 1.0 && out(2L) == 0.0)
  }

  test("sequence packing: bins cut at the exclusive-prefix token budget") {
    // shards = 1 pins the cut arithmetic independent of the (r17
    // hash-balanced) shard routing; token counts 3, 4, 2
    val docs = Seq(
      (0L, "a b c"), (32L, "d e f g"), (64L, "h i")).toDF("doc_id", "text")
    val out = TextOps.packSequences(docs, budget = 5, shards = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bin"), r.getAs[Long]("bin_offset")))
    // prefix sums (exclusive): 0, 3, 7 -> bins 0, 0, 1; offsets 0, 3, 2
    assert(out.toSeq == Seq((0L, 0L, 0L), (32L, 0L, 3L), (64L, 1L, 2L)))
    // the default routing is hex60(id) % shards — hash-balanced, matching
    // the oracle's hex60Sql text (q76/q223 family)
    val sharded = TextOps.packSequences(docs, budget = 5, shards = 32)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard")))
    def h(s: String): Long = graft.expressions.Hex60.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert(sharded.toSeq == Seq(0L, 32L, 64L).map(i =>
      (i, java.lang.Math.floorMod(h(i.toString), 32L))))
  }

  test("pii redaction: counts emails and phones, leaves clean text alone") {
    val docs2 = Seq(
      (1L, "reach a@b.com or c.d+x@e-f.org today"),
      (2L, "call +1 (555) 010-4242 or 555-010-9999 now"),
      (3L, "no pii here just words")).toDF("doc_id", "text")
    val out = TextOps.redactPii(docs2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"))).toMap
    assert(out(1L) == (2, 0))
    assert(out(2L) == (0, 2))
    assert(out(3L) == (0, 0))
    // digest changes iff something was redacted
    val digests = TextOps.redactPii(docs2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("redacted_md5")).toMap
    val cleanMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("no pii here just words".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(digests(3L) == cleanMd5)
  }

  test("vocabulary: minDf filters, ordering is (df, cf, term) total") {
    val docs = Seq(
      (1L, "apple banana apple"), (2L, "apple cherry"), (3L, "banana apple")
    ).toDF("doc_id", "text")
    val v = TextOps.vocabulary(docs, minDf = 2, topK = 10).orderBy("rank").collect()
    assert(v.map(_.getAs[String]("term")).toSeq == Seq("apple", "banana"))
    assert(v.head.getAs[Long]("df") == 3 && v.head.getAs[Long]("cf") == 4)
    assert(!v.exists(_.getAs[String]("term") == "cherry")) // df 1 < minDf
  }

  test("text ops: language id, quality, fingerprints are deterministic and sane") {
    val lang = TextOps.languageId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(lang(1L) == "en") // 'the'/'and' markers
    val q = TextOps.qualityFeatures(docs).filter(col("doc_id") === 1).collect().head
    assert(q.getAs[Int]("n_words") == 12)
    assert(math.abs(q.getAs[Double]("stopword_ratio") - 3.0 / 12.0) < 1e-12)
    val fp = TextOps.fingerprints(docs).collect()
    val byId = fp.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp_md5")).toMap
    assert(byId(1L) == byId(2L) && byId(1L) != byId(4L))
  }

  test("product quantization: complete deterministic codes, ADC finds exact duplicates") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    // vec 20 duplicates vec 3 exactly: same subvectors -> same codes ->
    // identical ADC scores, and each must be the other's top neighbor
    val base = mk(0 to 19)
    val dup = mk(3 to 3).select(lit(20L).as("vec_id"), col("embedding"))
    val vecs = base.unionByName(dup)
    val (m, k) = (2, 4)
    val cb = Similarity.pqCodebooks(vecs, m, k, iters = 2, dim = 8)
    assert(cb.count() <= m.toLong * k && cb.select("s").distinct().count() == m)
    val codes = Similarity.pqEncode(vecs, cb, m, dim = 8)
    // every vector gets exactly m codes, all within the codebook
    val perVec = codes.groupBy("vec_id").agg(count(lit(1)).as("n")).collect()
    assert(perVec.length == 21 && perVec.forall(_.getAs[Long]("n") == m.toLong))
    assert(codes.filter(col("code") >= k || col("code") < 0).count() == 0)
    // deterministic: an independent refit + re-encode reproduces the codes
    val codes2 = Similarity.pqEncode(vecs,
      Similarity.pqCodebooks(vecs, m, k, iters = 2, dim = 8), m, dim = 8)
    assert(codes.orderBy("vec_id", "s").collect().toSeq ==
      codes2.orderBy("vec_id", "s").collect().toSeq)
    // the duplicate pair shares all m codes, so ADC gives the duplicate
    // the MAXIMUM similarity for its twin (tied with any code-colliding
    // vector — at 4^2 combos over 21 vectors collisions are guaranteed,
    // and ties break by least neighbor_id, so assert on sims not ranks)
    val c3 = codes.filter(col("vec_id") === 3).orderBy("s").collect().map(_.getAs[Long]("code")).toSeq
    val c20 = codes.filter(col("vec_id") === 20).orderBy("s").collect().map(_.getAs[Long]("code")).toSeq
    assert(c3 == c20, "exact duplicate vectors must share every PQ code")
    val full = Similarity.pqAdcTopK(codes, cb, vecs.filter(col("vec_id") === 3),
        k = 21, m = m, dim = 8).collect()
    val simOfDup = full.find(_.getAs[Long]("neighbor_id") == 20L).get.getAs[Double]("sim")
    val maxSim = full.map(_.getAs[Double]("sim")).max
    assert(simOfDup == maxSim,
      "an exact duplicate must score the maximum ADC similarity for its twin")
  }

  test("persisted PQ index: frozen-codebook appends match the in-memory fit; compaction invisible; ledger survives") {
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val b1 = mk(0 to 9); val b2 = mk(10 to 19)
    val all = b1.unionByName(b2)
    val p = java.nio.file.Files.createTempDirectory("graft_pq_store").toString
    Similarity.buildPqIndex(b1, m = 2, k = 4, iters = 2, p, dim = 8)
    assert(Similarity.pqAppendVectors(b2, p, appendId = 1))
    def canon(): Seq[String] =
      Similarity.probePqIndex(all.filter(col("vec_id") < 5), p, k = 3)
        .collect().map(_.toString).sorted.toSeq
    // the grown store answers exactly like the in-memory ADC whose
    // codebooks were fit on the same b1 prefix
    val cb = Similarity.pqCodebooks(b1, m = 2, k = 4, iters = 2, dim = 8)
    val mono = Similarity.pqAdcTopK(Similarity.pqEncode(all, cb, m = 2, dim = 8),
        cb, all.filter(col("vec_id") < 5), k = 3, m = 2, dim = 8)
      .collect().map(_.toString).sorted.toSeq
    val before = canon()
    assert(before == mono, "store probe diverged from the prefix-fit in-memory ADC")
    // compaction collapses both halves' two batch dirs, changes nothing
    assert(Similarity.compactPqIndex(spark, p) == 4)
    assert(canon() == before, "compaction changed probe results")
    assert(Similarity.compactPqIndex(spark, p) == 0, "recompaction must be a no-op")
    // the ledger survives compaction: merged batch ids stay refused
    assert(!Similarity.pqAppendVectors(b2, p, appendId = 1))
    // a compacted index keeps accepting and serving new appends
    val b3 = mk(20 to 24)
    assert(Similarity.pqAppendVectors(b3, p, appendId = 2))
    val withNew = Similarity.probePqIndex(all.filter(col("vec_id") < 5), p, k = 21)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(withNew.exists(_ >= 20L), "post-compaction append never surfaced")
  }

  test("maintenance lock: concurrent maintainer refuses, holder completes, stale lock taken over") {
    import graft.store.MaintenanceLock
    def mk(r: Range) = r.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("graft_lock").toString
    Similarity.buildIvfIndex(mk(0 to 9), numCentroids = 2, iters = 2, p)
    assert(Similarity.ivfAppendCells(mk(10 to 19), p, appendId = 1))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)
    // a maintainer is mid-compaction (the lock is held on another thread):
    // a second compaction and an append must refuse loudly, not race
    val inside = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      MaintenanceLock.withLock(fs, p, "test-compact") {
        inside.countDown(); release.await()
      })
    holder.start()
    assert(inside.await(10, java.util.concurrent.TimeUnit.SECONDS))
    val refusal = intercept[IllegalStateException](Similarity.compactIvfIndex(spark, p))
    assert(refusal.getMessage.contains("single-maintainer"))
    intercept[IllegalStateException](Similarity.ivfAppendCells(mk(20 to 24), p, appendId = 2))
    release.countDown(); holder.join(10000)
    // released: maintenance proceeds normally (and the append ledger is intact)
    assert(Similarity.ivfAppendCells(mk(20 to 24), p, appendId = 2))
    assert(Similarity.compactIvfIndex(spark, p) == 3)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p, MaintenanceLock.LockName)),
      "lock must not outlive its operation")
    // a CRASHED maintainer's leftover lock file is taken over once stale
    val out = fs.create(new org.apache.hadoop.fs.Path(p, MaintenanceLock.LockName), false)
    out.write("{\"pid\":0,\"op\":\"crashed\"}".getBytes("UTF-8")); out.close()
    intercept[IllegalStateException](Similarity.compactIvfIndex(spark, p)) // still fresh: refuses
    Thread.sleep(50)
    assert(MaintenanceLock.withLock(fs, p, "takeover", staleAfterMs = 10) { 42 } == 42,
      "a stale crashed lock must be taken over")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p, MaintenanceLock.LockName)))
    // reentrancy: a maintainer composing another locked op on the same
    // store (the streaming-batch -> batch-appender delegation) re-enters
    MaintenanceLock.withLock(fs, p, "outer") {
      assert(Similarity.ivfAppendCells(mk(25 to 29), p, appendId = 3))
    }
  }

  test("a crashed (re)build's pending marker makes maintenance refuse loudly") {
    val base = java.nio.file.Files.createTempDirectory("graft_pqmark").toString + "/pq"
    val vecs = (0L until 30L).map(i => (i, Seq.fill(8)((i % 5).toDouble + 0.5)))
      .toDF("vec_id", "embedding")
    Similarity.buildPqIndex(vecs, m = 2, k = 4, iters = 1, base, dim = 8)
    // a completed build leaves no marker; appends work
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(base, "_build-pending")
    assert(!fs.exists(marker))
    // plant the crash-window marker: every maintenance door refuses
    val out = fs.create(marker, true); out.write("pid=0\n".getBytes); out.close()
    val more = (30L until 35L).map(i => (i, Seq.fill(8)(1.25))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqAppendVectors(more, base, appendId = 1)
    }
    assert(e1.getMessage.contains("incomplete"))
    intercept[IllegalArgumentException] { Similarity.compactPqIndex(spark, base) }
    // a re-run of the build clears the marker and maintenance resumes
    Similarity.buildPqIndex(vecs, m = 2, k = 4, iters = 1, base, dim = 8)
    assert(!fs.exists(marker))
    assert(Similarity.pqAppendVectors(more, base, appendId = 1))
  }
}
