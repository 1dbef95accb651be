package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory for the graft engine.
  *
  * Everything is UTC end-to-end (reference normalizes all timestamps to UTC:
  * `backend/app/services/ingestion.py:165-166`, daily bucketing UTC at
  * `backend/app/services/kpi.py:50`).
  */
object Graft {

  /** Write/metadata-path configs of [[localSession]], the one session
    * builder (tests, perfbench, Bench.main, Verify.main) — guide §6
    * territory. All are result-neutral; each is justified for BOTH bench
    * scale and 100 TB:
    *
    *  - committer algorithm v2: task output moves to the final location at
    *    TASK commit instead of being re-renamed sequentially by the driver
    *    at JOB commit. The store families here write many small
    *    partitioned trees (an LSH sigs tree is tables x 2^bits = 512
    *    directories), so v1's driver-side per-directory merge pass was
    *    pure serial overhead per write job. The price: a write job that
    *    fails after some task commits leaves those tasks' files in its
    *    output dir. Batch-store appends, compactions and the builds of
    *    the LM, drift, daily-drift, DSIR and decontamination stores write
    *    into a dot-prefixed staging dir that lands by one checked rename
    *    ([[graft.store.BatchStore.publish]] / `replace`), so a torn write
    *    there is never published. The IVF/LSH/PQ builds write in place
    *    under a `_build-pending` marker, so after a failed build every
    *    maintainer and probe refuses the index until the build is re-run.
    *    A plain `df.write` into a final path (Verify's dumps,
    *    `Store.writeCleanEvents`, a caller's own `overwrite`) is not
    *    staged: after a failed job that path holds a partial result until
    *    the write is re-run.
    *  - no `_SUCCESS` markers: one fewer FS create per write job; nothing
    *    in this repo (or Spark's read path) consumes them. The store
    *    ledgers key on DIRECTORY existence and real part files
    *    (`hasData` skips underscore files), so semantics are unchanged.
    *  - `fs.file.impl` = [[graft.store.LocalFs]]: without Hadoop's native
    *    library the stock local file system forks `chmod` for every file
    *    and directory it creates and `ls -ld` for every listed status
    *    whose permission is read: 595 forks in a pipeline_batch run and
    *    416 in a corpus_cycle run (JFR, seed 7). Without them
    *    pipeline_batch's raw-events → metric_daily time fell from 4.17 to
    *    3.06 s (medians of 10 paired runs, 4 cores). LocalFs sets and
    *    reads the same mode bits through `java.nio`. With the native
    *    library present it only skips a JNI call, and an object store
    *    never reads the key (its scheme has its own `fs.<scheme>.impl`).
    *    An explicit `spark.hadoop.fs.file.impl` system property (a
    *    counting file system, a stock one) is kept.
    *  - streaming checkpoints through the `FileSystem`-based manager:
    *    Spark's default writes offsets, commits and state through
    *    `FileContext`, whose `file:` scheme is Hadoop's own local file
    *    system, not `fs.file.impl`. Without the native library that forks
    *    `chmod` for every checkpoint file and `readlink` four times for
    *    every checkpoint rename: 915 `chmod` and 3,056 `readlink` starts
    *    in IngestStreamingSpec (JFR). Through the `FileSystem` API the
    *    checkpoint goes through [[graft.store.LocalFs]] and starts none;
    *    that suite's run fell from 134-148 s to 122-126 s (two runs each,
    *    4 cores). Offsets and commits still land by a temp-file rename
    *    that refuses to overwrite an existing batch file. A store with no
    *    `FileContext` binding already gets this manager from Spark's own
    *    fallback.
    *
    * Parameterized knob: SPARK_GRAFT_LIST_THRESHOLD overrides
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default
    * here 1024 vs Spark's 32). On the local FS, listing a 512-dir store
    * as a SPARK JOB costs more than the driver-side walk it replaces; on
    * an object store at 100 TB you want the parallel listing back — set
    * the env to Spark's default 32 there.
    */
  def perfConfs: Seq[(String, String)] = perfConfs(sys.props)

  private val FileImpl = "spark.hadoop.fs.file.impl"

  /** [[perfConfs]] over the JVM's explicit settings `props` (system
    * properties, which SparkConf also reads).
    */
  private[graft] def perfConfs(props: collection.Map[String, String]): Seq[(String, String)] = Seq(
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" ->
      sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "1024"),
    FileImpl -> props.getOrElse(FileImpl, classOf[graft.store.LocalFs].getName),
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** The engine's one session factory, tuned for the test container:
    * `local[n]`, shuffle partitions sized to cores (not the 200 default —
    * at 100 TB you would instead size to ~2-3x total executor cores / rely
    * on AQE coalescing, which is enabled here for exactly that reason).
    */
  def localSession(appName: String = "graft", cores: Int = 32): SparkSession = {
    val s = perfConfs.foldLeft(SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName))((b, kv) => b.config(kv._1, kv._2))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing sizes partitions by BYTES (1 MB default floor), which
      // collapses the tiny-but-CPU-heavy per-series model-fit shuffles
      // (groupByKey -> flatMapGroups iforest/ARIMA stages: a few MB of rows,
      // milliseconds of compute per row) onto 2-3 cores. A 64 KB floor keeps
      // those stages at full parallelism — measured 3x on the iforest stage —
      // while byte-based coalescing still applies to genuinely large scans
      // and joins. At cluster scale the same reasoning holds: model stages
      // are compute-bound, so the floor should track CPU budget, not bytes.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietNoisyLogs()
    s
  }

  /** Targeted log suppression for the four ADJUDICATED unpartitioned
    * windows (Logit.aucFromGroupedCounts — <= 1e6+1 quantized-score rows;
    * Subword.savePieces / Unigram.saveVocab — vocab-sized ranking;
    * TextOps.filterFunnel — 4 stage rows): each is bounded by construction
    * and documented in place, but WindowExec WARNs once per execution and
    * the flood buried the driver's r14 bench tail (the only signal the
    * driver keeps is the last ~2 KB of stdout). Suppressing the ONE noisy
    * logger — not the level, not the root — keeps every other WARN
    * visible. A constant-key `partitionBy(lit(0))` does NOT work as an
    * alternative: Catalyst folds the foldable key out of the partition
    * spec and the physical node still sees no partitioning (measured on
    * Spark 4.1, r15).
    *
    * The same holds for `ResolveWriteToStream`, which WARNs "adaptive.enabled
    * is not supported in streaming DataFrames/Datasets" on every streaming
    * query start: AQE is on for the batch work and the streaming engine
    * turns it off for its own plans, so the line carries no information.
    */
  def quietNoisyLogs(): Unit =
    try Seq("org.apache.spark.sql.execution.window.WindowExec",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(_,
        org.apache.logging.log4j.Level.ERROR))
    catch { case _: Throwable => () } // log backend absent/changed: cosmetic
}

/** Expression-level evaluation discipline for computed array columns.
  *
  * Two Catalyst behaviors can silently multiply the cost of an expensive
  * projected expression (measured on the q128 span-removal pathology,
  * where a tokenizer `split` re-ran per array-element access —
  * O(doc_len²) per document, 52 s on 600 KB of input):
  *
  *  1. `CollapseProject` inlines a single-reference non-cheap alias into
  *     its consumer; if the consumer reference sits inside a
  *     higher-order-function lambda body, the expression re-evaluates on
  *     EVERY element access (higher-order functions run interpreted, with
  *     no common-subexpression elimination).
  *  2. `InferFiltersFromGenerate` adds `size(x) > 0 AND isnotnull(x)`
  *     above a Generate whose input is an Attribute; predicate pushdown
  *     then substitutes the attribute's defining expression into the
  *     interpreted Filter, re-evaluating the full expression (twice) per
  *     row — and per element access for any lambda inside it. This is
  *     exactly the `explode(col("alias"))` shape.
  *
  * `materialized(e)` defends against both by routing `e` through
  * `explode(array(e))`: the value then flows out of a Generate as a plain
  * output attribute, which CollapseProject cannot inline downstream and
  * which pushdown cannot substitute past. Cost: one extra Generate row
  * copy per input row — no shuffle, no caching. Row-count-preserving
  * (`array(e)` always has exactly one element, even when `e` is null).
  */
object Eval {
  /** Evaluation barrier: compute `e` exactly once per row, downstream
    * consumers see only the materialized attribute. Use when binding an
    * expensive computed array/struct that later feeds lambda bodies or
    * explode. One generator per select — the barrier must be the only
    * generator in its projection.
    */
  def materialized(e: Column): Column = explode(array(e))
}

/** Canonical table loaders over the driver-provided parquet layout
  * (`/root/repo/TESTDATA.md`): one parquet per table under a scale-factor dir.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  // Relation cache: every spark.read.parquet call re-lists the path and
  // re-reads footers for schema (~70 ms each), a pure fixed cost repeated
  // ~110 times across the registry (~7 s of a bench run). DataFrames are
  // immutable plans, so per-(session, dir, table) reuse is safe.
  // RETENTION: although the map is a WeakHashMap on the session, entries are
  // in practice retained for the life of the process — the cached DataFrames
  // strongly reference their SparkSession, i.e. the value refers to the key,
  // which the WeakHashMap javadoc warns pins the entry (it can never become
  // weakly reachable). That is an accepted, bounded cost: an entry is ~10
  // small logical plans, and a process creates a handful of sessions (tests,
  // one bench/verify session). A deployment spinning up MANY short-lived
  // sessions should evict explicitly on session stop rather than rely on GC.
  // The source dirs are immutable test fixtures — callers that need fresh
  // file listings (e.g. Store paths) do not come through here.
  private val cache = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()

  private def cached(spark: SparkSession, dir: String, name: String)
                    (load: => DataFrame): DataFrame = {
    val m = cache.synchronized {
      var v = cache.get(spark)
      if (v == null) { v = scala.collection.concurrent.TrieMap.empty; cache.put(spark, v) }
      v
    }
    m.getOrElseUpdate((dir, name), load)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else cached(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))

  /** The events table's `ts` storage type has varied across testdata
    * generations — TIMESTAMP(NANOS) (which Spark 4 refuses to read
    * natively; the legacy flag reads it as LONG nanos) and plain
    * TIMESTAMP(MICROS) without a zone (which reads as TIMESTAMP_NTZ) —
    * so dispatch on what the parquet FOOTER's logical type annotation
    * actually says (the Spark-read schema alone is ambiguous: LongType is
    * also what a raw INT64 column of unknown unit would produce — a
    * `div 1000` guess there could be off by 1000x, so that case fails
    * loudly instead) and normalize to the session-zone TIMESTAMP every
    * downstream query expects. The NTZ→TIMESTAMP cast is value-preserving
    * ONLY under a UTC session zone, which is why it is asserted here
    * rather than assumed: a session built outside [[Graft.localSession]]
    * with a local zone would otherwise silently shift every event
    * timestamp and bake the shift into the cached DataFrame.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "events") {
      val zone = spark.conf.get("spark.sql.session.timeZone")
      require(zone == "UTC",
        s"graft requires spark.sql.session.timeZone=UTC (see Graft.localSession), got '$zone' " +
          "— casting the NTZ events under a non-UTC zone would silently shift every timestamp")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType if tsFooterIsNanos(spark, dir) =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.LongType =>
          throw new IllegalStateException(
            s"$dir/events.parquet: ts reads as LONG but the footer does not say " +
              "TIMESTAMP(NANOS) — a raw INT64 timestamp has no discoverable unit, " +
              "refusing to guess; annotate the column or convert it upstream")
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    }

  /** True iff the events file's `ts` column is annotated TIMESTAMP with
    * NANOS unit in the parquet footer — the one case where the legacy
    * nanosAsLong LONG read is known to carry nanoseconds.
    */
  private def tsFooterIsNanos(spark: SparkSession, dir: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = root.getFileSystem(conf)
    // recursive walk so a partitioned layout (part files nested under
    // key=value dirs) still yields a footer; no data file at all → false,
    // which lands in the caller's loud raw-INT64 refusal rather than an
    // empty-minBy crash
    val file: Option[org.apache.hadoop.fs.Path] =
      if (!fs.getFileStatus(root).isDirectory) Some(root)
      else {
        val it = fs.listFiles(root, true)
        var found: Option[org.apache.hadoop.fs.Path] = None
        while (found.isEmpty && it.hasNext) {
          val p = it.next().getPath
          if (p.getName.endsWith(".parquet") && !p.getName.startsWith("_") &&
            !p.getName.startsWith(".")) found = Some(p)
        }
        found
      }
    if (file.isEmpty) return false
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file.get, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      schema.containsField("ts") && (schema.getType(Seq("ts"): _*).getLogicalTypeAnnotation match {
        case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
    } finally reader.close()
  }

  /** The reference's canonical fact table `clean_events(source_id, ts, metric,
    * value)` (`backend/app/models/clean_event.py:8-23`), mapped from the
    * driver's `events` table: user_id -> source_id, event_type -> metric.
    */
  def cleanEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("user_id").as("source_id"),
      col("ts"),
      col("event_type").as("metric"),
      col("value"))
}
