package graft.streaming

import graft.store.{BatchStore, StoreFamily}
import graft.store.StoreFamily.Half
import graft.operators.DailyKpi
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming equivalents of the reference's "upload immediately
  * refreshes KPIs" behavior (SURVEY.md §2.6): the reference re-aggregates
  * affected series on every ingest (`routers/ingest.py:183-189`); here a file
  * stream + `foreachBatch` {clean -> dedup -> re-aggregate} reproduces that
  * continuously, and a watermarked windowed aggregation gives the
  * true-streaming variant the reference lacks.
  *
  * Scale notes: the windowed agg is keyed by (window, source_id, metric) —
  * state is bounded by the watermark horizon x key cardinality, and Spark's
  * state store partitions it across executors. The foreachBatch path reuses
  * the exact batch operators, so batch/streaming parity is by construction.
  */
object StreamingPipeline {

  /** File-source stream of clean events (schema of
    * `Tables.cleanEvents`): source_id, ts, metric, value.
    */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    readColumnsStream(spark, path, "source_id BIGINT, ts TIMESTAMP, metric STRING, value DOUBLE")

  /** The one stream driver every store maintainer runs on: `rows` drain
    * through `body` as `foreachBatch` micro-batches (`Update` mode, an
    * `AvailableNow` trigger, progress kept in `checkpoint`). A restart on
    * the same checkpoint resumes after the last committed batch; a batch
    * that failed before its commit reaches `body` again under the same
    * id, and each body's own ledger makes that replay a no-op.
    *
    * `body` receives Spark's batch id unchanged. A store with a built
    * `batch=0` lands stream batch i at i+1: the ANN, LM, drift, DSIR and
    * decontam-append bodies add the 1 themselves, and frame and
    * packed-export callers pass `(b, id) => ...(b, id + 1)`, because
    * those bodies also build `batch=0` from direct calls.
    */
  def maintain(rows: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)

  /** Watermarked tumbling-window KPI aggregation: the streaming twin of
    * [[DailyKpi.aggregate]] at hourly granularity; late data beyond the
    * watermark is dropped deterministically.
    */
  def windowedKpi(events: DataFrame, window: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("source_id"), col("metric"))
      .agg(
        sum(col("value")).as("value_sum"),
        avg(col("value")).as("value_avg"),
        count(lit(1)).as("value_count"))
      .select(col("window.start").as("window_start"), col("source_id"), col("metric"),
        col("value_sum"), col("value_avg"), col("value_count"))

  /** Micro-batch ingest loop: every batch is cleaned, deduped first-write-
    * wins, appended to the clean store, and the affected daily aggregates
    * are recomputed — the reference's eager-KPI-on-upload semantics.
    */
  def ingestAndRefresh(events: DataFrame, cleanStorePath: String, kpiStorePath: String,
                       checkpoint: String): DataStreamWriter[Row] =
    maintain(events, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val deduped = graft.ingest.Ingest.dedupInsert(
        batch, existingClean(spark, cleanStorePath), Seq("source_id", "ts", "metric"), "ts")
      graft.store.Store.writeCleanEvents(deduped, cleanStorePath)
      val touched = deduped.select(to_date(col("ts")).as("metric_date")).distinct()
      val refreshed = graft.ingest.Ingest.recomputeOverwrite(
        graft.store.Store.readCleanEvents(spark, cleanStorePath)
          .select("source_id", "ts", "metric", "value"),
        touched)
      // dynamic partition overwrite: ONLY the touched dates are replaced —
      // a full-mode overwrite here would drop every untouched date's rows
      graft.store.Store.overwriteMetricDaily(refreshed, kpiStorePath)
    }

  /** Streaming first-write-wins dedup on the clean-event key: duplicates
    * arriving within the watermark horizon are dropped with bounded state
    * (`dropDuplicatesWithinWatermark` evicts key state once the watermark
    * passes it — plain `dropDuplicates` on a stream would grow state
    * forever). This is the streaming twin of the batch
    * `Ingest.dedupInsert` / the reference's ON CONFLICT DO NOTHING insert
    * (`backend/app/services/ingestion.py:221-226`); re-deliveries older
    * than the horizon are handled by the idempotent store append, not by
    * state.
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("source_id", "ts", "metric")

  // ---- stateful sessionization (custom state via flatMapGroupsWithState) --

  case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start_us: Long, session_end_us: Long,
                        n_events: Long, value_sum: Double)

  /** True-streaming sessionization: per-user state holds the open session;
    * a gap larger than `gapMinutes` (or an event-time timeout once the
    * watermark passes the gap) closes it and emits one row. State size is
    * one record per ACTIVE user — bounded by the watermark horizon, not by
    * history — and the state store partitions by user across executors.
    * The batch twin (identical session boundaries) is query q39.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val gapUs = gapMinutes.toLong * 60 * 1000000
    // the watermarked timestamp column must flow UNTOUCHED into the stateful
    // operator (any projection or typed map that rebuilds it drops the
    // event-time watermark tag); micros are derived inside the function
    val typed = events
      .withWatermark("ts", s"$gapMinutes minutes")
      .select(col("source_id").cast("long").as("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]

    def close(user: Long, s: SessionState): SessionOut =
      SessionOut(user, s.startUs, s.lastUs, s.n, s.sum)
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
      (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)], state: GroupState[SessionState]) => {
        if (rows.isEmpty && state.hasTimedOut) {
          val out = state.getOption.map(close(user, _)).iterator
          state.remove()
          out
        } else {
          val sorted = rows.map { case (u, t, v) => (u, us(t), v) }.toArray.sortBy(_._2)
          var closed = List.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { case (_, ts, v) =>
            cur match {
              case Some(s) if ts - s.lastUs <= gapUs =>
                cur = Some(SessionState(s.startUs, math.max(s.lastUs, ts), s.n + 1, s.sum + v))
              case Some(s) =>
                closed ::= close(user, s)
                cur = Some(SessionState(ts, ts, 1, v))
              case None =>
                cur = Some(SessionState(ts, ts, 1, v))
            }
          }
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.lastUs / 1000 + gapMinutes.toLong * 60 * 1000)
          }
          closed.reverseIterator
        }
      })
  }

  // ---- stream-stream interval join (watermarked state on BOTH sides) ----

  /** Stream-stream inner join: each left event matches right events for the
    * same key within a trailing `lookbackMinutes` window. Both sides are
    * watermarked and the join condition bounds event time in BOTH
    * directions, so the state store can evict rows once the watermark
    * passes the window — without the time bound a stream-stream join's
    * state grows forever. Right columns must be pre-renamed (only the key
    * is shared); output is append-mode.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
                         leftTs: String, rightTs: String,
                         lookbackMinutes: Int = 60,
                         watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).as("l_side")
    val r = right.withWatermark(rightTs, watermark).as("r_side")
    l.join(r, expr(
      s"""l_side.$key = r_side.$key AND
         |r_side.$rightTs BETWEEN l_side.$leftTs - INTERVAL $lookbackMinutes MINUTES
         |                    AND l_side.$leftTs""".stripMargin))
  }

  // ---- streaming backward as-of enrichment (q53's join as a live stream) --

  case class LastRight(tsUs: Long, eventId: Long, value: Double)
  case class Enriched(user_id: Long, event_id: Long, ts_us: Long, value: Double,
                      err_event_id: Option[Long], err_value: Option[Double])

  /** Streaming twin of [[graft.operators.AsofJoin.backward]] (the q53
    * shape): every `leftType` event is enriched with the most recent
    * `rightType` event seen for the same user. State per key is ONE record —
    * the latest right payload — so state size is bounded by ACTIVE key
    * cardinality, never by history; no watermark-dependent eviction needed.
    *
    * Within a micro-batch, rows process in event-time order with right rows
    * before left rows at equal timestamps (inclusive ties, same as the batch
    * operator); duplicate right rows on (key, ts) resolve to the greatest
    * event id, matching q53's pre-dedup. Cross-batch stragglers enrich
    * against state as-arrived — the same caveat as [[anomalyStream]].
    */
  def asofEnrichStream(events: DataFrame, leftType: String = "click",
                       rightType: String = "error"): org.apache.spark.sql.Dataset[Enriched] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val typed = events
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts"), col("event_type"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, String, Double)]
    typed.groupByKey(_._2).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String, Double)],
       state: GroupState[LastRight]) => {
        // right rows sort before left at equal ts (side 0 < 1); among equal
        // (ts, side), ascending event id so the last right UPDATE wins
        val sorted = rows.toArray.sortBy { case (eid, _, t, typ, _) =>
          (us(t), if (typ == rightType) 0 else 1, eid)
        }
        var last = state.getOption
        val out = Vector.newBuilder[Enriched]
        sorted.foreach { case (eid, _, t, typ, v) =>
          if (typ == rightType) last = Some(LastRight(us(t), eid, v))
          else out += Enriched(user, eid, us(t), v, last.map(_.eventId), last.map(_.value))
        }
        last.foreach(state.update)
        out.result().iterator
      })
  }

  /** The same enrichment on Spark 4's `transformWithState` API (the
    * successor to flatMapGroupsWithState): typed `ValueState` with an
    * optional processing-time TTL, so a key whose right-side payload goes
    * stale for longer than `ttl` is evicted by the state store itself — at
    * 100 TB of keys that TTL is the difference between state bounded by
    * ACTIVE keys and state bounded by ALL keys ever seen. Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  def asofEnrichStreamTws(events: DataFrame, leftType: String = "click",
                          rightType: String = "error",
                          ttl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[Enriched] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    val typed = events
      .filter(col("event_type").isin(leftType, rightType))
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts"), col("event_type"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, String, Double)]
    // ProcessingTime mode ONLY when a TTL needs it: in that mode the engine
    // keeps scheduling state-cleanup micro-batches, so a TTL-less query
    // would spin forever under processAllAvailable()
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    typed.groupByKey(_._2).transformWithState(
      new AsofEnrichProcessor(leftType, rightType, ttl),
      timeMode, OM.Append())
  }

  /** Stateful processor for [[asofEnrichStreamTws]]: one `ValueState` record
    * per key holding the latest right-side payload; input-row handling is
    * identical to the flatMapGroupsWithState twin (event-time sort, right
    * before left on ties, last right update wins).
    */
  class AsofEnrichProcessor(leftType: String, rightType: String,
                            ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp, String, Double), Enriched] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var last: ValueState[LastRight] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastRight]("lastRight",
        org.apache.spark.sql.Encoders.product[LastRight],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, String, Double)],
        timerValues: TimerValues): Iterator[Enriched] = {
      def us(t: java.sql.Timestamp): Long =
        t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
      val sorted = rows.toArray.sortBy { case (eid, _, t, typ, _) =>
        (us(t), if (typ == rightType) 0 else 1, eid)
      }
      var cur = if (last.exists()) Some(last.get()) else None
      val out = Vector.newBuilder[Enriched]
      sorted.foreach { case (eid, _, t, typ, v) =>
        if (typ == rightType) cur = Some(LastRight(us(t), eid, v))
        else out += Enriched(key, eid, us(t), v, cur.map(_.eventId), cur.map(_.value))
      }
      cur.foreach(last.update)
      out.result().iterator
    }
  }

  // ---- streaming rolling-z anomaly detection (W2 semantics, bounded state) --

  case class ZBuf(vals: Seq[Double])
  case class ZPoint(source_id: Long, metric: String, ts_us: Long, value: Double,
                    z: Option[Double], is_outlier: Boolean)

  /** The reference's live anomaly endpoint (W2: trailing window, partial
    * windows >= 2 priors, sample stddev, flat-window sentinel z = 1e9 —
    * `backend/app/routers/metrics.py:158-261`) as a true stream: per-series
    * state is a ring buffer of the last `window` values, so state size is
    * window x active-series regardless of history. Events are processed in
    * event-time order within each micro-batch (cross-batch stragglers score
    * against the buffer as-arrived; the watermark bounds how late they can
    * be).
    */
  def anomalyStream(events: DataFrame, window: Int = 7, zThresh: Double = 3.0,
                    watermark: String = "2 hours"): org.apache.spark.sql.Dataset[ZPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("source_id").cast("long"), col("metric"), col("ts"), col("value"))
      .as[(Long, String, java.sql.Timestamp, Double)]
    typed.groupByKey(r => (r._1, r._2)).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (key: (Long, String), rows: Iterator[(Long, String, java.sql.Timestamp, Double)],
       state: GroupState[ZBuf]) => {
        val sorted = rows.toArray.sortBy(r => us(r._3))
        var buf = state.getOption.map(_.vals.toVector).getOrElse(Vector.empty[Double])
        val out = sorted.map { case (sid, m, t, v) =>
          val priors = buf.takeRight(window)
          val point = if (priors.size >= 2) {
            val mu = priors.sum / priors.size
            val sd = math.sqrt(priors.map(x => (x - mu) * (x - mu)).sum / (priors.size - 1))
            if (sd == 0.0) ZPoint(sid, m, us(t), v, Some(if (v != mu) 1e9 else 0.0), v != mu)
            else {
              val z = (v - mu) / sd
              ZPoint(sid, m, us(t), v, Some(math.max(-1e9, math.min(1e9, z))),
                math.abs(z) >= zThresh)
            }
          } else ZPoint(sid, m, us(t), v, None, is_outlier = false)
          buf = (buf :+ v).takeRight(window)
          point
        }
        state.update(ZBuf(buf))
        out.iterator
      })
  }

  /** The clean store, or None while it holds no data file. A store that
    * has data but cannot be read fails the micro-batch: treating it as
    * empty would re-append every key it already holds.
    */
  private def existingClean(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = BatchStore.fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(p) && BatchStore.hasData(fs, p))
      Some(graft.store.Store.readCleanEvents(spark, path))
    else None
  }

  /** Incremental HLL maintenance — the `foreachBatch` body for a streaming
    * distinct counter. Each micro-batch's registers merge into the parquet
    * register store with a per-register `max`; because max is commutative,
    * associative, and idempotent, the store after ANY prefix of batches is
    * bit-identical to the batch sketch over the same rows
    * ([[graft.sketch.Sketches]]' mergeable-state property — this is what
    * makes a sketch the right 100 TB distinct counter: fixed-size state,
    * no re-scan, no wobble with arrival order). The merged store lands via
    * a staging write + [[BatchStore.swap]], so a crash at any point leaves a
    * readable store (the previous one until the final rename) and a replay
    * re-merges idempotently.
    */
  def hllMergeBatch(storePath: String, keys: Seq[String], itemCol: String, b: Int = 8)
                   (batch: DataFrame, batchId: Long): Unit =
    idempotentSliceMerge(batch.sparkSession, storePath, batchId)(
      graft.sketch.Sketches.hllRegisters(batch, keys, col(itemCol), b),
      graft.sketch.Sketches.hllMergeRegisters(_, _, keys))

  /** Shared transactional core for SUM-merged (non-idempotent) sketch
    * stores — count-min cells and histogram buckets. These merge with SUM,
    * which is not idempotent, so replayed batches (foreachBatch is
    * at-least-once on failure recovery) MUST not double-count: a `_batches`
    * ledger file INSIDE the store directory records every merged id, and a
    * replayed id is a no-op — the transactional-foreachBatch pattern. The
    * ledger lands in the same [[BatchStore.swap]] as the sketch rows, so the
    * active store always carries the ledger that matches its contents —
    * there is no window where the store reflects a batch the ledger
    * doesn't, and a crash at any point leaves either the previous
    * store+ledger pair or the new one (never a mix) for the replay to
    * resolve. Parquet readers skip underscore-prefixed files, so the ledger
    * doesn't disturb `spark.read.parquet(storePath)`.
    */
  /** Merged batch ids from a store dir's `_batches` ledger. */
  private def readLedger(fs: org.apache.hadoop.fs.FileSystem, dir: String): Set[Long] =
    BatchStore.readFile(fs, new org.apache.hadoop.fs.Path(dir, "_batches"))
      .fold(Set.empty[Long])(_.linesIterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet)

  /** Stage `merged` with its `_batches` ledger and swap it in: the ledger
    * lands in the same swap as the rows, so store and ledger never diverge.
    */
  private def swapInLedgered(fs: org.apache.hadoop.fs.FileSystem, storePath: String,
                             tag: String, merged: DataFrame, ids: Set[Long],
                             preledger: Boolean = false): Unit =
    BatchStore.replace(fs, storePath, tag) { staging =>
      merged.write.mode("overwrite").parquet(staging)
      BatchStore.writeFile(fs, new org.apache.hadoop.fs.Path(staging, "_batches"),
        ids.toSeq.sorted.mkString("\n") + "\n")
      if (preledger) BatchStore.writeFile(fs,
        new org.apache.hadoop.fs.Path(staging, "_preledger"),
        "history precedes slice recording\n")
    }

  private def ledgeredSumMerge(spark: SparkSession, storePath: String, batchId: Long)
                              (sketch: => DataFrame,
                               merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val fs = BatchStore.fs(spark, storePath)
    val active = BatchStore.activeOpt(fs, storePath)
    val seen: Set[Long] = active.map(readLedger(fs, _)).getOrElse(Set.empty)
    if (seen.contains(batchId)) return
    val merged = active.map(spark.read.parquet(_)) match {
      case Some(prev) => merge(prev, sketch)
      case None       => sketch
    }
    swapInLedgered(fs, storePath, s"merge-$batchId", merged, seen + batchId)
  }

  /** Shared core for the IDEMPOTENT-merge sketch stores (HLL register max,
    * Bloom word OR) — and the per-batch SLICE record that gives every
    * sketch family an un-learn path ([[retireSketchBatches]]): the batch's
    * OWN sketch lands durably at `<store>.slices/batch=<id>` FIRST (a
    * replay overwrites it identically — per-batch sketches are
    * deterministic functions of the batch), then merges into the active
    * store from the STAGED parquet (one computation, the
    * appendDecontamBench treatment). Idempotent merges never needed a
    * `_batches` ledger for exactly-once, but retirement bookkeeping does:
    * the ledger (carried in the same staged swap as the rows) is what lets
    * [[retireSketchBatches]] check the slice record is COMPLETE before
    * rebuilding — a store whose history predates slice recording gets a
    * `_preledger` marker and retirement refuses it (the remedy is a
    * rebuild), because rebuilding from a partial slice set would silently
    * drop the unrecorded contributions.
    */
  private def idempotentSliceMerge(spark: SparkSession, storePath: String,
                                   batchId: Long)
                                  (sketch: => DataFrame,
                                   merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val fs = BatchStore.fs(spark, storePath)
    val active = BatchStore.activeOpt(fs, storePath)
    val seen: Set[Long] = active.map(readLedger(fs, _)).getOrElse(Set.empty)
    // a LEDGERED batch id is an exact no-op, even though the merge itself
    // is idempotent: re-writing the slice would clobber an epoch tombstone
    // ([[compactSketchSlices]]' `_merged-into` marker) and resurrect data
    // already folded into the epoch — the replayed rows would then count
    // once in the epoch slice and once in their own, and a later
    // retirement of the resurrected id would silently miss the epoch copy
    if (seen.contains(batchId)) return
    val sliceDir = s"$storePath.slices/batch=$batchId"
    sketch.write.mode("overwrite").parquet(sliceDir)
    val slice = spark.read.parquet(sliceDir)
    val merged = active.map(spark.read.parquet(_)) match {
      case Some(prev) => merge(prev, slice)
      case None       => slice
    }
    // appending to a pre-existing store that has NO ledger means history
    // was merged before slice recording existed — stamp it (and keep the
    // stamp), so retirement refuses instead of silently dropping the
    // unrecorded contributions
    swapInLedgered(fs, storePath, s"merge-$batchId", merged, seen + batchId,
      preledger = active.nonEmpty && (seen.isEmpty ||
        active.exists(a => fs.exists(new org.apache.hadoop.fs.Path(a, "_preledger")))))
  }

  /** Roll a pending slice-epoch journal forward ([[compactSketchSlices]]'
    * crash discipline, the `_minor-pending` treatment): the journal lands
    * only AFTER the staged epoch is complete, so healing always completes
    * the idempotent apply sequence — blank each merged source to a
    * tombstone carrying its `_merged-into-<target>` marker, swap the
    * staged epoch into the target dir (skipped if a prior attempt already
    * swapped it), drop the journal. Run by every slice-record entry point
    * before reading state.
    */
  private def recoverSliceEpoch(spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                storePath: String): Unit = {
    val root = s"$storePath.slices"
    val journal = new org.apache.hadoop.fs.Path(root, "_epoch-pending")
    val ids = BatchStore.readFile(fs, journal).getOrElse(return)
      .trim.split(",").map(_.toLong)
    val target = ids.head
    ids.tail.filter(_ != target).foreach { id =>
      val d = new org.apache.hadoop.fs.Path(s"$root/batch=$id")
      fs.delete(d, true)
      fs.mkdirs(d)
      BatchStore.writeFile(fs, new org.apache.hadoop.fs.Path(d, s"_merged-into-$target"),
        target.toString)
    }
    // the target swap has its own crash windows: between the swap's two
    // renames the target dir is MISSING with its old content at
    // `batch=<t>.prev` (recover restores it so the swap can re-run), and
    // after the staging rename the `.prev` leftover must go (a
    // `batch=N.prev` dir would crash the slice listing's id parse)
    val targetDir = s"$root/batch=$target"
    BatchStore.recover(fs, targetDir)
    val staging = new org.apache.hadoop.fs.Path(root, ".epoch-staged")
    if (fs.exists(staging)) BatchStore.swap(fs, staging, targetDir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$targetDir.prev"), true)
    fs.delete(journal, false)
  }

  /** EPOCH compaction for the slice record — the small-files answer for
    * the rebuild-from-survivors families: [[idempotentSliceMerge]] (and
    * the MG maintainer) land one slice dir per trigger forever, so a
    * long-running stream accumulates unbounded tiny dirs and the
    * retirement rebuild's listing cost grows with trigger count. This
    * merges every data-bearing slice with id <= `upTo` into ONE epoch
    * slice at the max merged id, using the SAME ascending-id fold the
    * rebuild applies — exact for max/OR state (associative + commutative)
    * and exact for the order-sensitive MG cut too, because the epoch is
    * precisely the rebuild's PREFIX fold (fold(epoch, later...) ==
    * fold-left over all in order). The merged store is untouched.
    *
    * GRANULARITY CONTRACT: merged sources blank to tombstones carrying a
    * `_merged-into-<target>` marker; retiring an id inside an epoch is
    * REFUSED (its rows are no longer separable — [[retireSketchBatches]]
    * names the remedy: retire the epoch id, which retires the whole
    * epoch). Choose `upTo` as the age horizon below which slice-level
    * retirement is no longer needed. Crash-ordered via a roll-forward
    * journal landed AFTER the staged epoch ([[recoverSliceEpoch]]); the
    * single-maintainer contract every store mutation already assumes
    * covers the apply window. Returns the number of slices merged (0 =
    * nothing to do).
    */
  private def compactSketchSlices(spark: SparkSession, storePath: String,
                                  upTo: Long,
                                  rebuild: Seq[DataFrame] => DataFrame): Int = {
    val fs = BatchStore.fs(spark, storePath)
    val root = new org.apache.hadoop.fs.Path(s"$storePath.slices")
    if (!fs.exists(root)) return 0
    recoverSliceEpoch(spark, fs, storePath)
    val cands = BatchStore.dataIds(fs, root.toString).filter(_ <= upTo)
    if (cands.length <= 1) return 0
    val target = cands.max
    val epoch = rebuild(cands.map(id =>
      spark.read.parquet(s"$root/batch=$id")).toIndexedSeq)
    val staging = new org.apache.hadoop.fs.Path(root, ".epoch-staged")
    fs.delete(staging, true)
    epoch.write.mode("overwrite").parquet(staging.toString)
    // journal AFTER staging (existence == staged epoch complete, heal
    // rolls forward), published atomically
    BatchStore.publishFile(fs, new org.apache.hadoop.fs.Path(root, "_epoch-pending"),
      (target +: cands.filter(_ != target)).mkString(","))
    recoverSliceEpoch(spark, fs, storePath)
    cands.length
  }

  /** [[compactSketchSlices]] for the HLL register slices. */
  def compactHllSlices(spark: SparkSession, storePath: String,
                       keys: Seq[String], upTo: Long): Int =
    compactSketchSlices(spark, storePath, upTo,
      _.reduce(graft.sketch.Sketches.hllMergeRegisters(_, _, keys)))

  /** [[compactSketchSlices]] for the Bloom word slices. */
  def compactBloomSlices(spark: SparkSession, storePath: String, upTo: Long): Int =
    compactSketchSlices(spark, storePath, upTo,
      _.reduce(graft.sketch.Sketches.bloomMergeWords))

  /** [[compactSketchSlices]] for the MG summary slices — the epoch is the
    * rebuild's prefix fold, so order-sensitivity is preserved exactly.
    */
  def compactMgSlices(spark: SparkSession, storePath: String, k: Int,
                      upTo: Long): Int =
    compactSketchSlices(spark, storePath, upTo, mgFold(k))

  /** Batch-level retirement for the OR/max-merged sketch stores — the
    * q194 decontamination treatment applied to the last store family
    * without an un-learn path: register maxes and Bloom bits cannot
    * subtract, so a departed slice's contributions can only leave by
    * REBUILDING the merged store from the surviving per-batch slices
    * ([[idempotentSliceMerge]] records one per merged batch; slices are
    * exact sketches of their slice, and the mergeable-state property
    * makes the survivor merge bit-identical to a from-scratch stream over
    * the survivors). Crash-ordered like the decontam rotation: (1) the
    * retired slice dirs blank to file-less tombstones — the intended data
    * loss, a re-run re-blanks; (2) the survivors re-merge (in ascending
    * batch-id order — the same left-fold a from-scratch stream applies,
    * which matters for the order-sensitive MG cut) and swap in with the
    * FULL ledger (retired ids stay refused — a slice re-enters only under
    * a fresh id). A crash between (1) and (2) leaves the old SUPERSET
    * store serving (estimates still include the departed slice until the
    * re-run — same window contract as the decontam retire-to-compact
    * gap); the re-run converges because blanking is idempotent.
    * Refuses stores whose history predates slice recording (`_preledger`
    * marker, or a ledgered id with no slice dir) — rebuilding from a
    * partial slice record would silently drop contributions; the remedy
    * is a from-scratch rebuild.
    */
  private def retireSketchBatches(spark: SparkSession, storePath: String,
                                  batchIds: Seq[Long],
                                  rebuild: Seq[DataFrame] => DataFrame): Unit = {
    require(batchIds.nonEmpty, "nothing to retire")
    val fs = BatchStore.fs(spark, storePath)
    recoverSliceEpoch(spark, fs, storePath) // heal a torn epoch compaction first
    val active = BatchStore.activeOpt(fs, storePath).getOrElse(
      throw new IllegalArgumentException(s"no sketch store at $storePath"))
    require(!fs.exists(new org.apache.hadoop.fs.Path(active, "_preledger")),
      s"$storePath history precedes slice recording — rebuild the store " +
      "before retiring (a partial slice record cannot prove completeness)")
    val seen = readLedger(fs, active)
    require(seen.nonEmpty,
      s"$storePath has no _batches ledger: grown before slice recording — " +
      "rebuild the store before retiring")
    batchIds.foreach(id => require(seen.contains(id),
      s"batch $id was never merged into $storePath"))
    seen.foreach(id => require(
      fs.exists(new org.apache.hadoop.fs.Path(s"$storePath.slices/batch=$id")),
      s"merged batch $id has no slice record — store partially predates " +
      "slice recording; rebuild before retiring"))
    // an id whose slice was folded into an epoch ([[compactSketchSlices]])
    // is no longer separable — the granularity coarsened deliberately;
    // retiring the EPOCH id retires the whole epoch
    batchIds.foreach { id =>
      val d = new org.apache.hadoop.fs.Path(s"$storePath.slices/batch=$id")
      val merged = fs.listStatus(d)
        .find(_.getPath.getName.startsWith("_merged-into-"))
      require(merged.isEmpty,
        s"batch $id was epoch-merged into batch " +
        merged.map(_.getPath.getName.stripPrefix("_merged-into-")).getOrElse("?") +
        " — slice-level retirement below the epoch is gone; retire the " +
        "epoch id to retire the whole epoch")
    }
    // (1) blank the retired slices (idempotent — a replay re-blanks)
    batchIds.foreach { id =>
      val d = new org.apache.hadoop.fs.Path(s"$storePath.slices/batch=$id")
      fs.delete(d, true)
      fs.mkdirs(d)
    }
    // (2) rebuild from the data-bearing survivors, ascending id order
    val survivors = seen.toSeq.sorted
      .map(id => new org.apache.hadoop.fs.Path(s"$storePath.slices/batch=$id"))
      .filter(BatchStore.hasData(fs, _))
      .map(p => spark.read.parquet(p.toString))
    val merged =
      if (survivors.nonEmpty) rebuild(survivors)
      else spark.read.parquet(active).limit(0) // all slices retired
    swapInLedgered(fs, storePath, "retire", merged, seen)
  }

  /** [[retireSketchBatches]] for the HLL register store: survivor slices
    * re-max-merge — bit-identical to [[graft.sketch.Sketches
    * .hllRegisters]] over the surviving rows (mergeable-state exactness),
    * so [[graft.sketch.Sketches.hllEstimate]] answers as if the departed
    * slice never streamed.
    */
  def retireHllBatches(spark: SparkSession, storePath: String,
                       keys: Seq[String], batchIds: Seq[Long]): Unit =
    retireSketchBatches(spark, storePath, batchIds,
      _.reduce(graft.sketch.Sketches.hllMergeRegisters(_, _, keys)))

  /** [[retireSketchBatches]] for the Bloom word store: survivor slices
    * re-OR — the rebuilt filter sheds every bit only the departed slice
    * set (the q194 rebuild-from-survivors treatment, without the exact
    * shingle half this standalone store doesn't keep).
    */
  def retireBloomBatches(spark: SparkSession, storePath: String,
                         batchIds: Seq[Long]): Unit =
    retireSketchBatches(spark, storePath, batchIds,
      _.reduce(graft.sketch.Sketches.bloomMergeWords))

  /** [[retireSketchBatches]] for the Misra-Gries summary store: survivor
    * slice summaries re-fold through [[graft.sketch.Sketches.mgMerge]]'s
    * deterministic cut in ascending batch-id order — the same left fold a
    * from-scratch stream over the survivors applies, so the rebuilt
    * summary keeps the mergeable-summaries bound over the surviving total
    * (every survivor-side heavy hitter present, undercount ≤ n/k).
    */
  def retireMgBatches(spark: SparkSession, storePath: String, k: Int,
                      batchIds: Seq[Long]): Unit =
    retireSketchBatches(spark, storePath, batchIds, mgFold(k))

  /** An MG summary as the store's `(item, cnt)` frame, sorted by item. */
  private def mgFrame(spark: SparkSession, m: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val rows = m.toSeq.sortBy(_._1)
    if (rows.isEmpty) Seq.empty[(String, Long)].toDF("item", "cnt")
    else rows.toDF("item", "cnt")
  }

  /** The MG store's one fold: `(item, cnt)` frames merged left to right
    * through [[graft.sketch.Sketches.mgMerge]]'s cut, starting from the
    * empty summary (a no-op: every stored summary holds at most k items).
    */
  private def mgFold(k: Int)(summaries: Seq[DataFrame]): DataFrame =
    mgFrame(summaries.head.sparkSession, summaries
      .map(_.collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("cnt")).toMap)
      .foldLeft(Map.empty[String, Long])(graft.sketch.Sketches.mgMerge(_, _, k)))

  /** Signed-delta retirement for the SUM-merged sketch stores — count-min
    * cells here ([[retireHistSlice]] is the histogram twin): counters
    * subtract EXACTLY ([[graft.text.TextOps.retireLm]]'s negated-counts
    * pattern), so un-learning a departed corpus slice is one more
    * [[ledgeredSumMerge]] whose increment is the slice's own cells
    * negated. Cells that reach zero are dropped, so the retired store is
    * ROW-identical to a from-scratch sketch over the survivors (a fresh
    * build never materializes untouched cells). Exactly-once via the same
    * `_batches` ledger as the appends — `retireId` must be fresh (the
    * monotone id discipline every delta cycle already follows), and the
    * departing rows must be exactly what once streamed in (counts go
    * negative otherwise, which the zero-drop would surface as a phantom
    * row — the caller owns slice fidelity, as with retireLm).
    */
  def retireCmsSlice(storePath: String, termCol: String,
                     d: Int = 3, w: Int = 1024)
                    (departing: DataFrame, retireId: Long): Unit =
    ledgeredSumMerge(departing.sparkSession, storePath, retireId)(
      graft.sketch.Sketches.cmsCells(departing, termCol, d, w)
        .withColumn("cell_total", -col("cell_total")),
      (prev, neg) => graft.sketch.Sketches.cmsMergeCells(prev, neg)
        .filter(col("cell_total") =!= 0L))

  /** [[retireCmsSlice]] for the histogram bucket store. */
  def retireHistSlice(storePath: String, keys: Seq[String], valueCol: String,
                      binWidth: Double = 50.0, numBins: Int = 20)
                     (departing: DataFrame, retireId: Long): Unit =
    ledgeredSumMerge(departing.sparkSession, storePath, retireId)(
      graft.sketch.Sketches.histogramSketch(departing, keys, col(valueCol),
          binWidth, numBins)
        .withColumn("n", -col("n")),
      (prev, neg) => graft.sketch.Sketches.histogramMerge(prev, neg, keys)
        .filter(col("n") =!= 0L))

  /** Incremental count-min maintenance — the `foreachBatch` body for a
    * streaming frequency sketch ([[ledgeredSumMerge]] carries the
    * transactional replay/crash contract).
    */
  def cmsMergeBatch(storePath: String, termCol: String, d: Int = 3, w: Int = 1024)
                   (batch: DataFrame, batchId: Long): Unit =
    ledgeredSumMerge(batch.sparkSession, storePath, batchId)(
      graft.sketch.Sketches.cmsCells(batch, termCol, d, w),
      graft.sketch.Sketches.cmsMergeCells)

  /** Incremental histogram-sketch maintenance — the `foreachBatch` body for
    * a streaming quantile sketch. Bucket counts merge with SUM (the same
    * non-idempotent family as count-min), so this reuses
    * [[ledgeredSumMerge]]'s batch-id ledger + staged swap: after ANY prefix
    * of batches, with any crash/replay interleaving, the store is
    * bit-identical to [[graft.sketch.Sketches.histogramSketch]] over the
    * same rows — so [[graft.sketch.Sketches.histogramQuantiles]] answers
    * from it with the exact batch semantics.
    */
  def histMergeBatch(storePath: String, keys: Seq[String], valueCol: String,
                     binWidth: Double, numBins: Int)
                    (batch: DataFrame, batchId: Long): Unit =
    ledgeredSumMerge(batch.sparkSession, storePath, batchId)(
      graft.sketch.Sketches.histogramSketch(batch, keys, col(valueCol), binWidth, numBins),
      graft.sketch.Sketches.histogramMerge(_, _, keys))

  /** Incremental MinHash dedup-store maintenance — the `foreachBatch` body
    * for continuous near-dup detection over an arriving corpus. Composes
    * the batch MinHash operators ([[graft.dedup.Dedup.minhashState]] /
    * [[graft.dedup.Dedup.minhashIncrementPairs]]) with the APPEND-ONLY
    * `batch=<id>` directory layout of the index appenders
    * ([[graft.similarity.Similarity.ivfAppendCells]]). Store layout:
    *
    *  - `sets/batch=<id>/`  (doc_id, sh, n_sh) — per-doc shingle-hash sets;
    *  - `bands/batch=<id>/` (doc_id, band_key) — the LSH index;
    *  - `pairs/batch=<id>/` (doc_a, doc_b, jaccard) — the verified pairs
    *    THIS batch contributed against historical buckets.
    *
    * Each batch computes signatures for its docs ONLY (per-doc functions —
    * stored docs never recompute), drops already-stored doc_ids (re-sent
    * docs are no-ops even across different batch ids), mines new-vs-all
    * candidates through the stored band index, Jaccard-verifies against the
    * stored sets, and APPENDS its increment — per-batch WRITE volume is the
    * batch's own rows, where a rewrite-merge store would re-write the whole
    * corpus every trigger and decay quadratically. Exactly-once without a
    * ledger file: `pairs/batch=<id>` lands LAST via a staged rename, and
    * its existence is the ledger — a crash after sets/bands but before
    * pairs leaves state a replay simply overwrites (both halves are
    * deterministic per-doc functions), and the replay EXCLUDES its own
    * partial leftovers from the "stored" view so re-sent docs still dedup
    * correctly. After ANY prefix of batches, with any crash/replay
    * interleaving, `pairs/` equals the uncapped batch
    * [[graft.dedup.Dedup.minhashLshPairs]] over the docs delivered so far —
    * the restart test asserts bit-identical rows. Small-files decay from
    * many appends is handled by [[compactMinhashStore]].
    */
  def minhashDedupBatch(storePath: String, n: Int = 3, numPerms: Int = 16,
                        bands: Int = 4, threshold: Double = 0.8)
                       (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // land heals a compactMinhashStore crash window BEFORE the ledger check:
    // if a crash between the compaction's two renames left only
    // `<half>.prev`, proceeding would see an empty store, re-mine without
    // history, and strand the compacted corpus in the .prev dirs
    BatchStore.land(MinhashStore, spark, storePath, batchId, "append") { fs =>
    // stored state = every published batch dir EXCEPT this id's partial
    // leftovers (a crashed attempt's sets/bands land before the pairs
    // ledger), MINUS rows logically dead under a retirement ledger entry
    // ([[retireMinhashStore]]); tombstones and empty dirs carry no files
    // and are skipped. A retired-then-re-sent doc (the changed-doc delta
    // cycle) passes the already-stored filter and re-enters with its new
    // text, because its old rows are dead in this view.
    val Seq(storedSets, storedBands) = BatchStore.live(MinhashStore, spark, storePath,
      Seq("sets", "bands"), exclude = Some(batchId)).map(_.map(_.drop("batch")))
    val (batchSets, batchBands) = graft.dedup.Dedup.minhashState(batch, n, numPerms, bands)
    val newSets = storedSets match {
      case Some(ps) => batchSets.join(ps.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => batchSets
    }
    val newBands = storedSets match {
      case Some(ps) => batchBands.join(ps.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => batchBands
    }
    val allSets = storedSets.map(_.unionByName(newSets)).getOrElse(newSets)
    val allBands = storedBands.map(_.unionByName(newBands)).getOrElse(newBands)
    val dupPairs = graft.dedup.Dedup
      .minhashIncrementPairs(newBands, allBands, allSets, threshold)
    // deterministic halves land first (replays overwrite them identically);
    // the pairs publish is the commit marker.
    // rebalance before the write (guide §6): the halves otherwise land one
    // tiny part file per upstream task (31/dir measured at sf0.1) — paid
    // again by every later append's stored() read and every compaction
    // listing. AQE sizes the rebalanced files by advisoryPartitionSize, so
    // a 100 TB batch still fans out; rows are unchanged, only file layout.
    def publishHalf(half: String, df: DataFrame): Unit =
      BatchStore.publish(fs, s"$storePath/$half", batchId)(
        df.hint("rebalance").write.mode("overwrite").parquet(_))
    publishHalf("sets", newSets)
    publishHalf("bands", newBands)
    publishHalf("pairs", dupPairs)
    }
  }

  /** The MinHash dedup store: per-doc sets and bands, then the pairs half
    * whose `batch=<id>` is the ledger. A retirement names `doc_id`s, and a
    * pair dies with EITHER endpoint.
    */
  private[graft] val MinhashStore = StoreFamily("minhash",
    Seq(Half("sets", Seq("doc_id")), Half("bands", Seq("doc_id")),
      Half("pairs", Seq("doc_a", "doc_b"))),
    retiredKey = "doc_id")

  /** Retirement half of the MinHash dedup store — [[graft.text.TextOps
    * .retireLm]]'s treatment for a ROW store (signatures are per-doc rows,
    * not additive counts, so retirement is a ledgered tombstone batch
    * rather than a negated delta): land the departing doc ids under
    * `retired/batch=<retireId>`; every reader and the appender's
    * already-stored filter apply [[BatchStore.alive]]'s ordering rule, and
    * [[compactMinhashStore]] applies retirements physically. `retireId`
    * must exceed every published batch id, and re-appends of a changed doc
    * must use a later id still — the natural monotone batch numbering of
    * the delta cycle. Exactly-once via the same dir-existence ledger as
    * the appenders; cost ∝ the retired slice (one small write; the corpus
    * is never touched).
    */
  def retireMinhashStore(spark: SparkSession, storePath: String,
                         retiredIds: DataFrame, retireId: Long): Boolean =
    BatchStore.retire(MinhashStore, spark, storePath, retiredIds, retireId)

  /** The read surface for the store's verified pairs: applies the
    * retirement liveness rule to BOTH endpoints, so between a retirement
    * and the next compaction the dead pairs are invisible, and after a
    * changed doc re-enters only its re-mined pairs show. With no pending
    * retirements this is exactly the raw `pairs/` read every earlier
    * caller did.
    */
  def readDedupPairs(spark: SparkSession, storePath: String): DataFrame =
    BatchStore.live(MinhashStore, spark, storePath, Seq("pairs")).head.fold(
      spark.emptyDataFrame
        .select(lit(0L).as("doc_a"), lit(0L).as("doc_b"), lit(0.0).as("jaccard"))
        .limit(0))(_.drop("batch"))

  /** [[graft.similarity.Similarity.compactIvfIndex]] for the MinHash dedup
    * store: collapse each half's accumulated `batch=` directories into one
    * (rows, pair parity, and the pairs-dir append ledger all preserved —
    * tombstone dirs keep replays refused), APPLYING any pending
    * retirements physically on the way through. The merged base lands at
    * the MAX data id (not 0) so that if blanking the applied retirement
    * rows crashes midway, the leftover retirement ids (all <= maxId) can
    * never re-kill the compacted rows — the [[BatchStore.alive]] strictly-greater
    * rule makes the replay idempotent. Retirement ledger dirs survive as
    * empty tombstones, so retire replays stay refused. Run it between
    * triggers; the probe/append path needs no coordination beyond the
    * single-maintainer assumption all the stores share.
    */
  def compactMinhashStore(spark: SparkSession, storePath: String): Int =
    BatchStore.compactStore(MinhashStore, spark, storePath, minor = false)

  /** Incremental IVF index maintenance — the `foreachBatch` body for a
    * growing embedding corpus: each micro-batch assigns its vectors to the
    * index's FIXED stored centroids and publishes one `batch=<id+1>` cell
    * directory ([[graft.similarity.Similarity.ivfAppendCells]] — directory
    * presence is the exactly-once ledger, so foreachBatch replays are
    * no-ops). Search continues through
    * [[graft.similarity.Similarity.probeIvfIndex]] unchanged, seeing every
    * published append; centroid drift correction is a batch re-index
    * ([[graft.similarity.Similarity.buildIvfIndex]]), not a streaming
    * concern.
    */
  def ivfAppendBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    graft.similarity.Similarity.ivfAppendCells(batch, storePath, batchId + 1)
    ()
  }

  /** File-source stream of embeddings (vec_id, embedding). */
  def readEmbeddingStream(spark: SparkSession, path: String): DataFrame =
    readColumnsStream(spark, path, "vec_id BIGINT, embedding ARRAY<FLOAT>")

  /** Incremental LSH index maintenance — [[ivfAppendBatch]] for the
    * multi-table hyperplane index: each micro-batch hashes its vectors with
    * the STORED geometry and publishes `batch=<id+1>` signature + payload
    * directories ([[graft.similarity.Similarity.lshAppendVectors]] — the
    * sigs directory's presence is the exactly-once ledger, payloads land
    * first so a crash never leaves unreachable-rescore candidates).
    */
  def lshAppendBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    graft.similarity.Similarity.lshAppendVectors(batch, storePath, batchId + 1)
    ()
  }

  /** Incremental PQ index maintenance — [[ivfAppendBatch]] for the
    * product-quantization store: each micro-batch is encoded against the
    * STORED frozen codebooks and published exactly-once
    * ([[graft.similarity.Similarity.pqAppendVectors]] — the codes
    * directory's presence is the ledger, payloads land first). ADC search
    * continues through [[graft.similarity.Similarity.probePqIndex]]
    * unchanged; codebook drift correction is a batch re-build, not a
    * streaming concern.
    */
  def pqAppendBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    graft.similarity.Similarity.pqAppendVectors(batch, storePath, batchId + 1)
    ()
  }

  /** File-source stream of documents (doc_id, text). */
  def readDocStream(spark: SparkSession, path: String): DataFrame =
    readColumnsStream(spark, path, "doc_id BIGINT, text STRING")

  /** Exactly-once append-only FRAME store — the minimal member of the
    * `batch=<id>` appender family: each micro-batch's transformed rows
    * land as one staged-renamed `batch=<id>` directory whose existence is
    * the ledger (foreachBatch replays are no-ops). `transform` must be a
    * deterministic row-wise function of the batch (map-only — no
    * cross-batch state), so the store's union over ANY prefix of batches,
    * with any crash/replay interleaving, equals the batch transform over
    * the rows delivered so far. This is the feature-store shape the
    * classifier refit lifecycle grows (q171): documents stream in,
    * quality features accumulate, and a refit from the grown store is
    * indistinguishable from a monolithic fit.
    */
  def frameAppendBatch(storePath: String, transform: DataFrame => DataFrame)
                      (batch: DataFrame, batchId: Long): Unit = {
    val fs = BatchStore.fs(batch.sparkSession, storePath)
    if (graft.store.Ledger.landed(fs, storePath, batchId)) return
    BatchStore.publish(fs, storePath, batchId)(
      transform(batch).write.mode("overwrite").parquet(_))
  }

  /** Streaming PACKED-EXPORT maintenance — the training-file tail-grower:
    * documents stream in (crawl order: every batch's doc ids exceed all
    * stored ids — enforced loudly, the contract a monotone ingest id
    * gives for free), each micro-batch's chunks pack onto the per-shard
    * TAILS of the existing export (offset-packing appends cleanly at the
    * tail because new folded chunk ids sort after every stored id in
    * every shard), and the served ledger equals the from-scratch q223
    * chain over every document delivered so far.
    *
    * Layout: `pack/batch=<id>` holds the batch's pack rows
    * (staged-renamed — the dir is the ledger, replays are no-ops);
    * `tails/batch=<id>` holds the ≤nShards-row cumulative per-shard state
    * AFTER the batch (max folded id for the monotonicity gate, token
    * total for the next batch's packing seed, landed after the pack
    * rows). CRASH WINDOW: dying between the two writes leaves a pack
    * batch without its tails — every maintenance entry heals first by
    * re-deriving the missing tails from the landed pack rows (a
    * ≤nShards-row aggregate per missing batch), so the window costs
    * nothing but that aggregate and replays converge.
    *
    * Scale shape: per batch, one chunking pass over the BATCH only, one
    * batch-sized window partitioned by shard, two ≤nShards-row frames;
    * the stored corpus is never re-read. Serving
    * ([[packedExportLedger]]) is one grouped aggregate over the pack
    * store — bins that straddle batch boundaries merge there, because
    * the group key is (shard, bin), not the batch.
    */
  def packedExportAppendBatch(storePath: String, budget: Int, nShards: Int,
                              chunkSize: Int = 64, chunkStride: Int = 48)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = BatchStore.fs(spark, storePath)
    graft.store.MaintenanceLock.withLock(fs, storePath, "pack-append") {
      val packDir = s"$storePath/pack"; val tailsDir = s"$storePath/tails"
      // heal a compaction that died inside its swap window first
      Seq(packDir, tailsDir).foreach(BatchStore.recover(fs, _))
      // compaction leaves published ids as EMPTY tombstone dirs (the
      // replay ledger must survive it) — reads must target live dirs only
      def liveIds(dir: String): Seq[Long] = BatchStore.dataIds(fs, dir)
      def tailsOf(df: DataFrame) = df.groupBy("shard")
        .agg(max("doc_id").as("max_id"), sum("n_tokens").as("tok_total"))
      def mergeTails(a: DataFrame, b: DataFrame) = a.unionByName(b)
        .groupBy("shard")
        .agg(max("max_id").as("max_id"), sum("tok_total").as("tok_total"))
      def land(df: DataFrame, dir: String, id: Long): Unit =
        BatchStore.publish(fs, dir, id)(df.write.mode("overwrite").parquet(_))
      // HEAL: any LIVE pack batch missing its tails snapshot (the crash
      // window) gets it re-derived before anything else reads the tails
      val haveTails = BatchStore.batchIds(fs, tailsDir).toSet
      liveIds(packDir).filterNot(haveTails).foreach { id =>
        val prev = liveIds(tailsDir).filter(_ < id)
        val prevTails =
          if (prev.isEmpty) spark.emptyDataFrame
          else spark.read.parquet(s"$tailsDir/batch=${prev.max}")
        val own = tailsOf(spark.read.parquet(s"$packDir/batch=$id"))
        land(if (prev.isEmpty) own else mergeTails(prevTails, own), tailsDir, id)
      }
      if (!graft.store.Ledger.landed(fs, packDir, batchId)) {
        val tailIds = liveIds(tailsDir)
        val tails =
          if (tailIds.isEmpty)
            spark.range(0).select(col("id").as("shard"),
              lit(Long.MinValue).as("max_id"), lit(0L).as("tok_total"))
          else spark.read.parquet(s"$tailsDir/batch=${tailIds.max}")
        // the batch's pack units: sliding-window chunks folded to the
        // scalar packing key (q223's unit, q223's envelope guard applies
        // upstream; shard = hex60(id) mod nShards, packSequences'
        // hash-balanced default)
        val units = graft.text.TextOps
          .chunkDocs(batch, size = chunkSize, stride = chunkStride)
          .select((col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
            col("n_tok").as("n_tokens"))
          .withColumn("shard", pmod(graft.dedup.Dedup.hex60(
            col("doc_id").cast("string")), lit(nShards.toLong)))
        val joined = units.join(broadcast(tails), Seq("shard"), "left")
          .localCheckpoint(true) // chunked once: the gate and the pack both read it
        // the monotone-ingest contract, enforced: a batch reaching behind
        // a stored id would silently corrupt every later bin of its shard
        val behind = joined.filter(col("doc_id") <= col("max_id")).count()
        require(behind == 0L,
          s"packed-export contract violated: $behind chunk ids at/behind a stored tail")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val packed = joined
          .withColumn("cum_excl", coalesce(col("tok_total"), lit(0L))
            + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("bin", expr(s"cum_excl div $budget"))
          .withColumn("bin_offset", col("cum_excl") - col("bin") * budget)
          .select("shard", "bin", "doc_id", "n_tokens", "bin_offset")
        land(packed, packDir, batchId)
        land(mergeTails(
          tails.select(col("shard"), col("max_id"), col("tok_total")),
          tailsOf(packed)), tailsDir, batchId)
      }
    }
  }

  /** Small-file compaction for the packed-export store: the per-batch
    * pack dirs merge into one `batch=0` (a pure row-set rewrite — bins
    * never change, so the served ledger is invariant), published batch
    * ids stay as empty tombstone dirs so replays remain no-ops, and the
    * tails ledger collapses to the cumulative state RE-DERIVED from the
    * merged pack rows at `batch=0` (plus matching tombstones) — exact by
    * construction, and immune to a stale latest-tails snapshot left by
    * the torn-append window. Both halves swap through the
    * standard two-rename `.prev` window; a crash BETWEEN the swaps is
    * harmless by construction — the tails content is cumulative state,
    * invariant under pack compaction, so either generation pairs
    * correctly with either. Returns true when anything merged.
    */
  def compactPackedExport(spark: SparkSession, storePath: String): Boolean = {
    val fs = BatchStore.fs(spark, storePath)
    graft.store.MaintenanceLock.withLock(fs, storePath, "pack-compact") {
      val packDir = s"$storePath/pack"; val tailsDir = s"$storePath/tails"
      Seq(packDir, tailsDir).foreach(BatchStore.recover(fs, _))
      def ids(dir: String) = BatchStore.batchIds(fs, dir)
      if (BatchStore.dataIds(fs, packDir).size <= 1) false
      else {
        val merged = spark.read.parquet(packDir)
          .select("shard", "bin", "doc_id", "n_tokens", "bin_offset")
          .localCheckpoint(true)
        // Collapse the tails FROM the merged pack rows, not from the
        // latest tails snapshot (r15 ADVICE 1): if the newest pack
        // batch landed without its tails (the torn-append window),
        // the latest snapshot is STALE — collapsing it to batch=0
        // would seed every later append's cum_excl from a too-small
        // tok_total, and post-compaction the heal could never detect
        // it (pack batch=0 has a matching tails batch=0). The pack
        // rows carry every chunk's folded id and token count, so
        // groupBy(shard).agg(max, sum) IS the exact cumulative state
        // by construction — and it also covers the no-tails-at-all
        // case that made live(tailsDir).max throw on empty.
        val latestTails = merged.groupBy("shard")
          .agg(max("doc_id").as("max_id"), sum("n_tokens").as("tok_total"))
          .localCheckpoint(true)
        // self-running vacuum: ONE watermark marker per half instead of
        // a tombstone dir per published id. The tails watermark covers
        // the pack ledger too — a tails id can trail its pack id
        // through the torn-append window, and the union keeps the two
        // halves' replay rules aligned after the swap
        def stageHalf(dir: String, df: DataFrame, ledgerIds: Seq[Long]) =
          BatchStore.stage(fs, dir, "compact") { st =>
            df.write.mode("overwrite").parquet(s"$st/batch=0")
            BatchStore.stageLedger(fs, dir, st, ledgerIds, 0L, vacuumLedger = true)
          }
        val packStaging = stageHalf(packDir, merged, ids(packDir))
        val tailsStaging = stageHalf(tailsDir, latestTails,
          (ids(packDir) ++ ids(tailsDir)).distinct)
        // a store whose every tails snapshot was lost to crashes has no
        // tails dir to move aside; the swap then just lands the staging
        BatchStore.swap(fs, packStaging, packDir)
        BatchStore.swap(fs, tailsStaging, tailsDir)
        true
      }
    }
  }

  /** Apply a CORPUS DELTA to a stream-grown packed export in place — the
    * maintenance step between stream sessions when a re-crawl revises or
    * removes documents the store already packed (the r15 verdict's item
    * 6: q227 grows the export, q224/q226 close the batch delta, this op
    * closes the loop ON the store so the next tranche streams onto
    * repaired tails).
    *
    * `newDocs` is the complete post-delta snapshot of the STORED id range
    * (its chunks re-pack from each shard's first affected unit onward —
    * [[graft.operators.Shards.incrementalPackFrame]], so the reuse is
    * bin-prefix-exact); `affectedUnitIds` carries the invalidated FOLDED
    * unit ids from BOTH sides of the delta (A-units of changed+removed,
    * B-units of changed+added — a shrunk document must invalidate its
    * vanished tail units). The repaired pack lands as one `batch=0`
    * generation and the ledger is VACUUMED: a `_vacuumed_below` watermark
    * ([[graft.store.Ledger]]) replaces every historical batch dir, so a
    * replayed pre-repack stream batch stays a no-op with ZERO tombstone
    * dirs kept — this is the maintenance moment metadata growth resets.
    * Tails re-derive from the repaired pack rows (exact by construction,
    * the compaction treatment), so the next stream batch seeds its
    * cum_excl correctly; the monotone-ingest gate keeps holding because
    * a delta never raises a shard's max folded id past what the next
    * tranche exceeds (re-keyed additions must exceed the stored range,
    * exactly [[packedExportAppendBatch]]'s contract).
    *
    * Scale shape: the stored pack is touched by one read + the
    * ≤nShards-aggregate/suffix-window pair of the incremental pack; the
    * new snapshot pays one map-only chunking pass; nothing else is
    * corpus-sized. Crash-safe via the same staged two-rename swaps as
    * compaction (tails content is derivable state — either generation
    * pairs correctly with either pack half, and the next maintenance
    * entry heals a torn window from the pack rows).
    */
  def repackPackedExport(spark: SparkSession, storePath: String, budget: Int,
                         nShards: Int, newDocs: DataFrame,
                         affectedUnitIds: DataFrame,
                         chunkSize: Int = 64, chunkStride: Int = 48): Unit = {
    val fs = BatchStore.fs(spark, storePath)
    graft.store.MaintenanceLock.withLock(fs, storePath, "pack-repack") {
      val packDir = s"$storePath/pack"; val tailsDir = s"$storePath/tails"
      Seq(packDir, tailsDir).foreach(BatchStore.recover(fs, _))
      def ids(dir: String): Seq[Long] = BatchStore.batchIds(fs, dir)
      require(BatchStore.dataIds(fs, packDir).nonEmpty,
        s"repackPackedExport: $packDir holds no packed data to repair")
      val unitsB = graft.text.TextOps
        .chunkDocs(newDocs, size = chunkSize, stride = chunkStride)
        .select((col("doc_id") * 1000000L + col("chunk_idx")).as("doc_id"),
          col("n_tok").as("n_tokens"))
      val packA = spark.read.parquet(packDir)
        .select("shard", "bin", "doc_id", "n_tokens", "bin_offset")
      val packB = graft.operators.Shards
        .incrementalPackFrame(unitsB, packA, affectedUnitIds, budget, nShards)
        .localCheckpoint(true)
      val tailsB = packB.groupBy("shard")
        .agg(max("doc_id").as("max_id"), sum("n_tokens").as("tok_total"))
        .localCheckpoint(true)
      // the new watermark: strictly above every ledgered id (and never
      // below an already-stamped one) — all pre-repack batch ids become
      // by-rule tombstones; the next stream batch id on the same
      // checkpoint is exactly this value and passes the landed() check
      val w = math.max(
        (ids(packDir) ++ ids(tailsDir)).foldLeft(0L)(math.max) + 1L,
        math.max(graft.store.Ledger.watermark(fs, packDir),
          graft.store.Ledger.watermark(fs, tailsDir)))
      for ((dir, df) <- Seq(packDir -> packB, tailsDir -> tailsB))
        BatchStore.replace(fs, dir, "repack") { staging =>
          df.write.mode("overwrite").parquet(s"$staging/batch=0")
          graft.store.Ledger.vacuum(fs, staging, w) // stamps the watermark
        }
    }
  }

  /** Serve the export ledger from the pack store: one grouped aggregate
    * over every landed batch — equal to [[graft.operators.Shards
    * .packedLedger]] over a monolithic pack of all documents delivered
    * so far, and invariant under [[compactPackedExport]] (the group key
    * is (shard, bin), which compaction never touches).
    */
  def packedExportLedger(spark: SparkSession, storePath: String): DataFrame =
    graft.operators.Shards.packedLedger(
      spark.read.parquet(BatchStore.active(BatchStore.fs(spark, storePath),
        s"$storePath/pack")))

  /** Incremental LM maintenance — the `foreachBatch` body for a trigram
    * Stupid-Backoff model that keeps learning as the corpus arrives: each
    * micro-batch trains count DELTAS on its own documents only and appends
    * them via [[graft.text.TextOps.appendLm]] (counts are additive longs,
    * so after any prefix of batches the store scores exactly like the
    * monolithic fit over the documents delivered so far; the
    * `uni/batch=<id+1>` commit marker makes foreachBatch replays no-ops).
    * Unlike [[minhashDedupBatch]] there is no per-doc idempotency layer:
    * counting is not keyed by doc_id, so the maintainer relies on the
    * file-source's exactly-once delivery (each document appears in ONE
    * batch) — re-sending a document under a fresh batch id double-counts
    * it, which is the correct semantics for a count model fed an
    * append-only corpus. Score at any time with
    * [[graft.text.TextOps.scoreWithLm]]; merge small files with
    * [[graft.text.TextOps.compactLm]] between triggers.
    */
  def lmAppendBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    graft.text.TextOps.appendLm(batch, storePath, batchId + 1)
    ()
  }

  /** Streaming drift-monitor maintenance — [[lmAppendBatch]]'s contract
    * for the bucket-count store: each micro-batch lands its own (feature,
    * bucket, c) deltas via [[graft.operators.Drift.appendDriftCounts]]
    * (additive longs; the `cur/batch=<id+1>` dir is the commit marker, so
    * replays are no-ops). The store must be BUILT first
    * ([[graft.operators.Drift.buildDriftStore]] on the baseline snapshot);
    * after any drained prefix, [[graft.operators.Drift.psiFromStore]]
    * reports baseline vs (baseline + everything delivered so far).
    */
  def driftAppendBatch(storePath: String,
                       features: Seq[(String, org.apache.spark.sql.Column)])(
      batch: DataFrame, batchId: Long): Unit = {
    graft.operators.Drift.appendDriftCounts(batch, features, storePath, batchId + 1)
    ()
  }

  /** Incremental DSIR-model maintenance — [[lmAppendBatch]]'s contract for
    * the importance-resampling count store: each micro-batch lands its own
    * (bucket, ct, cr) deltas via [[graft.text.TextOps.appendDsir]]
    * (additive longs, so after any prefix of batches the store scores
    * exactly like the monolithic fit over the documents delivered so far;
    * the `buckets/batch=<id+1>` commit marker makes replays no-ops). The
    * store must be BUILT first ([[graft.text.TextOps.saveDsir]] on the
    * curated prefix — the decontam-appender convention): appends read the
    * store's pinned bucket count m.
    */
  def dsirAppendBatch(storePath: String, isTarget: org.apache.spark.sql.Column)(
      batch: DataFrame, batchId: Long): Unit = {
    graft.text.TextOps.appendDsir(batch, isTarget, storePath, batchId + 1)
    ()
  }

  /** File-source stream with a caller-provided schema, at most 16 files
    * per micro-batch — the one reader behind the event, document and
    * embedding streams, and the one the sketch maintainers use for
    * arbitrary column subsets (HLL key/item, CMS terms, histogram values).
    */
  def readColumnsStream(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "16")
      .parquet(path)

  /** Incremental Bloom-filter maintenance — the `foreachBatch` body for a
    * streaming membership prefilter (e.g. the benchmark / historical-corpus
    * side of [[graft.dedup.Dedup.bloomContamination]], kept current as the
    * protected set grows). Word rows merge with bitwise OR, which like the
    * HLL register max is commutative, associative, and IDEMPOTENT — so no
    * `_batches` ledger is needed: a replayed batch re-ORs the same bits and
    * the store after ANY prefix of batches is bit-identical to
    * [[graft.sketch.Sketches.bloomWords]] over the same rows. Lands via the
    * same staged [[BatchStore.swap]] crash contract as the other maintainers.
    */
  def bloomMergeBatch(storePath: String, itemCol: String,
                      k: Int = 4, m: Int = 1 << 21)
                     (batch: DataFrame, batchId: Long): Unit =
    idempotentSliceMerge(batch.sparkSession, storePath, batchId)(
      graft.sketch.Sketches.bloomWords(batch, itemCol, k, m),
      graft.sketch.Sketches.bloomMergeWords)

  /** Streaming decontamination router — the probe-side consumer of a
    * [[graft.dedup.Dedup.buildDecontamStore]] artifact: each micro-batch of
    * arriving corpus docs is shingled, prefiltered through the stored Bloom
    * words (broadcast, definite-NOs never join), exact-verified against the
    * stored benchmark shingles, and its per-doc verdicts land as an
    * `out/batch=<id>` directory (staged rename; directory existence is the
    * exactly-once ledger, the index appenders' contract). The union of all
    * published batches equals the batch
    * [[graft.dedup.Dedup.bloomContamination]] over the same docs — the
    * restart test asserts bit-identical rows. Geometry comes from the
    * artifact's config row, never from call-site arguments.
    */
  def decontamRouteBatch(storePath: String, outPath: String)
                        (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = BatchStore.fs(spark, outPath)
    if (graft.store.Ledger.landed(fs, outPath, batchId)) return
    // read-only .prev fallbacks cover appendDecontamBench's words swap and
    // compactDecontamStore's shingle swap windows
    val storeFs = BatchStore.fs(spark, storePath)
    def active(h: String): String = BatchStore.active(storeFs, s"$storePath/$h")
    val cfg = spark.read.parquet(active("config")).head()
    val (n, k, m) = (cfg.getAs[Int]("n"), cfg.getAs[Int]("k"), cfg.getAs[Int]("m"))
    // the exact half reads LIVE shingles only, so a rotated benchmark
    // ([[graft.dedup.Dedup.retireDecontamBench]]) stops flagging verdicts
    // immediately — before the compaction applies it physically
    val verdicts = graft.dedup.Dedup.bloomContaminationAgainst(
      graft.dedup.Dedup.wordShingles(batch, n),
      graft.dedup.Dedup.liveDecontamShingles(spark, storePath),
      spark.read.parquet(active("words")), k, m)
    BatchStore.publish(fs, outPath, batchId)(verdicts.write.mode("overwrite").parquet(_))
  }

  /** Incremental decontam-store maintenance — the BENCH side's
    * `foreachBatch` body (the router above is the probe side): each
    * micro-batch of newly-shipped benchmark docs OR-merges its shingle
    * bloom bits into the stored filter and appends its new shingles, via
    * [[graft.dedup.Dedup.appendDecontamBench]] (words land first — a
    * superset filter is safe; the `shingles/batch=<id+1>` marker makes
    * foreachBatch replays no-ops). New suites start blocking the very next
    * routed corpus batch, with no rebuild of the suites already stored.
    */
  def decontamAppendBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    graft.dedup.Dedup.appendDecontamBench(batch, storePath, batchId + 1)
    ()
  }

  /** Incremental Misra-Gries heavy-hitters maintenance — the `foreachBatch`
    * body for a streaming frequent-items summary. MG summaries merge
    * through [[graft.sketch.Sketches.mgMerge]]'s deterministic cut
    * (non-idempotent, like the sum-merged family), so this reuses
    * [[ledgeredSumMerge]]'s batch-id ledger + staged swap. The stored
    * table is ≤ k (item, cnt) rows; both sides of each merge are bounded,
    * so the driver-side fold is a constant-size operation per trigger.
    * The stream-grown summary keeps the theorem over the TOTAL delivered
    * rows (mergeable-summaries bound): every item with overall count >
    * n/k is present, undercounted by at most n/k — PropertySpec pins the
    * bound over arbitrary splits, IngestStreamingSpec over
    * restart/replay.
    */
  def mgMergeBatch(storePath: String, itemCol: String, k: Int)
                  (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    ledgeredSumMerge(spark, storePath, batchId)({
      // the batch's OWN summary lands durably as the slice record FIRST
      // (then reads back — one computation), giving the cut-merged family
      // the same rebuild-from-survivors un-learn path as HLL/Bloom
      // ([[retireMgBatches]]); evaluated lazily, so a ledgered replay
      // never rewrites a slice
      val slice = mgFrame(spark, graft.sketch.Sketches.mgSummary(batch, itemCol, k))
      slice.write.mode("overwrite").parquet(s"$storePath.slices/batch=$batchId")
      spark.read.parquet(s"$storePath.slices/batch=$batchId")
    },
      (prev, next) => mgFold(k)(Seq(prev, next)))
  }

  /** Incremental PCA-moments maintenance — the `foreachBatch` body for a
    * live embedding feed: [[graft.similarity.Pca.momentSums]]' count/first/
    * second-moment BIGINT sums merge by plain SUM (additive by
    * construction), so [[ledgeredSumMerge]]'s batch-id ledger + staged swap
    * give exactly-once accumulation, and `Pca.fitFromMoments` over the
    * store is hash-identical to the batch fit over all delivered vectors —
    * the model keeps refitting as the corpus arrives, at d^2-row state.
    */
  def pcaMomentsBatch(storePath: String, dim: Int = 64)
                     (batch: DataFrame, batchId: Long): Unit =
    ledgeredSumMerge(batch.sparkSession, storePath, batchId)(
      graft.similarity.Pca.momentSums(batch, dim),
      graft.similarity.Pca.mergeMoments)

  /** Signed-delta retirement for the PCA moments store — the same
    * negated-increment treatment as [[retireCmsSlice]]: the quantized
    * per-row floor terms sum exactly, so subtracting the departing
    * vectors' own moment table leaves every (i,j) cell (and the count
    * row) bit-equal to a fresh [[graft.similarity.Pca.momentSums]] over
    * the survivors. NO zero-drop here — [[graft.similarity.Pca
    * .fitFromMoments]] requires full d²+d+1 cell coverage and a zero is a
    * legitimate moment value; both the retired store and a fresh build
    * carry the complete cell set, so row identity holds without it.
    * Retiring everything leaves n = 0 and the fit raises loudly.
    */
  def retirePcaMoments(storePath: String, dim: Int = 64)
                      (departing: DataFrame, retireId: Long): Unit =
    ledgeredSumMerge(departing.sparkSession, storePath, retireId)(
      graft.similarity.Pca.momentSums(departing, dim)
        .withColumn("q", -col("q")),
      graft.similarity.Pca.mergeMoments)

  // ---- streaming SCD Type-2 dimension maintenance ------------------------

  /** Incremental SCD Type-2 maintenance — the `foreachBatch` body for a
    * live change feed. Store layout under `storePath`:
    *
    *  - `changes/batch=<id>/` — the RAW change log, append-only with the
    *    exactly-once batch ledger (rename-published, the minhash pattern).
    *    The raw log is authoritative: version collapse is lossy (a no-op
    *    change dropped today can become a real transition once a LATE
    *    change lands between it and its predecessor), so the dimension is
    *    always re-derivable, never the source of truth.
    *  - `dim/bucket=<key-hash bucket>/` — the derived Type-2 dimension,
    *    recomputed per batch ONLY for the buckets the batch touches
    *    (dynamic partition overwrite; untouched buckets keep their files).
    *    At 100 TB a batch touching k of B buckets rewrites k/B of the
    *    dimension — bounded incremental maintenance with late-arrival
    *    correctness for free, because touched keys re-derive from their
    *    FULL change history.
    *  - `retired/batch=<retireId>/` — pending entity retirements
    *    ([[retireScdEntities]]): keys erased under the r > k liveness
    *    rule until [[compactScdChanges]] rewrites the log and blanks
    *    the ledger.
    *
    * Crash windows: the dim overwrite runs BEFORE the changes ledger lands,
    * under a `dim/_pending-<id>` marker naming the touched buckets. A crash
    * leaves either (a) marker + no ledger — the next maintainer run heals
    * by recomputing those buckets from LEDGERED changes only (the un-
    * ledgered batch re-arrives via streaming replay), or (b) marker +
    * ledger — the write completed; the marker is just dropped. Replayed
    * batch ids are refused by the ledger check. Cross-batch duplicate
    * (key, ts) changes resolve first-write-wins (the S5 dedup-insert
    * convention); within a batch the greatest attribute struct wins
    * deterministically.
    */
  def scdUpsertBatch(storePath: String, keyCols: Seq[String], tsCol: String,
                     attrCols: Seq[String], buckets: Int = 32)
                    (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = BatchStore.fs(spark, storePath)
    val bucketExpr = pmod(hash(keyCols.map(col): _*), lit(buckets))
    graft.store.MaintenanceLock.withLock(fs, storePath, "scd-append") {
      BatchStore.recover(fs, s"$storePath/changes")
      healScdPending(spark, fs, storePath, keyCols, tsCol, attrCols, buckets)
      if (graft.store.Ledger.landed(fs, s"$storePath/changes", batchId)) return
      val stored = storedScdChanges(spark, fs, storePath, keyCols, batchId)
      val cols = keyCols ++ Seq(tsCol) ++ attrCols
      // in-batch dedup: greatest attr struct per (key, ts) wins; then
      // first-write-wins against the ledgered history
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy((keyCols :+ tsCol).map(col): _*)
        .orderBy(struct(attrCols.map(col): _*).desc)
      val deduped = batch.select(cols.map(col): _*)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      // materialized once: the anti-join against the FULL ledgered history
      // is the dominant per-batch cost, and `fresh` feeds three consumers
      // (touched-bucket collect, the recompute union, the ledger write)
      val fresh = (stored match {
        case Some(prev) => deduped.join(prev.select((keyCols :+ tsCol).map(col): _*),
          keyCols :+ tsCol, "left_anti")
        case None => deduped
      }).localCheckpoint(true)
      // the batch's own rows obey the liveness rule at THEIR id: a live
      // stream always lands above every retirement (no-op), but a REPLAY
      // of a pre-retirement batch whose ledger the crash ate must not
      // resurrect erased entities into the dim it recomputes — the rows
      // still ledger (below, for replay refusal), they just never serve
      val freshAlive = aliveScdChanges(
          fresh.withColumn("batch", lit(batchId)),
          BatchStore.readRetirements(spark, fs, storePath), keyCols)
        .drop("batch")
      val touched = freshAlive.select(bucketExpr.as("bucket")).distinct()
        .collect().map(_.getInt(0)).sorted // bounded: <= `buckets` values
      val pending = new org.apache.hadoop.fs.Path(s"$storePath/dim/_pending-$batchId")
      if (touched.nonEmpty) {
        BatchStore.writeFile(fs, pending, touched.mkString("", "\n", "\n"))
        val all = stored.map(_.unionByName(freshAlive)).getOrElse(freshAlive)
          .withColumn("bucket", bucketExpr)
          .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
        rewriteScdBuckets(all, storePath, keyCols, tsCol, attrCols,
          touched.length, buckets)
      }
      // a fully-duplicate batch still lands its (empty) ledger so the
      // replay check stays monotone
      BatchStore.publish(fs, s"$storePath/changes", batchId)(
        fresh.write.mode("overwrite").parquet(_))
      if (touched.nonEmpty) fs.delete(pending, false)
    }
  }

  /** The derived dimension, bucket column dropped. */
  def readScdDim(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/dim").drop("bucket")

  /** Collapse the change log's batch directories ([[compactMinhashStore]]'s
    * treatment): rows preserved, ledger tombstones keep replays refused.
    * With `keyCols` given and retirements pending, this is also the
    * PHYSICAL erasure point ([[retireScdEntities]]' contract): the rewrite
    * drops every dead row (the r > k rule, applied through the `batch`
    * partition column BatchStore.compact hands the transform), lands the
    * merged survivors at the MAX data id — so a crash mid-blank leaves
    * ledger rows the strictly-greater rule makes harmless — and then
    * blanks the retirement ledger to empty tombstone dirs.
    */
  def compactScdChanges(spark: SparkSession, storePath: String,
                        keyCols: Seq[String] = Seq.empty): Int = {
    val fs = BatchStore.fs(spark, storePath)
    graft.store.MaintenanceLock.withLock(fs, storePath, "scd-compact") {
      val retired =
        if (keyCols.isEmpty) None else BatchStore.readRetirements(spark, fs, storePath)
      val n = BatchStore.compact(spark, s"$storePath/changes",
        aliveScdChanges(_, retired, keyCols), retired.nonEmpty, vacuumLedger = true)
      if (retired.nonEmpty) BatchStore.blankRetirements(fs, storePath)
      n
    }
  }

  /** GDPR-style entity hard-delete from the SCD2 store — the ANN stores'
    * ledgered-tombstone retirement ([[graft.similarity.Similarity
    * .retireIvfVectors]]) applied to the one dimension family that lacked
    * an un-learn path. The departing keys land under
    * `retired/batch=<retireId>` (exactly-once via the dir ledger; returns
    * false on a replay), every change-history read applies the r > k
    * liveness rule from that moment on, and the dim buckets the keys
    * touch recompute IMMEDIATELY from the surviving history — serving
    * hides the entity as soon as this returns, while the physical rewrite
    * of the change log defers to [[compactScdChanges]] (which applies
    * pending retirements and blanks the ledger). Cost ∝ the retired
    * slice: the ledger write is O(|keys|) and the recompute touches only
    * the ≤ |keys| buckets they hash into, never the whole dimension.
    *
    * `retireId` must exceed every published changes batch id (checked);
    * a later append ABOVE the retirement id re-onboards a key with only
    * its new history — the strictly-greater rule, so consent re-granted
    * is a fresh start, not a resurrection of erased rows.
    *
    * Crash discipline: the `dim/_pending-retire-<id>` marker (named
    * buckets) lands BEFORE the ledger and drops only after the recompute,
    * so [[healScdPending]] rolls any torn window forward — marker without
    * ledger heals as an identity rewrite, marker with ledger re-runs the
    * recompute from the now-alive-filtered history.
    */
  def retireScdEntities(spark: SparkSession, storePath: String,
                        retiredKeys: DataFrame, retireId: Long,
                        keyCols: Seq[String], tsCol: String,
                        attrCols: Seq[String], buckets: Int = 32): Boolean = {
    require(retireId >= 1, "retireId 0 would predate the initial build")
    val fs = BatchStore.fs(spark, storePath)
    graft.store.MaintenanceLock.withLock(fs, storePath, "scd-retire") {
      BatchStore.recover(fs, s"$storePath/changes")
      healScdPending(spark, fs, storePath, keyCols, tsCol, attrCols, buckets)
      val changesRoot = new org.apache.hadoop.fs.Path(s"$storePath/changes")
      if (fs.exists(changesRoot)) {
        // watermark-aware: after a ledger-vacuuming compaction the
        // published ids live in the `_vacuumed_below` rule, not in dirs
        val maxData = graft.store.Ledger.maxLandedId(fs, changesRoot.toString)
        require(retireId > maxData,
          s"retireId $retireId must exceed every published changes batch id (max $maxData)")
      }
      if (graft.store.Ledger.landed(fs, s"$storePath/retired", retireId)) false
      else {
        val keys = retiredKeys.select(keyCols.map(col): _*).distinct()
          .localCheckpoint(true) // consumed thrice: bucket collect, ledger, recompute
        val touched = keys
          .select(pmod(hash(keyCols.map(col): _*), lit(buckets)).as("bucket"))
          .distinct().collect().map(_.getInt(0)).sorted // bounded: <= `buckets`
        val pending = new org.apache.hadoop.fs.Path(
          s"$storePath/dim/_pending-retire-$retireId")
        BatchStore.writeFile(fs, pending, touched.mkString("", "\n", "\n"))
        BatchStore.publish(fs, s"$storePath/retired", retireId)(
          keys.write.mode("overwrite").parquet(_))
        recomputeScdBuckets(spark, fs, storePath, keyCols, tsCol, attrCols,
          buckets, touched)
        fs.delete(pending, false)
        true
      }
    }
  }

  /** The ledgered change history, ALIVE rows only: each data-bearing
    * `batch=<k>` dir reads with its id as a partition column (basePath
    * discovery), and rows dead under a pending retirement — some
    * `retired/batch=<r>` with r > k naming their key — are anti-joined
    * away ([[BatchStore.alive]]' strictly-greater rule, composite-key form). Callers see the bare change
    * schema; the batch id is internal.
    */
  private def storedScdChanges(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                               storePath: String, keyCols: Seq[String],
                               excludeId: Long): Option[DataFrame] = {
    val root = s"$storePath/changes"
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) return None
    val dirs = fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .filterNot(_.getPath.getName == s"batch=$excludeId")
      .filter(s => BatchStore.hasData(fs, s.getPath))
      .map(_.getPath.toString)
    if (dirs.isEmpty) None
    else {
      val df = spark.read.option("basePath", root).parquet(dirs.toIndexedSeq: _*)
      Some(aliveScdChanges(df, BatchStore.readRetirements(spark, fs, storePath), keyCols)
        .drop("batch"))
    }
  }

  /** The SCD liveness rule: [[BatchStore.alive]] over the composite key. A
    * change row published at data batch k is dead iff some retirement
    * batch r > k names its key; strictly-greater lets a retired entity
    * RE-ONBOARD with only the history appended after the retirement.
    */
  private def aliveScdChanges(df: DataFrame, retired: Option[DataFrame],
                              keyCols: Seq[String]): DataFrame =
    BatchStore.alive(df, retired, keyCols.map(c => c -> c))

  /** Recompute + dynamically overwrite the named buckets' dim partitions
    * from the given change set (already bucket-filtered, `bucket` column
    * present). One shuffle on the key; each bucket lands in one partition
    * dir.
    */
  private def rewriteScdBuckets(changes: DataFrame,
                                storePath: String, keyCols: Seq[String],
                                tsCol: String, attrCols: Seq[String],
                                nTouched: Int, bucketMod: Int): Unit = {
    val dim = graft.operators.Scd.type2(
        changes.drop("bucket"), keyCols, tsCol, attrCols)
      .withColumn("bucket", pmod(hash(keyCols.map(col): _*), lit(bucketMod)))
      .repartition(math.max(nTouched, 1), col("bucket"))
      .localCheckpoint(true) // Spark refuses to overwrite a path it reads
    graft.store.Store.overwritePartitions(dim, s"$storePath/dim", "bucket")
  }

  /** Heal the [[scdUpsertBatch]] and [[retireScdEntities]] crash windows.
    * Append markers (`dim/_pending-<batchId>`): a marker WITHOUT its
    * changes ledger means the dim buckets it names may carry un-ledgered
    * data — recompute them from ledgered changes only; with the ledger
    * present the write completed and the marker just drops. Retire markers
    * (`dim/_pending-retire-<retireId>`): the marker lands BEFORE the
    * retirement ledger and drops only after the bucket recompute, so its
    * presence always means the recompute may be unfinished — recompute the
    * named buckets from the ALIVE history unconditionally (idempotent; if
    * the crash predated the ledger rename the recompute is a harmless
    * identity rewrite).
    */
  private def healScdPending(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                             storePath: String, keyCols: Seq[String], tsCol: String,
                             attrCols: Seq[String], buckets: Int): Unit = {
    val dimPath = new org.apache.hadoop.fs.Path(s"$storePath/dim")
    if (!fs.exists(dimPath)) return
    fs.listStatus(dimPath)
      .filter(s => !s.isDirectory && s.getPath.getName.startsWith("_pending-"))
      .foreach { m =>
        val id = m.getPath.getName.stripPrefix("_pending-")
        val isRetire = id.startsWith("retire-")
        // the landed check goes through the Ledger watermark rule, not a
        // bare fs.exists: were the SCD changes ledger ever vacuumed, a
        // marker naming a vacuumed (landed) batch must DROP, not trigger
        // a recompute that re-applies the batch (the last landed-convention
        // hole, r16 verdict finding 3)
        if (isRetire ||
            !graft.store.Ledger.landed(fs, s"$storePath/changes", id.toLong)) {
          val touched = BatchStore.readFile(fs, m.getPath).toSeq
            .flatMap(_.linesIterator.filter(_.nonEmpty)).map(_.trim.toInt).sorted
          recomputeScdBuckets(spark, fs, storePath, keyCols, tsCol, attrCols,
            buckets, touched)
        }
        fs.delete(m.getPath, false)
      }
  }

  /** Recompute the named dim buckets from the ALIVE ledgered history —
    * the shared core of the crash heals and [[retireScdEntities]]. A
    * touched bucket with NO surviving history must be DROPPED, not left
    * alone: dynamic partition overwrite only replaces partitions present
    * in the recompute, so without the delete the bucket would keep
    * serving stale (un-ledgered or retired) versions forever.
    */
  private def recomputeScdBuckets(spark: SparkSession,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  storePath: String, keyCols: Seq[String],
                                  tsCol: String, attrCols: Seq[String],
                                  buckets: Int, touched: Seq[Int]): Unit = {
    if (touched.isEmpty) return
    storedScdChanges(spark, fs, storePath, keyCols, excludeId = -1L) match {
      case Some(stored) =>
        val filtered = stored
          .withColumn("bucket", pmod(hash(keyCols.map(col): _*), lit(buckets)))
          .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
          .localCheckpoint(true)
        val present = filtered.select(col("bucket")).distinct()
          .collect().map(_.getInt(0)).toSet
        (touched.toSet -- present).foreach(b => fs.delete(
          new org.apache.hadoop.fs.Path(s"$storePath/dim/bucket=$b"), true))
        if (present.nonEmpty)
          rewriteScdBuckets(filtered, storePath, keyCols, tsCol, attrCols,
            present.size, buckets)
      case None =>
        // no surviving ledgered history at all — the touched buckets'
        // data is entirely un-ledgered (or fully retired), drop them
        touched.foreach(b => fs.delete(
          new org.apache.hadoop.fs.Path(s"$storePath/dim/bucket=$b"), true))
    }
  }
}
