package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The ledgered batch store: the one module that knows the on-disk layout
  * every persisted store family shares (MinHash dedup, DSIR, LM, drift,
  * the IVF/LSH/PQ indexes, the sketch stores, SCD2, packed export, the
  * vocab tables). A family brings a schema, a key and a merge function;
  * staging, publishing, swapping, retiring and compacting live here.
  *
  * Layout of one store half `dir`:
  *  - `batch=<id>/` — a published batch. The dir's EXISTENCE is the
  *    exactly-once ledger ([[Ledger.landed]]); a dir without data files
  *    ([[hasData]]) is a tombstone: published, no rows.
  *  - `.staging-<id>/` — a batch being written. Dot-prefixed, so Spark's
  *    file index, every reader and every compaction skip it.
  *  - `_vacuumed_below=<W>` — the [[Ledger]] watermark: every id below W
  *    counts as landed with no dir kept.
  *  - `_base` — the batch id a retiring compaction landed the merged base
  *    at (absent means 0); `_minor-pending` + `.minor-staged` — a minor
  *    compaction's journal and staged tree.
  *  - `<dir>.prev` — the previous generation, inside a swap window.
  *
  * The contract:
  *  1. Staged publish ([[publish]]): a batch is written into
  *     `.staging-<id>` and lands with one checked rename. Sessions run the
  *     v2 committer, which leaves the committed tasks' files of a FAILED
  *     write job in its output dir; writing into the staging dir keeps
  *     such a torn write invisible, and the rename is the atomic commit.
  *     No caller writes into a `batch=<id>` dir directly.
  *  2. Commit-marker order: a batch that spans several halves lands its
  *     payload halves first and the ledger half LAST, so a crash in
  *     between leaves unledgered payloads that the replay overwrites —
  *     never a ledger entry whose payload is missing. Each family's order
  *     is its [[StoreFamily]] declaration's `halves`, and [[land]] checks
  *     the last of them.
  *  3. `.prev` swap ([[replace]], [[swap]]): a whole-half replacement is
  *     staged complete under `.<name>-<tag>`, then `dir` moves to
  *     `dir.prev` and the staged tree lands at `dir`. Readers go around
  *     the window with [[active]]; every maintainer heals it first with
  *     [[recover]].
  *  4. Watermark: a rewrite of a half carries its ledger into the staged
  *     tree ([[stageLedger]]) — as one watermark over every merged id, or
  *     as a tombstone per id plus the prior watermark — so a replay of a
  *     merged batch stays refused after the swap.
  *  5. Strictly-greater liveness ([[alive]]): a retirement batch
  *     `retired/batch=<r>` kills a row published at data batch `k` iff
  *     r > k and it names the row's key. A retired key re-enters with a
  *     later append; a merged base landed at the max data id is immune to
  *     every pending retirement, so a crash while the applied ledger is
  *     blanked ([[blankRetirements]]) is harmless.
  *
  * Maintainers hold the store's [[MaintenanceLock]] (single maintainer);
  * readers take no lock. A declared [[StoreFamily]] takes the lock, the
  * build guard, the heals, the ledger check, the retirement read and the
  * compaction fan-out only through the family operations at the end of
  * this object.
  */
object BatchStore {

  def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  // ---- listing ---------------------------------------------------------

  /** Every `batch=<id>` id under `dir`, tombstones included, ascending;
    * empty when `dir` does not exist. Non-numeric names are skipped.
    */
  def batchIds(fs: FileSystem, dir: String): Seq[Long] =
    (try fs.listStatus(new Path(dir)).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch="))
      .filter(_.matches("-?\\d+")).map(_.toLong).sorted

  /** True iff `d` holds at least one data file. Underscore and dot files
    * (markers, checksums, `_SUCCESS`) don't count: a marker-only dir is a
    * tombstone, and `spark.read.parquet` would fail schema inference on it.
    */
  def hasData(fs: FileSystem, d: Path): Boolean = {
    val it = fs.listFiles(d, true)
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) return true
    }
    false
  }

  /** The data-bearing batch ids under `dir`, ascending. */
  def dataIds(fs: FileSystem, dir: String): Seq[Long] =
    batchIds(fs, dir).filter(id => hasData(fs, new Path(s"$dir/batch=$id")))

  /** The data-bearing batches under `dir` (minus `exclude`), each read with
    * its id as a `batch` column, or None when there are none.
    */
  def readBatches(spark: SparkSession, fs: FileSystem, dir: String,
                  exclude: Option[Long] = None): Option[DataFrame] = {
    val ids = dataIds(fs, dir).filterNot(exclude.contains)
    if (ids.isEmpty) None
    else Some(ids.map(id =>
      spark.read.parquet(s"$dir/batch=$id").withColumn("batch", lit(id)))
      .reduce(_ unionByName _))
  }

  // ---- publish and swap ------------------------------------------------

  /** Staged publish of batch `id` under `dir` (contract 1): clear a crashed
    * attempt's `.staging-<id>`, let `write` fill the staging path, drop a
    * complete-but-unledgered `batch=<id>` an earlier crashed replay left,
    * and land the staging dir with one checked rename. `write` owns the
    * file layout (rebalance, sort, partitionBy) and may read the staged
    * rows back before the rename.
    */
  def publish(fs: FileSystem, dir: String, id: Long)(write: String => Unit): Unit = {
    val staging = new Path(s"$dir/.staging-$id")
    val dest = new Path(s"$dir/batch=$id")
    fs.delete(staging, true)
    write(staging.toString)
    fs.delete(dest, true)
    require(fs.rename(staging, dest), s"could not land $staging at $dest")
  }

  /** Stage a complete replacement of `dir` at the hidden sibling
    * `.<name>-<tag>` (cleared first); `write` fills it. Returns the path
    * for [[swap]] — callers that replace several halves stage them all
    * before swapping any.
    */
  def stage(fs: FileSystem, dir: String, tag: String)(write: String => Unit): Path = {
    val d = new Path(dir)
    val staging = new Path(d.getParent, s".${d.getName}-$tag")
    fs.delete(staging, true)
    write(staging.toString)
    staging
  }

  /** [[stage]] then [[swap]]: one whole-half replacement (contract 3). */
  def replace(fs: FileSystem, dir: String, tag: String)(write: String => Unit): Unit =
    swap(fs, stage(fs, dir, tag)(write), dir)

  /** Two-rename publish of a fully staged tree: `dir` (if present) moves
    * aside to `dir.prev`, `staging` lands at `dir`, the survivor is
    * dropped. Rename results are checked. A crash between the renames is
    * healed by [[recover]] and read around by [[active]].
    */
  def swap(fs: FileSystem, staging: Path, dir: String): Unit = {
    val main = new Path(dir)
    val prev = new Path(s"$dir.prev")
    fs.delete(prev, true)
    if (fs.exists(main))
      require(fs.rename(main, prev), s"could not move $main aside to $prev")
    require(fs.rename(staging, main), s"could not land $staging at $main")
    fs.delete(prev, true)
  }

  /** Heal a crash inside [[swap]]: if only `dir.prev` survives, move it
    * back. Maintainers run this before they mutate a half — otherwise an
    * append would land in a fresh dir and orphan the store.
    */
  def recover(fs: FileSystem, dir: String): Unit = {
    val main = new Path(dir)
    val prev = new Path(s"$dir.prev")
    if (!fs.exists(main) && fs.exists(prev))
      require(fs.rename(prev, main), s"could not recover $prev to $main")
  }

  /** The dir a reader should open: `dir`, or its `.prev` survivor inside a
    * swap window; None when neither exists. Read-only, never heals.
    */
  def activeOpt(fs: FileSystem, dir: String): Option[String] =
    if (fs.exists(new Path(dir))) Some(dir)
    else if (fs.exists(new Path(s"$dir.prev"))) Some(s"$dir.prev")
    else None

  def active(fs: FileSystem, dir: String): String =
    activeOpt(fs, dir).getOrElse(dir)

  // ---- small files -----------------------------------------------------

  def writeFile(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  def readFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }

  /** Atomic small-file publish (a journal): write a hidden temp file, then
    * rename it over `p` — existence of `p` implies its content is complete.
    */
  def publishFile(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}-tmp")
    writeFile(fs, tmp, text)
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"could not publish $p")
  }

  // ---- markers ---------------------------------------------------------

  /** The half's base batch id: the `_base` marker a retiring compaction
    * wrote, else 0 (the builders' layout). [[compactMinor]] never merges it.
    */
  def readBaseId(fs: FileSystem, dir: String): Long =
    readFile(fs, new Path(dir, "_base")).fold(0L)(_.trim.toLong)

  /** Crash-window guard for the (re)build paths: a full build clears and
    * rewrites several halves with no joint atomicity. The build runs under
    * the store's lock and keeps `_build-pending` for its duration; append,
    * compact, reindex and the probes refuse while it exists, so a crash
    * mid-build degrades to a loud "re-run the build" instead of silent
    * mixed-generation results.
    */
  def withBuildMarker(fs: FileSystem, path: String)(body: => Unit): Unit = {
    fs.mkdirs(new Path(path))
    val pending = new Path(path, "_build-pending")
    writeFile(fs, pending, s"pid=${ProcessHandle.current().pid()}\n")
    body
    fs.delete(pending, false)
  }

  def requireNoPendingBuild(fs: FileSystem, path: String): Unit =
    require(!fs.exists(new Path(path, "_build-pending")),
      s"$path has an incomplete (re)build — re-run the build before maintaining it")

  /** Probe-side refusal while a minor compaction is pending. This detects a
    * CRASHED compactor (its journal persists until maintenance heals it);
    * it cannot close the check-then-read race against a compactor that is
    * publishing concurrently — see [[compactMinor]]'s reader contract.
    */
  def requireNoMinorPending(fs: FileSystem, dir: String): Unit =
    require(!fs.exists(new Path(dir, "_minor-pending")),
      s"$dir has an incomplete minor compaction — run append/compact " +
        "maintenance to heal it before probing")

  // ---- retirement ------------------------------------------------------

  /** The pending retirements of the store at `storePath`: every column of
    * each data-bearing `retired/batch=<r>` plus `batch` = r, or None. After
    * a full compaction blanks the ledger its dirs stay as tombstones (retire
    * replays stay refused) and this reads None.
    */
  def readRetirements(spark: SparkSession, fs: FileSystem,
                      storePath: String): Option[DataFrame] =
    readBatches(spark, fs, s"$storePath/retired")

  /** The liveness rule (contract 5): drop every row of `df` (which still
    * carries its `batch` column) that some retirement batch r > batch
    * names. `keys` pairs each key column of `df` with the retirement column
    * it matches; all pairs must match the same retirement row. The
    * retirement frame is broadcast — retirements are slices, not corpora.
    */
  def alive(df: DataFrame, retired: Option[DataFrame],
            keys: Seq[(String, String)]): DataFrame =
    retired.fold(df) { r =>
      val rr = r.select(keys.map { case (_, rc) => col(rc).as(s"__r_$rc") } :+
        col("batch").as("__rbatch"): _*)
      val cond = keys.map { case (dc, rc) => df(dc) === rr(s"__r_$rc") }.reduce(_ && _) &&
        rr("__rbatch") > df("batch").cast("long")
      df.join(broadcast(rr), cond, "left_anti")
    }

  /** Blank the applied retirement batches to empty tombstone dirs, so
    * retire replays stay refused. Only a full compaction calls this, AFTER
    * the rewritten tree landed at the max data id.
    */
  def blankRetirements(fs: FileSystem, storePath: String): Unit =
    batchIds(fs, s"$storePath/retired").foreach { id =>
      fs.listStatus(new Path(s"$storePath/retired/batch=$id"))
        .foreach(f => fs.delete(f.getPath, true))
    }

  // ---- compaction ------------------------------------------------------

  /** How a rewrite lays its rows out in files. */
  type Layout = DataFrame => DataFrameWriter[Row]

  /** Row stores: rebalance first (a merge otherwise inherits one tiny file
    * per source-read task; AQE sizes rebalanced files by
    * advisoryPartitionSize, so a large base still fans out), optionally
    * clustered within each file for row-group min/max skipping.
    */
  def rebalanced(sortCols: String*): Layout = df => {
    val r = df.hint("rebalance")
    (if (sortCols.isEmpty) r else r.sortWithinPartitions(sortCols.map(col): _*)).write
  }

  /** Row stores with a partition level under each batch (IVF cells). */
  def partitioned(cols: String*): Layout =
    df => df.repartition(cols.map(col): _*).write.partitionBy(cols: _*)

  /** Sum-merge stores: written as the merge leaves them. */
  val asMerged: Layout = _.write

  /** Complete a staged rewrite of `dir`'s ledger (contract 4): one
    * watermark over `ids` (`vacuumLedger`), or an empty tombstone per id
    * other than `baseId` plus the prior watermark; and the `_base` marker
    * when the base is not at 0. Staged with the tree, so the swap publishes
    * it atomically.
    */
  def stageLedger(fs: FileSystem, dir: String, staging: String, ids: Seq[Long],
                  baseId: Long, vacuumLedger: Boolean): Unit = {
    if (vacuumLedger) Ledger.stampCompactionWatermark(fs, dir, staging, ids)
    else {
      ids.filter(_ != baseId).foreach(id => fs.mkdirs(new Path(s"$staging/batch=$id")))
      Ledger.copyWatermark(fs, dir, staging)
    }
    if (baseId != 0L) writeFile(fs, new Path(staging, "_base"), baseId.toString)
  }

  /** Full compaction: merge every data-bearing `batch=<id>` under `dir`
    * into one base, keep the ledger ([[stageLedger]]) and land the new tree
    * with the `.prev` swap. `transform` sees the rows WITH their `batch`
    * column — retirement liveness filters through it, a sum-merge store
    * passes its merge. `retiring` (a row-dropping transform is pending):
    * rewrite even a single-dir half, and land the base at the MAX data id,
    * recorded in `_base`, so a crash while the applied retirements are
    * blanked can never re-kill merged rows. `vacuumLedger` lands the
    * ledger as one watermark (the self-running vacuum); the ANN index
    * families keep a tombstone per id, because their lifecycle gates
    * (q117-q232) pin caller-driven vacuums. Returns the number of data
    * dirs merged (0 = nothing to do).
    */
  def compact(spark: SparkSession, dir: String,
              transform: DataFrame => DataFrame = identity,
              retiring: Boolean = false, vacuumLedger: Boolean = false,
              layout: Layout = rebalanced()): Int = {
    val fs = this.fs(spark, dir)
    recover(fs, dir)
    recoverMinor(fs, dir) // a crashed minor compaction heals before the rewrite
    val ids = batchIds(fs, dir)
    val data = ids.filter(id => hasData(fs, new Path(s"$dir/batch=$id")))
    if (data.isEmpty || (data.length <= 1 && !retiring)) return 0
    val baseId = if (retiring) data.max else 0L
    replace(fs, dir, "compact") { staging =>
      layout(transform(spark.read.parquet(dir)).drop("batch"))
        .mode("overwrite").parquet(s"$staging/batch=$baseId")
      stageLedger(fs, dir, staging, ids, baseId, vacuumLedger)
    }
    data.length
  }

  /** MINOR (debris-only) compaction, the LSM analogue of [[compact]]: only
    * the appended debris dirs merge, into the greatest debris id; the base
    * (`batch=0`, or the `_base` relocation) is never read or rewritten, so
    * the cost tracks the debris, not the store. Every merged id stays as a
    * tombstone; `transform` (retirement liveness) runs before the merge
    * lands above the ids it read, so dead rows cannot resurrect.
    *
    * Crash discipline: the merged tree is fully staged at `.minor-staged`
    * BEFORE the `_minor-pending` journal publishes, so the journal's
    * existence means the staged tree is complete and healing
    * ([[recoverMinor]]) always rolls FORWARD through [[applyMinor]]'s
    * idempotent renames. Mid-sequence the visible tree is missing debris
    * rows, which a reader cannot heal around, so probes refuse while the
    * journal exists ([[requireNoMinorPending]]).
    *
    * READER CONTRACT: that refusal detects a crashed compactor, not a
    * concurrent one — probes must be coordinated with maintenance cycles
    * (the single-maintainer contract extends to readers here). A
    * read-consistent order would land the merged tree beside the sources
    * and make every probe dedup its candidates, a permanent hot-path cost.
    */
  def compactMinor(spark: SparkSession, dir: String,
                   transform: DataFrame => DataFrame = identity,
                   layout: Layout = rebalanced()): Int = {
    val fs = this.fs(spark, dir)
    recover(fs, dir)
    recoverMinor(fs, dir)
    val baseId = readBaseId(fs, dir)
    val data = dataIds(fs, dir).filter(_ != baseId)
    if (data.length <= 1) return 0
    val target = data.max
    val staged = new Path(s"$dir/.minor-staged")
    fs.delete(staged, true)
    val rows = transform(spark.read.option("basePath", dir)
      .parquet(data.map(id => s"$dir/batch=$id"): _*))
    layout(rows.drop("batch")).mode("overwrite").parquet(staged.toString)
    publishFile(fs, new Path(dir, "_minor-pending"), (target +: data).mkString(","))
    applyMinor(fs, dir, target, data)
    data.length
  }

  /** The idempotent landing of [[compactMinor]], re-runnable from any
    * crash point. While `.minor-staged` exists the landing has not
    * happened: move every source dir aside to invisible `.gone-<id>`, then
    * rename the staged tree in. Then recreate the merged ids' tombstones
    * and drop the journal.
    */
  private def applyMinor(fs: FileSystem, dir: String, target: Long,
                         ids: Seq[Long]): Unit = {
    val staged = new Path(s"$dir/.minor-staged")
    if (fs.exists(staged)) {
      ids.foreach { id =>
        val d = new Path(s"$dir/batch=$id")
        if (fs.exists(d)) {
          val gone = new Path(s"$dir/.gone-$id")
          fs.delete(gone, true)
          require(fs.rename(d, gone), s"could not move $d aside")
        }
      }
      require(fs.rename(staged, new Path(s"$dir/batch=$target")), s"could not land $staged")
    }
    ids.filterNot(_ == target).foreach(id => fs.mkdirs(new Path(s"$dir/batch=$id")))
    ids.foreach(id => fs.delete(new Path(s"$dir/.gone-$id"), true))
    fs.delete(new Path(dir, "_minor-pending"), false)
  }

  /** Heal a crashed [[compactMinor]]: journal present — roll the landing
    * forward; no journal — an orphan staged tree (the crash came before
    * the journal published) is dropped.
    */
  def recoverMinor(fs: FileSystem, dir: String): Unit =
    readFile(fs, new Path(dir, "_minor-pending")) match {
      case None => fs.delete(new Path(s"$dir/.minor-staged"), true)
      case Some(txt) =>
        val nums = txt.trim.split(",").map(_.toLong)
        applyMinor(fs, dir, nums.head, nums.tail.toIndexedSeq)
    }

  // ---- family operations -----------------------------------------------

  /** A maintainer's entry into a [[StoreFamily]] store: hold its lock under
    * `<family>-<op>`, refuse a torn build, heal every declared half's
    * `.prev` swap (and a built family's minor journals), then run `body`.
    */
  def maintain[T](f: StoreFamily, spark: SparkSession, path: String, op: String)
                 (body: FileSystem => T): T = {
    val fs = this.fs(spark, path)
    MaintenanceLock.withLock(fs, path, s"${f.name}-$op") {
      if (f.built) requireNoPendingBuild(fs, path)
      f.healed.foreach(h => recover(fs, s"$path/$h"))
      if (f.built) f.halves.foreach(h => recoverMinor(fs, s"$path/${h.name}"))
      body(fs)
    }
  }

  /** Exactly-once landing of batch `id`: [[maintain]], then `body` runs
    * only when `id` has not landed in `ledger` (the family's ledger half
    * unless named; a retirement lands in `retired`). Returns whether it ran.
    */
  def land(f: StoreFamily, spark: SparkSession, path: String, id: Long, op: String,
           ledger: String = "")(body: FileSystem => Unit): Boolean =
    maintain(f, spark, path, op) { fs =>
      if (Ledger.landed(fs, s"$path/${if (ledger.isEmpty) f.ledger else ledger}", id)) false
      else { body(fs); true }
    }

  /** The tombstone retirement of a row family (MinHash, the ANN indexes):
    * land the distinct keys of `rows` as `retired/batch=<id>`, which every
    * [[live]] read and the next full [[compactStore]] apply (contract 5).
    * `id` must exceed every data batch it retires from.
    */
  def retire(f: StoreFamily, spark: SparkSession, path: String, rows: DataFrame,
             id: Long): Boolean = {
    require(id >= 1, "retire id 0 would predate the initial batch")
    land(f, spark, path, id, "retire", "retired") { fs =>
      publish(fs, s"$path/retired", id)(
        rows.select(col(f.halves.head.keys.head).as(f.retiredKey)).distinct()
          .write.mode("overwrite").parquet(_))
    }
  }

  /** Under the lock and the `_build-pending` marker, `body` (re)builds a
    * built family's store ([[withBuildMarker]]).
    */
  def build(f: StoreFamily, spark: SparkSession, path: String)(body: FileSystem => Unit): Unit = {
    val fs = this.fs(spark, path)
    MaintenanceLock.withLock(fs, path, s"${f.name}-build") {
      withBuildMarker(fs, path)(body(fs))
    }
  }

  private def retirements(f: StoreFamily, spark: SparkSession, fs: FileSystem,
                          path: String): Option[DataFrame] =
    if (f.retiredKey.isEmpty) None else readRetirements(spark, fs, path)

  private def liveRows(f: StoreFamily, h: StoreFamily.Half,
                       retired: Option[DataFrame]): DataFrame => DataFrame =
    df => h.keys.foldLeft(df)((d, k) => alive(d, retired, Seq(k -> f.retiredKey)))

  /** Compact every batch half of a family side by side under
    * `<family>-compact`: each half's rows pass its keys' liveness under
    * the pending retirements and its sum-merge, through [[compact]] or,
    * `minor`, [[compactMinor]]. A full compaction applies the retirements
    * and then blanks them. Returns the data dirs merged over the halves,
    * a sum-merge half counting one.
    */
  def compactStore(f: StoreFamily, spark: SparkSession, path: String, minor: Boolean): Int = {
    val fs = this.fs(spark, path)
    MaintenanceLock.withLock(fs, path, s"${f.name}-compact") {
      if (f.built) requireNoPendingBuild(fs, path)
      val retired = retirements(f, spark, fs, path)
      val n = graft.core.Par.sumSections(f.halves.map { h => () =>
        val dir = s"$path/${h.name}"
        val alive = liveRows(f, h, retired)
        val rows = h.merge.fold(alive)(alive.andThen)
        val merged =
          if (minor) compactMinor(spark, dir, rows, h.layout)
          else compact(spark, dir, rows, retired.nonEmpty, f.vacuum, h.layout)
        if (h.merge.isDefined) math.min(1, merged) else merged
      }: _*)
      if (!minor && retired.nonEmpty) blankRetirements(fs, path)
      n
    }
  }

  /** The live rows of each of `halves`, read from its active dir with its
    * `batch` column: a built family refuses a torn build or a pending minor
    * compaction and reads the half's root (its build always leaves a
    * base); any other family reads its data-bearing batches (but
    * `exclude`), None when there are none. Rows a pending retirement names
    * are dropped. Takes no lock.
    */
  def live(f: StoreFamily, spark: SparkSession, path: String, halves: Seq[String],
           exclude: Option[Long] = None): Seq[Option[DataFrame]] = {
    val fs = this.fs(spark, path)
    if (f.built) requireNoPendingBuild(fs, path)
    val dirs = halves.map(h => active(fs, s"$path/$h"))
    if (f.built) dirs.foreach(requireNoMinorPending(fs, _))
    val retired = retirements(f, spark, fs, path)
    halves.zip(dirs).map { case (h, dir) =>
      (if (f.built) Some(spark.read.parquet(dir)) else readBatches(spark, fs, dir, exclude))
        .map(liveRows(f, f.half(h), retired))
    }
  }
}
