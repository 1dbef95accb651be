package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.streaming.StreamingPipeline
import graft.text.TextOps
import Tracer.span

/** Sequential document batches through the ledgered stores: quality
  * features, a corpus delta against the previous versions, retire + append
  * on the MinHash dedup store and the DSIR count store, and a read of the
  * live near-duplicate pairs; then both stores compact. A run is only one
  * or two batches long, so every batch ends with the compaction and every
  * measured cycle has the same shape.
  *
  * Chosen because it is the ledgered batch-store discipline (stage,
  * rename, retire, compact) in the many-tiny-jobs regime, and never
  * touches the analytics stack.
  */
final class CorpusCycle(ctx: Ctx) extends Workload {
  import ctx.spark
  private val InitialDocs = 800
  private val BatchDocs = 200
  private val ExactCopies = 4
  private val EditedCopies = 4
  private val Revisions = 3
  private val DsirBuckets = 1024

  private var dir = ""
  private var mh = ""
  private var dsir = ""
  private var corpus: Corpus = _
  private var batchNo = 0
  private var textBytes = 0L
  private var lastPairs: Seq[(Long, Long, Double)] = Nil

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private def frame(docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, schema)
  private val isTarget = col("doc_id") % 3 === 0

  def setup(d: String): Unit = {
    dir = d
    mh = s"$dir/minhash"
    dsir = s"$dir/dsir"
    batchNo = 0
    corpus = new Corpus(ctx.seed)
    val (docs, _) = corpus.batch(InitialDocs, 0, 0, 0)
    textBytes = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    val df = frame(docs)
    TextOps.saveDsir(df, isTarget, DsirBuckets, dsir)
    StreamingPipeline.minhashDedupBatch(mh)(df, 0L)
  }

  private case class Out(docs: Int, revised: Int, quality: Int, added: Int, changed: Int,
                         pairs: Seq[(Long, Long, Double)], visibleMs: Double)

  private def cycle(docs: Seq[(Long, String)], revised: Seq[(Long, String)]): Out =
    span("op", "batch") {
      val t0 = Flows.nowMs
      batchNo += 1
      val (retireId, appendId) = (2L * batchNo - 1, 2L * batchNo)
      val batch = frame(docs)
      val previous = frame(revised)
      val quality = span("text", "qualityFeatures")(TextOps.qualityFeatures(batch).collect().length)
      val delta = span("dedup", "corpusDelta")(
        Dedup.corpusDelta(previous, batch).collect().map(r => (r.getLong(0), r.getString(1))))
      val changed = delta.collect { case (id, "changed") => id }.toSeq
      if (changed.nonEmpty) span("streaming", "retireMinhashStore")(
        StreamingPipeline.retireMinhashStore(spark, mh, frame(changed.map(i => (i, ""))), retireId))
      span("streaming", "minhashDedupBatch")(StreamingPipeline.minhashDedupBatch(mh)(batch, appendId))
      val pairs = span("streaming", "readDedupPairs")(StreamingPipeline.readDedupPairs(spark, mh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
      val visible = Flows.nowMs - t0
      if (revised.nonEmpty) span("text", "retireDsir")(TextOps.retireDsir(previous, isTarget, dsir, retireId))
      span("text", "appendDsir")(TextOps.appendDsir(batch, isTarget, dsir, appendId))
      Out(docs.length, revised.length, quality, delta.count(_._2 == "added"), changed.length,
        pairs, visible)
    }

  /** Every planted whitespace-only copy is paired, and every reported
    * pair carries its true Jaccard (>= the 0.8 threshold).
    */
  private def pairsOk(pairs: Seq[(Long, Long, Double)]): Boolean = {
    val found = pairs.map(p => (p._1, p._2)).toSet
    corpus.planted.forall { case (k, exact) => !exact || found.contains(k) } &&
      pairs.forall { case (a, b, j) =>
        j >= 0.8 && math.abs(j - Gen.jaccard(corpus.live(a), corpus.live(b))) < 1e-12
      }
  }

  private def dsirOk(): Boolean = {
    val r = spark.read.parquet(s"$dsir/buckets").agg(sum("ct"), sum("cr")).head()
    (r.getLong(0), r.getLong(1)) == corpus.dsirTotals
  }

  private def step(rec: Recorder): Unit = {
    val (docs, revised) = corpus.batch(BatchDocs, ExactCopies, EditedCopies, Revisions)
    textBytes += docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    rec.run("batch")(cycle(docs, revised)) { o =>
      o.quality == o.docs && o.added == o.docs - o.revised && o.changed == o.revised &&
        pairsOk(o.pairs) && dsirOk()
    }.foreach { o => rec.sample("visible", o.visibleMs); lastPairs = o.pairs }
    rec.run("compact")(span("op", "compact") {
        span("streaming", "compactMinhashStore")(StreamingPipeline.compactMinhashStore(spark, mh))
        span("text", "compactDsir")(TextOps.compactDsir(spark, dsir))
      })(_ => dsirOk() && pairsOk(
        StreamingPipeline.readDedupPairs(spark, mh).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq))
  }

  def warmup(): Unit = step(new Recorder)

  def measure(rec: Recorder, seconds: Double): Unit = Flows.repeatWithin(seconds)(step(rec))

  /** Share of planted copies (both kinds) among the live pairs. */
  def plantedRecall: Double = {
    val found = lastPairs.map(p => (p._1, p._2)).toSet
    if (corpus.planted.isEmpty) 1.0
    else corpus.planted.keys.count(found.contains).toDouble / corpus.planted.size
  }

  // Whitespace-only copies (Jaccard 1) must always pair, and every batch
  // checks that. One-word edits sit near Jaccard 0.9, where 4 bands of 4
  // rows find a pair with probability ~0.99 — a correct store misses one
  // now and then — so their recall is reported (dedup.planted_recall), not
  // asserted.
  def finalChecks(rec: Recorder): Unit =
    rec.check("dsir counts equal the live corpus")(dsirOk())

  val primary: Seq[String] = Seq("batch")

  private def docsPerS(rec: Recorder): Double = {
    val busy = (rec.times("batch").sum + rec.times("compact").sum) / 1000
    rec.times("batch").length * (BatchDocs + Revisions) / busy
  }

  def generic(rec: Recorder): (Double, Double, Double) =
    (docsPerS(rec), Stats.median(rec.times("batch")), Stats.median(rec.times("visible")))

  def figures(rec: Recorder): Seq[Figure] = Seq(
    Figure("corpus_docs_per_s", docsPerS(rec), "docs/s", rec.times("batch").length),
    Figure("corpus_batch_p50_ms", Stats.median(rec.times("batch")), "ms", rec.times("batch").length))

  def inputBytes: Long = textBytes
  def storeBytes: Long = Flows.dirBytes(mh) + Flows.dirBytes(dsir)

  override def counters(rec: Recorder): Map[String, Double] = Map(
    "dedup.pairs_found" -> lastPairs.length.toDouble,
    "dedup.planted_recall" -> plantedRecall,
    "streaming.batches" -> rec.times("batch").length.toDouble)
}
