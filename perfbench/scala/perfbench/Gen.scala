package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Seeded input generators. The same seed gives the same inputs; the
  * engine receives only what these produce (files and DataFrames).
  *
  * Values are multiples of 0.25, so every sum the engine computes is exact
  * in any order and the checks can compare with `==`.
  */
object Gen {
  val Day0: LocalDate = LocalDate.of(2025, 1, 1)
  def date(day: Int): String = Day0.plusDays(day.toLong).toString

  private val isoZ = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  private val plain = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  val Metrics: Seq[String] = Seq("requests", "latency_ms", "errors")

  /** Daily truth per (source, metric, day index): (value sum, event count). */
  final class Truth {
    val cells = mutable.Map.empty[(Int, String, Int), (Double, Long)]
    def add(src: Int, metric: String, sec: Long, v: Double): Unit = {
      val k = (src, metric, (sec / 86400L).toInt - Day0.toEpochDay.toInt)
      val (s, c) = cells.getOrElse(k, (0.0, 0L))
      cells(k) = (s + v, c + 1)
    }
    def days(src: Int, metric: String): Seq[Int] =
      cells.keys.collect { case (s, m, d) if s == src && m == metric => d }.toSeq.sorted

    /** A metric_daily read holds exactly the truth's cells: same rows, and
      * per row the same value_sum and value_count (so totals match too).
      */
    def matches(md: Seq[org.apache.spark.sql.Row]): Boolean =
      md.length == cells.size && md.forall { r =>
        val day = (r.getAs[java.sql.Date]("metric_date").toLocalDate.toEpochDay - Day0.toEpochDay).toInt
        cells.get((r.getAs[Long]("source_id").toInt, r.getAs[String]("metric"), day))
          .contains((r.getAs[Double]("value_sum"), r.getAs[Long]("value_count")))
      }
  }

  /** A CSV of raw events plus what a correct pipeline must make of it. */
  final case class EventFile(lines: Seq[String], rows: Int, malformed: Int,
                             duplicates: Int, truth: Truth, spikes: Seq[(Int, String, Int)])

  val CsvHeader = "source,timestamp,metric,value,seq"

  private def ts(sec: Long, rnd: scala.util.Random): String = {
    val i = Instant.ofEpochSecond(sec)
    if (rnd.nextBoolean()) isoZ.format(i) else plain.format(i)
  }

  /** Raw event history for `sources` x |Metrics| series over `days` days,
    * `perDay` events per series-day; ~1% malformed rows (bad timestamp or
    * bad value), ~1% re-sent keys with a different value (first write
    * wins), and one planted spike day (values x8) on every `spikeEvery`-th
    * series.
    *
    * Property varied: the series count (sources x metrics) at a fixed
    * events-per-series. Per-series model stages (iforest, backtest,
    * reliability) scale with it, while planning and job scheduling stay a
    * fixed cost per stage, so it sets how much of a pipeline run is
    * compute and how much is per-job overhead.
    */
  def events(seed: Long, sources: Int, days: Int, perDay: Int, spikeEvery: Int): EventFile = {
    val rnd = new scala.util.Random(seed)
    val truth = new Truth
    val out = mutable.ArrayBuffer.empty[String]
    val resend = mutable.ArrayBuffer.empty[(Int, String, Long)]
    val spikes = mutable.ArrayBuffer.empty[(Int, String, Int)]
    var malformed = 0
    var seq = 0L
    def emit(src: Int, tsText: String, metric: String, value: String): Unit = {
      out += s"$src,$tsText,$metric,$value,$seq"; seq += 1
    }
    val slot = 86400 / perDay
    var seriesNo = 0
    for (src <- 1 to sources; metric <- Metrics) {
      val base = 4 * (20 + rnd.nextInt(180))          // quarter units
      val spikeDay = if (seriesNo % spikeEvery == 0) 14 + rnd.nextInt(days - 14) else -1
      if (spikeDay >= 0) spikes += ((src, metric, spikeDay))
      seriesNo += 1
      for (d <- 0 until days; e <- 0 until perDay) {
        val sec = (Day0.toEpochDay + d) * 86400L + e * slot + rnd.nextInt(slot)
        val q = base + rnd.nextInt(40)
        val v = (if (d == spikeDay) q * 8 else q) / 4.0
        emit(src, ts(sec, rnd), metric, v.toString)
        truth.add(src, metric, sec, v)
        if (rnd.nextInt(100) == 0) resend += ((src, metric, sec))
        if (rnd.nextInt(100) == 0) {
          malformed += 1
          if (rnd.nextBoolean()) emit(src, s"${date(d)}T25:61:00", metric, v.toString)
          else emit(src, ts(sec + 1, rnd), metric, "n/a")
        }
      }
    }
    // re-sent keys arrive after the originals, carrying another value
    resend.foreach { case (src, metric, sec) => emit(src, ts(sec, rnd), metric, "999.75") }
    EventFile(CsvHeader +: out.toSeq, out.length, malformed, resend.length, truth, spikes.toSeq)
  }

  // ---- documents ---------------------------------------------------------

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
    "qu", "do", "fe", "gi", "ha", "jo", "bu", "cy", "wa", "xe")
  val Vocab: IndexedSeq[String] = (0 until 4000).map { i =>
    val a = syllables(i % 20); val b = syllables((i / 20) % 20); val c = syllables((i / 400) % 20)
    if (i % 97 == 0) s"$a$b${i % 10}" else s"$a$b$c"
  }
  // Zipf(1.0) over the vocabulary: realistic word frequencies, so random
  // documents share common shingles yet almost never reach Jaccard 0.8
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / (r + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def word(rnd: scala.util.Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    Vocab(math.min(Vocab.length - 1, if (i >= 0) i else -i - 1))
  }
  def randomDoc(rnd: scala.util.Random): String =
    Seq.fill(60 + rnd.nextInt(60))(word(rnd)).mkString(" ")

  /** Same words, different whitespace: md5 differs, shingle sets equal. */
  def respaced(text: String): String = text.trim.split("\\s+").mkString("  ") + " "

  /** One word replaced in the middle (Jaccard about 0.95 at these lengths). */
  def edited(text: String, rnd: scala.util.Random): String = {
    val w = text.trim.split("\\s+")
    w(w.length / 2) = "edit" + rnd.nextInt(1000000)
    w.mkString(" ")
  }

  /** Word 3-shingles exactly as the engine's `wordShingles` forms them. */
  def shingles(text: String): Set[String] = {
    val w = text.trim.split("\\s+")
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.intersect(y).size
    inter.toDouble / (x.size + y.size - inter)
  }

  /** DSIR gram instances of a document: its words plus its word bigrams. */
  def dsirGrams(text: String): Long = {
    val n = text.trim.toLowerCase.split("\\s+").length
    2L * n - 1
  }
}

/** The corpus a [[CorpusCycle]] run maintains, with its planted truth.
  *
  * Property varied: batch size against the per-batch ledger cost. Each
  * batch pays a fixed number of store operations (stage, rename, retire,
  * list) whatever its size, so small batches expose the ledger cost and
  * large ones the per-document work.
  */
final class Corpus(seed: Long) {
  val rnd = new scala.util.Random(seed)
  val live = mutable.LinkedHashMap.empty[Long, String]
  /** Planted pairs (a < b) and whether the pair is exact modulo whitespace. */
  val planted = mutable.Map.empty[(Long, Long), Boolean]
  private val participants = mutable.Set.empty[Long]
  private var nextId = 0L

  private def pairKey(a: Long, b: Long) = (math.min(a, b), math.max(a, b))

  /** A batch of `n` new documents, `exact` + `edited` of them planted
    * near-copies of live documents, plus `revise` revised earlier
    * documents. Returns (new and revised docs, previous text of the
    * revised ones).
    */
  def batch(n: Int, exact: Int, edited: Int, revise: Int): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val liveIds = live.keys.toIndexedSeq
    def fresh(text: String): Long = { val id = nextId; nextId += 1; docs += ((id, text)); id }
    for (i <- 0 until n) {
      if (i < exact + edited && liveIds.nonEmpty) {
        val src = liveIds(rnd.nextInt(liveIds.length))
        val isExact = i < exact
        val text = if (isExact) Gen.respaced(live(src)) else Gen.edited(live(src), rnd)
        val id = fresh(text)
        planted(pairKey(src, id)) = isExact
        participants += src; participants += id
      } else fresh(Gen.randomDoc(rnd))
    }
    val candidates = liveIds.filterNot(participants.contains)
    val revised = rnd.shuffle(candidates).take(revise).map(id => (id, live(id)))
    revised.foreach { case (id, _) => docs += ((id, Gen.randomDoc(rnd))) }
    docs.foreach { case (id, t) => live(id) = t }
    (docs.toSeq, revised)
  }

  def isTarget(id: Long): Boolean = id % 3 == 0
  def dsirTotals: (Long, Long) = {
    val grams = live.toSeq.map { case (id, t) => (id, Gen.dsirGrams(t)) }
    (grams.collect { case (id, g) if isTarget(id) => g }.sum, grams.map(_._2).sum)
  }
}
