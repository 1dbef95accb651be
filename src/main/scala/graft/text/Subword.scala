package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Subword tokenization: a deterministic piece vocabulary learned from the
  * corpus plus a WordPiece-style greedy longest-match apply (the public
  * BERT-tokenizer inference algorithm — MaxMatch over a piece table).
  *
  * This replaces the [[TextOps.bpeIshCount]] regex proxy wherever a real
  * subword count matters: token counts drive sequence packing (q76), length
  * trimming (q98), and chunking (q100), so proxy error propagates —
  * [[subwordCounts]] is the drop-in producer of per-document counts for
  * those operators.
  *
  * 100 TB design: the vocabulary build shuffles ∝ DISTINCT words (words are
  * aggregated to (word, count) first; substring fan-out runs on that
  * bounded table, never on raw tokens), selection is a global
  * TakeOrderedAndProject (per-partition top-K, K-sized merge — no single
  * partition sort, no ranking window); the apply is MAP-ONLY — the piece
  * set (`size` + alphabet entries) broadcasts, and tokenization is
  * embarrassingly parallel with zero shuffle.
  */
object Subword {

  /** The OOV sentinel: a word with any character outside the vocabulary's
    * alphabet collapses to exactly this one piece (WordPiece convention).
    * Never collides with a learned piece — pieces come from lowercased
    * words, so none contains an uppercase letter.
    */
  val Unk = "[UNK]"

  /** SQL-trim twin: strips SPACES only (U+0020), exactly like Spark/DuckDB
    * `trim()` — Java's `String.trim` also strips tab/CR/NL (every char
    * <= U+0020), which would silently shift word counts against the SQL
    * convention every other corpus operator uses. Null maps to empty.
    */
  private[text] def sqlTrim(s: String): String = {
    val t = Option(s).getOrElse("")
    var i = 0; var j = t.length
    while (i < j && t.charAt(i) == ' ') i += 1
    while (j > i && t.charAt(j - 1) == ' ') j -= 1
    t.substring(i, j)
  }

  /** Whitespace words of lowercased text — the Scala twin of
    * `split(trim(lower(text)), "\\s+")`.
    */
  private[text] def toWords(text: String): Array[String] =
    sqlTrim(text).toLowerCase(java.util.Locale.ROOT).split("\\s+")

  /** True iff the word contains a CODE POINT outside the alphabet. Iterating
    * UTF-16 chars would test each surrogate half of a supplementary-plane
    * character individually and mislabel astral-character words as alien
    * even when the full character is a learned piece.
    */
  private def hasAlienChar(word: String, inVocab: String => Boolean): Boolean = {
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      if (!inVocab(new String(Character.toChars(cp)))) return true
      i += Character.charCount(cp)
    }
    false
  }

  /** Greedy longest-match tokenization of ONE word: at each position take
    * the longest vocabulary piece matching the remaining suffix (bounded by
    * `maxPieceLen`), advance by its length. If no piece matches at some
    * position the WHOLE word is out-of-vocabulary and collapses to
    * `[[Unk]]` — with an alphabet-complete vocabulary this happens exactly
    * when the word contains a character the corpus never produced (the
    * single-character fallback always matches otherwise). The empty word
    * tokenizes to zero pieces.
    */
  def tokenizeWord(word: String, inVocab: String => Boolean, maxPieceLen: Int): Array[String] = {
    if (word.isEmpty) return Array.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      var l = math.min(maxPieceLen, word.length - i)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val cand = word.substring(i, i + l)
        if (inVocab(cand)) hit = cand
        l -= 1
      }
      if (hit == null) return Array(Unk)
      out += hit
      i += hit.length
    }
    out.toArray
  }

  /** Deterministic piece vocabulary learned from the corpus: every single
    * character seen in a (lowercased, whitespace-split) word — the base
    * alphabet that makes corpus words OOV-free — plus the `size` most
    * frequent character n-grams of length 2..maxPieceLen, weighted by word
    * occurrence with a total-order tie-break (weight desc, piece asc), so
    * the vocabulary is bit-reproducible across runs and engines.
    * Output: (piece, weight).
    */
  def pieceVocab(docs: DataFrame, size: Int, maxPieceLen: Int,
                 textCol: String = "text", idCol: String = "doc_id",
                 minCount: Long = 1L): DataFrame = {
    require(maxPieceLen >= 2, "need maxPieceLen >= 2")
    val spark = docs.sparkSession
    import spark.implicits._
    // words come from the SAME Scala normalization as tokenize/apply
    // ([[toWords]]: space-only trim + Locale.ROOT lowercase). Spark SQL
    // lower() takes the JVM-default-locale String.toLowerCase slow path on
    // non-ASCII input, so a vocab learned through it could diverge from the
    // ROOT-locale apply path (e.g. Turkish dotted I, U+0130) and produce
    // spurious [UNK]s. Still map-only into the same (word, cnt) aggregation.
    // minCount (default 1 = exact) floors the histogram BEFORE the substring
    // fan-out — on web-scale corpora the hapax tail of URLs/typos dominates
    // distinct words, and dropping it bounds the n-gram candidate table the
    // same way Bpe.wordHistogram's floor bounds its driver collect. NOTE:
    // characters seen only in dropped words leave the alphabet, so their
    // words become [UNK] at apply time — the WordPiece trade, opt-in.
    val wordCounts = docs
      .select(col(textCol).cast("string").as("__text")).as[String]
      .flatMap(t => toWords(t))
      .toDF("word")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val chars = wordCounts
      .select(col("cnt"), explode(split(col("word"), "")).as("piece"))
      .filter(length(col("piece")) === 1)
      .groupBy(col("piece")).agg(sum(col("cnt")).as("weight"))
    // all substrings of length 2..maxPieceLen of each DISTINCT word,
    // weighted by the word's occurrence count; the when() guard (not a
    // descending sequence(1, 0)) bounds each start position's lengths.
    // lambda-recompute audit (see graft.core.Eval): safe — `word` is a
    // groupBy output attribute (the aggregate is the barrier), so each
    // substr/length call reads the materialized string; per-word work is
    // the inherent O(len × maxPieceLen) substring enumeration
    val multi = wordCounts.filter(length(col("word")) >= 2)
      .select(col("cnt"), explode(flatten(transform(
        sequence(lit(1), length(col("word"))), i =>
          transform(sequence(lit(2), lit(maxPieceLen)), l =>
            when(i + l <= length(col("word")) + 1, col("word").substr(i, l)))))).as("piece"))
      .filter(col("piece").isNotNull)
      .groupBy(col("piece")).agg(sum(col("cnt")).as("weight"))
      .orderBy(col("weight").desc, col("piece").asc).limit(size)
    chars.unionByName(multi)
  }

  /** Bounded eager collect of [[pieceVocab]]'s pieces (`size` + alphabet
    * rows by construction — the MLlib bounded-collect pattern, same
    * CONTRACT NOTE as [[TextOps.vocabulary]]: executes at call time;
    * invoke once and reuse).
    */
  def collectPieces(docs: DataFrame, size: Int, maxPieceLen: Int,
                    textCol: String = "text", idCol: String = "doc_id",
                    minCount: Long = 1L): Array[String] =
    pieceVocab(docs, size, maxPieceLen, textCol, idCol, minCount)
      .select(col("piece")).collect().map(_.getString(0))

  /** Map-only subword apply: per document, whitespace-split the lowercased
    * text and greedy-tokenize each word against the broadcast piece set.
    * An OOV word contributes one `[[Unk]]` token. No shuffle.
    * Output: (doc_id, n_words, subword_tokens, oov_words).
    */
  def subwordCounts(docs: DataFrame, pieces: Seq[String],
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val maxLen = if (pieces.isEmpty) 1 else pieces.iterator.map(_.length).max
    val bc = spark.sparkContext.broadcast(pieces.toArray)
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val set = bc.value.toSet
        it.map { case (id, text) =>
          val ws = toWords(text)
          var nTok = 0L
          var nOov = 0L
          ws.foreach { w =>
            val ps = tokenizeWord(w, set, maxLen)
            nTok += ps.length
            if (ps.length == 1 && ps(0) == Unk) nOov += 1
          }
          (id, ws.length.toLong, nTok, nOov)
        }
      }.toDF("doc_id", "n_words", "subword_tokens", "oov_words")
  }

  /** Train-once half of the vocabulary-as-artifact pair: learn
    * [[pieceVocab]] and persist it as a versioned parquet table
    * (piece, weight, rank) — rank is the total-order position
    * (weight desc, piece asc; total because pieces are unique), so the
    * stored table carries its own deterministic ordering and two saves of
    * the same corpus are bit-identical. The ranking window is global but
    * the table is bounded by construction (`size` + alphabet rows), so the
    * single-partition sort it implies is a non-issue at any corpus scale —
    * the corpus-sized work (the word aggregation) happened upstream in
    * [[pieceVocab]]. This is the same compute-once/read-many treatment the
    * persisted IVF index gives ANN: a production pipeline trains a
    * tokenizer once and applies it for months
    * (reference analogue: `backend/app/services/forecast.py:95-107`,
    * persist results, re-read on every GET).
    */
  def savePieces(docs: DataFrame, size: Int, maxPieceLen: Int, path: String,
                 textCol: String = "text", idCol: String = "doc_id"): Unit =
    pieceVocab(docs, size, maxPieceLen, textCol, idCol)
      // unpartitioned window — BENIGN by construction: it ranks the learned
      // vocab, <= size + alphabet rows (a few hundred), never corpus rows;
      // the corpus-sized work happened upstream. WindowExec's WARN is
      // suppressed in the session factories (Graft.quietNoisyLogs).
      .withColumn("rank", row_number().over(
        Window.orderBy(col("weight").desc, col("piece").asc)))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Apply-many half: read the stored vocabulary back in rank order.
    * Bounded collect (the stored table is `size` + alphabet rows by
    * construction); the result drops straight into [[subwordCounts]],
    * which re-derives maxPieceLen from the pieces themselves — no
    * side-channel config has to survive alongside the artifact.
    */
  def loadPieces(spark: SparkSession, path: String): Array[String] =
    spark.read.parquet(activeVocabDir(spark, path)).orderBy(col("rank"))
      .select(col("piece")).collect().map(_.getString(0))

  /** Swap-window fallback for the refresh-managed stores
    * ([[VocabStore.refresh]]'s two-rename publish): serve `.prev` while
    * the main dir is mid-rename.
    */
  private[text] def activeVocabDir(spark: SparkSession, path: String): String =
    graft.store.BatchStore.active(graft.store.BatchStore.fs(spark, path), path)

  /** q113 gate: the store round-trip must be invisible to tokenization.
    * Saves nothing itself — callers [[savePieces]] first — it loads the
    * stored vocabulary, re-learns the in-memory one, and tokenizes every
    * word through BOTH, counting disagreements:
    *
    *  - vocab_viol — (driver, once — the q105 unk_viol pattern) the loaded
    *    piece multiset differs from the freshly-learned one;
    *  - tok_viol — words whose full piece SEQUENCES differ between the
    *    stored and in-memory vocabularies (sequence compare, not count
    *    compare — a reordering bug that preserved counts would still trip);
    *  - oov_viol — words whose OOV verdicts differ.
    *
    * Output: (doc_id, n_words, vocab_viol, tok_viol, oov_viol); n_words is
    * the DuckDB-derivable anchor.
    */
  def storedVocabGate(docs: DataFrame, size: Int, maxPieceLen: Int, path: String,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stored = loadPieces(spark, path)
    val mem = collectPieces(docs, size, maxPieceLen, textCol, idCol)
    val vocabViol = if (stored.sorted.sameElements(mem.sorted)) 0L else 1L
    val bcS = spark.sparkContext.broadcast(stored)
    val bcM = spark.sparkContext.broadcast(mem)
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val setS = bcS.value.toSet
        val setM = bcM.value.toSet
        val mlS = bcS.value.iterator.map(_.length).foldLeft(1)(math.max)
        val mlM = bcM.value.iterator.map(_.length).foldLeft(1)(math.max)
        it.map { case (id, text) =>
          val ws = toWords(text)
          var tokViol = 0L; var oovViol = 0L
          ws.foreach { w =>
            val ts = tokenizeWord(w, setS, mlS)
            val tm = tokenizeWord(w, setM, mlM)
            if (!ts.sameElements(tm)) tokViol += 1
            val oovS = ts.length == 1 && ts(0) == Unk
            val oovM = tm.length == 1 && tm(0) == Unk
            if (oovS != oovM) oovViol += 1
          }
          (id, ws.length.toLong, vocabViol, tokViol, oovViol)
        }
      }.toDF("doc_id", "n_words", "vocab_viol", "tok_viol", "oov_viol")
  }

  /** q105 invariant gate (the q91–q94 pattern: DuckDB cannot apply
    * recursive greedy matching, but it CAN derive the per-document row
    * shape and assert the violation counters are zero). Learns the vocab
    * from the corpus itself, re-tokenizes every word through the
    * production [[tokenizeWord]], and counts violations of the contracts
    * with an INDEPENDENT checker per word:
    *
    *  - concat_viol — a non-OOV word whose pieces don't concatenate back
    *    to the word (round-trip);
    *  - greedy_viol — a piece that is not the longest vocabulary match at
    *    its position (maximality, re-verified by scanning all longer
    *    candidates);
    *  - oov_viol — OOV verdict disagreeing with the alphabet test (a word
    *    collapses to [UNK] iff it contains a character outside the learned
    *    alphabet);
    *  - bound_viol — fewer pieces than non-empty words (every word yields
    *    at least one token);
    *  - unk_viol — the synthetic OOV probe (driver, once — the q94 proxy
    *    pattern): a word starting with a character outside the alphabet
    *    must tokenize to exactly [UNK].
    *
    * Output: (doc_id, n_words, concat_viol, greedy_viol, oov_viol,
    * bound_viol, unk_viol); n_words is the DuckDB-derivable anchor.
    */
  def invariantGate(docs: DataFrame, size: Int = 256, maxPieceLen: Int = 6,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pieces = collectPieces(docs, size, maxPieceLen, textCol, idCol)
    val maxLen = if (pieces.isEmpty) 1 else pieces.iterator.map(_.length).max
    val alphabet = pieces.filter(_.length == 1).toSet
    val oovChar = (33 to 0x2FFF).map(_.toChar)
      .find(c => !alphabet.contains(c.toString)).getOrElse('\u0001')
    val unkViol =
      if (tokenizeWord(s"${oovChar}ab", pieces.toSet, maxLen).sameElements(Array(Unk))) 0L
      else 1L
    val bc = spark.sparkContext.broadcast(pieces)
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val set = bc.value.toSet
        val ml = bc.value.iterator.map(_.length).foldLeft(1)(math.max)
        it.map { case (id, text) =>
          val ws = toWords(text)
          var concatViol = 0L; var greedyViol = 0L; var oovViol = 0L
          var nTok = 0L; var nonEmpty = 0L
          ws.foreach { w =>
            val toks = tokenizeWord(w, set, ml)
            val isOov = toks.length == 1 && toks(0) == Unk
            if (isOov != hasAlienChar(w, set)) oovViol += 1
            if (!isOov) {
              if (toks.mkString != w) concatViol += 1
              var pos = 0
              toks.foreach { p =>
                var l = p.length + 1
                val lim = math.min(ml, w.length - pos)
                var bad = false
                while (l <= lim && !bad) {
                  if (set.contains(w.substring(pos, pos + l))) bad = true
                  l += 1
                }
                if (bad) greedyViol += 1
                pos += p.length
              }
            }
            nTok += toks.length
            if (w.nonEmpty) nonEmpty += 1
          }
          val boundViol = if (nTok < nonEmpty) 1L else 0L
          (id, ws.length.toLong, concatViol, greedyViol, oovViol, boundViol, unkViol)
        }
      }.toDF("doc_id", "n_words", "concat_viol", "greedy_viol", "oov_viol",
        "bound_viol", "unk_viol")
  }
}
