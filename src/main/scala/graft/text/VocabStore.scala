package graft.text

import graft.store.BatchStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lifecycle for the persisted tokenizer vocabularies (WordPiece pieces,
  * BPE merges, unigram-LM vocab) — the moving-corpus answer for the one
  * artifact family where delta-maintenance is impossible BY CONSTRUCTION:
  * the fits are global (greedy pair ranking over the whole histogram, EM
  * over the whole corpus), so a departed document's contribution cannot
  * be subtracted the way the LM counts ([[TextOps.retireLm]]) or the
  * sketch counters can. The honest un-learn is RETRAIN-FROM-CURRENT-
  * CORPUS, made cheap to schedule by an exact fingerprint gate:
  *
  *  - [[refresh]] computes an order-insensitive corpus fingerprint (row
  *    count + wrapping sum of xxhash64(doc_id, text) — commutative, so
  *    partitioning never changes it) and compares it to the `_corpus`
  *    stamp the last train wrote into the store. A match is an EXACT
  *    no-op (the ledgered-replay convention): a scheduler can call
  *    refresh every maintenance cycle and pay one map-side aggregation
  *    over (id, 8-byte hash) pairs — never a retrain, never the text
  *    shuffle — until the corpus actually moves.
  *  - On a move, the new vocab trains into a dot-prefixed staging
  *    sibling, the stamp (fingerprint + train params) lands INSIDE the
  *    staged table dir (underscore file, invisible to parquet readers),
  *    and the publish is the two-rename `.prev` swap every store here
  *    shares — loads fall back through `BatchStore.active` during the window,
  *    and `BatchStore.recover` heals a torn swap at the next refresh.
  *  - Changed train params also retrain (the stamp carries them), so a
  *    store fitted under old parameters can never keep serving just
  *    because the corpus happens to match.
  *
  * Single-maintainer contract (the sketch-store convention): refreshes
  * are serialized by the caller's maintenance cycle; loads are lock-free
  * via the `.prev` fallback.
  */
object VocabStore {

  final val StampName = "_corpus"

  /** (row count, sum of xxhash64(id, text) folded mod 2^63-1) — exact and
    * order-insensitive (addition commutes); any add/remove/revision moves
    * it (up to the 64-bit collision bound), an unchanged corpus never
    * does. The sum runs in decimal(38,0) so ANSI overflow checking never
    * trips (room for ~10^19 rows), then folds back to a long.
    */
  def corpusFingerprint(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): (Long, Long) = {
    val r = docs
      .agg(count(lit(1)).as("n"),
        pmod(sum(xxhash64(col(idCol), col(textCol)).cast("decimal(38,0)")),
          lit(Long.MaxValue).cast("decimal(38,0)")).as("h"))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).longValueExact())
  }

  /** Refresh the vocab table at `path` iff the corpus fingerprint or the
    * train params moved since the stamp. `train(docs, stagingPath)` must
    * write the COMPLETE replacement table. Returns true iff a retrain
    * ran (false = exact no-op, the store already serves this corpus).
    */
  def refresh(docs: DataFrame, path: String, params: String,
              textCol: String = "text", idCol: String = "doc_id")
             (train: (DataFrame, String) => Unit): Boolean = {
    val spark = docs.sparkSession
    val fs = BatchStore.fs(spark, path)
    BatchStore.recover(fs, path)
    val (n, h) = corpusFingerprint(docs, textCol, idCol)
    val stamp = s"n=$n\nh=$h\nparams=$params\n"
    // a legacy store without a stamp retrains unconditionally — absence
    // means "provenance unknown", never "current"
    if (BatchStore.readFile(fs, new org.apache.hadoop.fs.Path(path, StampName))
        .contains(stamp)) return false
    BatchStore.replace(fs, path, "refresh") { staging =>
      train(docs, staging)
      BatchStore.writeFile(fs, new org.apache.hadoop.fs.Path(staging, StampName), stamp)
    }
    true
  }

  /** WordPiece pieces ([[Subword.savePieces]]' table, refresh-managed). */
  def refreshSubword(docs: DataFrame, size: Int, maxPieceLen: Int, path: String,
                     textCol: String = "text", idCol: String = "doc_id"): Boolean =
    refresh(docs, path, s"subword size=$size maxPieceLen=$maxPieceLen",
      textCol, idCol)((d, p) => Subword.savePieces(d, size, maxPieceLen, p,
      textCol, idCol))

  /** BPE merges ([[Bpe.saveMerges]]' table, refresh-managed). */
  def refreshBpe(docs: DataFrame, numMerges: Int, path: String,
                 textCol: String = "text", idCol: String = "doc_id"): Boolean =
    refresh(docs, path, s"bpe numMerges=$numMerges", textCol, idCol)((d, p) =>
      Bpe.saveMerges(d.sparkSession, Bpe.learnMerges(d, numMerges, textCol, idCol), p))

  /** Unigram-LM vocab ([[Unigram.saveVocab]]' table, refresh-managed). */
  def refreshUnigram(docs: DataFrame, size: Int, maxPieceLen: Int, path: String,
                     textCol: String = "text", idCol: String = "doc_id"): Boolean =
    refresh(docs, path, s"unigram size=$size maxPieceLen=$maxPieceLen",
      textCol, idCol)((d, p) => Unigram.saveVocab(d.sparkSession,
      Unigram.fitVocab(d, size, maxPieceLen, textCol = textCol), p))
}
