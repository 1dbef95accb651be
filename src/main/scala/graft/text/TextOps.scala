package graft.text

import graft.store.{BatchStore, StoreFamily}
import graft.store.StoreFamily.Half
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation (training-data extensions):
  * token counting, quality scoring, heuristic language ID, fingerprinting.
  * All pure column expressions — codegen-friendly, no UDFs.
  */
object TextOps {

  /** Whitespace tokens. */
  def words(textCol: Column): Column = split(trim(textCol), "\\s+")

  /** BPE-ish token count: alpha runs, digit runs, and single other
    * non-space symbols (a cheap proxy for subword tokenizers).
    */
  def bpeIshCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Space-joined word k-grams over a bound `__w` token-array column —
    * the single constructor shared by [[bigramNll]] and
    * [[trigramBackoffNll]] so their shingle windows can never diverge.
    * Documents shorter than k yield the empty array.
    *
    * CALLER CONTRACT: `__w` must be bound behind
    * [[graft.core.Eval.materialized]] — the lambda body indexes `__w` k
    * times per element, so an inlined tokenizer split would re-run per
    * element access (the q128 O(doc_len²) pathology; see
    * [[graft.core.Eval]]).
    */
  private def ngrams(k: Int): Column = {
    val parts = (0 until k).map(j => s"__w[i+$j]").mkString(", ")
    when(size(col("__w")) >= k,
      expr(s"transform(sequence(0, size(__w) - $k), i -> concat_ws(' ', $parts))"))
      .otherwise(array().cast("array<string>"))
  }

  /** TF-IDF term scoring: tf = raw term count per (doc, term) over
    * lowercased whitespace tokens, idf = ln(n_docs / df). The corpus size
    * arrives via a broadcast 1-row aggregate (no driver-side count, the
    * operator stays lazy), and the whole computation is two hash
    * aggregations + one broadcast-join — shuffle-proportional to the
    * distinct (doc, term) pairs, never to raw token count, because tf
    * partials combine map-side. The score is quantized with the stable
    * `floor(x*1e6+0.5)/1e6` so downstream ranking can't be flipped by
    * last-ulp differences in `ln` across engines/libm builds.
    * Output: (doc_id, term, tf, tfidf).
    */
  def tfidf(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    tfidfWeights(docs,
        docs.select(col(idCol).as("doc_id"),
          explode(split(trim(lower(col(textCol))), "\\s+")).as("term")), idCol)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"))

  /** The ONE tf/df/idf scoring pipeline behind [[tfidf]] and
    * [[tfidfCosineTopK]] — the floor(tf * ln(n/df) * 1e6 + 0.5)/1e6
    * quantization is a cross-engine convention mirrored by the q61/q154
    * oracles, so it must never exist as two drifting copies. Keeps `df`
    * so callers can cap fan-out without re-joining.
    */
  private def tfidfWeights(docs: DataFrame, toks: DataFrame, idCol: String): DataFrame = {
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    tf.join(dfx, "term").crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        floor(col("tf") * log(col("n_docs").cast("double") / col("df")) * 1e6 + 0.5) / 1e6)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Sparse TF-IDF document similarity — top-k cosine neighbors through an
    * INVERTED-INDEX join, the lexical complement to the embedding-side ANN
    * stack: no dense vectors anywhere, a pair is scored only when the two
    * documents SHARE a term, and the per-term fan-out is capped by `maxDf`
    * (terms in more than maxDf documents are dropped from the metric —
    * the stop-term pruning every inverted index applies, and the same
    * self-consistent treatment [[graft.dedup.Dedup.ngramJaccardPairs]]
    * gives hot shingles: norms and dots both use only kept terms).
    *
    * Scale shape: one shuffle on term (bounded df^2 pair fan-out per
    * term), one hash aggregation on (query, neighbor) with integer-
    * quantized partial dots (addition-order-independent), one bounded
    * per-query ranking window. At 100 TB this is the classic sparse
    * similarity join — cost tracks shared-term pairs, never n^2.
    */
  def tfidfCosineTopK(docs: DataFrame, k: Int, maxDf: Long, nQueries: Long,
                      shingleN: Int = 3, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    // terms are word n-gram shingles by default: single words degenerate on
    // small-vocabulary corpora (every doc shares every word, so a df cap
    // either keeps nothing or keeps everything), while shingles carry the
    // discriminative phrase structure the lexical metric needs. Shingles
    // come from the shared [[ngrams]] constructor (one shingle-window
    // convention repo-wide) over the LOWERCASED token binding.
    val toks =
      if (shingleN <= 1)
        docs.select(col(idCol).as("doc_id"),
          explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      else
        docs.select(col(idCol).as("doc_id"),
            graft.core.Eval.materialized(
              split(trim(lower(col(textCol))), "\\s+")).as("__w"))
          .select(col("doc_id"), explode(ngrams(shingleN)).as("term"))
    val kept = tfidfWeights(docs, toks, idCol)
      .filter(col("df") <= maxDf)
      .select(col("doc_id"), col("term"), col("tfidf"))
    // a doc whose kept terms all carry zero weight (a shingle in EVERY doc
    // has idf 0) would divide by a zero norm — NULL sims in Spark, inf in
    // DuckDB; exclude such docs from the metric on both sides
    val norms = kept.groupBy(col("doc_id"))
      .agg(sqrt(sum(floor(col("tfidf") * col("tfidf") * 1e8).cast("long"))
        .cast("double") / 1e8).as("nrm"))
      .filter(col("nrm") > 0.0)
    val q = kept.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("term"), col("tfidf").as("qw"))
    val pairs = q.join(
        kept.select(col("doc_id").as("neighbor_id"), col("term"), col("tfidf").as("cw")),
        "term")
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(floor(col("qw") * col("cw") * 1e8).cast("long")).as("sdot"))
    pairs
      .join(norms.select(col("doc_id").as("query_id"), col("nrm").as("qn")), "query_id")
      .join(norms.select(col("doc_id").as("neighbor_id"), col("nrm").as("cn")), "neighbor_id")
      .withColumn("sim",
        round((col("sdot").cast("double") / 1e8) / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** BM25 (Okapi) term scoring: idf = ln((N - df + 0.5)/(df + 0.5) + 1)
    * (the non-negative variant), tf component saturates at k1 and is
    * normalized by relative document length with slope b. Same plan shape
    * as [[tfidf]] — two hash aggregations plus one broadcast of the 1-row
    * (n_docs, avg_len) aggregate — and the same stable quantization before
    * any downstream ranking. Output: (doc_id, term, tf, doc_len, bm25).
    */
  def bm25(docs: DataFrame, k1: Double = 1.2, b: Double = 0.75,
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("doc_len"))
    val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("doc_len")).cast("double") / count(lit(1))).as("avg_len"))
    val idf = log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val tfNorm = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("doc_len") / col("avg_len")))
    tf.join(dfx, "term").join(lens, "doc_id").crossJoin(broadcast(corpus))
      .withColumn("bm25", floor(idf * tfNorm * 1e6 + 0.5) / 1e6)
      .select(col("doc_id"), col("term"), col("tf"), col("doc_len"), col("bm25"))
  }

  /** Quality features + score. Score favors documents that are long enough
    * and have a natural stopword ratio; deterministic arithmetic only.
    */
  def qualityFeatures(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")): DataFrame = {
    val w = words(col(textCol))
    val nWords = size(w)
    val nonSpaceLen = length(regexp_replace(col(textCol), "\\s", ""))
    val stopCount = size(filter(w, x => x.isInCollection(stopwords)))
    val digitLen = length(regexp_replace(col(textCol), "[^0-9]", ""))
    docs.select(
      col(idCol).as("doc_id"),
      nWords.as("n_words"),
      (nonSpaceLen.cast("double") / nWords).as("avg_word_len"),
      (stopCount.cast("double") / nWords).as("stopword_ratio"),
      (digitLen.cast("double") / greatest(nonSpaceLen, lit(1))).as("digit_ratio"))
      .withColumn("quality_score",
        least(lit(1.0), col("n_words") / 100.0) * (lit(1.0) - abs(col("stopword_ratio") - 0.4)))
  }

  /** Heuristic language ID: per-language marker-word hit counts, argmax with
    * alphabetical tie-break, 'und' when nothing matches. (A real n-gram
    * profile model slots into the same shape; the operator contract is the
    * deterministic argmax.)
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die", "nicht", "ist"),
    "en" -> Seq("the", "and", "of", "is", "a"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  def languageId(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = words(col(textCol))
    // lambda-recompute audit (see graft.core.Eval): safe — each filter()
    // lambda references only its own lambda variable, and `__w` (the HOF
    // *argument*, evaluated once per call) is referenced by all four lang
    // scores, so CollapseProject keeps the split materialized
    val scored = langProfiles.foldLeft(docs.select(col(idCol).as("doc_id"), w.as("__w"))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang", size(filter(col("__w"), x => x.isInCollection(markers))))
    }
    // argmax with alphabetical tie-break: langProfiles is sorted, greatest()
    // keeps the first on ties because later candidates must be strictly bigger.
    val best = langProfiles.map { case (lang, _) => col(s"score_$lang") }
      .reduce((a, b) => greatest(a, b))
    val pred = langProfiles.reverse.foldLeft(lit("und")) { case (acc, (lang, _)) =>
      when(col(s"score_$lang") === best && best > 0, lit(lang)).otherwise(acc)
    }
    scored.withColumn("top_score", best).withColumn("pred_lang", pred)
      .select(col("doc_id"), col("pred_lang"), col("top_score"))
  }

  /** Polynomial k-gram hash terms (base 131): char codes are < 256 and
    * 131^7 * 255 * 8 stays far inside int64, so no modulus is needed and
    * the arithmetic is identical on any engine. `elem(j)` renders the code
    * of the character at offset j from the window position — an O(1)
    * array-index into a precomputed code array, NEVER `substr(s, i, 1)`
    * (substring-by-char-index is O(i) on UTF8 strings, which turns the
    * whole fingerprint quadratic; measured 25s vs ~1s at sf0.1).
    */
  def polyTerms(k: Int, litSuffix: String)(elem: Int => String): String = {
    val pows = Array.iterate(1L, k)(_ * 131L).reverse
    (0 until k).map(j => s"${elem(j)} * ${pows(j)}$litSuffix").mkString(" + ")
  }

  /** Document fingerprints: md5 of the normalized text plus a winnowing-style
    * minimum over polynomial character k-gram hashes (min-hash of k-grams is
    * order-robust and cheap to compare).
    */
  def fingerprints(docs: DataFrame, k: Int = 8, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // map-only, no explode and no shuffle (the grouped-explode version
    // shuffled one row per character of the corpus); the min over k-gram
    // hashes is one zero-allocation codegen'd call per document
    // ([[graft.expressions.WinnowMin]] — see its scaladoc for the measured
    // costs of the composed-expression alternatives)
    val norm = lower(regexp_replace(trim(col(textCol)), "\\s+", " "))
    docs.select(col(idCol).as("doc_id"), norm.as("__norm"))
      .select(col("doc_id"), md5(col("__norm")).as("fp_md5"),
        graft.expressions.WinnowMin(col("__norm"), k).as("winnow_min"))
  }

  /** PII patterns shared by the redactor and its oracle: RE2-compatible (no
    * backrefs/lookaround), so Spark's Java regex and DuckDB's RE2 match the
    * same spans.
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII redaction: emails then phone-shaped digit runs replaced with typed
    * tokens — the scrub step a training corpus runs before anything else.
    * Map-only (two regex passes per document, no shuffle); emits match
    * counts for audit plus the digest of the redacted text (oracle-friendly
    * without shipping the full redacted body through the gate). Phones are
    * counted after email redaction so an address's digits can't double-count.
    * Output: (doc_id, n_emails, n_phones, redacted_md5).
    */
  def redactPii(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val noEmail = regexp_replace(col(textCol), EmailRe, "<EMAIL>")
    docs.select(col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(noEmail, lit(PhoneRe), lit(0))).as("n_phones"),
      md5(regexp_replace(noEmail, PhoneRe, "<PHONE>")).as("redacted_md5"))
  }

  /** Shard-local greedy sequence packing: documents stream in id order
    * within a deterministic shard and land in the bin their exclusive
    * prefix token count reaches — the "concatenate and cut every `budget`
    * tokens" packing every LLM pretraining pipeline runs before batching.
    * Per-shard windows keep it scale-safe: a global ordering would
    * serialize 100 TB through one partition, while shards pack
    * independently (each training shard is its own file anyway).
    * Output: (doc_id, n_tokens, shard, bin, bin_offset).
    */
  def packSequences(docs: DataFrame, budget: Int, shards: Int = 32,
                    textCol: String = "text", idCol: String = "doc_id",
                    tokenCount: Option[Column] = None,
                    shardBy: Option[Column] = None): DataFrame = {
    // the DEFAULT routing is hex60(id) mod shards — hash-balanced, so
    // every shard loads evenly whatever structure the ids carry. The r16
    // default (plain id mod shards) was a measured 100×-scale skew wall:
    // folded chunk keys (doc_id*1e6 + chunk_idx) collapse to
    // chunk_idx mod 32 because 1e6 ≡ 0 (mod 32), so a short-document
    // corpus populated only the first max-chunks shards (3 of 32 in
    // q233's own report at sf0.01), serializing the per-shard packing
    // window and concentrating export I/O. `shardBy` stays as the
    // explicit opt-out (e.g. pmod(id, shards) when shard placement must
    // mirror an external layout). Any deterministic function of the id
    // preserves the per-shard monotone-id packing contract: a subset of
    // a monotone id sequence is monotone.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col(idCol).as("doc_id"),
        tokenCount.getOrElse(size(words(col(textCol)))).cast("long").as("n_tokens"),
        shardBy.getOrElse(pmod(graft.dedup.Dedup.hex60(col(idCol).cast("string")),
          lit(shards.toLong))).as("shard"))
      .withColumn("cum_excl", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_excl div $budget"))
      .withColumn("bin_offset", col("cum_excl") - col("bin") * budget)
      .drop("cum_excl")
  }

  /** Sliding-window document chunking — the context-window prep step
    * between curation and packing: long documents split into `size`-token
    * chunks whose starts step by `stride` (stride < size = overlapping
    * context, the standard pretraining treatment so no span is only ever
    * seen cut in half). Start offsets are 0, stride, 2·stride, … while
    * they land inside the document, so every token appears in at least
    * one chunk and tail chunks may run short; an empty document yields
    * one empty chunk (chunk accounting stays total). Output: (idCol,
    * chunk_idx, start_tok, n_tok, chunk_md5) — the hash stands in for
    * the chunk text so downstream verification is fixed-width however
    * long the spans.
    *
    * Scale shape: map-only — one tokenizer pass, one generator for the
    * start offsets (`explode(sequence(...))`), per-row slices; no
    * shuffle, no window, no driver state. The [[graft.core.Eval]]
    * barrier pins the split to one evaluation per row under the two
    * generator consumers.
    */
  def chunkDocs(docs: DataFrame, size: Int, stride: Int,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    docs
      .select(col(idCol), graft.core.Eval.materialized(words(col(textCol))).as("__w"))
      .select(col(idCol), col("__w"),
        explode(sequence(lit(0),
          greatest(org.apache.spark.sql.functions.size(col("__w")) - 1, lit(0)),
          lit(stride))).as("start_tok"))
      .select(col(idCol),
        (col("start_tok") / stride).cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        slice(col("__w"), col("start_tok") + 1, lit(size)).as("__c"))
      .select(col(idCol), col("chunk_idx"), col("start_tok"),
        org.apache.spark.sql.functions.size(col("__c")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("__c"))).as("chunk_md5"))
  }

  /** Corpus unigram LM quality score: per-document mean negative
    * log-likelihood under an add-one-smoothed unigram model fit on the whole
    * corpus — the cheap end of the KenLM-style perplexity filters training
    * pipelines run (a doc of globally-rare tokens scores high = suspicious).
    *
    * Scale: two hash aggregations (per-doc term counts, corpus term counts)
    * plus one join on `term` and a 1-row broadcast of (n_tokens, v_size) —
    * shuffle is proportional to distinct (doc, term) pairs, never raw token
    * count, because count partials combine map-side. Exactness: each term's
    * nll is quantized to an INTEGER micro-nat (floor(x*1e6+0.5) as long), so
    * the per-doc sum is integer arithmetic — immune to FP summation order —
    * and only the final division is floating point.
    *
    * Note on plan shape: the tf aggregation feeds both the corpus counts
    * and the scoring join, and Catalyst compiles each consumer as its own
    * subtree (no cross-consumer subplan reuse without materialization) — at
    * production scale, land tf in the store once and score from it.
    * Output: (doc_id, doc_tokens, nll).
    */
  def unigramNll(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val vc = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val corpus = vc.agg(sum(col("cf")).as("n_tokens"), count(lit(1)).as("v_size"))
    tf.join(vc, "term").crossJoin(broadcast(corpus))
      .withColumn("nll6",
        floor(-log((col("cf") + 1.0) / (col("n_tokens") + col("v_size"))) * 1e6 + 0.5)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("doc_tokens"),
        round(sum(col("tf") * col("nll6")).cast("double") / sum(col("tf")) / 1e6, 6)
          .as("nll"))
  }

  /** Corpus bigram LM quality score: per-document mean negative
    * log-likelihood of its bigram INSTANCES under an add-one Markov model
    * fit on the whole corpus — p(w2|w1) = (c(w1,w2)+1)/(c(w1,·)+V), with V
    * = distinct token types. The conditional complement to [[unigramNll]]:
    * a document of common words in an uncommon ORDER scores high here while
    * scoring low there. Same exactness discipline (per-bigram integer
    * micro-nat quantization, integer instance sums, one final division) and
    * the same scale shape: hash aggregations on (doc, bigram) and bigram,
    * the context count derived from the bigram table (no second token
    * pass), one join on bigram, and a 1-row vocabulary broadcast. Documents
    * with < 2 tokens report 0 bigrams with nll 0. Like [[unigramNll]], the
    * shared tf subtree recompiles per consumer — materialize it at
    * production scale.
    * Output: (doc_id, n_bigrams, nll).
    */
  def bigramNll(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = split(trim(lower(col(textCol))), "\\s+")
    val inst = docs.select(col(idCol).as("doc_id"), graft.core.Eval.materialized(w).as("__w"))
      .select(col("doc_id"), explode(ngrams(2)).as("bg"))
    // the context word is a function of the bigram, so it is NOT part of the
    // aggregation key — re-deriving it post-agg keeps the shuffled key
    // narrow (bg alone) and the hash-agg comparisons cheap
    val tf = inst.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val cf2 = tf.groupBy(col("bg")).agg(sum(col("tf")).as("cf2"))
    val cf1 = tf.groupBy(col("w1")).agg(sum(col("tf")).as("cf1"))
    val vocab = docs.select(explode(w).as("t")).agg(countDistinct(col("t")).as("v_size"))
    val scored = tf.join(cf2, "bg").join(cf1, "w1").crossJoin(broadcast(vocab))
      .withColumn("nll6",
        floor(-log((col("cf2") + 1.0) / (col("cf1") + col("v_size"))) * 1e6 + 0.5)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(sum(col("tf") * col("nll6")).cast("double") / sum(col("tf")) / 1e6, 6)
          .as("nll"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll"), lit(0.0)).as("nll"))
  }

  /** Trigram Stupid-Backoff LM scoring (the Brants et al. 2007 web-scale
    * recipe: relative frequencies with a fixed 0.4 backoff penalty, no
    * discount fitting — counts only, which is exactly what suits a
    * distributed pipeline):
    *
    *   S(w3|w1 w2) = c(w1w2w3)/c(w1w2)      if the trigram was seen, else
    *               = 0.4 · c(w2w3)/c(w2)    if the bigram was seen, else
    *               = 0.16 · c(w3)/N         if w3 was seen, else unseen.
    *
    * The model is FIT on the deterministic hex60 80% train split (q59's
    * bucket convention) and scores EVERY document, so held-out documents
    * genuinely exercise the backoff chain; tokens whose unigram never
    * occurs in training are excluded from the mean and surfaced in
    * `n_unseen`.
    *
    * Scale/exactness: scored instances aggregate to (doc, trigram) BEFORE
    * any join (narrow shuffle key — the context/suffix keys are re-derived
    * post-agg, the [[bigramNll]] trick), the count tables are
    * distinct-ngram-sized, the 1-row N broadcasts, and each position's
    * −ln S quantizes to an integer micro-nat so per-doc sums are
    * FP-order-immune; only the final division floats.
    *
    * Note on plan shape (same caveat as [[unigramNll]]): the token subtree
    * feeds the three count tables, N, and the instance table, and Catalyst
    * compiles each consumer as its own scan — at production scale, land the
    * token/ngram tables in the store once and score from them.
    * Output: (doc_id, n_trigrams, n_backoff, n_unseen, nll).
    */
  def trigramBackoffNll(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val (uni, bi, tri, nTrain) = trainTrigramLm(docs, textCol, idCol)
    scoreTrigramLm(docs, uni, bi, tri, nTrain, textCol, idCol)
  }

  /** Score `scoreDocs` against an in-memory LM fit on a DIFFERENT corpus —
    * the refit-per-batch shape a pipeline WITHOUT the persisted LM store
    * is forced into: every scoring call re-pays the corpus-sized training
    * pass, while [[scoreWithLm]] against a [[saveLm]] artifact pays only
    * the batch being scored. Scores are identical to
    * `scoreWithLm(scoreDocs, <store built from corpus>)` by the same
    * exact-long-counts argument as [[trigramBackoffNll]]/q120 (spec-checked
    * in CorpusOpsSpec); the bench's `lm10_probe` vs `lm10_probe_refit`
    * fields measure the amortization gap this store exists to win.
    */
  def trigramBackoffNllAgainst(scoreDocs: DataFrame, corpus: DataFrame,
                               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (uni, bi, tri, nTrain) = trainTrigramLm(corpus, textCol, idCol)
    scoreTrigramLm(scoreDocs, uni, bi, tri, nTrain, textCol, idCol)
  }

  /** The trained Stupid-Backoff state — the LM as DATA: (uni, bi, tri)
    * count tables (g, c) plus the 1-row token total (n_train), fit on the
    * deterministic hex60 80% train split. Counts are longs over strings, so
    * persisting and reloading them is exact — which is what makes
    * [[saveLm]]/[[scoreWithLm]] bit-reproduce [[trigramBackoffNll]].
    */
  def trainTrigramLm(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): (DataFrame, DataFrame, DataFrame, DataFrame) =
    trigramTablesOn(lmTrainTokens(docs, textCol, idCol))

  /** The tokenized hex60-80% train split (doc_id, __w) the count tables
    * aggregate over — the corpus-sized part of LM training. Split out so
    * the store writers ([[saveLm]]/[[appendLm]]/[[retireLm]]) can persist
    * it across their four table writes (guide §1.2: the tokenization
    * otherwise re-runs once per written table).
    */
  private def lmTrainTokens(docs: DataFrame, textCol: String,
                            idCol: String): DataFrame = {
    val w = split(trim(lower(col(textCol))), "\\s+")
    // Eval.materialized: __w feeds four consumers (two of them explode the
    // bare attribute — the InferFiltersFromGenerate shape); the barrier
    // pins the split to one evaluation per row in every branch
    docs.select(col(idCol).as("doc_id"), graft.core.Eval.materialized(w).as("__w"))
      .filter(graft.dedup.Dedup.hex60(col("doc_id").cast("string")) % 100 < 80)
  }

  /** [[trainTrigramLm]]'s count tables over an already-tokenized train
    * frame — formulas unchanged; exactness (long counts, hex60 split) is
    * what makes store-sum == monolithic-fit hold.
    */
  private def trigramTablesOn(train: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val uni = train.select(explode(col("__w")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val bi = train.select(explode(ngrams(2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val tri = train.select(explode(ngrams(3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val nTrain = train.select(explode(col("__w")).as("g"))
      .agg(count(lit(1)).as("n_train"))
    (uni, bi, tri, nTrain)
  }

  /** Train-once half of the LM-as-artifact pair (the persisted-vocab /
    * IVF-index treatment for the last per-query refit in the text family):
    * land the [[trainTrigramLm]] count tables + token total under `path`.
    * A curation pipeline scores with a FROZEN LM — training it per batch
    * would both waste the corpus pass and make scores drift between runs.
    */
  def saveLm(docs: DataFrame, path: String,
             textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val fs = BatchStore.fs(docs.sparkSession, path)
    // build semantics: a rebuild replaces the whole store, appends and all
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    writeLmTables(docs, path, batchId = 0L, negate = false, textCol, idCol)
  }

  /** Shared table-landing for [[saveLm]] and [[landLmDelta]]: ONE
    * tokenization pass persisted across the four table writes (it was the
    * whole-corpus cost, paid once per table before — guide §1.2), the two
    * ledger-neutral tables overlapped (guide §2.6 — independent write jobs
    * back-fill each other's commit/scheduling gaps), and `uni` still lands
    * LAST — its directory is the append/retire ledger's commit marker, the
    * crash-discipline every replay relies on. Row-identical output: the
    * count formulas are untouched and each table's write is the same job
    * it was, just scheduled off a cached token frame.
    */
  private def writeLmTables(docs: DataFrame, path: String, batchId: Long,
                            negate: Boolean, textCol: String,
                            idCol: String): Unit = {
    val train = lmTrainTokens(docs, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (uni0, bi0, tri0, nTrain0) = trigramTablesOn(train)
      def sgn(df: DataFrame, c: String) =
        if (negate) df.withColumn(c, -col(c)) else df
      val (uni, bi, tri, nTrain) =
        (sgn(uni0, "c"), sgn(bi0, "c"), sgn(tri0, "c"), sgn(nTrain0, "n_train"))
      // rebalance before the write (guide §6): tri otherwise lands one
      // tiny file per task (16/dir measured); AQE sizes rebalanced files
      // by advisoryPartitionSize so a 100 TB gram table still fans out
      val fs = BatchStore.fs(docs.sparkSession, path)
      def land(half: String, df: DataFrame): Unit =
        BatchStore.publish(fs, s"$path/$half", batchId)(
          df.hint("rebalance").write.mode("overwrite").parquet(_))
      // first write materializes the cache; the next two read it warm
      land("tri", tri)
      graft.core.Par.sections(
        () => land("bi", bi),
        () => land("meta", nTrain.coalesce(1)))
      // the LAST-landed table is the ledger: its rename publishes the
      // whole append atomically
      land("uni", uni)
    } finally train.unpersist(false)
  }

  /** Incremental half of the LM store — [[graft.similarity.Similarity
    * .ivfAppendCells]]' treatment for the count tables, and the reason it
    * is EXACT here: n-gram counts are additive longs, so training on a new
    * document batch and landing the deltas under `batch=<id>` makes the
    * summed store equal the monolithic fit over the union, for ANY disjoint
    * batch partitioning (groupBy-count over a union IS the sum of
    * groupBy-counts over its parts; the hex60 train-split filter is
    * per-document, so it commutes with the partitioning). Exactly-once via
    * the directory-existence ledger: `uni/batch=<id>` is written LAST as
    * the commit marker, so a replay of a crashed append deterministically
    * rewrites the same deltas and converges; a replay of a completed one
    * returns false untouched. Appends are maintenance ops — run them
    * between scoring jobs (single-maintainer, the contract every store in
    * this repo shares); a scorer racing a half-landed append could pair new
    * trigram counts with old context counts.
    */
  def appendLm(docs: DataFrame, path: String, appendId: Long,
               textCol: String = "text", idCol: String = "doc_id"): Boolean =
    landLmDelta(docs, path, appendId, negate = false, textCol, idCol)

  /** Retirement half — the UN-learn path [[appendLm]]'s additivity makes
    * free: land the NEGATED count tables of documents leaving the corpus
    * (removed, or the OLD text of changed docs in a
    * [[graft.dedup.Dedup.corpusDelta]] cycle) as an ordinary ledgered
    * batch. Because n-gram counts are additive longs, store-sum-per-gram
    * after retire(old)+append(new) equals the monolithic fit over the new
    * snapshot EXACTLY — no rebuild, cost ∝ the delta slice, never the
    * corpus. Grams whose summed count reaches zero are invisible to
    * [[scoreWithLm]] (its per-gram sums keep only c > 0 — a fresh fit
    * never has non-positive rows, so the filter is a no-op outside
    * retirement) and are dropped outright by [[compactLm]]. Same
    * exactly-once ledger + single-maintainer contract as [[appendLm]].
    */
  def retireLm(docs: DataFrame, path: String, appendId: Long,
               textCol: String = "text", idCol: String = "doc_id"): Boolean =
    landLmDelta(docs, path, appendId, negate = true, textCol, idCol)

  private def landLmDelta(docs: DataFrame, path: String, appendId: Long,
                          negate: Boolean, textCol: String, idCol: String): Boolean = {
    require(appendId != 0L, "appendId 0 is reserved for the initial build")
    BatchStore.land(LmStore, docs.sparkSession, path, appendId,
      if (negate) "retire" else "append")(_ =>
      writeLmTables(docs, path, appendId, negate, textCol, idCol))
  }

  /** One sum-merged count table: exact long adds per gram; c > 0 drops
    * grams fully retired by [[retireLm]] deltas, so a compacted
    * retire+append store is row-identical to a fresh build over the
    * surviving corpus.
    */
  private def gramCounts(h: String): Half = Half(h, layout = BatchStore.asMerged,
    merge = Some(_.groupBy(col("g")).agg(sum(col("c")).as("c")).filter(col("c") > 0L)))

  /** The LM count store: `tri`, `bi` and `meta` land before `uni`, whose
    * `batch=<id>` is the ledger ([[writeLmTables]]).
    */
  private[graft] val LmStore = StoreFamily("lm",
    Seq(gramCounts("tri"), gramCounts("bi"),
      Half("meta", layout = BatchStore.asMerged,
        merge = Some(_.agg(sum(col("n_train")).as("n_train")).coalesce(1))),
      gramCounts("uni")))

  /** Maintenance half: MERGE the accumulated per-batch count deltas into
    * one batch per table — unlike the index stores' row-preserving merge,
    * each table here sums counts per gram (exact long adds), so the store
    * shrinks back to one row per distinct n-gram no matter how many
    * appends landed. The four tables merge side by side; the ledger lands
    * as one watermark marker (the self-running vacuum), and each table
    * lands via the two-rename `.prev` swap ([[scoreWithLm]] reads around
    * the window, [[appendLm]] heals it). Returns the number of tables that
    * had anything to merge.
    */
  def compactLm(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    BatchStore.compactStore(LmStore, spark, path, minor = false)

  /** Score-many half: [[trigramBackoffNll]]'s exact scoring against the
    * STORED count tables — no training pass; the only corpus-sized work is
    * the documents being scored. Each table is summed per gram on read, so
    * the scorer is indifferent to whether [[compactLm]] has merged the
    * appends yet (longs sum to the same longs in any order/grouping). The
    * q120 gate hash-checks this against the in-memory fit; q126 drives
    * build→append→compact and hash-checks against the monolithic fit.
    */
  def scoreWithLm(docs: DataFrame, path: String,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val fs = BatchStore.fs(spark, path)
    // read-only .prev fallback covers the compactLm swap window; c > 0
    // drops grams fully retired by [[retireLm]] deltas (no-op otherwise:
    // a fresh fit has no non-positive counts)
    def counts(h: String): DataFrame =
      spark.read.parquet(BatchStore.active(fs, s"$path/$h"))
        .groupBy(col("g")).agg(sum(col("c")).as("c"))
        .filter(col("c") > 0L)
    val nTrain = spark.read
      .parquet(BatchStore.active(fs, s"$path/meta"))
      .agg(sum(col("n_train")).as("n_train"))
    scoreTrigramLm(docs, counts("uni"), counts("bi"), counts("tri"), nTrain,
      textCol, idCol)
  }

  /** Scoring shared by the in-memory and stored-LM paths — see
    * [[trigramBackoffNll]] for the semantics and exactness discipline.
    */
  private def scoreTrigramLm(docs: DataFrame, uni: DataFrame, bi: DataFrame,
                             tri: DataFrame, nTrain: DataFrame,
                             textCol: String, idCol: String): DataFrame = {
    val w = split(trim(lower(col(textCol))), "\\s+")
    val base = docs.select(col(idCol).as("doc_id"), graft.core.Eval.materialized(w).as("__w"))
    val inst = base.select(col("doc_id"), explode(ngrams(3)).as("tg"))
      .groupBy(col("doc_id"), col("tg")).agg(count(lit(1)).as("k"))
      // words contain no spaces, so the split keys re-derive exactly
      .withColumn("w12", substring_index(col("tg"), " ", 2))
      .withColumn("w23", substring_index(col("tg"), " ", -2))
      .withColumn("w2", substring_index(col("w23"), " ", 1))
      .withColumn("w3", substring_index(col("tg"), " ", -1))
    val scored = inst
      .join(tri.select(col("g").as("tg"), col("c").as("c3")), Seq("tg"), "left")
      .join(bi.select(col("g").as("w12"), col("c").as("c2ctx")), Seq("w12"), "left")
      .join(bi.select(col("g").as("w23"), col("c").as("c2")), Seq("w23"), "left")
      .join(uni.select(col("g").as("w2"), col("c").as("c1w2")), Seq("w2"), "left")
      .join(uni.select(col("g").as("w3"), col("c").as("c1w3")), Seq("w3"), "left")
      .crossJoin(broadcast(nTrain))
      .withColumn("s",
        when(col("c3").isNotNull, col("c3").cast("double") / col("c2ctx"))
          .when(col("c2").isNotNull, lit(0.4) * col("c2") / col("c1w2"))
          .when(col("c1w3").isNotNull, lit(0.16) * col("c1w3") / col("n_train")))
      .withColumn("nll6", floor(-log(col("s")) * 1e6 + 0.5).cast("long"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_trigrams"),
        sum(when(col("c3").isNull && col("s").isNotNull, col("k")).otherwise(0L))
          .as("n_backoff"),
        sum(when(col("s").isNull, col("k")).otherwise(0L)).as("n_unseen"),
        round(sum(when(col("s").isNotNull, col("k") * col("nll6")).otherwise(0L))
          .cast("double") /
          greatest(sum(when(col("s").isNotNull, col("k")).otherwise(0L)), lit(1L)) / 1e6,
          6).as("nll"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("nll"), lit(0.0)).as("nll"))
  }

  /** Corpus-wide duplicated n-gram fraction: per document, the fraction of
    * its word-n-gram INSTANCES whose n-gram also appears in at least one
    * other document — the "fraction of duplicated content" signal the
    * Gopher/RefinedWeb-style filters threshold on (boilerplate-heavy docs
    * score near 1). Distinct from [[graft.dedup.Dedup]]'s pair miners: no
    * pairs are emitted, so there is no fan-out to bound — just one df
    * aggregation on the shingle and one join back to the instances.
    *
    * Scale: shuffle ∝ shingle instances (explode), df table ∝ distinct
    * shingles; hot shingles skew the join key but carry only a count, and
    * AQE skew-join splits them. Short docs (< n tokens) report 0 shingles
    * via the left join back to the doc list. Integer counts + one rounded
    * division — engine-exact. Output: (doc_id, n_shingles, n_dup, dup_frac).
    */
  def dupNgramStats(docs: DataFrame, n: Int = 3,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val inst = graft.dedup.Dedup.wordShingles(docs, n, textCol, idCol)
    val dfx = inst.distinct().groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val perDoc = inst.join(dfx, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(round(col("n_dup").cast("double") / col("n_shingles"), 6), lit(0.0))
          .as("dup_frac"))
  }

  /** Deterministic domain-mix rebalancing: downsample every domain to the
    * size of the smallest one (uniform target mix) with a hash-gated keep
    * decision — the domain-balancing step of a pretraining data recipe,
    * reproducible across runs and engines because the gate is
    * `hex60(doc_id) % 1e6 < rate_ppm` with an integer-division rate, not an
    * RNG. Scale: one count aggregation, a broadcast of the per-domain rate
    * table (domains are few), and a map-side gate — no extra shuffle beyond
    * the final per-domain rollup. Output: (domain, n_docs, rate_ppm, n_kept).
    */
  def domainRebalance(docs: DataFrame, domainCol: String = "source",
                      idCol: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(col(domainCol).as("domain")).agg(count(lit(1)).as("n_docs"))
    val minC = counts.agg(min(col("n_docs")).as("min_docs"))
    val rates = counts.crossJoin(broadcast(minC))
      .withColumn("rate_ppm", expr("min_docs * 1000000 div n_docs"))
      .select(col("domain"), col("n_docs"), col("rate_ppm"))
    docs.select(col(idCol).as("doc_id"), col(domainCol).as("domain"))
      .join(broadcast(rates), "domain")
      .withColumn("kept",
        graft.dedup.Dedup.hex60(col("doc_id").cast("string")) % 1000000 < col("rate_ppm"))
      .groupBy(col("domain"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("rate_ppm")).as("rate_ppm"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Rank-based length trimming per group: drop each group's shortest 5%
    * and longest 5% of documents by token count (deterministic tie-break on
    * doc_id) — the outlier-length filter corpora run per language/domain
    * bucket. Rank bounds are `floor(pct * n)` in IEEE double on both
    * engines, so the cut is bit-reproducible. Scale: the ranking window is
    * PARTITIONED by the group column — each language/domain sorts
    * independently, nothing funnels through one partition (an approximate
    * percentile cutoff is the fallback if a single group outgrows a
    * partition's sort budget).
    * Output: (grp, n_docs, n_kept, min_kept_tokens, max_kept_tokens, kept_tokens).
    */
  def lengthTrim(docs: DataFrame, groupCol: String = "lang",
                 loPct: Double = 0.05, hiPct: Double = 0.95,
                 textCol: String = "text", idCol: String = "doc_id",
                 tokenCount: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
      tokenCount.getOrElse(size(words(col(textCol)))).cast("long").as("n_tokens"))
    val ranked = lens
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("n_tokens"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    ranked
      .withColumn("kept",
        col("rk") > floor(lit(loPct) * col("n")) && col("rk") <= floor(lit(hiPct) * col("n")))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("kept"), col("n_tokens"))).as("min_kept_tokens"),
        max(when(col("kept"), col("n_tokens"))).as("max_kept_tokens"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
  }

  /** Deterministic document chunking: fixed `chunkSize`-token windows with
    * `overlap` tokens shared between consecutive chunks (stride = size −
    * overlap) — the splitter in front of retrieval indexing or long-doc
    * pretraining. Chunk count is closed-form integer arithmetic
    * (`ceil(max(n − overlap, 1) / stride)`, all operands positive so
    * truncating and flooring division agree across engines), every token is
    * covered, and the final chunk may run short. Map-side only: one explode
    * per chunk, no shuffle. The chunk body ships as an md5 digest so
    * downstream exact-dedup of chunks composes directly.
    * Output: (doc_id, chunk_id, start_tok, chunk_tokens, chunk_md5).
    */
  def chunkDocuments(docs: DataFrame, chunkSize: Int, overlap: Int,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    // lambda-recompute audit (see graft.core.Eval): safe — no lambda indexes
    // __w; the explode input is the sequence (a non-Attribute, so no filter
    // inference), the post-explode slice sees __w as a Generate output
    // attribute, and the pre-explode multi-reference keeps the split
    // materialized
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("__w"))
      .withColumn("__n", size(col("__w")).cast("long"))
      .withColumn("__chunks",
        expr(s"(greatest(__n - $overlap, 1L) + ${stride - 1}) div $stride"))
      .select(col("doc_id"), col("__w"),
        explode(sequence(lit(0L), col("__chunks") - 1)).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * stride)
      .withColumn("__ctoks",
        slice(col("__w"), (col("start_tok") + 1).cast("int"), lit(chunkSize)))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("__ctoks")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("__ctoks"))).as("chunk_md5"))
  }

  /** Deterministic vocabulary build over lowercased whitespace tokens:
    * document frequency + collection frequency per term, `minDf` floor,
    * top-`topK` by (df desc, cf desc, term asc) — a total order, so the
    * vocabulary is reproducible across runs and engines. The selection is a
    * global sort+limit (plans as TakeOrderedAndProject: per-partition
    * top-K then a K-sized merge — a web-scale vocab never lands on one
    * partition, which a global ranking window would force). Ranks are then
    * zipped onto the sorted take on the DRIVER: the take is bounded at
    * `topK` rows by construction (the MLlib bounded-collect pattern, same
    * as the IVF centroid path), so no Window operator — and no
    * single-partition WARN — appears anywhere in the plan.
    *
    * CONTRACT NOTE: unlike every other operator here, this one executes
    * EAGERLY at call time (the bounded collect runs two Spark jobs) and
    * returns a frozen local relation, not a lazy plan — callers composing
    * it into larger pipelines should invoke it once and reuse the result.
    * Output: (term, df, cf, rank).
    */
  /** Exact duplicated-span removal — the substring-level dedup pass of a
    * pretraining data recipe (cf. "Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022: drop every repeated span,
    * not just whole near-duplicate documents; the reference's pipeline has
    * no analogue, this is a training-data extension). A word position is
    * removed iff it is covered by some `span`-gram that occurs >= 2 times
    * ANYWHERE in the corpus (including twice inside one document); the
    * surviving words are re-joined in order.
    *
    * Plan: grams are built from the EXPLODED token stream via `lead(word,
    * j)` over the per-document window — never by indexing a computed array
    * column inside a higher-order `transform` lambda. (The lambda form is
    * an O(doc_len²) trap: CollapseProject inlines the tokenizer split into
    * the lambda body, and higher-order functions evaluate interpreted with
    * no common-subexpression elimination, so the full-text regex split
    * re-executes on every element access. The `lead` form evaluates the
    * split exactly once per row and all `span` leads share one window
    * spec, planning as a single Window operator.) Then: one hash
    * aggregation on the gram for global occurrence counts, one shuffle
    * join marking duplicated start positions, a per-document
    * `rowsBetween(-(span-1), 0)` running-max window that turns start marks
    * into covered intervals WITHOUT an interval-union pass, and one final
    * per-document aggregation that rebuilds the text via a sorted struct
    * collect. Scale: shuffle ∝ token count (the same bound as any
    * corpus-wide dedup); the windows are partitioned by doc_id (never
    * global); hot grams carry only their start marks, and AQE splits
    * skewed join keys. Short documents (< span words) emit no grams and
    * pass through unchanged.
    *
    * `span` follows the exact-substring-dedup recipe scale — Lee et al.
    * 2022 dedupes ~50-token spans; the default 5 is the demo setting and
    * production corpora should pass 20-50. `kept_offsets` carries the
    * surviving ORIGINAL word positions (comma-joined, ascending) so
    * downstream chunkers can remap clean-text token indices back to
    * pre-removal offsets.
    * Output: (doc_id, n_words, n_removed, clean_text, kept_offsets).
    */
  def removeDuplicatedSpans(docs: DataFrame, span: Int = 5,
                            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(span >= 1, s"span must be >= 1, got $span")
    import org.apache.spark.sql.expressions.Window
    // Eval.materialized: posexplode of a bare split alias is the exact
    // InferFiltersFromGenerate shape that made the pre-fix version of this
    // operator quadratic — the barrier pins the split to once per row
    val toks = docs.select(col(idCol).as("doc_id"),
      graft.core.Eval.materialized(words(col(textCol))).as("__w"))
    val pos = toks.select(col("doc_id"), posexplode(col("__w")).as(Seq("pos", "word")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // gram starting at pos = this word + the next span-1 words via lead();
    // a position within span-1 of the document end has a null final lead
    // and is not a gram start (filtered below — concat_ws would silently
    // skip the nulls and fabricate a short gram otherwise)
    val inst =
      if (span == 1) pos.select(col("doc_id"), col("pos").as("start"), col("word").as("gram"))
      else {
        val nexts = (1 until span).map(j => lead(col("word"), j).over(wDoc).as(s"__n$j"))
        pos.select(col("doc_id") +: col("pos") +: col("word") +: nexts: _*)
          .filter(col(s"__n${span - 1}").isNotNull)
          .select(col("doc_id"), col("pos").as("start"),
            concat_ws(" ", col("word") +: (1 until span).map(j => col(s"__n$j")): _*).as("gram"))
      }
    // grams occurring >= 2 times corpus-wide; the aggregate combines
    // map-side so the shuffle carries partial counts, not instances
    val dup = inst.groupBy(col("gram")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("gram"))
    // one row per duplicated start — (doc_id, start) is unique because a
    // start has exactly one gram, so the join can never multiply rows
    val dupStarts = inst.join(dup, "gram")
      .select(col("doc_id"), col("start").as("pos"), lit(1).as("__dup"))
    val w = wDoc.rowsBetween(-(span - 1), 0)
    pos.join(dupStarts, Seq("doc_id", "pos"), "left")
      .withColumn("__cov", max(coalesce(col("__dup"), lit(0))).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__cov")).cast("long").as("n_removed"),
        array_join(
          expr("transform(array_sort(collect_list(CASE WHEN __cov = 0 THEN struct(pos, word) END)), s -> s.word)"),
          " ").as("clean_text"),
        array_join(
          expr("transform(array_sort(collect_list(CASE WHEN __cov = 0 THEN struct(pos, word) END)), s -> CAST(s.pos AS STRING))"),
          ",").as("kept_offsets"))
  }

  def vocabulary(docs: DataFrame, minDf: Int, topK: Int,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
    val stats = terms.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
      .filter(col("df") >= minDf)
    val top = stats.orderBy(col("df").desc, col("cf").desc, col("term").asc).limit(topK)
      .select(col("term"), col("df"), col("cf")).as[(String, Long, Long)].collect()
    top.zipWithIndex.toSeq
      .map { case ((term, df, cf), i) => (term, df, cf, i + 1) }
      .toDF("term", "df", "cf", "rank")
  }

  /** Temperature-based language mixture sampling (τ = 0.5) — the static
    * mixture-rebalancing step of a multilingual training-data pipeline
    * (the p_l ∝ n_l^τ sampling rule of Conneau & Lample's XLM line,
    * public): high-resource languages are downsampled toward their
    * τ-tempered share of a token budget, low-resource languages keep
    * everything (rate capped at 1), flattening the mixture without
    * starving the head. τ is FIXED at 0.5 so the tempering is sqrt — the
    * one power IEEE 754 requires correctly rounded on every engine
    * (pow/exp are libm-dependent and banned from oracles, the q164
    * sigmoid rule).
    *
    * `budgetPpm` is the token budget as parts-per-million of the corpus
    * (500000 = half the corpus tokens). Token totals accumulate in
    * DECIMAL(38,0) (the q168 envelope rule); every per-language rate
    * derives from those exact integer sums through one fixed-order double
    * expression, quantized to an integer ppm threshold; the per-doc keep
    * decision is the deterministic hex60 gate (the q80/q97/q170
    * convention), so the sample is exactly replayable on any engine.
    *
    * Returns the per-language audit frame (doc counts, token totals, the
    * ppm threshold, kept docs/tokens). [[temperatureSampleDocs]] returns
    * the kept documents themselves.
    *
    * Scale shape: one map-side-combined groupBy(lang) (|langs| rows), a
    * 1-row totals broadcast onto that tiny frame, a ≤|langs|-row
    * threshold broadcast back onto the corpus, then a map-only gate — the
    * corpus itself is never shuffled.
    */
  def temperatureSampleByLang(docs: DataFrame, budgetPpm: Long = 500000L,
                              textCol: String = "text", idCol: String = "doc_id",
                              langCol: String = "lang"): DataFrame = {
    val gated = temperatureGate(docs, budgetPpm, textCol, idCol, langCol)
    gated.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("decimal(38,0)")).cast("long").as("tok_total"),
        max(col("thr_ppm")).as("thr_ppm"),
        count(when(col("keep"), 1)).as("n_kept"),
        coalesce(sum(when(col("keep"), col("n_words")).cast("decimal(38,0)")),
          lit(0)).cast("long").as("tok_kept"))
      .orderBy("lang")
  }

  /** The kept-documents side of [[temperatureSampleByLang]]: the same
    * deterministic gate, returning (idCol, langCol, n_words) for every
    * document under its language's tempered threshold.
    */
  def temperatureSampleDocs(docs: DataFrame, budgetPpm: Long = 500000L,
                            textCol: String = "text", idCol: String = "doc_id",
                            langCol: String = "lang"): DataFrame =
    temperatureGate(docs, budgetPpm, textCol, idCol, langCol)
      .filter(col("keep"))
      .select(col("doc_id").as(idCol), col("lang").as(langCol), col("n_words"))

  /** Shared gate frame: every document with its language's tempered ppm
    * threshold and the hex60 keep verdict. The τ-share arithmetic runs
    * left-to-right as written so both engines execute the identical IEEE
    * sequence: rate = min(1, ((budget · s_l) / S) / T_l) with
    * s_l = floor(sqrt(T_l)·1e6) and S = Σ s_l, all from exact integer
    * token sums. Token totals per language stay exact to 2^53 tokens as
    * doubles under sqrt — beyond any per-language corpus.
    */
  private def temperatureGate(docs: DataFrame, budgetPpm: Long,
                              textCol: String, idCol: String,
                              langCol: String): DataFrame = {
    val nw = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
      size(words(col(textCol))).cast("long").as("n_words"))
    val byLang = nw.groupBy(col("lang")).agg(
      sum(col("n_words").cast("decimal(38,0)")).as("tok_dec"))
    val langs = byLang.select(col("lang"), col("tok_dec"),
      floor(sqrt(col("tok_dec").cast("double")) * 1e6).cast("long").as("s6"))
    val tot = langs.agg(sum(col("s6")).as("s_tot"),
      sum(col("tok_dec")).as("tok_all"))
    val frac = budgetPpm.toDouble / 1e6
    val rates = langs.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(least(lit(1.0),
          col("tok_all").cast("double") * lit(frac) * col("s6").cast("double")
            / col("s_tot").cast("double") / col("tok_dec").cast("double"))
          * 1e6).cast("long").as("thr_ppm"))
    nw.join(broadcast(rates), Seq("lang"))
      .withColumn("keep",
        graft.dedup.Dedup.hex60(col("doc_id").cast("string")) % 1000000L < col("thr_ppm"))
  }

  /** Hashed n-gram instances for the DSIR family: lowercased whitespace
    * unigrams AND bigrams, each hashed to one of `m` buckets with the
    * house hex60 — the paper's hashed-feature trick, which bounds every
    * model table at m rows regardless of corpus size. Output:
    * (doc_id[, extras], bucket), one row per gram INSTANCE.
    *
    * One scan, one tokenization (r18, guide §1.2): the original
    * uni.union(bi) shape read and split the corpus TWICE per call —
    * concatenating the unigram and bigram arrays before the explode emits
    * the same gram multiset from a single pass, and every consumer here is
    * an aggregate over that multiset, so results are unchanged. `extras`
    * carries caller columns (the store writers' target flag) through the
    * explode.
    */
  private def hashedGramInstances(docs: DataFrame, m: Int, textCol: String,
                                  idCol: String,
                                  extras: Seq[Column] = Seq.empty): DataFrame = {
    val w = split(trim(lower(col(textCol))), "\\s+")
    val xs = extras.indices.map(i => col(s"__x$i"))
    docs
      .select(col(idCol).as("doc_id") +:
        extras.zipWithIndex.map { case (e, i) => e.as(s"__x$i") } :+
        graft.core.Eval.materialized(w).as("__w"): _*)
      .select(col("doc_id") +: xs :+
        explode(concat(col("__w"), ngrams(2))).as("g"): _*)
      .select(col("doc_id") +: xs :+
        pmod(graft.dedup.Dedup.hex60(col("g")), lit(m.toLong)).as("bucket"): _*)
  }

  /** DSIR importance model (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling" — the hashed-n-gram variant): fit
    * add-one-smoothed bucket-frequency models over a TARGET corpus (the
    * distribution to curate toward) and the RAW corpus, and emit the
    * per-bucket log-likelihood ratio
    *
    *   llr6(b) = floor(ln( ((c_T(b)+1)/(N_T+m)) / ((c_R(b)+1)/(N_R+m)) )
    *             * 1e6 + 0.5)
    *
    * as an integer micro-nat (the [[unigramNll]] quantization discipline,
    * so downstream per-document sums are integer arithmetic and immune to
    * FP summation order; every non-ln operation is IEEE-exact and runs in
    * the written order on both engines).
    *
    * Scale shape: two map-side-combined groupBy(bucket) passes (each
    * result ≤ m rows), one ≤ m-row full-outer merge, a 1-row totals
    * broadcast — the corpus is read once per side and never shuffled
    * wider than m buckets. Output: (bucket, llr6), ≤ m rows, meant to be
    * broadcast by [[dsirScore]].
    */
  def dsirBucketLlr(target: DataFrame, raw: DataFrame, m: Int = 1024,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    dsirLlrOf(dsirPairCounts(target, raw, m, textCol, idCol), m)

  /** The (bucket, ct, cr) count frame of a target/raw corpus pair — the
    * DSIR model as DATA (exact additive longs, the [[trainTrigramLm]]
    * persistence argument: counting over a union is the sum of counts over
    * its parts, so these rows append/retire/merge exactly).
    */
  private def dsirPairCounts(target: DataFrame, raw: DataFrame, m: Int,
                             textCol: String, idCol: String): DataFrame = {
    def counts(df: DataFrame, as: String) =
      hashedGramInstances(df, m, textCol, idCol)
        .groupBy(col("bucket")).agg(count(lit(1)).as(as))
    counts(raw, "cr").join(counts(target, "ct"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"), coalesce(col("cr"), lit(0L)).as("cr"))
  }

  /** [[dsirPairCounts]] when the target is a PREDICATE slice of the raw
    * corpus (the store writers' shape, `dsirPairCounts(docs.filter(isT),
    * docs)`): ONE corpus pass with the flag carried through the explode,
    * `ct` counting only flagged instances (r18, guide §1.2 — the two-sided
    * form tokenized every target document twice). Identical rows: target ⊆
    * raw means every bucket with ct > 0 also has cr > 0, and a null/false
    * flag contributes to cr only — exactly the filter-then-count counts.
    */
  private def dsirPairCountsFlagged(docs: DataFrame, isTarget: Column, m: Int,
                                    textCol: String, idCol: String): DataFrame =
    hashedGramInstances(docs, m, textCol, idCol, extras = Seq(isTarget))
      .groupBy(col("bucket"))
      .agg(count(when(col("__x0"), lit(1))).as("ct"), count(lit(1)).as("cr"))
      .select(col("bucket"), col("ct"), col("cr"))

  /** The llr table from a (bucket, ct, cr) count frame. The ct/cr > 0
    * filter drops buckets fully retired by [[retireDsir]] deltas (a fresh
    * fit never has a zero-zero row, so it is a no-op outside retirement);
    * the totals are unchanged by the filter (dropped rows contribute 0),
    * so the smoothed model equals a fresh fit over the surviving corpus.
    */
  private def dsirLlrOf(cnts: DataFrame, m: Int): DataFrame = {
    val j = cnts.filter(col("ct") > 0L || col("cr") > 0L)
    val tot = j.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    j.crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor(log(((col("ct") + 1.0) / (col("nt") + m.toDouble))
            / ((col("cr") + 1.0) / (col("nr") + m.toDouble))) * 1e6 + 0.5)
          .cast("long").as("llr6"))
  }

  /** Score documents under a [[dsirBucketLlr]] model:
    * dsir6(doc) = Σ_grams llr6(bucket(gram)) — an integer micro-nat sum —
    * plus the per-gram average in nats. `m` must equal the model build's
    * (the bucket function must match bit-for-bit), and documents must be
    * drawn from (or gram-covered by) the corpora the model saw; the raw
    * side of the fit guarantees that for the standard raw-corpus scoring
    * call. Returns every input document, zero-gram docs scoring (0, 0, 0.0).
    *
    * Scale shape: one hash aggregation keyed (doc, bucket) — shuffle
    * proportional to distinct pairs, never raw token count — then one
    * BROADCAST join against the ≤ m-row model and a per-doc hash agg.
    * Envelope: llr6 is bounded by ±ln(max(N_T,N_R)+m)·1e6 (< 7e7 at 1e23
    * grams), so a per-document LONG sum wraps only past ~1e11 grams in
    * ONE document — the [[unigramNll]] per-doc envelope, not a
    * corpus-sized sum. Output: (doc_id, n_grams, dsir6, avg_llr).
    */
  def dsirScore(docs: DataFrame, bucketLlr: DataFrame, m: Int = 1024,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val inst = hashedGramInstances(docs, m, textCol, idCol)
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("c"))
    val per = inst.join(broadcast(bucketLlr), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(col("c") * col("llr6")).as("dsir6"))
    docs.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dsir6"), lit(0L)).as("dsir6"))
      .withColumn("avg_llr",
        when(col("n_grams") === 0L, lit(0.0))
          .otherwise(round(col("dsir6").cast("double") / col("n_grams") / 1e6, 6)))
  }

  /** The DSIR sampling gate: acceptance probability from the document's
    * TOTAL log-likelihood ratio in nats (the paper's importance weight —
    * a long consistently-target-typical document saturates toward keep,
    * a raw-typical one toward drop) through the bounded algebraic squash
    * s = x/(1+|x|) (the [[graft.operators.Logit]] no-libm treatment — exp
    * stays banned), mapped to rate_ppm = floor((1+s)/2 · 1e6 + 0.5). The
    * hex60(doc_id) draw makes the gate deterministic and
    * engine-independent (the q80/q170 convention). Map-only over
    * [[dsirScore]]'s output — no window, no shuffle; zero-gram docs land
    * at x = 0 → p = 0.5 with no special case.
    * Output: (doc_id, n_grams, dsir6, avg_llr, rate_ppm, kept).
    */
  def dsirSample(weights: DataFrame): DataFrame = {
    val xd = col("dsir6").cast("double") / 1e6
    val s = xd / (lit(1.0) + abs(xd))
    weights
      .withColumn("rate_ppm",
        floor((lit(1.0) + s) / 2.0 * 1e6 + 0.5).cast("long"))
      .withColumn("kept",
        graft.dedup.Dedup.hex60(col("doc_id").cast("string")) % 1000000L
          < col("rate_ppm"))
  }

  /** Filter attribution — the per-document KILL MATRIX of the standard
    * curation rules. A pipeline that only reports survivors can't be
    * debugged at 100 TB: when a crawl slice vanishes you need to know
    * WHICH rule ate it. One frame answers that: every rule's verdict per
    * document, plus `first_fail` (the first failing rule in pipeline
    * order — what a sequential filter chain would have charged the kill
    * to) and the composite `kept`. Rules are the repo's own oracle-green
    * signals with their established thresholds: document length
    * ([[qualityFeatures]].n_words >= minWords), quality score >=
    * minQuality (the q31 formula, q115's 0.3 threshold), the q66
    * repetition rule (top-word fraction and duplicate-word fraction), and
    * the q96 duplicated-shingle fraction ([[dupNgramStats]], rounded as
    * published there).
    *
    * Scale shape: three doc-keyed aggregates (quality is map-only; the
    * repetition and shingle passes shuffle on (doc, token)-shaped keys
    * with map-side combine) joined on doc_id — co-partitioned hash joins,
    * no corpus-wide state beyond [[dupNgramStats]]' df table. All
    * verdicts compare IEEE-exact arithmetic, so both engines agree at the
    * thresholds. Output: (doc_id, n_words, quality_score, pass_length,
    * pass_quality, pass_repetition, pass_dupngram, first_fail, kept).
    */
  def filterAttribution(docs: DataFrame,
                        minWords: Long = 5L, minQuality: Double = 0.3,
                        maxTopWordFrac: Double = 0.2,
                        maxDupWordFrac: Double = 0.7,
                        maxDupNgramFrac: Double = 0.6,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val q = qualityFeatures(docs, textCol, idCol)
      .select(col("doc_id"), col("n_words"), col("quality_score"))
    val wc = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
    val rep = wc.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("rw"), count(lit(1)).as("rd"),
        max(col("cnt")).as("rt"))
      .select(col("doc_id"),
        (col("rt") / col("rw")).as("top_word_frac"),
        (lit(1.0) - col("rd") / col("rw")).as("dup_word_frac"))
    val dng = dupNgramStats(docs, 3, textCol, idCol)
      .select(col("doc_id"), col("dup_frac"))
    q.join(rep, Seq("doc_id")).join(dng, Seq("doc_id"))
      .withColumn("pass_length", col("n_words") >= minWords)
      .withColumn("pass_quality", col("quality_score") >= minQuality)
      .withColumn("pass_repetition",
        col("top_word_frac") <= maxTopWordFrac
          && col("dup_word_frac") <= maxDupWordFrac)
      .withColumn("pass_dupngram", col("dup_frac") <= maxDupNgramFrac)
      .withColumn("first_fail",
        when(!col("pass_length"), lit("0_length"))
          .when(!col("pass_quality"), lit("1_quality"))
          .when(!col("pass_repetition"), lit("2_repetition"))
          .when(!col("pass_dupngram"), lit("3_dupngram"))
          .otherwise(lit("pass")))
      .withColumn("kept", col("pass_length") && col("pass_quality")
        && col("pass_repetition") && col("pass_dupngram"))
      .drop("top_word_frac", "dup_word_frac", "dup_frac")
  }

  /** The survival funnel over a [[filterAttribution]] frame: one row per
    * rule in pipeline order with (n_in, n_killed, n_out), where each
    * stage's kills are the documents whose `first_fail` charges it — the
    * sequential-chain accounting, so n_out of the last stage is exactly
    * the kept count. The frame is four rows by construction (the window
    * and the 1-row totals broadcast run on the stage list, never the
    * corpus).
    */
  def filterFunnel(attribution: DataFrame): DataFrame = {
    val spark = attribution.sparkSession
    val stages = Seq("0_length", "1_quality", "2_repetition", "3_dupngram")
    val stageDf = spark.range(1)
      .select(explode(array(stages.map(lit): _*)).as("stage"))
    val kills = attribution.filter(col("first_fail") =!= "pass")
      .groupBy(col("first_fail").as("stage")).agg(count(lit(1)).as("n_killed"))
    val total = attribution.agg(count(lit(1)).as("n_total"))
    // unpartitioned window — BENIGN: it spans only the 4 stage rows
    // (WindowExec's WARN suppressed via Graft.quietNoisyLogs)
    val w = org.apache.spark.sql.expressions.Window.orderBy("stage")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    stageDf.join(kills, Seq("stage"), "left")
      .select(col("stage"), coalesce(col("n_killed"), lit(0L)).as("n_killed"))
      .crossJoin(broadcast(total))
      .withColumn("killed_before", coalesce(sum(col("n_killed")).over(w), lit(0L)))
      .select(col("stage"),
        (col("n_total") - col("killed_before")).as("n_in"),
        col("n_killed"),
        (col("n_total") - col("killed_before") - col("n_killed")).as("n_out"))
      .orderBy("stage")
  }

  // ---- DSIR model store (the saveLm family: additive count deltas) -------

  /** Persist the DSIR model as a count store (the [[saveLm]] treatment —
    * bucket counts are additive longs, so the store appends, retires, and
    * merges EXACTLY). Layout: `buckets/batch=<id>` rows (bucket, ct, cr)
    * where ct counts the gram instances of documents matching `isTarget`
    * and cr counts every document's — the target-is-a-slice-of-raw shape a
    * curation pipeline runs (the q182 call is
    * dsirBucketLlr(docs.filter(isTarget), docs), which this store
    * reproduces bit-for-bit); `config` pins m, since the bucket hash must
    * match across every append and scoring call. Build semantics: a
    * rebuild replaces the whole store, appends and all.
    */
  def saveDsir(docs: DataFrame, isTarget: Column, m: Int, path: String,
               textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    val fs = BatchStore.fs(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    BatchStore.publish(fs, s"$path/buckets", 0L)(
      dsirPairCountsFlagged(docs, isTarget, m, textCol, idCol).write.mode("overwrite").parquet(_))
    spark.range(1).select(lit(m).as("m"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/config")
  }

  /** Incremental half ([[appendLm]]'s contract verbatim): train count
    * DELTAS on the arriving batch only and land them under
    * `buckets/batch=<id>` — the summed store equals the monolithic fit
    * over the union for any disjoint batch partitioning. Exactly-once via
    * the directory-existence ledger; single-maintainer between scoring
    * jobs.
    */
  def appendDsir(docs: DataFrame, isTarget: Column, path: String,
                 appendId: Long, textCol: String = "text",
                 idCol: String = "doc_id"): Boolean =
    landDsirDelta(docs, isTarget, path, appendId, negate = false, textCol, idCol)

  /** Retirement half ([[retireLm]]'s un-learn path): land the NEGATED
    * count deltas of documents leaving the corpus (removed, or the OLD
    * text of changed docs in a [[graft.dedup.Dedup.corpusDelta]] cycle).
    * Buckets whose summed counts reach zero on both sides are invisible to
    * [[scoreWithDsir]] and dropped by [[compactDsir]], so the maintained
    * store scores exactly like a fresh fit on the moved corpus — cost ∝
    * the delta slice, never the corpus.
    */
  def retireDsir(docs: DataFrame, isTarget: Column, path: String,
                 appendId: Long, textCol: String = "text",
                 idCol: String = "doc_id"): Boolean =
    landDsirDelta(docs, isTarget, path, appendId, negate = true, textCol, idCol)

  private def landDsirDelta(docs: DataFrame, isTarget: Column, path: String,
                            appendId: Long, negate: Boolean,
                            textCol: String, idCol: String): Boolean = {
    require(appendId != 0L, "appendId 0 is reserved for the initial build")
    val spark = docs.sparkSession
    BatchStore.land(DsirStore, spark, path, appendId, if (negate) "retire" else "append") { fs =>
      val m = readDsirM(spark, path)
      val d0 = dsirPairCountsFlagged(docs, isTarget, m, textCol, idCol)
      val d = if (negate)
        d0.select(col("bucket"), (-col("ct")).as("ct"), (-col("cr")).as("cr"))
      else d0
      BatchStore.publish(fs, s"$path/buckets", appendId)(
        d.write.mode("overwrite").parquet(_))
    }
  }

  /** The DSIR count store: one `buckets` half, the ledger, sum-merged per
    * bucket; zero-zero buckets drop, so a compacted retire+append store is
    * row-identical to a fresh build over the surviving corpus.
    */
  private[graft] val DsirStore = StoreFamily("dsir",
    Seq(Half("buckets", layout = BatchStore.asMerged,
      merge = Some(_.groupBy(col("bucket")).agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
        .filter(col("ct") > 0L || col("cr") > 0L)))))

  private def readDsirM(spark: org.apache.spark.sql.SparkSession,
                        path: String): Int =
    spark.read.parquet(s"$path/config").head().getAs[Int]("m")

  /** Maintenance half ([[compactLm]]'s shape): sum-merge the per-batch
    * count deltas of [[DsirStore]] into one batch; the ledger lands as one
    * watermark marker, and the table lands via the two-rename `.prev` swap
    * [[scoreWithDsir]] reads around. Returns 1 when anything merged.
    */
  def compactDsir(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    BatchStore.compactStore(DsirStore, spark, path, minor = false)

  /** Score-many half: [[dsirScore]] + [[dsirSample]] against the STORED
    * count tables — no fitting pass; the only corpus-sized work is the
    * documents being scored. Counts are summed per bucket on read, so the
    * scorer is indifferent to whether [[compactDsir]] has merged yet
    * (longs sum to the same longs in any order/grouping).
    * Output: [[dsirSample]]'s frame.
    */
  def scoreWithDsir(docs: DataFrame, path: String,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val fs = BatchStore.fs(spark, path)
    val m = readDsirM(spark, path)
    val cnts = spark.read
      .parquet(BatchStore.active(fs, s"$path/buckets"))
      .groupBy(col("bucket"))
      .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr"))
    dsirSample(dsirScore(docs, dsirLlrOf(cnts, m), m, textCol, idCol))
  }
}
