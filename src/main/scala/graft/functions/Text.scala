package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines
  * (beyond-reference surface per BASELINE.json north star).
  *
  * Everything here is composed from built-in codegen'd functions — no UDFs —
  * so the operators run inside whole-stage codegen and scale linearly with
  * no per-row JVM object churn beyond the string ops themselves.
  */
object Text {

  /** Whitespace tokenization — the baseline token counter. */
  def whitespaceTokens(text: Column): Column =
    split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(whitespaceTokens(text)))

  /** BPE-ish subword token estimate: word-pieces + digits + punctuation as
    * separate tokens (a deterministic regex approximation of a GPT-style
    * tokenizer's fertility; useful for budget estimates at corpus scale).
    * Native single code-point pass ([[graft.expressions.SubwordCount]]);
    * the regex form below stays as the parity reference.
    */
  def subwordTokenEstimate(text: Column): Column =
    call_function("graft_subword_count", text)

  private[graft] def subwordTokenEstimateHof(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"))

  /** Normalized text for dedup: lowercase, collapse whitespace, strip
    * punctuation.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Word n-gram shingles of a normalized text — native
    * [[graft.expressions.WordShingles]] expression (single compiled
    * normalize+tokenize+window pass; the HOF formulation costs ~|tokens|
    * interpreted lambda evaluations per row).
    */
  def wordShingles(text: Column, n: Int): Column =
    call_function("graft_word_shingles", text, lit(n))

  /** MinHash signature: for each of `numHashes` permutations
    * h_i(x) = (a_i * (xxhash64(x) mod p) + b_i) mod p, the minimum over the
    * shingle set. Deterministic (fixed LCG-derived coefficients). Evaluated
    * by the native [[graft.expressions.MinHashSignature]] expression — one
    * compiled per-row loop instead of numHashes × |shingles| interpreted
    * lambda evaluations (requires
    * `spark.sql.extensions=graft.expressions.GraftExtensions`).
    */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    call_function("graft_minhash_signature", shingles, lit(numHashes))

  val MinhashPrime: Long = 2147483647L // 2^31 - 1 (Mersenne)

  private[graft] def minhashCoefficients(n: Int): Seq[(Long, Long)] = {
    // deterministic LCG; multipliers in [1, p-1], offsets in [0, p-1]
    var state = 0x9E3779B97F4A7C15L
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    (0 until n).map { _ =>
      val a = (next() & Long.MaxValue) % (MinhashPrime - 1) + 1
      val b = next() & Long.MaxValue
      (a, b % MinhashPrime)
    }
  }

  /** SimHash over word shingles: 64-bit fingerprint where bit j is the sign
    * of the sum over shingles of (+1 / -1) depending on bit j of the
    * shingle hash. Near-duplicate texts differ in few bits. Evaluated by
    * the native [[graft.expressions.SimHash64]] expression (single
    * compiled pass over the shingle array).
    */
  def simHash(shingles: Column): Column =
    call_function("graft_simhash64", shingles)

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDistance64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Jaccard similarity of two string arrays (shingle sets). Native
    * expression: one set build + one probe pass per pair (the composed
    * array_intersect/array_union form builds three sets per pair).
    */
  def jaccard(a: Column, b: Column): Column =
    call_function("graft_jaccard", a, b)

  /** Rolling polynomial hash over the full normalized text — a cheap
    * order-sensitive document fingerprint (exact-dup detection that is
    * robust to trailing whitespace/punct noise). The normalization runs
    * as the native one-pass [[graft.expressions.NormalizeDedup]] (the
    * regex [[normalizeForDedup]] is its parity-pinned reference) — this
    * is hashed once per row in every dedup operator.
    */
  def documentFingerprint(text: Column): Column =
    xxhash64(call_function("graft_normalize_dedup", text))

  // ---------------------------------------------------------------- quality

  private[graft] val Stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that", "be")

  /** Heuristic quality signals: length, punctuation ratio, stopword ratio,
    * alpha ratio, mean word length (C4/Gopher-style filters). Punct/alpha
    * ratios and language-ID run as native single-pass expressions
    * ([[graft.expressions.CharClassRatio]], [[graft.expressions.LangId]])
    * — the regex formulations (kept below as `*Hof` parity references)
    * scan the document once per pattern.
    */
  def punctRatio(text: Column): Column =
    call_function("graft_punct_ratio", text)

  private[graft] def punctRatioHof(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("[\\p{Punct}]")).cast("double") / length(text))

  def alphaRatio(text: Column): Column =
    call_function("graft_alpha_ratio", text)

  private[graft] def alphaRatioHof(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("[A-Za-z]")).cast("double") / length(text))

  /** Stopword ratio over the dedup-normalized tokens — native single-pass
    * expression ([[graft.expressions.TokenStatRatio]]); the
    * split+filter-lambda form below stays as the parity reference (two
    * regex passes plus ~|tokens| interpreted lambda evaluations per row).
    */
  def stopwordRatio(text: Column): Column =
    call_function("graft_stopword_ratio", text)

  private[graft] def stopwordRatioHof(text: Column): Column = {
    val tokens = split(normalizeForDedup(text), " ")
    val stops = filter(tokens, t => t.isin(Stopwords: _*))
    when(size(tokens) === 0, lit(0.0))
      .otherwise(size(stops).cast("double") / size(tokens))
  }

  /** Mean token length — native single-pass expression; the
    * split+aggregate-lambda parity reference below.
    */
  def meanWordLength(text: Column): Column =
    call_function("graft_mean_word_len", text)

  private[graft] def meanWordLengthHof(text: Column): Column = {
    val tokens = split(normalizeForDedup(text), " ")
    when(size(tokens) === 0, lit(0.0))
      .otherwise(
        aggregate(tokens, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(tokens))
  }

  /** Composite 0..1 quality score (deterministic, documented weights). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punctPenalty = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    round(lenScore * 0.4 + stopScore * 0.3 + punctPenalty * 0.3, 6)
  }

  // ---------------------------------------------------------------- language id

  /** Tiny n-gram/function-word language classifier for {en, de, fr, es, it}:
    * scores each language by counts of its most characteristic words and
    * characters; returns the argmax, 'und' when nothing matches.
    * This is a heuristic (fastText-class models aren't available offline) —
    * the Spark-side shape (scan → score → argmax, no shuffle) is the part
    * that matters at scale.
    */
  /** (lang, characteristic function words, characteristic characters) —
    * shared with the DuckDB oracle generator in SparkEntry so both sides
    * score identically.
    */
  private[graft] val LangProfiles: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("en", Seq("the", "and", "of", "to", "is", "that", "with"), Nil),
    ("de", Seq("der", "die", "das", "und", "ist", "nicht", "mit"), Seq("ä", "ö", "ü", "ß")),
    ("fr", Seq("le", "la", "les", "et", "est", "pas", "pour"), Seq("é", "è", "ê", "à")),
    ("es", Seq("el", "los", "las", "es", "que", "por", "como"), Seq("ñ", "¿", "¡")),
    ("it", Seq("il", "di", "che", "per", "con", "una", "sono"), Seq("à", "ò", "ù"))
  )

  def languageId(text: Column): Column =
    call_function("graft_lang_id", text)

  /** Regex-scan parity reference for [[languageId]] (the oracle's CASE
    * cascade replicates the same greatest-struct argmax).
    */
  private[graft] def languageIdHof(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    def score(words: Seq[String], chars: Seq[String]): Column = {
      val w = words.map(wd => regexp_count(t, lit(s" $wd "))).reduce(_ + _)
      val c = if (chars.isEmpty) lit(0) else chars.map(ch => regexp_count(t, lit(ch))).reduce(_ + _)
      w * 2 + c
    }
    val best = LangProfiles.map { case (lang, words, chars) =>
      struct(score(words, chars).as("s"), lit(lang).as("lang"))
    }
    // greatest over (score, lang) structs: max score, ties broken toward the
    // alphabetically-last language — replicated in the oracle's CASE chain
    val top = greatest(best: _*)
    when(top.getField("s") <= 0, lit("und")).otherwise(top.getField("lang"))
  }
}
