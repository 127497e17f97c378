package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import org.apache.spark.sql.{functions => F}

/**
 * Column-level API of the engine: signature functions (custom codegen'd
 * Catalyst expressions from [[graft.functions.GraftExpressions]]) plus text
 * analysis / normalization helpers built from `org.apache.spark.sql.functions`.
 */
package object functions {

  // --- signature expressions -------------------------------------------

  def shingle_hashes(tokens: Column, k: Int, seed: Long = 42L): Column =
    column(ShingleHashes(expression(tokens), k, seed))

  def minhash_signature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    column(MinHashSignature(expression(shingles), numHashes, seed))

  /** One-permutation MinHash with optimal densification — same LSH collision
    * law as [[minhash_signature]] at one hash per element instead of
    * numHashes (the web-scale featurization kernel; see HashKernels.ophArray). */
  def oph_signature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    column(OphSignature(expression(shingles), numHashes, seed))

  /** Fused OPH + LSH banding (the [[minhash_band_keys]] counterpart). */
  def oph_band_keys(shingles: Column, numHashes: Int, bands: Int,
      rowsPerBand: Int, seed: Long = 42L): Column =
    column(OphBandKeys(expression(shingles), numHashes, bands, rowsPerBand, seed))

  /** Kernel-dispatching fused banding: every band-key producer (batch
    * pipeline, streaming, incremental) routes through this so the
    * `DedupConfig.oph` choice cannot silently diverge between them —
    * cross-run compatibility is guarded by `featureConfigId`. */
  def signature_band_keys(shingles: Column, numHashes: Int, bands: Int,
      rowsPerBand: Int, seed: Long, oph: Boolean): Column =
    if (oph) oph_band_keys(shingles, numHashes, bands, rowsPerBand, seed)
    else minhash_band_keys(shingles, numHashes, bands, rowsPerBand, seed)

  def simhash64(tokenHashes: Column, seed: Long = 42L): Column =
    column(SimHash64(expression(tokenHashes), seed))

  def lsh_band_keys(sig: Column, bands: Int, rowsPerBand: Int, seed: Long = 42L): Column =
    column(LshBandKeys(expression(sig), bands, rowsPerBand, seed))

  def minhash_band_keys(shingles: Column, numHashes: Int, bands: Int,
      rowsPerBand: Int, seed: Long = 42L): Column =
    column(MinHashBandKeys(expression(shingles), numHashes, bands, rowsPerBand, seed))

  def jaccard_sim(a: Column, b: Column): Column =
    column(JaccardSim(expression(a), expression(b)))

  /** ICWS weighted-MinHash signature — repeats in the hash array are the
    * weights; per-slot collision probability = weighted Jaccard. */
  def icws_signature(hashes: Column, numHashes: Int, seed: Long = 42L): Column =
    column(IcwsSignature(expression(hashes), numHashes, seed))

  /** Exact weighted Jaccard (sum-min/sum-max of multiset counts). */
  def weighted_jaccard(a: Column, b: Column): Column =
    column(WeightedJaccard(expression(a), expression(b)))

  def lcs_length(a: Column, b: Column, maxLen: Int = 2000): Column =
    column(LcsLength(expression(a), expression(b), maxLen))

  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def dot_product(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def vec_sub(a: Column, b: Column): Column =
    column(VecSub(expression(a), expression(b)))

  def adc_lookup(codes: Column, lut: Column, offsets: Seq[Int]): Column =
    column(AdcLookup(expression(codes), expression(lut), offsets))

  def srp_bucket(vec: Column, bits: Int, seed: Long = 42L): Column =
    column(SrpBucket(expression(vec), bits, seed))

  /** Shannon entropy (bits/char) of the string's code-point distribution —
    * the cheap junk gate next to the ratio signals: spam runs ≈ 0, English
    * prose ≈ 4, base64/binary noise ≥ 6. */
  def char_entropy(s: Column): Column =
    column(CharEntropy(expression(s)))

  def phash_tokens(phash: Column): Column =
    column(PhashTokens(expression(phash)))

  /** Orbit-canonical phash (min over {id, flipH, flipV, rot180}) — mirrored
    * or 180-rotated re-uploads share the canonical. */
  def phash_canonical(phash: Column): Column =
    column(PhashCanonical(expression(phash)))

  /** Transpose of the phash's 8x8 bit grid (main-diagonal flip). */
  def phash_transpose(phash: Column): Column =
    column(PhashTranspose(expression(phash)))

  /** 90-degree-clockwise-rotation transform of the phash. */
  def phash_rot90(phash: Column): Column =
    column(PhashRot90(expression(phash)))

  /** Full-dihedral orbit-canonical phash (min over all eight D4 grid
    * symmetries) — mirrored AND 90/270-rotated re-uploads share it. */
  def phash_canonical_d4(phash: Column): Column =
    column(PhashCanonicalD4(expression(phash)))

  def rolling_fingerprint(s: Column, seed: Long = 42L): Column =
    column(RollingFingerprint(expression(s), seed))

  /** Winnowed k-gram anchors: strings sharing an exact run of length
    * >= w + k - 1 chars are guaranteed >= 1 common anchor. */
  def winnow_anchors(s: Column, k: Int, w: Int, seed: Long = 42L): Column =
    column(WinnowAnchors(expression(s), k, w, seed))

  /** Hamming distance between two 64-bit hashes — pure built-ins (codegen'd). */
  def hamming64(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** Probe a serialized Bloom sketch with a 64-bit hash column — Spark's own
    * codegen'd `BloomFilterMightContain` (the runtime-row-filter expression)
    * over an inlined literal sketch: the filter deserializes ONCE at plan
    * init, then each row is a few bit tests. Build the sketch with
    * [[graft.operators.Dedup.bloomSketch]] (hash contract: both sides must
    * hash the same way — `xxhash64` here and there). */
  /** Count of a hash array's elements the inlined Bloom sketch might
    * contain — the zero-shuffle novelty-scoring kernel (see
    * [[BloomCountContained]]; sketch deserialized once per task). */
  def bloom_count_contained(sketch: Array[Byte], hashes: Column): Column =
    column(BloomCountContained(expression(hashes), sketch))

  def bloom_might_contain(sketch: Array[Byte], hash: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        sketch, org.apache.spark.sql.types.BinaryType),
      expression(hash)))

  // --- normalization / tokenization (reference parsers/base.py:21-32,
  // preprocess/char_filter.py:4-14 — grafted to caption text) -------------

  /** Lowercase, strip non [a-z0-9 ] chars, collapse whitespace, trim — one
    * codegen'd pass ([[NormalizeText]]). */
  def normalize_text(c: Column): Column = column(NormalizeText(expression(c)))

  /** The expression chain [[normalize_text]] replaced: the reference its
    * equivalence spec compares against. */
  private[graft] def normalize_text_regex(c: Column): Column =
    F.trim(F.regexp_replace(
      F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace tokens of normalized text. normalize_text already collapses
    * runs of spaces and trims, so after the split only the all-empty-input
    * case leaves an empty token; array_remove covers it with a single
    * codegen'd call — no filter() lambda (higher-order functions are
    * interpreted and would knock the whole signature projection out of
    * whole-stage codegen) and a single normalize_text evaluation. */
  def tokens(c: Column): Column =
    F.array_remove(F.split(normalize_text(c), " "), "")

  /** Content-identity hash (reference stack.py:54-57 comma-join-and-hash). */
  def content_hash(c: Column): Column = F.xxhash64(normalize_text(c))

  // --- text analysis (training-data pipeline ops) ------------------------

  /** Token count of the raw string split on SINGLE SPACES (SQL-parity
    * friendly: matches len(string_split(text, ' ')) semantics) — tabs and
    * newlines are NOT separators here; use [[tokens]] (which normalizes all
    * whitespace first) when they must be. Counted as matches of the
    * non-space-run class — the same value as size(array_remove(split))
    * (maximal non-space runs) without materializing the token array
    * (round-6 kernel trim). */
  def token_count(c: Column): Column =
    F.regexp_count(c, F.lit("[^ ]+"))

  /** BPE-ish subword token count: one codegen'd regexp_count of the GPT-2
    * pre-tokenizer's class structure — letter runs, digit runs, and single
    * non-alphanumeric marks each count as one piece (the merges table is the
    * trained half BPE adds; the class split alone already tracks a trained
    * tokenizer's counts far closer than whitespace splitting on punctuation-
    * dense / code / URL text, where token_count undercounts badly).
    * Whitespace is spelled as an explicit class, not \s: Java regex counts
    * vertical tab (\x0B) as \s while RE2 (the DuckDB oracle engine) does
    * not, and an oracle must not diverge from the engine on any input. */
  def subword_count(c: Column): Column =
    F.regexp_count(c, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]"))

  /** Raw-string whitespace tokens with null degrading to the empty doc —
    * the [[graft.operators.TextScores.repetitionSignals]] tokenization.
    * private[graft]: [[graft.operators.Curation.removeRepeatedSpans]]
    * rebuilds documents from exactly this stream. */
  private[graft] def rawTokens(c: Column): Column =
    F.array_remove(F.split(F.coalesce(c, F.lit("")), " "), "")

  /** Distinct-token ratio (Gopher/FineWeb repetition family, Rae et al.
    * 2021 §A1.1), rounded to 4 places; empty/null text -> 1.0. Scalar
    * counterpart of [[graft.operators.TextScores.repetitionSignals]] (which
    * computes both signals off one shared token array — use it for whole-
    * corpus scans; these exist so the SQL surface stays total). */
  def distinct_token_ratio(c: Column): Column =
    column(DistinctTokenRatio(expression(F.coalesce(c, F.lit("")))))

  /** Regex/array spelling of [[distinct_token_ratio]] — the equivalence
    * oracle for the single-pass kernel (ExpressionsSpec). */
  private[graft] def distinct_token_ratio_arrays(c: Column): Column = {
    val toks = rawTokens(c)
    val n = F.size(toks)
    F.round(F.when(n === 0, 1.0)
      .otherwise(F.size(F.array_distinct(toks)).cast("double") / n), 4)
  }

  /** Duplicate-bigram fraction (same family), rounded to 4 places;
    * fewer than two tokens -> 0.0. See [[distinct_token_ratio]]. */
  def dup_bigram_frac(c: Column): Column = {
    val toks = rawTokens(c)
    val n = F.size(toks)
    val bigrams = F.when(n < 2, F.array().cast("array<string>"))
      .otherwise(F.transform(F.sequence(F.lit(0), n - 2), i =>
        F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2))))
    F.round(F.when(F.size(bigrams) === 0, 0.0)
      .otherwise(F.lit(1.0) -
        F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams)), 4)
  }

  private val StopWords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "was", "at", "by")

  /** Fraction of tokens that are English stopwords (language-ID heuristic).
    * Counted with one codegen'd regexp_count over the normalized text —
    * \b-bounded alternation on [a-z0-9 ] text matches exactly the tokens
    * that equal a stopword (no interpreted filter() lambda in the hot path). */
  def stopword_ratio(c: Column): Column =
    column(StopwordRatio(expression(c)))

  /** The regex spelling of [[stopword_ratio]] — kept as the equivalence
    * oracle for the single-pass kernel (ExpressionsSpec pins kernel ==
    * regex on generated and edge-case inputs; the kernel is ~12x cheaper
    * on the bench corpus). */
  private[graft] def stopword_ratio_regex(c: Column): Column = {
    val n = normalize_text(c)
    val nToks = F.regexp_count(n, F.lit("[^ ]+"))
    val nStop = F.regexp_count(n, F.lit(StopWords.mkString("\\b(", "|", ")\\b")))
    F.when(nToks === 0, F.lit(0.0)).otherwise(nStop.cast("double") / nToks)
  }

  /** n-gram-free language ID heuristic: 'en' when stopword density clears a
    * threshold, 'other' otherwise. */
  def lang_id(c: Column, threshold: Double = 0.08): Column =
    lang_id_from_ratio(stopword_ratio(c), threshold)

  /** [[lang_id]] over a PRE-COMPUTED stopword ratio column — for plans that
    * project the (expensive) ratio once and derive several outputs from it
    * (q14); keeps the threshold/label contract in exactly one place. */
  def lang_id_from_ratio(ratio: Column, threshold: Double = 0.08): Column =
    F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("other"))

  /** Quality score in [0,1]: mean-word-length band + punctuation sparsity +
    * stopword presence (length/punct/stopword ratios per the brief) —
    * the single-pass kernel ([[HashKernels.qualityScore]]); the expression
    * spelling below is the spec's equivalence oracle. NULL text scores 0.0:
    * the original chain's `when(...).otherwise(0.0)` arms swallow the null
    * at every branch (and the SQL oracles' CASE ELSE arms do the same), so
    * the null-intolerant kernel is coalesced to match. */
  def quality_score(c: Column): Column =
    F.coalesce(column(QualityScore(expression(c))), F.lit(0.0))

  /** Expression-chain spelling of [[quality_score]] — the equivalence
    * oracle for the single-pass kernel (ExpressionsSpec). */
  private[graft] def quality_score_exprs(c: Column): Column = {
    val nChars = F.length(c).cast("double")
    val nPunct = F.regexp_count(c, F.lit("[.!?,;:]")).cast("double")
    val nToks = token_count(c).cast("double")
    val meanWord = F.when(nToks === 0, F.lit(0.0)).otherwise(nChars / nToks)
    val punctRatio = F.when(nChars === 0, F.lit(1.0)).otherwise(nPunct / nChars)
    val wordScore = F.when(meanWord.between(3.0, 12.0), F.lit(0.4)).otherwise(F.lit(0.0))
    val punctScore = F.when(punctRatio <= 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    val stopScore = F.when(stopword_ratio_regex(c) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    F.round(wordScore + punctScore + stopScore, 2)
  }
}
