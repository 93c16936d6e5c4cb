package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar surface for large-scale training-data pipelines:
  * tokenization, shingling, universal hashing, MinHash signatures, SimHash
  * fingerprints, positional document fingerprints, language-ID scoring and
  * quality metrics.
  *
  * Everything is pure Column algebra (no UDFs): one md5 per shingle/token,
  * then affine universal hashes `(a*h + b) mod P` — so a 16-hash MinHash
  * signature costs one digest per shingle, not sixteen. [[TextSql]] emits
  * the identical arithmetic in ANSI/DuckDB SQL for the driver oracle; both
  * engines compute the same 48-bit integers, so results match exactly.
  */
object Text {

  /** Modulus for all hash arithmetic (fits products of 31-bit coefficients
    * in a 63-bit long).
    */
  val P = 1000000007L

  /** Affine universal-hash coefficients, fixed for reproducibility across
    * engines and rounds (Knuth multiplicative constants mod P).
    */
  def hashCoefs(k: Int): Seq[(Long, Long)] =
    (0 until k).map { j =>
      val a = (2654435761L * (j + 1)) % P
      val b = (40503L * (j + 7) * (j + 7)) % P
      (if (a == 0) 1L else a, b)
    }

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish subword split: letter runs, digits, other symbols. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"), lit(0))

  /** Word n-gram shingles (default 3), empty array when too short. */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(d => element_at(toks, i + d)): _*)))
      .otherwise(array())

  /** 48-bit integer from the leading 12 hex chars of md5 — the one digest
    * per string everything else derives from. Routed through the native
    * [[graft.plans.NativeHash48]] expression (registered by
    * [[graft.plans.Natives.ensure]]); `hash48Builtin` keeps the
    * composed-builtins form for environments without the registration.
    */
  def hash48(s: Column): Column =
    call_function("graft_hash48", s)

  def hash48Builtin(s: Column): Column =
    conv(substring(md5(s), 1, 12), 16, 10).cast("long")

  /** Unicode NFC canonical composition ([[graft.plans.NativeNormalize]]
    * native expression; DuckDB mirror: `nfc_normalize`). Run before
    * hashing/dedup so "é" and "e"+U+0301 cannot defeat exact matching.
    */
  def nfc(s: Column): Column = call_function("graft_nfc", s)

  /** Accent strip: NFD → drop non-spacing marks → NFC (DuckDB mirror:
    * `strip_accents`).
    */
  def stripAccents(s: Column): Column =
    call_function("graft_strip_accents", s)

  /** hash48 reduced mod P (input to the affine family). */
  def hashMod(s: Column): Column = hash48(s) % P

  /** Array of hashMod values for an array of strings. */
  def hashedArray(arr: Column): Column = transform(arr, s => hashMod(s))

  /** MinHash signature: for each of k affine hashes, the minimum over the
    * pre-hashed shingle array. Null entries when the array is empty.
    */
  def minhashSig(hashed: Column, k: Int): Column = {
    val coefs = hashCoefs(k)
    array(coefs.map { case (a, b) =>
      array_min(transform(hashed, h => (h * a + b) % P))
    }: _*)
  }

  /** SimHash over pre-hashed tokens: bit k of the fingerprint is set when
    * the sum over tokens of (2*bit_k(h) - 1) is positive. `bits` <= 48.
    */
  def simhash(hashed48: Column, bits: Int): Column =
    (0 until bits).map { k =>
      val s = aggregate(hashed48, lit(0L),
        (acc, h) => acc + (shiftright(h, k).bitwiseAND(1) * 2 - 1))
      when(s > 0, lit(1L << k)).otherwise(0L)
    }.reduce(_ + _)

  /** Positional document fingerprint: sum over tokens of
    * (hashMod(w) mod 1000003) * position, mod P. Order-sensitive (a rolling-
    * hash analog that stays in commutative+exact integer arithmetic so any
    * engine computes it identically in any evaluation order).
    */
  def fingerprint(toks: Column): Column =
    aggregate(
      zip_with(hashedArray(toks), sequence(lit(1), size(toks)),
        (h, i) => (h % 1000003L) * i),
      lit(0L), (acc, x) => (acc + x) % P)

  /** Count of tokens present in a fixed vocabulary list (duplicates counted:
    * filter + contains, not set intersection).
    */
  def vocabCount(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(vocab.toArray), t)))

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,!?;:]", "")).cast("double") /
      length(text).cast("double")

  /** Stopword sets for the n-gram language-ID heuristic. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des"),
    "zh" -> Seq("的", "一", "是", "不", "了", "人", "我"))

  /** Language-ID: highest stopword hit count wins; deterministic precedence
    * = declaration order on ties; "und" (undetermined) when all zero.
    *
    * Plan-shape warning: each per-language score below is a full
    * filter-scan of the token array, and the `greatest`/`when` chain
    * references every score several times — after CollapseProject each
    * reference re-evaluates its scan. Fine for a single projection of a
    * single column; inside a wider composition use the exploded-token
    * aggregate form ([[graft.operators.Corpus.withQualitySignals]]) and
    * feed the per-language counts to [[langIdFrom]] instead.
    */
  def langId(toks: Column): Column =
    langIdFrom(stopwords.map { case (lang, words) => lang -> vocabCount(toks, words) })

  /** The langId decision rule over precomputed per-language scores — the
    * shared tail of the Column form ([[langId]]) and the exploded-token
    * aggregate form, so both compute the identical winner.
    */
  def langIdFrom(scores: Seq[(String, Column)]): Column = {
    val maxScore = greatest(scores.map(_._2): _*)
    val best = scores.foldRight(lit("und")) { case ((lang, sc), rest) =>
      when(sc === maxScore, lit(lang)).otherwise(rest)
    }
    when(maxScore === 0, lit("und")).otherwise(best)
  }

  /** Composite document quality score in [0,1]: length, punctuation,
    * stopword density, mean token length (the reference-style heuristic mix
    * of ratio features).
    */
  def qualityScore(text: Column, toks: Column): Column =
    qualityScoreFrom(text, size(toks).cast("double"),
      vocabCount(toks, stopwords.flatMap(_._2)).cast("double"))

  /** The quality-score arithmetic over precomputed token count and union
    * stopword-hit count (both already cast to double) — shared by
    * [[qualityScore]] and the exploded-token aggregate path so the IEEE
    * operation sequence (and therefore the integerized milli value the
    * driver hashes) is bit-identical in both.
    */
  def qualityScoreFrom(text: Column, nTok: Column, stopCnt: Column): Column = {
    val lenScore = least(nTok / 100.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    val stopRatio = stopCnt / nTok
    val meanLen = (length(text).cast("double") - nTok + 1.0) / nTok
    val lenOk = least(meanLen / 8.0, lit(1.0))
    lit(0.3) * lenScore + lit(0.3) * punctScore + lit(0.2) * stopRatio + lit(0.2) * lenOk
  }
}
