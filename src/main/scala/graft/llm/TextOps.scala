package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: tokenize,
  * shingle, quality metrics, language ID, fingerprinting. All pure
  * column expressions (codegen-able, no UDFs) so they run at scan
  * throughput — at 100 TB these are the per-document map stage before
  * any shuffle, so staying inside WholeStageCodegen is the whole game.
  *
  * Mirrors of each formula exist in the DuckDB oracles
  * (TextQueries, LlmQueries) — operation order is kept bit-identical.
  */
object TextOps {

  /** Whitespace tokenization, lower-cased. */
  /** Tokenizer contract with the oracles: Java's `\s` class is
    * `[ \t\n\x0B\f\r]` — RE2's `\s` LACKS vertical tab (\x0B), so the
    * DuckDB mirrors spell the Java class out explicitly instead of
    * using `\s` (the same Java-vs-RE2 divergence the PII regexes below
    * already design around). A document containing \x0B would
    * otherwise tokenize differently per engine. */
  def words(text: Column): Column = split(lower(text), "\\s+")

  /** Sliding word n-grams ("shingles") as strings, via the native
    * codegen'd kernel (functions/ArrayKernels.WordNGrams — the HOF
    * form below ran every window as an interpreted lambda, the same
    * tax the MinHash kernel removed from signatures). Empty array when
    * the document is shorter than n. */
  def wordShingles(ws: Column, n: Int): Column =
    graft.functions.ArrayKernels.wordNGrams(ws, n)

  /** The pre-kernel HOF form — kept as the executable spec
    * [[wordShingles]] is pinned against (TextOps/LlmSpec property
    * test), mirroring the minhashSig/minhashSigFold pair. Spark's
    * sequence() would DESCEND for stop < start, so the size guard is
    * semantic, not cosmetic. */
  private[graft] def wordShinglesFold(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** BPE-ish token count: letter runs, single digits, single
    * punctuation — the standard cheap proxy for subword token counts. */
  val TokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenPattern), lit(0)))

  /** Punctuation-character ratio over total characters. */
  def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9 ]"), lit(0))).cast("double") /
      length(text)

  /** Mean token length in characters. */
  def meanWordLen(ws: Column): Column =
    aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(ws)

  /** Fraction of tokens found in `stops`. */
  def stopwordRatio(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(stops))).cast("double") / size(ws)

  /** Small per-language stopword lists for the n-gram/stopword language
    * ID heuristic. Deliberately tiny — the operator shape (scored
    * argmax over language profiles) is what scales, not the lists. */
  val StopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val StopEs = Seq("el", "la", "de", "que", "y", "los", "las", "un")
  val StopDe = Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit")
  val StopFr = Seq("le", "la", "les", "de", "et", "un", "une", "est")
  val StopZh = Seq("的", "了", "是", "我", "不", "在", "有", "他")

  /** Language ID: stopword-hit counts per language, deterministic
    * argmax with fixed priority (en > es > de > fr > zh) on ties. */
  /** Script-evidence character classes for languages whose writing
    * system alone identifies them (no stopword list needed): a word
    * containing any character in the range is a script hit. Kept as
    * LITERAL character-range regexes (no \p{...} property classes,
    * whose tables differ between Java's regex and RE2) so the DuckDB
    * oracle mirrors the exact pattern text. */
  val CyrillicRe = "[Ѐ-ӿ]"
  val ArabicRe = "[؀-ۿ]"
  val DevanagariRe = "[ऀ-ॿ]"

  private def scriptHits(ws: Column, re: String): Column =
    size(filter(ws, w => w.rlike(re)))

  /** Two-tier language ID: script evidence first (Cyrillic → ru,
    * Arabic → ar, Devanagari → hi — plurality among the script tiers,
    * zero script hits falls through), then the Latin/CJK stopword
    * argmax with the original tie-break order. Latin-script corpora
    * hit no script arm, so the pre-r7 labels are unchanged on them. */
  def langId(ws: Column): Column = {
    val ru = scriptHits(ws, CyrillicRe)
    val ar = scriptHits(ws, ArabicRe)
    val hi = scriptHits(ws, DevanagariRe)
    val en = size(filter(ws, w => w.isInCollection(StopEn)))
    val es = size(filter(ws, w => w.isInCollection(StopEs)))
    val de = size(filter(ws, w => w.isInCollection(StopDe)))
    val fr = size(filter(ws, w => w.isInCollection(StopFr)))
    val zh = size(filter(ws, w => w.isInCollection(StopZh)))
    when(ru > 0 && ru >= ar && ru >= hi, "ru")
      .when(ar > 0 && ar >= hi, "ar")
      .when(hi > 0, "hi")
      .when(en >= es && en >= de && en >= fr && en >= zh, "en")
      .when(es >= de && es >= fr && es >= zh, "es")
      .when(de >= fr && de >= zh, "de")
      .when(fr >= zh, "fr")
      .otherwise("zh")
  }

  /** Composite quality score in [0,1]: length band + low punctuation +
    * healthy stopword share — the length/punct/stopword-ratio heuristic
    * family used by web-scale corpus filters. */
  def qualityScore(text: Column, ws: Column): Column = {
    val lenScore = when(length(text).between(50, 5000), 1.0).otherwise(0.3)
    val punctScore = when(punctRatio(text) < 0.2, 1.0).otherwise(0.4)
    val stopScore = when(stopwordRatio(ws, StopEn) > 0.02, 1.0).otherwise(0.5)
    (lenScore + punctScore + stopScore) / lit(3.0)
  }

  /** PII scrubbing (the safety-filter leg of corpus curation): regex
    * redaction of emails / URLs / dashed phone numbers to typed
    * placeholder tokens, plus match counts for filter thresholds. The
    * patterns deliberately stay inside the regex subset Java and RE2
    * evaluate identically — explicit character classes, bounded
    * counts, ASCII \b; no backreferences, lookaround, or \s (whose
    * class DIFFERS across the engines: Java's includes vertical tab,
    * RE2's does not — the URL pattern spells the whitespace set out
    * instead) — so the DuckDB oracle mirrors them verbatim with the
    * 'g' flag and even the redacted text hash-matches. Pure codegen'd
    * string kernels — a map-only stage at any scale. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ \\t\\n\\x0B\\f\\r]+"
  val PhoneRe = "\\b[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}\\b"

  /** Emails → `<EMAIL>`, then URLs → `<URL>`, then phones → `<PHONE>`
    * (fixed order: an email inside a URL query string is already gone
    * when the URL pattern runs). */
  /** C4's line-level keep rule (Raffel et al. 2020 §2.2): retain only
    * lines ending in terminal punctuation (. ! ? or a closing quote) —
    * navigation chrome, button labels, and list fragments rarely do.
    * Returns the re-joined surviving text; empty when nothing
    * survives. The single-char tail check (`substring(l, -1, 1)`)
    * avoids the Java-vs-RE2 `$` anchor divergence entirely. */
  def c4KeepLines(text: Column): Column =
    array_join(
      filter(split(text, "\n"),
        l => substring(l, -1, 1).isin(".", "!", "?", "\"")),
      "\n")

  /** The FULL C4 rule set (Raffel et al. 2020 §2.2, quoted):
    *  - "We only retained lines that ended in a terminal punctuation
    *    mark (i.e. a period, exclamation mark, question mark, or end
    *    quotation mark)."
    *  - "We discarded any page with fewer than 3 sentences and only
    *    retained lines that contained at least 5 words."
    *  - "We removed any page that contained any word on the 'List of
    *    Dirty, Naughty, Obscene or Otherwise Bad Words'." (external
    *    list; [[C4PageBlocklist]] is the deterministic stand-in)
    *  - "We removed any line with the word Javascript." (plus the
    *    boilerplate policy phrases the C4 pipeline drops)
    *  - "Since the curly bracket '{' appears in many programming
    *    languages ... but not in natural text, we removed any pages
    *    that contained it."
    *  - "... we removed any such [citation] markers"
    *  - "we discarded all but one of any three-sentence span occurring
    *    more than once in the data set."
    * Line-level rules live here ([[c4KeepLinesFull]],
    * [[c4StripCitations]], [[sentences]]); the page-level keep and the
    * keep-first three-sentence-span dedup compose in the tx18 query
    * ([[graft.llm.Dedup.keepFirstSpanDedup]]). All pure codegen'd
    * string work except the span dedup's keyed shuffles. */
  val C4LineBlocklist: Seq[String] = Seq("javascript", "terms of use",
    "privacy policy", "cookie policy", "uses cookies", "use of cookies")
  val C4PageBlocklist: Seq[String] = Seq("lorem ipsum")

  /** [[c4KeepLines]] plus the remaining line rules: at least 5 words
    * and no blocklisted phrase (case-insensitive). */
  def c4KeepLinesFull(text: Column): Column =
    array_join(
      filter(split(text, "\n"), l =>
        substring(l, -1, 1).isin(".", "!", "?", "\"") &&
          size(split(l, "[ \\t\\n\\x0B\\f\\r]+")) >= 5 &&
          !C4LineBlocklist.map(p => lower(l).contains(p)).reduce(_ || _)),
      "\n")

  /** Wikipedia-style citation-marker removal: `[12]` and
    * `[citation needed]` — explicit classes/literals only, the
    * Java≡RE2 regex subset. */
  def c4StripCitations(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "\\[[0-9]+\\]", ""),
      "\\[citation needed\\]", "")

  /** Deterministic sentence extraction shared by the page-minimum rule
    * and the span dedup: maximal `[^.!?]+[.!?]` runs, trimmed of
    * spaces/newlines, empties dropped. Explicit character classes only
    * — Java and RE2 agree, so DuckDB mirrors it verbatim. */
  def sentences(text: Column): Column =
    filter(
      transform(regexp_extract_all(text, lit("[^.!?]+[.!?]"), lit(0)),
        s => trim(s, " \n")),
      s => length(s) > 0)

  // ---- Gopher quality rules (Rae et al. 2021, Appendix A §A1.1) ----------
  // The companion family to the repetition rules (tx8): word-count
  // band, mean word length, symbol-to-word ratio, bullet/ellipsis line
  // fractions, alphabetic-word fraction, required stop words. All pure
  // codegen'd column work — one map stage, zero shuffle at any scale.
  // Each formula is mirrored verbatim in the tx20 DuckDB oracle.

  /** Gopher's required stop-word set: a page must contain at least two
    * of these to survive ("the", "be", "to", "of", "and", "that",
    * "have", "with" — Rae et al. 2021 §A1.1). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** How many DISTINCT [[GopherStops]] entries appear in `ws` at least
    * once (0-8). */
  def gopherStopHits(ws: Column): Column =
    GopherStops.map(s0 => array_contains(ws, s0).cast("int")).reduce(_ + _)

  /** Fraction of words containing at least one ASCII alphabetic
    * character (Gopher keeps pages with >= 0.8). Unanchored find —
    * Java rlike ≡ DuckDB regexp_matches on this literal class. */
  def alphaWordFrac(ws: Column): Column =
    size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / size(ws)

  /** Gopher's hash-symbol-to-word ratio: occurrences of '#' per word
    * (keep when <= 0.1; Rae et al. 2021 §A1.1 thresholds the hash and
    * ellipsis ratios SEPARATELY — 'either ... or', two rules, not one
    * combined ratio). Counted by length difference — exact, no regex. */
  def hashWordRatio(text: Column, ws: Column): Column =
    (length(text) - length(replace(text, lit("#"), lit("")))).cast("double") /
      size(ws)

  /** Gopher's ellipsis-to-word ratio: occurrences of '...' per word
    * (keep when <= 0.1; the separate-threshold twin of
    * [[hashWordRatio]]). Non-overlapping regex count — Java and RE2
    * both consume matches, so '....' is one hit on both engines. */
  def ellipsisWordRatio(text: Column, ws: Column): Column =
    size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0))).cast("double") /
      size(ws)

  /** Fraction of lines starting with a bullet glyph ('•' or '- ');
    * Gopher drops pages where more than 90% do. Single/double-char
    * prefix checks — no regex anchors, so no Java-vs-RE2 '$'/'^'
    * divergence (the tx17 tail-check move, at the head). */
  def bulletLineFrac(text: Column): Column = {
    val ls = split(text, "\n")
    size(filter(ls, l =>
      substring(l, 1, 1) === "•" || substring(l, 1, 2) === "- "))
      .cast("double") / size(ls)
  }

  /** Fraction of lines ending with an ellipsis ('...'); Gopher drops
    * pages where more than 30% do. */
  def ellipsisLineFrac(text: Column): Column = {
    val ls = split(text, "\n")
    size(filter(ls, l => substring(l, -3, 3) === "..."))
      .cast("double") / size(ls)
  }

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      PhoneRe, "<PHONE>")

  /** Match count for one PII pattern (pre-redaction). */
  def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  /** Polynomial rolling hash over the document's characters, mod a
    * 31-bit prime: fold(0, chars)((acc, c) => (acc*31 + ascii(c)) mod p).
    * Order-sensitive → a true content fingerprint, and expressible
    * bit-identically in SQL (TextQueries mirrors it). */
  val FingerprintMod = 1000000007L
  def fingerprint(text: Column): Column =
    aggregate(
      split(text, ""),
      lit(0L),
      (acc, c) => (acc * 31L + ascii(c)) % FingerprintMod)
}
