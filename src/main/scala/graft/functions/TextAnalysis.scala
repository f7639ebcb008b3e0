package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus curation: token
  * counting, quality scoring, language identification, fingerprinting.
  *
  * Everything here is a pure Catalyst column expression (no UDFs), so
  * the hot path stays inside whole-stage codegen and each op is a narrow
  * per-row transform — embarrassingly parallel at any scale. The same
  * expressions are mirrored 1:1 in the DuckDB oracle SQL of the
  * `QueriesText` catalog.
  *
  * Capability extension beyond the reference (driver brief): the
  * reference's only text ops are recodes and LIKE filters
  * (`/root/reference/variable_location_in_ICCA.sql:28-38`); these
  * operators generalize that to corpus-curation workloads.
  */
object TextAnalysis {

  /** Canonical text normalization: lowercase, collapse whitespace, trim.
    * Every downstream op (tokens, shingles, fingerprints) starts here so
    * that near-duplicate detection is insensitive to case/spacing. */
  def normalizeText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens of normalized text. */
  def wsTokens(c: Column): Column = split(normalizeText(c), " ")

  /** Whitespace token count. */
  def wsTokenCount(c: Column): Column = size(wsTokens(c))

  /** BPE-ish subword-boundary token count: alphabetic runs, digit runs,
    * and single punctuation marks each count as one token (the classic
    * pre-tokenizer split used before byte-pair merging). */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Number of non-alphanumeric, non-space characters. */
  def punctCount(c: Column): Column =
    length(regexp_replace(lower(c), "[a-z0-9\\s]", ""))

  /** Count of stopword occurrences (word-boundary matched). */
  def stopwordHits(c: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(c),
      lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  val stopEn: Seq[String] = Seq("the", "and", "of", "is", "to", "a", "in", "that")
  val stopEs: Seq[String] = Seq("el", "la", "de", "que", "y", "los", "en", "un")
  val stopDe: Seq[String] = Seq("der", "die", "und", "das", "ein", "zu", "mit", "ist")
  val stopFr: Seq[String] = Seq("le", "la", "les", "et", "des", "une", "est", "dans")

  /** Heuristic quality score in [0,1]: blend of stopword density
    * (natural-language-ness), length adequacy, and punctuation
    * cleanliness. The exact blend is arbitrary; what matters for the
    * engine is that it is a single codegen'd expression evaluable at
    * full scan speed. */
  def qualityScore(c: Column): Column = {
    val nTok = wsTokenCount(c).cast("double")
    val stopRatio = stopwordHits(c, stopEn).cast("double") / greatest(nTok, lit(1.0))
    val lengthScore = least(nTok / lit(50.0), lit(1.0))
    val punctRatio = punctCount(c).cast("double") / greatest(length(c).cast("double"), lit(1.0))
    round(lit(0.4) * least(stopRatio * lit(4.0), lit(1.0))
      + lit(0.3) * lengthScore
      + lit(0.3) * (lit(1.0) - least(punctRatio * lit(5.0), lit(1.0))), 4)
  }

  /** N-gram/stopword language-ID heuristic over Latin-script languages:
    * score each candidate by stopword hits, pick the argmax with a fixed
    * tie-break order (en > es > de > fr). Non-Latin scripts would add
    * unicode-range character-class scores in the same shape. */
  def predictLang(c: Column): Column = {
    val sEn = stopwordHits(c, stopEn)
    val sEs = stopwordHits(c, stopEs)
    val sDe = stopwordHits(c, stopDe)
    val sFr = stopwordHits(c, stopFr)
    when(sEn >= sEs && sEn >= sDe && sEn >= sFr, "en")
      .when(sEs >= sDe && sEs >= sFr, "es")
      .when(sDe >= sFr, "de")
      .otherwise("fr")
  }

  // ------------------------------------------------------------ markup

  /** Decode the common HTML character entities. Ordered so `&amp;` is
    * LAST: decoding it first would turn `&amp;lt;` into `&lt;` and then
    * double-decode it into `<`. Patterns are literal (no regex
    * metacharacters), so the same chain replays verbatim in any
    * engine's regexp_replace/replace. */
  private def decodeEntities(c: Column): Column =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (e, r)) => regexp_replace(acc, e, r) }

  /** Remove the markup that renders as NOTHING: script/style blocks
    * (their text content is code, not prose) and comments. Lazy spans
    * with inline flags only — portable to RE2-based engines (no
    * backreferences, no lookaround). */
  private def dropInvisible(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
  }

  /** Strip ALL markup from an HTML/XML-ish document: invisible blocks
    * out, every remaining tag replaced by a space, entities decoded
    * (after tag removal, so `&lt;b&gt;` becomes literal text `<b>`,
    * never a tag), whitespace collapsed. Raw crawl data is HTML and
    * every quality metric downstream assumes clean prose — run this (or
    * [[mainContent]]) ahead of [[graft.operators.Curation.funnel]].
    * Pure per-row regex chain: codegen'd, shuffle-free, linear. */
  def stripMarkup(c: Column): Column =
    trim(regexp_replace(
      decodeEntities(regexp_replace(dropInvisible(c), "<[^>]+>", " ")),
      "\\s+", " "))

  /** Block-level tag boundary — where browsers break text flow, and
    * where the text-density heuristic evaluates candidate blocks. */
  private val blockBoundary =
    "(?i)</?(p|div|td|th|li|ul|ol|h[1-6]|table|tr|section|article|aside|header|footer|nav|blockquote|br)[^>]*>"

  /** Main-content extraction by text density — the classic
    * boilerplate-removal heuristic (Kohlschütter et al.'s boilerpipe
    * line of work, reduced to its portable core): split the document
    * at block-level tags, keep blocks with at least `minChars` of
    * clean text AND at most one anchor tag per `anchorPenalty` clean
    * characters (navigation/footer link lists have many links and
    * little text), join survivors in document order. Everything is
    * array/lambda expressions over one row — no shuffle, no UDF; the
    * whole heuristic replays in DuckDB SQL for the gate. */
  def mainContent(c: Column, minChars: Int = 30, anchorPenalty: Int = 25): Column = {
    require(minChars >= 1 && anchorPenalty >= 1)
    def clean(b: Column): Column =
      trim(regexp_replace(
        decodeEntities(regexp_replace(b, "<[^>]+>", " ")), "\\s+", " "))
    def anchors(b: Column): Column =
      size(regexp_extract_all(b, lit("(?i)<a[\\s>]"), lit(0)))
    val blocks = split(dropInvisible(c), blockBoundary)
    val kept = filter(blocks, b =>
      length(clean(b)) >= minChars &&
        anchors(b) * lit(anchorPenalty) <= length(clean(b)))
    array_join(transform(kept, b => clean(b)), " ")
  }

  /** Unicode normalization to a fixed form (NFKC default) via the
    * engine-native [[graft.plans.UnicodeNormalize]] expression —
    * codegen'd, one static JVM call per row, ASCII fast path. Callers
    * must have run [[graft.plans.GraftFunctions.register]] on the
    * session (every engine entry point does). */
  def unicodeNormalize(c: Column, form: String = "NFKC"): Column =
    call_function("unicode_normalize", c, lit(form))

  /** [[normalizeText]] with an NFKC fold FIRST: NFD spellings compose
    * (`e`+combining acute → `é`) and compatibility variants fold
    * (full-width `ＡＢＣ` → `ABC`, ligatures, super/subscripts) before
    * the lower/trim/whitespace collapse. Use ahead of any fingerprint
    * or shingle when the corpus is not ASCII-clean: byte-level dedup
    * treats each Unicode spelling of the SAME text as distinct, which
    * silently halves dedup recall on mixed-source crawls. */
  def normalizeTextUnicode(c: Column): Column =
    lower(trim(regexp_replace(unicodeNormalize(c, "NFKC"), "\\s+", " ")))

  /** Exact-dedup document fingerprint: md5 of normalized text. md5 (not
    * xxhash64) because it is bit-identical across engines and stable
    * forever — the right property for a persisted corpus fingerprint. */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** [[fingerprint]] over the NFKC-folded normalization — the variant
    * to persist for corpora where Unicode spelling varies by source. */
  def fingerprintUnicode(c: Column): Column = md5(normalizeTextUnicode(c))

  /** Polynomial rolling-hash fingerprint (Rabin–Karp shape) over a
    * token array: `fp = fold(tokens, 0, (acc, t) → (acc·31 + h(t)) mod
    * (2³¹−1))` with `h(t)` the first 32 md5 bits. Order-sensitive —
    * unlike the content md5, two documents with the same words in a
    * different order fingerprint differently — and incremental, the
    * property a streaming ingest uses to fingerprint chunk-by-chunk.
    * The modulus keeps every intermediate below 2³⁶ so the same
    * arithmetic is exact in any engine's 64-bit integers. Takes an
    * already-materialized token array: stage the tokens column in a
    * prior projection, so the regex split runs once per row however
    * many consumers it has (Catalyst does not CSE non-cheap
    * expressions). */
  def rollingFingerprintFromTokens(toks: Column): Column =
    aggregate(
      transform(toks, t =>
        conv(substring(md5(t), 1, 8), 16, 10).cast("long")),
      lit(0L),
      (acc, h) => pmod(acc * lit(31L) + h, lit(2147483647L)))

  /** All word n-shingles of normalized text (overlapping windows of n
    * tokens, space-joined). Documents shorter than n tokens get an empty
    * array — the `when` guard matters because `sequence(1, k)` with
    * k < 1 would generate a *descending* sequence, not an empty one.
    *
    * Performance shape: the token array is bound ONCE per row through a
    * single-element `transform` lambda. Referencing `wsTokens(c)` at
    * each use site instead would inline the regex-split into every
    * window slice — O(windows × tokens) recomputation, measured 10×
    * slower on the shingle-explode path. */
  def wordShingles(c: Column, n: Int): Column =
    element_at(
      transform(array(wsTokens(c)), w => wordShinglesFromTokens(w, n)),
      1)

  /** [[wordShingles]] over an already-materialized token array (a bound
    * lambda variable or staged projection column — both cheap to
    * re-reference, so no bind-once wrapper is needed here). */
  def wordShinglesFromTokens(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - lit(n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array(Seq.empty[Column]: _*).cast("array<string>"))

  /** Canonical form of a crawl URL for URL-level dedup and per-domain
    * grouping: fragment dropped, scheme and host lowercased (path case
    * PRESERVED — it is significant on most servers), default ports
    * (:80/:443) stripped, duplicate path slashes collapsed, trailing
    * slash removed, tracking parameters (utm_*, fbclid, gclid, ref)
    * dropped, and the surviving query params SORTED — two crawls of the
    * same page with reordered params canonicalize identically.
    *
    * Per-row regex/array chain only (RE2-portable patterns, no
    * lookaround/backrefs), shuffle-free and codegen'd — canonicalizing
    * 100 TB of crawl metadata is one scan. */
  def canonicalizeUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val host = regexp_replace(
      lower(regexp_extract(rest, "^([^/?]*)", 1)), ":(80|443)$", "")
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val path = regexp_replace(
      regexp_replace(regexp_extract(pathq, "^([^?]*)", 1), "//+", "/"),
      "/$", "")
    val query = regexp_extract(pathq, "^[^?]*\\?(.*)$", 1)
    val keep = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)(=|$)")))
    val q = when(size(keep) > 0, concat(lit("?"), array_join(keep, "&")))
      .otherwise(lit(""))
    // scheme-less input (no "://") is not a URL this canonicalizer
    // understands — pass it through untouched rather than emitting a
    // mangled "://…" string
    when(scheme === "", c).otherwise(concat(scheme, lit("://"), host, path, q))
  }

  /** Registrable domain of a URL — public-suffix-list semantics
    * ([[PublicSuffixes]]): longest-rule match against a PSL snapshot,
    * so `a.co.uk` groups as `a.co.uk` (not `co.uk`) and `x.github.io`
    * sites stay distinct. NULL when the host has no registrable part
    * (single label, or the host IS a public suffix). Callers needing a
    * fully refreshed rule set use
    * [[PublicSuffixes.joinRegistrable]] with their own parsed list —
    * identical semantics, dimension-driven. */
  def registrableDomain(c: Column): Column =
    PublicSuffixes.registrableDomainOfUrl(c)
}
