package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-processing column functions for the training-data pipeline layer:
  * tokenization, shingling, quality signals, language ID, fingerprints.
  *
  * Everything is a native Catalyst expression tree (higher-order array
  * functions, regexes) — no Scala UDFs, so whole-stage codegen applies and
  * the same logic is expressible as ANSI SQL for the DuckDB oracle.
  *
  * Generalizes the reference's only text processing (news sanitization at
  * `scripts/data_generation/a1_2_news_data_scrapper.py:25-44` and the
  * `macros/categorize_news.sql` keyword classifier) to corpus scale.
  */
object TextFns {

  /** Reference news sanitizer parity (`a1_2_news_data_scrapper.py:25-44`):
    * lowercase, strip HTML tags, collapse whitespace/newlines, drop quotes.
    */
  def sanitizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(regexp_replace(lower(c), "<[^>]*>", ""), "[\"']", ""),
      "\\s+", " "))

  /** Whitespace tokenizer over trimmed text. Empty input → empty array. */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Token count (whitespace tokenization). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** A BPE-ish subword-regex token count, the way byte-pair pre-tokenizers
    * segment: letter runs, digit runs, and single non-space punctuation
    * marks each count as one token. Match-counting (RE2-compatible — no
    * lookaround), so the same regex runs in the SQL oracle.
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles over a token array (distinct, first-occurrence
    * order). Documents shorter than `n` tokens — and null token arrays —
    * yield an empty set. Backed by the codegen `WordShingles` expression
    * (the interpreted HOF form dominated the MinHash signature stage);
    * `TextExprsSpec` pins byte-equality against the HOF formulation.
    */
  def wordShingles(tokensCol: Column, n: Int): Column =
    coalesce(
      org.apache.spark.sql.graft.Bridge.column(
        WordShingles(org.apache.spark.sql.graft.Bridge.expression(tokensCol), n)),
      typedLit(Seq.empty[String]))

  /** Positional (non-distinct) word n-grams over a token array, one per
    * starting position in position order — the sequence form winnowing
    * fingerprints and n-gram language models consume (multiplicity and
    * adjacency matter there; the distinct SET form above would lose both).
    * Fewer than `n` tokens — and null token arrays — yield an empty list.
    */
  def shingleList(tokensCol: Column, n: Int): Column =
    coalesce(
      org.apache.spark.sql.graft.Bridge.column(
        ShingleList(org.apache.spark.sql.graft.Bridge.expression(tokensCol), n)),
      typedLit(Seq.empty[String]))

  /** Winnowing fingerprint selection over a token array (fused codegen
    * `WinnowFingerprints`: k-gram md5-16-hex prefixes, window-of-w minima
    * via monotone deque, distinct). Null/short input → empty array.
    */
  def winnowSelect(tokensCol: Column, k: Int, w: Int): Column =
    coalesce(
      org.apache.spark.sql.graft.Bridge.column(
        WinnowFingerprints(org.apache.spark.sql.graft.Bridge.expression(tokensCol), k, w)),
      typedLit(Seq.empty[String]))

  /** Per-doc hashed term-frequency map (codegen `HashedTermFreqs`):
    * array of (bucket, tf) structs, buckets byte-identical to
    * `conv(substring(md5(tok),1,8),16,10) % dims`.
    */
  def hashedTermFreqs(tokensCol: Column, dims: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      HashedTermFreqs(org.apache.spark.sql.graft.Bridge.expression(tokensCol), dims))

  /** The fused Gopher repetition suite over a token array (codegen
    * `RepetitionStats`): one struct of the nine n-gram repetition
    * fractions (top 2..4-gram character mass, duplicated 5..10-gram
    * character coverage) in a single compiled pass.
    */
  def repetitionStats(tokensCol: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      RepetitionStats(org.apache.spark.sql.graft.Bridge.expression(tokensCol)))

  /** Sorted distinct xxhash64 word-n-gram hashes of a token array (codegen
    * `NgramHashSet`): the exact-Jaccard carrier `IntersectCardSorted`
    * walks. Fewer than `n` tokens → empty array; null → null.
    */
  def ngramHashSet(tokensCol: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      NgramHashSet(org.apache.spark.sql.graft.Bridge.expression(tokensCol), n))

  /** Per-doc token statistics (codegen `TokenStats`): struct of `top_cnt`
    * (count of the most frequent token) and `char_sum` (token characters).
    * Null or empty token array → null.
    */
  def tokenStats(tokensCol: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      TokenStats(org.apache.spark.sql.graft.Bridge.expression(tokensCol)))

  /** Unicode NFC canonical composition (codegen `NfcNormalize` expression).
    * Normalize BEFORE fingerprinting/dedup: composed and decomposed forms
    * of the same visible text must hash identically.
    */
  def nfc(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      NfcNormalize(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** Jaccard similarity of two (distinct-element) array columns → double. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      nullif(size(array_union(a, b)), lit(0)).cast("double")

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double") /
      nullif(length(c), lit(0)).cast("double")

  /** Ratio of alphabetic characters to total characters. */
  def alphaRatio(c: Column): Column =
    length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") /
      nullif(length(c), lit(0)).cast("double")

  /** Small per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny + deterministic (public common words).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"),
    "es" -> Seq("el", "la", "y", "los", "es", "un", "una", "que", "por", "con"))

  /** Count of tokens belonging to `lang`'s stopword list. */
  def stopwordHits(tokensCol: Column, lang: String): Column =
    size(filter(tokensCol, t => t.isInCollection(stopwords(lang))))

  /** Stopword ratio for a given language. */
  def stopwordRatio(tokensCol: Column, lang: String): Column =
    stopwordHits(tokensCol, lang).cast("double") /
      nullif(size(tokensCol), lit(0)).cast("double")

  /** Heuristic language ID: argmax of stopword hits across languages, ties
    * broken by language code ascending; no hits at all → "und" (undetermined).
    */
  def langId(tokensCol: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scored = langs.map(l => struct(stopwordHits(tokensCol, l).as("hits"), lit(l).as("lang")))
    // array_max on struct compares (hits, lang) lexicographically; we want
    // max hits then *smallest* lang, so compare (hits, negated-rank) — simpler:
    // fold left keeping strictly-greater, which preserves first (= smallest
    // lang) on ties.
    val best = scored.reduceLeft { (acc, s) =>
      when(s.getField("hits") > acc.getField("hits"), s).otherwise(acc)
    }
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, alphabetic
    * content, and low punctuation. Deterministic, SQL-expressible.
    */
  def qualityScore(textCol: Column): Column = {
    val toks = tokens(textCol)
    val lenScore = least(size(toks).cast("double") / lit(50.0), lit(1.0))
    val alpha = coalesce(alphaRatio(textCol), lit(0.0))
    val punct = coalesce(punctRatio(textCol), lit(0.0))
    (lenScore * lit(0.4) + alpha * lit(0.4) + (lit(1.0) - least(punct * lit(5.0), lit(1.0))) * lit(0.2))
  }

  /** Normalization fingerprint: md5 of lowercased, whitespace-collapsed text.
    * The exact-dedup key (near-dup keys come from MinHash/SimHash).
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))
}
