package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingestion and tokenization: repetition/quality gating (Gopher-style
  * filters), per-document salient terms (TF-IDF), composition rebalancing
  * (deterministic stratified sampling), and context-window chunking.
  *
  * Every operator is expressed so an independent SQL engine replays it
  * value-exact: only rational double arithmetic (no transcendentals — ln/exp
  * are implementation-defined per-libm, IEEE division/multiplication are
  * correctly rounded everywhere), deterministic md5-derived sampling, and
  * explicit tiebreaks on every ranking.
  */
object Curation {

  /** Per-document repetition/quality signals in the spirit of the Gopher
    * rules (Rae et al. 2021, "Scaling Language Models", §A.1.1): word count,
    * mean word length, most-common-word mass, and duplicate-bigram mass,
    * plus the combined keep/drop verdict.
    *
    * Shape at scale: map-only, one pass over the corpus. The token
    * statistics (top token count, character sum) are the fused per-row
    * `TokenStats` kernel and the bigram signals the per-row `WordShingles`
    * expression; nothing explodes to token grain and nothing shuffles.
    */
  def gopherSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val base = docs.select(
      col(idCol),
      size(toks).cast("long").as("n_words"),
      // total bigrams (with duplicates) is determined by the token count;
      // wordShingles is the DISTINCT set — both sides of the dup fraction
      greatest(size(toks).cast("long") - 1L, lit(0L)).as("n_bigrams"),
      size(TextFns.wordShingles(toks, 2)).cast("long").as("n_bigrams_distinct"),
      TextFns.tokenStats(toks).as("__st"))
    // null stats (no tokens) keep both fractions null, never a 0/0
    val meanLen = col("__st.char_sum").cast("double") / col("n_words").cast("double")
    val topFrac = col("__st.top_cnt").cast("double") / col("n_words").cast("double")
    val dupBigram = when(col("n_bigrams") > 0,
      lit(1.0) - (col("n_bigrams_distinct").cast("double") / col("n_bigrams").cast("double")))
    base.select(
      col(idCol), col("n_words"),
      meanLen.as("mean_word_len"),
      topFrac.as("top_word_frac"),
      dupBigram.as("dup_bigram_frac"),
      coalesce(
        col("n_words") >= 20 && col("n_words") <= 100000 &&
          meanLen >= 2.0 && meanLen <= 12.0 &&
          topFrac <= 0.2 && dupBigram <= 0.3,
        lit(false)).as("keep"))
  }

  /** The full Gopher within-document repetition suite (Rae et al.
    * 2112.11446, Table A1) — the filters the word-grain [[gopherSignals]]
    * verdict does not cover: top-n-gram character mass for n=2..4 and
    * duplicated-n-gram character coverage for n=5..10, plus the combined
    * keep/drop verdict at the paper's published thresholds (top: 0.20 /
    * 0.18 / 0.16; dup: 0.15 down to 0.10). The reference corpus has no
    * newline structure, so the line/paragraph-grain variants are n/a here;
    * the n-gram family is the general form (a "line" repeat is an n-gram
    * repeat at the line's token length).
    *
    * Shape at scale: the whole suite is ONE per-row fused codegen
    * expression ([[graft.functions.RepetitionStats]]) — the corpus is
    * touched once and nothing shuffles; the relational formulation would
    * explode tokens nine times. All nine fractions are single divisions of
    * exact integers, so the DuckDB oracle replays them bit-for-bit.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = TextFns.repetitionStats(TextFns.tokens(col(textCol)))
    val fields = graft.functions.RepetitionStats.fieldNames
    val thresholds = Map(
      "top_2gram_frac" -> 0.20, "top_3gram_frac" -> 0.18, "top_4gram_frac" -> 0.16,
      "dup_5gram_frac" -> 0.15, "dup_6gram_frac" -> 0.14, "dup_7gram_frac" -> 0.13,
      "dup_8gram_frac" -> 0.12, "dup_9gram_frac" -> 0.11, "dup_10gram_frac" -> 0.10)
    docs
      // two-step select: the struct is materialized once per row and the
      // field extraction stays a separate cheap projection (CollapseProject
      // declines to inline a non-cheap expression referenced 9 times)
      .select(col(idCol), st.as("__r"))
      .select(col(idCol) +: fields.map(f => col("__r").getField(f).as(f)): _*)
      .withColumn("keep",
        fields.map(f => col(f) <= thresholds(f)).reduce(_ && _))
  }

  /** Top-k salient terms per document by log-free TF-IDF:
    * (tf / doc_len) * (n_docs / doc_freq). Deliberate deviation from the
    * textbook idf = ln(N/df): the log is monotone PER TERM but its libm
    * implementation is not bit-portable across engines; the rational form
    * keeps every score an exact IEEE expression any SQL engine reproduces
    * bit-for-bit, which is what makes the ranking hash-verifiable.
    * Ties break on the term string, so top-k is fully deterministic.
    *
    * Shape at scale: tokens shuffle ONCE into (doc, term) counts (map-side
    * combine); doc length is a window over the doc id (bounded partitions —
    * one doc's vocabulary); doc frequency is a |vocab|-grain AGGREGATE
    * joined back, never a window partitioned by term — a term-partitioned
    * window would funnel every row of a mega-common term ("the" ≈ 5% of an
    * English corpus) through one partition, while the aggregate's map-side
    * combine shrinks it to one row per (partition, term) and AQE can
    * broadcast the vocab table or skew-split the join; the per-doc top-k is
    * a bounded window.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = docs
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = broadcast(docs.agg(countDistinct(col(idCol)).as("__n_docs")))
    val docFreq = pairs.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val withLen = pairs.withColumn("__dl",
      sum(col("tf")).over(Window.partitionBy(col(idCol))))
    val scored = withLen.join(docFreq, Seq("term")).crossJoin(nDocs).withColumn("tfidf",
      (col("tf").cast("double") / col("__dl").cast("double")) *
        (col("__n_docs").cast("double") / col("df").cast("double")))
    scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Deterministic stratified sampling: per-stratum keep rates (permille),
    * decided by an md5 bucket of the id — engine- and partitioning-stable,
    * reproducible years later, and joinable as an exclusion list. The rate
    * table is a tiny DataFrame broadcast against the corpus (map-only scan;
    * the classic composition-rebalancing step — e.g. downsample the
    * dominant language without touching the tail).
    */
  def stratifiedSample(
      docs: DataFrame,
      idCol: String,
      strataCol: String,
      ratesPermille: Map[String, Int],
      defaultPermille: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rates = broadcast(
      ratesPermille.toSeq.toDF(strataCol, "__rate"))
    val bucket = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("bigint"),
      lit(1000L))
    docs
      .join(rates, Seq(strataCol), "left")
      .withColumn("strat_bucket", bucket)
      .filter(col("strat_bucket") < coalesce(col("__rate"), lit(defaultPermille)))
      .drop("__rate")
  }

  /** Temperature resampling at alpha = 0.5: downsample every stratum so the
    * surviving composition is proportional to sqrt(share) — the standard
    * multilingual rebalancing (Conneau & Lample 2019 §3.1; the reference's
    * composition knob generalized), flattening dominant languages while
    * keeping the tail at full rate. Keep rates derive only from the
    * strata's integer counts: rate_permille(s) = floor(1000 *
    * sqrt(cnt_min / cnt_s)) — the smallest stratum keeps everything, and a
    * stratum 4x its size keeps half. sqrt is the one IEEE-exact
    * transcendental-adjacent op, so an independent engine replays the rates
    * bit-identically; row selection is the same md5 permille bucket as
    * `stratifiedSample` (partitioning-stable, reproducible).
    *
    * Shape at scale: one tiny groupBy(strata) count, a 1-row min folded in
    * by broadcast, a broadcast rate dim against the corpus, map-only
    * filter. No corpus-wide shuffle at all.
    */
  def temperatureSample(
      docs: DataFrame,
      idCol: String,
      strataCol: String): DataFrame = {
    val counts = docs
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("__cnt"))
    val minCnt = counts.agg(min(col("__cnt")).as("__min_cnt"))
    val rates = counts
      .crossJoin(broadcast(minCnt))
      .withColumn("rate_permille",
        floor(lit(1000.0) *
          sqrt(col("__min_cnt").cast("double") / col("__cnt").cast("double")))
          .cast("bigint"))
      .select(col(strataCol), col("rate_permille"))
    val bucket = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("bigint"),
      lit(1000L))
    docs
      .join(broadcast(rates), Seq(strataCol))
      .withColumn("temp_bucket", bucket)
      .filter(col("temp_bucket") < col("rate_permille"))
  }

  /** Deterministic data-mixing schedule: assign every document a
    * `schedule_key` such that reading the corpus in key order yields the
    * caller's target source composition `targetShares` at EVERY prefix —
    * the training-order step after curation (DoReMi/Pile-style domain
    * weights applied as an interleave, not a filter). With u = md5-derived
    * uniform in [0,1), key = (u * n_s) / alpha_s: documents of source s
    * below horizon t number n_s * (t * alpha_s / n_s) = t * alpha_s, so
    * composition tracks alpha exactly and independently of native source
    * sizes; a source exhausts at key n_s / alpha_s, bounding how far the
    * target mix can be read. Keys are reproducible years later (pure id
    * hash) and partitioning-stable.
    *
    * Shape at scale: one tiny per-source count, the share dim broadcast
    * back, then a single map-only pass — no corpus-wide shuffle; the
    * consumer range-partitions on the key when writing the epoch.
    * Arithmetic is two exact integer-derived doubles and two ordered
    * divisions — an independent SQL engine replays keys bit-for-bit.
    *
    * Contract: `targetShares` IS the epoch's source whitelist — documents
    * whose source has no entry are dropped (the inner join on the share
    * dim), which is the intended semantics: a mixing schedule that assigns
    * weight to a domain not in the recipe has no defined position. Callers
    * wanting "everything else at weight w" must add those sources
    * explicitly. Every alpha must be > 0 (validated): alpha = 0 means
    * "exclude the source", which is expressed by omitting it, not by an
    * Infinity schedule key.
    */
  def mixSchedule(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      targetShares: Map[String, Double]): DataFrame = {
    require(targetShares.nonEmpty, "mixSchedule needs at least one target share")
    targetShares.foreach { case (s, a) =>
      require(a > 0.0 && !a.isInfinity,
        s"mixSchedule share for source '$s' must be finite and > 0 (got $a); " +
          "omit the source to exclude it")
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n"))
    val shares = targetShares.toSeq.toDF(sourceCol, "__alpha")
    val dim = broadcast(counts.join(shares, Seq(sourceCol)))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    docs
      .join(dim, Seq(sourceCol))
      .select(col(idCol), col(sourceCol).as("source"),
        ((u * col("__n").cast("double")) / col("__alpha")).as("schedule_key"))
  }

  /** BM25 retrieval against a fixed query-term set: per-document Okapi BM25
    * score over the matched terms, top `topK` documents. The idf is the
    * log-free Robertson form (n - df + 0.5) / (df + 0.5) — same rationale
    * as `tfidfTopTerms`: libm ln is not bit-portable across engines, IEEE
    * rational arithmetic is, and the ranking it induces is identical
    * (monotone transform). The per-term contributions are pivoted into
    * FIXED columns and summed in query-term order, so the double additions
    * happen in the same sequence in any replaying engine — a floating
    * final score that still hash-matches.
    *
    * Shape at scale: tokens are filtered to the query set BEFORE any
    * shuffle (the explode feeds a codegen isin filter), so the shuffled
    * relation is O(|docs| * |query|), not O(tokens). Corpus stats (N,
    * avgdl) fold in as a broadcast 1-row aggregate, term df as a
    * broadcast |query|-row dim, and the final top-k is a global
    * TakeOrderedAndProject — never a single-partition window.
    */
  def bm25Retrieve(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      topK: Int): DataFrame = {
    // queryTerms is caller-supplied free text: dedupe (a repeated term
    // scores once, and duplicate pivot columns would be ambiguous) and
    // pivot onto synthetic per-term indexes, never the raw strings — a
    // term containing a backtick or colliding with the id/dl column
    // names must not break column resolution.
    val terms = queryTerms.distinct
    require(terms.nonEmpty, "bm25Retrieve needs at least one query term")
    val toks = TextFns.tokens(col(textCol))
    val dl = docs.select(col(idCol), size(toks).cast("long").as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("__n_docs"),
      sum(col("dl")).as("__total_len"))
    val tf = docs
      .select(col(idCol), explode(toks).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dft = tf
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__df"))
    // k1 = 1.2, b = 0.75 — written as the pre-folded literals 2.2 (k1+1),
    // 0.25 (1-b), 0.75 so both engines evaluate the identical expression
    val avgdl = col("__total_len").cast("double") / col("__n_docs").cast("double")
    val contrib =
      ((col("__n_docs").cast("double") - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5))) *
        ((col("__tf").cast("double") * lit(2.2)) /
          (col("__tf").cast("double") +
            (lit(1.2) * (lit(0.25) + (lit(0.75) * (col("dl").cast("double") / avgdl))))))
    val scored = tf
      .join(dl, Seq(idCol))
      .join(broadcast(dft), Seq("__t"))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"), col("__t"), contrib.as("__contrib"))
    val qi = terms.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (t, i)) => when(col("__t") === lit(t), lit(s"__q$i")).otherwise(acc)
    }
    val wide = scored
      .withColumn("__qi", qi)
      .groupBy(col(idCol), col("dl"))
      .pivot("__qi", terms.indices.map(i => s"__q$i"))
      .agg(max(col("__contrib")))
    // summed in query-term order so the double additions sequence
    // identically in the replaying engine
    val score = terms.indices
      .map(i => coalesce(col(s"__q$i"), lit(0.0)))
      .reduceLeft(_ + _)
    wide
      .select(col(idCol), col("dl"), score.as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(topK)
  }

  /** BPE subword-merge training (Sennrich et al. 2016 §3.2): `rounds`
    * iterations of "count adjacent symbol pairs, merge the most frequent
    * everywhere", producing the ordered merge table a subword tokenizer is
    * defined by. Ties break lexicographically on (left, right) so the
    * table is fully deterministic.
    *
    * Shape at scale: the corpus is touched ONCE — an explode + groupBy to
    * word counts (map-side combine) — and every training round then
    * operates on the WORD-grain frame (|vocab| rows, not corpus rows):
    * pair counts weighted by word frequency, a 1-row argmax folded back by
    * broadcast, and a map-only merge. The loop is fully declarative — the
    * argmax is never collected; it joins back as a broadcast frame, and
    * the vocab frame localCheckpoints per round to stop lineage growth.
    * One Spark job cadence per merge round is inherent to BPE's sequential
    * dependency; the word-grain frame IS the scale mitigation (rounds cost
    * |vocab|, independent of corpus size), and real-vocab training (30k
    * merges) would additionally train on a frequency-sampled word-count
    * frame rather than the full vocabulary.
    *
    * The merge step is the canonical greedy left-to-right scan (Sennrich's
    * `re.sub` semantics): fold the symbol list into a space-joined string,
    * merging whenever the accumulator's LAST symbol is `l` and the current
    * symbol is `r`. A just-merged symbol is the string `l+r`, which can
    * never equal `l`, so it is never re-used as the left operand — the
    * fold is exactly the index scan, including on odd-length runs of a
    * self-paired symbol ("aaaaa" with merge (a,a) → "aa aa a", never
    * "aa a aa"). An independent engine replays the identical fold
    * (`list_reduce` over the same token list) — and every value in the
    * output is an integer or a string, so the oracle comparison is exact
    * by construction, no floating point anywhere.
    *
    * If fewer than `rounds` merges are possible (no adjacent pair left),
    * the remaining rounds emit nothing and the vocabulary is left at its
    * fixpoint — a sentinel candidate with `pair_count = -1` loses every
    * argmax against a real pair and rewrites nothing, so exhaustion never
    * touches the driver and never empties the vocab.
    *
    * @return one row per round that performed a merge:
    *         (round, left, right, merged, pair_count)
    */
  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      rounds: Int): DataFrame = {
    val perRound = bpeRun(docs, textCol, rounds)._2
    if (perRound.isEmpty) // rounds <= 0: empty merge table, same schema
      docs.sparkSession.range(0).select(
        lit(0).as("round"), lit("").as("left_sym"), lit("").as("right_sym"),
        lit("").as("merged"), lit(0L).as("pair_count"))
    else perRound.reduce(_.unionByName(_))
  }

  /** The word vocabulary AFTER `rounds` BPE merges: one row per distinct
    * word with its corpus frequency and its subword segmentation (the
    * merge table of [[bpeTrain]] APPLIED — train + encode are the same
    * declarative fold, so the segmentation is exact by construction too).
    * The word column is recovered from the symbol string (merges only
    * delete delimiters), keeping the training loop single-purpose.
    */
  def bpeEncode(
      docs: DataFrame,
      textCol: String,
      rounds: Int): DataFrame =
    bpeRun(docs, textCol, rounds)._1.select(
      replace(trim(col("__sym")), lit(" "), lit("")).as("word"),
      col("__n").as("n"),
      trim(col("__sym")).as("encoded"))

  /** BPE tokenization applied at CORPUS grain: every document position
    * becomes its word's subword ids — the tokenize step feeding sequence
    * packing ([[packSequences]]), composed from the same declarative fold
    * as [[bpeTrain]]/[[bpeEncode]] so train → encode → corpus ids is one
    * verified path. Subword ids are dense ranks by (corpus frequency
    * desc, subword) — deterministic, and no OOV is possible since the
    * segmentation was trained on this corpus.
    *
    * Shape at scale: training touches the corpus once (word counts);
    * application is a broadcast join of the vocab-grain segmentation onto
    * positional tokens plus a shuffle-free positional explode — the
    * ranking window runs at SUBWORD grain only (|subvocab| rows), never
    * over the corpus.
    *
    * @return (idCol, pos, sub_pos, token_id) — word position within the
    *         document, subword position within the word
    */
  def bpeTokenIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val enc = bpeRun(docs, textCol, rounds)._1.select(
      replace(trim(col("__sym")), lit(" "), lit("")).as("__word"),
      col("__n"),
      split(trim(col("__sym")), " ").as("__subs"))
    val vocab = enc
      .select(col("__n"), explode(col("__subs")).as("__sub"))
      .groupBy(col("__sub"))
      .agg(sum(col("__n")).as("__cnt"))
      // subword-grain frame: the single-partition window is bounded
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("__cnt").desc, col("__sub"))).cast("int"))
      .select(col("__sub"), col("token_id"))
    docs
      .select(col(idCol), posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "__word")))
      .join(broadcast(enc.select(col("__word"), col("__subs"))), Seq("__word"))
      .select(col(idCol), col("pos"), posexplode(col("__subs")).as(Seq("sub_pos", "__sub")))
      .join(broadcast(vocab), Seq("__sub"))
      .select(col(idCol), col("pos"), col("sub_pos"), col("token_id"))
  }

  private def bpeRun(
      docs: DataFrame,
      textCol: String,
      rounds: Int): (DataFrame, Seq[DataFrame]) = {
    val words = docs
      .select(explode(TextFns.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__n"))
      .select(
        // ' a b a b ' — every symbol space-delimited on both sides
        concat(lit(" "), regexp_replace(col("__w"), "(.)", "$1 ")).as("__sym"),
        col("__n"))
      .localCheckpoint(true, Checkpoints.Ser)

    def pairCounts(vocab: DataFrame): DataFrame = {
      val s = filter(split(trim(col("__sym")), " "), x => x =!= lit(""))
      // sequence() DESCENDS when stop < start — guard 1-symbol words
      val idx = when(size(s) >= 2, sequence(lit(1), size(s) - 1))
        .otherwise(array().cast("array<int>"))
      vocab
        .select(col("__n"),
          explode(transform(idx,
            i => struct(element_at(s, i).as("l"), element_at(s, i + 1).as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__n")).as("pair_count"))
    }

    // Merge exhaustion valve: when no adjacent pair remains, pairCounts is
    // EMPTY and a bare limit(1) would broadcast an empty frame whose
    // crossJoin silently empties the vocabulary. The sentinel loses every
    // argmax (-1 < any real count) and, when it does win, rewrites nothing:
    // l = "" never equals a (nonempty) accumulator tail, so the fold below
    // is the identity and the round emits no merge row (pair_count < 0
    // filtered out). Fully declarative — no driver-side emptiness check.
    val sentinel = docs.sparkSession.range(1)
      .select(lit("").as("l"), lit("").as("r"), lit(-1L).as("pair_count"))

    (1 to rounds).foldLeft((words, Seq.empty[DataFrame])) {
      case ((vocab, acc), round) =>
        val best = pairCounts(vocab).unionByName(sentinel)
          .orderBy(col("pair_count").desc, col("l"), col("r"))
          .limit(1)
        // Canonical greedy left-to-right merge: fold the symbol list into a
        // space-joined string, merging when the accumulator's last symbol
        // is l and the current one is r. The merged symbol is the string
        // l+r != l, so it never re-matches as a left operand within the
        // round — the fold IS the index scan (odd self-paired runs
        // included: "a a a a a" -> "aa aa a"). Runs at vocab grain, so the
        // interpreted HOF lambda is off the corpus-sized hot path.
        val toks = filter(split(trim(col("__sym")), " "), x => x =!= lit(""))
        val foldMerged = aggregate(
          slice(toks, lit(2), size(toks) - 1),
          element_at(toks, 1),
          (acc0, t) => when(
            (acc0 === col("l") ||
              acc0.endsWith(concat(lit(" "), col("l")))) && t === col("r"),
            concat(substr(acc0, lit(1), length(acc0) - length(col("l"))),
              col("l"), col("r")))
            .otherwise(concat(acc0, lit(" "), t)))
        val merged = vocab
          .crossJoin(broadcast(best))
          .select(concat(lit(" "), foldMerged, lit(" ")).as("__sym"),
            col("__n"))
          .localCheckpoint(true, Checkpoints.Ser)
        val row = best
          .filter(col("pair_count") >= 0)
          .select(
            lit(round).as("round"), col("l").as("left_sym"), col("r").as("right_sym"),
            concat(col("l"), col("r")).as("merged"), col("pair_count"))
        (merged, acc :+ row)
    }
  }

  /** Train/test decontamination: for every test document, the fraction of
    * its distinct word n-grams that also occur ANYWHERE in the training
    * corpus (the GPT-3 appendix-C style containment check, run before any
    * benchmark score is trusted). A test doc whose contamination exceeds
    * the threshold is flagged for removal.
    *
    * Shape at scale: this is an inverted-index SEMI-join on a compact gram
    * key — one distinct-aggregate over train grams, one shuffle of test
    * grams, no pairwise comparison anywhere. Grams travel as 16-hex-char
    * md5 prefixes (8 bytes of entropy), not raw strings; totals are
    * per-row expression work. md5 (not xxhash64) so the DuckDB oracle can
    * compute the IDENTICAL join relation — collisions, if any, land on
    * both sides rather than failing the hash gate asymmetrically.
    */
  def contamination(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      nGram: Int,
      threshold: Double): DataFrame = {
    def grams = TextFns.wordShingles(TextFns.tokens(col(textCol)), nGram)
    def gramKey(c: Column) = substring(md5(c), 1, 16)
    val trainGrams = train
      .select(explode(grams).as("__g"))
      .select(gramKey(col("__g")).as("__gh"))
      .distinct()
    val testGrams = test
      .select(col(idCol), explode(grams).as("__g"))
      .select(col(idCol), gramKey(col("__g")).as("__gh"))
    val hits = testGrams
      .join(trainGrams, Seq("__gh"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"))
    val contamination =
      when(col("n_grams") > 0, col("n_hit").cast("double") / col("n_grams").cast("double"))
    test
      .select(col(idCol), size(grams).cast("long").as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(
        col(idCol), col("n_grams"), col("n_hit"),
        contamination.as("contamination"),
        coalesce(contamination >= threshold, lit(false)).as("flagged"))
  }

  /** Context-window chunking: split each document's token stream into
    * windows of `chunkSize` tokens advancing by `stride` (overlap =
    * chunkSize - stride). Pure per-row explode — no shuffle; the final
    * (possibly short) window is kept, empty documents yield no chunks.
    */
  def chunkTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(stride > 0 && chunkSize >= stride, "need 0 < stride <= chunkSize")
    val toks = TextFns.tokens(col(textCol))
    val n = size(toks).cast("long")
    // last chunk start index k*stride with k = ceil((n - chunkSize)/stride)
    // when the doc overflows one window, else 0 — exact integer arithmetic
    val kMax = when(n <= chunkSize, lit(0L))
      .otherwise(floor((n - chunkSize + (stride - 1)) / lit(stride.toDouble)).cast("long"))
    docs
      .select(col(idCol), toks.as("__toks"), n.as("__n"), kMax.as("__kmax"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), col("__kmax"))).as("chunk_idx"))
      .select(
        col(idCol), col("chunk_idx"),
        slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"), lit(chunkSize))
          .as("__chunk"))
      .select(
        col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Feature-hashing (hashing-trick) term-frequency vectorizer
    * (Weinberger et al., "Feature Hashing for Large Scale Multitask
    * Learning", ICML'09): token → bucket = md5-derived uniform hash mod
    * `dims`, term frequency aggregated per (doc, bucket). Output is the
    * SPARSE long form (doc_id, bucket, tf, weight = tf / doc_tokens) —
    * the join-friendly representation; pivot to a dense array only at the
    * consumer when dims is small.
    *
    * Shape at scale: ZERO shuffles — the (doc, bucket) counts come from
    * the fused [[graft.functions.HashedTermFreqs]] codegen pass (one
    * per-row map build; byte-identical buckets to
    * `conv(substring(md5(tok),1,8),16,10) % dims`), and the consumer
    * explode is over the per-doc AGGREGATED map (cardinality
    * min(doc_tokens, dims)), never token-grain rows. The previous
    * relational form (explode every token + groupBy (doc, bucket))
    * measured 3.0 s at sf0.1; this is map-only. md5-derived buckets (not
    * xxhash64) keep the assignment engine-portable — the same recipe as
    * `stratifiedSample`.
    */
  def featureHashTf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dims: Int): DataFrame = {
    require(dims > 0, s"dims must be positive: $dims")
    val toks = TextFns.tokens(col(textCol))
    docs
      .select(col(idCol), size(toks).cast("long").as("__n"),
        TextFns.hashedTermFreqs(toks, dims).as("__fh"))
      .select(col(idCol), col("__n"), explode(col("__fh")).as("__f"))
      .select(col(idCol), col("__f.bucket").as("bucket"), col("__f.tf").as("tf"),
        (col("__f.tf").cast("double") / col("__n").cast("double")).as("weight"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03):
    * hash every positional `k`-token gram, slide a window of `w`
    * consecutive gram hashes, and select each window's minimum — the
    * classic MOSS scheme. The selection guarantee: any match of at least
    * w+k-1 tokens between two documents shares at least one selected
    * fingerprint, at an expected density of 2/(w+1) of the gram stream.
    *
    * Hashes are 16-hex md5 prefixes compared as strings — engine-portable
    * (the SQL oracle replays the identical selection) and uniform enough
    * that the min-selection is unbiased. Documents shorter than one window
    * still emit their single overall minimum (the standard short-document
    * convention), so every document with >= k tokens is fingerprinted.
    *
    * Shape at scale: selection is entirely per-row — the fused codegen
    * `WinnowFingerprints` expression (incremental gram hashing + monotone-
    * deque window minima, O(m) per document; the composable HOF form
    * measured 24.5 s at sf0.1, this one ~1 s), then one explode — no
    * shuffle at all until the consumer aggregates fingerprints. The
    * natural consumer join (`groupBy(fingerprint)` to find sharing
    * documents) inherits the boilerplate/`contamination` inverted-index
    * discipline: output is fingerprint-grain, never pairwise.
    */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int): DataFrame = {
    require(k > 0 && w > 0, s"need positive gram size and window: k=$k w=$w")
    docs
      .select(col(idCol),
        TextFns.winnowSelect(TextFns.tokens(col(textCol)), k, w).as("__fps"))
      .select(col(idCol), explode(col("__fps")).as("fingerprint"))
  }

  /** Winnowing match detection — the second half of the MOSS scheme: an
    * inverted index over the selected fingerprints yields candidate pairs,
    * scored by how many fingerprints they share. Fingerprints occurring in
    * more than `maxDocFreq` documents are dropped before pair generation —
    * exactly MOSS's over-common-fingerprint suppression (shared boilerplate
    * is not plagiarism evidence), and simultaneously the bound that keeps
    * every per-fingerprint self-join O(maxDocFreq²) instead of O(corpus²).
    *
    * Shape at scale: fingerprint-grain df aggregate → semi-filtered
    * self-join per fingerprint bucket (bounded) → (a,b) pair aggregate
    * with map-side combine. Same banding discipline as MinHash-LSH: the
    * quadratic never escapes a capped bucket. The fingerprint frame is
    * persisted (one selection pass; the df aggregate and both self-join
    * sides read the cache — unpersisted it computes FOUR times), and the
    * self-join deliberately carries no broadcast hint: Catalyst/AQE
    * broadcasts the small side at test scale and falls back to a shuffled
    * join on the high-cardinality fingerprint key at corpus scale (no
    * one-task-per-block degeneracy — fingerprints are fine-grained,
    * unlike the language-block self-joins that must broadcast).
    */
  def winnowMatches(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minShared: Int,
      maxDocFreq: Int): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w).persist()
    val rare = fps
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select(col("fingerprint"))
    val indexed = fps.join(rare, Seq("fingerprint"), "left_semi")
    val a = indexed.select(col("fingerprint"), col(idCol).as("a_id"))
    val b = indexed.select(col("fingerprint"), col(idCol).as("b_id"))
    val matches = a.join(b, Seq("fingerprint"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      // eager: materialize the (small, post-aggregation) match frame so the
      // fingerprint cache can be released here instead of leaking for the
      // session lifetime (repeated calls were accumulating storage blocks)
      .localCheckpoint(true, Checkpoints.Ser)
    fps.unpersist()
    matches
  }

  /** Bigram language-model quality score: the corpus itself is the model
    * (conditional bigram frequencies c(w1 w2)/c(w1 ·)), and each document
    * scores the MEAN conditional probability of its bigram instances — a
    * perplexity-style fluency signal (templated/repetitive text scores
    * high, token soup scores low) built entirely from rational arithmetic.
    * Deliberate deviation from log-space perplexity: libm log/exp are not
    * bit-portable across engines, while the probability mean is exact IEEE
    * division/addition any SQL engine reproduces bit-for-bit — same
    * rationale as `tfidfTopTerms`' log-free idf. The per-document sum
    * folds contributions in sorted-bigram order so the double addition is
    * order-deterministic (hash-verifiable), not partition-dependent.
    *
    * Shape at scale: one bigram explode feeding (doc, bigram) counts and
    * the bigram-grain model (both with map-side combine); prefix totals
    * are a second tiny aggregate OVER THE MODEL (vocab²-bounded), never
    * over raw tokens. The model joins back on the bigram key; the "the
    * ..." prefix family is spread across its many distinct bigrams, and
    * the prefix-grain side is small enough for AQE to broadcast. The
    * sorted fold buffers one document's DISTINCT bigrams (bounded by doc
    * length), not the corpus.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bigrams = docs.select(
      col(idCol),
      explode(TextFns.shingleList(TextFns.tokens(col(textCol)), 2)).as("__bg"))
    val docBg = bigrams.groupBy(col(idCol), col("__bg")).agg(count(lit(1)).as("__dcnt"))
    val model = bigrams.groupBy(col("__bg")).agg(count(lit(1)).as("__cbg"))
      .withColumn("__prefix", substring_index(col("__bg"), " ", 1))
    val prefixTotals = model.groupBy(col("__prefix")).agg(sum(col("__cbg")).as("__cpre"))
    val contrib = col("__dcnt").cast("double") *
      (col("__cbg").cast("double") / col("__cpre").cast("double"))
    val perDoc = docBg
      .join(model, Seq("__bg"))
      .join(prefixTotals, Seq("__prefix"))
      .groupBy(col(idCol))
      .agg(
        sort_array(collect_list(struct(col("__bg"), contrib.as("__c")))).as("__cs"),
        sum(col("__dcnt")).as("n_bigrams"))
      .select(
        col(idCol), col("n_bigrams"),
        (aggregate(col("__cs"), lit(0.0), (a, x) => a + x.getField("__c")) /
          col("n_bigrams").cast("double")).as("avg_cond_prob"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_cond_prob"))
  }

  /** Vocabulary build + corpus encoding — the tokenize-for-training step:
    * rank tokens by corpus frequency (count desc, token asc — fully
    * deterministic), keep the top `vocabSize` as ids 1..V, map everything
    * else to the OOV id 0, and encode every document as positional token
    * ids. The id assignment is frequency-ranked exactly like real vocab
    * builds (BPE merges aside), and the long-form output (doc, pos, id)
    * is the shuffle-friendly shape downstream batching reads.
    *
    * Shape at scale: one token-grain aggregate (map-side combine) feeds
    * the vocab ranking — a window over the token-GRAIN frame (|vocab|
    * rows, not corpus positions), then a broadcast join encodes positions
    * map-only. The corpus never shuffles on position.
    */
  def vocabEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(
      col(idCol), posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "__tk")))
    val vocab = pos.groupBy(col("__tk")).agg(count(lit(1)).as("__n"))
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("__n").desc, col("__tk"))))
      .filter(col("token_id") <= vocabSize)
      .select(col("__tk"), col("token_id"))
    pos.join(broadcast(vocab), Seq("__tk"), "left")
      .select(
        col(idCol), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(0)).as("token_id"))
  }

  /** Sequence packing — the concat-and-chop batch-prep step of LLM
    * pre-training: documents are laid end-to-end in a deterministic
    * per-shard order and cut into fixed `seqLen`-token training windows;
    * each document learns its token offset interval and which windows
    * (bins) it spans. Downstream batching reads (shard, bin) groups.
    *
    * Shape at scale: ONE cumulative-sum window per shard — the shard
    * column (language here; (lang, date-bucket) at corpus scale) bounds
    * each window partition, so no global single-partition window ever
    * forms; everything else is per-row integer arithmetic. Zero-token
    * documents occupy no interval and are dropped.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shardCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
    docs
      .select(col(shardCol), col(idCol),
        TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("end_offset", sum(col("n_tokens")).over(w))
      .select(
        col(shardCol), col(idCol), col("n_tokens"),
        (col("end_offset") - col("n_tokens")).as("start_offset"),
        floor((col("end_offset") - col("n_tokens")) / lit(seqLen.toLong)).as("start_bin"),
        floor((col("end_offset") - 1L) / lit(seqLen.toLong)).as("end_bin"))
  }

  /** Cross-document repeated spans — the boilerplate detector (the
    * repeated-substring phenomenon of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499, restricted to
    * fixed-length token spans): every span of `spanTokens` tokens that
    * occurs in at least `minDocs` DISTINCT documents, with its document
    * frequency and the smallest containing doc id as a stable anchor.
    *
    * Shape at scale: distinct spans per doc (wordShingles) → one explode →
    * groupBy(span) with map-side combine — a plain inverted-index
    * aggregate, |output| bounded by vocabulary of frequent spans, never
    * pairwise. At 100 TB carry spans as md5-prefix keys in the shuffle
    * (as `contamination` does) and join the strings back for reporting.
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int,
      minDocs: Int): DataFrame =
    docs
      .select(col(idCol),
        explode(TextFns.wordShingles(TextFns.tokens(col(textCol)), spanTokens)).as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("first_doc_id"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document boilerplate exposure: the fraction of a document's
    * distinct `spanTokens`-token spans that are corpus boilerplate (occur
    * in >= `minDocs` documents). Pipelines drop or downweight documents
    * whose ratio exceeds a threshold — templated pages, navigation chrome,
    * license footers.
    *
    * Shape at scale: span-df aggregate (span-grain, small) + one
    * semi-joinable hit count per doc — same inverted-index discipline as
    * `contamination`, and like it the spans travel as 16-hex md5 prefixes
    * (8 bytes of entropy) through both shuffles, never as raw strings;
    * md5 keeps the key oracle-computable so implementation and replay
    * build the IDENTICAL relation, collisions included. Nothing pairwise,
    * no window over the corpus.
    */
  def boilerplateRatio(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int,
      minDocs: Int): DataFrame = {
    def grams = TextFns.wordShingles(TextFns.tokens(col(textCol)), spanTokens)
    def spanKey(c: Column) = substring(md5(c), 1, 16)
    val hot = docs
      .select(explode(grams).as("__s"))
      .select(spanKey(col("__s")).as("__sk"))
      .groupBy(col("__sk"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minDocs)
      .select(col("__sk"))
    val hits = docs
      .select(col(idCol), explode(grams).as("__s"))
      .select(col(idCol), spanKey(col("__s")).as("__sk"))
      .join(hot, Seq("__sk"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_boiler"))
    docs
      .select(col(idCol), size(grams).cast("long").as("n_spans"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("boilerplate_ratio",
        when(col("n_spans") > 0,
          col("n_boiler").cast("double") / col("n_spans").cast("double")))
  }

  /** Variable-length exact-substring duplicate extents — the ExactSubstr
    * operator of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (arXiv:2107.06499 §4.1): for every document, the
    * MAXIMAL token intervals covered by some substring of at least
    * `minTokens` tokens that occurs at least `minCount` times in the
    * corpus. The reference implementation builds a suffix array over the
    * concatenated corpus — inherently sequential; the equivalent
    * distributed characterization used here: a position is duplicated iff
    * some `minTokens`-gram containing it occurs elsewhere, and the union
    * of duplicated fixed-length grams IS the union of all duplicated
    * substrings of length >= `minTokens` (every maximal repeat of length
    * M >= L covers exactly its M-L+1 L-grams, each itself duplicated; and
    * any duplicated L-gram lies inside some maximal repeat). Merging
    * overlapping-or-adjacent covered grams therefore yields the exact
    * variable-length extents — a 73-token repeat comes out as ONE 73-token
    * span, not 69 fixed spans.
    *
    * With `distinctDocs = true` the duplication test counts DISTINCT
    * containing documents instead of total occurrences — the boilerplate
    * convention ([[boilerplateRatio]]); the default counts occurrences, so
    * within-document repeats dedup too (the Lee et al. convention).
    *
    * Shape at scale: positional grams (codegen `ShingleList`, one explode)
    * → gram-key count with map-side combine → semi-join back (both
    * shuffles carry 16-hex md5 prefixes, never raw span text) → per-doc
    * window merge. Inverted-index shaped end to end — the only per-doc
    * state is the covered-gram list, bounded by document length, and
    * nothing is ever pairwise in the corpus.
    *
    * @return (idCol, start_pos, end_pos, span_tokens) — 0-based inclusive
    *         token positions, one row per maximal duplicated extent
    */
  def exactSubstrSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      minCount: Int = 2,
      distinctDocs: Boolean = false): DataFrame = {
    require(minTokens > 0 && minCount >= 2,
      s"need positive gram size and minCount >= 2: minTokens=$minTokens minCount=$minCount")
    def grams = docs
      .select(col(idCol),
        posexplode(TextFns.shingleList(TextFns.tokens(col(textCol)), minTokens))
          .as(Seq("pos", "__g")))
      .select(col(idCol), col("pos"), substring(md5(col("__g")), 1, 16).as("__gk"))
    val occurrences =
      if (distinctDocs) countDistinct(col(idCol)) else count(lit(1))
    val dup = grams
      .groupBy(col("__gk"))
      .agg(occurrences.as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("__gk"))
    val covered = grams.join(dup, Seq("__gk"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    // two covered grams at positions p < q belong to one extent iff their
    // token intervals [p, p+L-1], [q, q+L-1] overlap or touch: q - p <= L
    val brk = when(col("pos") - lag(col("pos"), 1).over(w) <= minTokens, lit(0))
      .otherwise(lit(1)) // first row: lag is null -> null condition -> 1
    covered
      .withColumn("__brk", brk)
      .withColumn("__grp", sum(col("__brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) + lit(minTokens - 1)).as("end_pos"))
      .select(col(idCol),
        col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos") + 1).as("span_tokens"))
  }

  /** Remove span-covered tokens from documents — the REWRITE half of
    * exact-substring / boilerplate dedup (detection alone is analysis;
    * pipelines ship the cleaned text). `spans` is any (idCol, start_pos,
    * end_pos) frame of 0-based inclusive token intervals — the output of
    * [[exactSubstrSpans]] or any detector sharing its contract. The
    * cleaned text is the surviving tokens joined by single spaces
    * (tokenization already normalized whitespace upstream).
    *
    * Shape at scale: intervals explode to covered positions (bounded by
    * document length, already deduplicated by the merged extents), one
    * anti-join at (doc, pos) grain, and a per-doc ordered reassembly
    * (sort_array over collected (pos, token) structs — group-local, no
    * global sort, no collect).
    *
    * @return (idCol, clean_text, n_kept, n_removed) — one row per input
    *         document, including documents with nothing removed
    */
  def stripSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spans: DataFrame): DataFrame = {
    val coveredPos = spans
      .select(col(idCol), explode(sequence(col("start_pos"), col("end_pos"))).as("pos"))
    val kept = docs
      .select(col(idCol),
        posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "__tok")))
      .join(coveredPos, Seq(idCol, "pos"), "left_anti")
    val reassembled = kept
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos").as("p"), col("__tok").as("t")))),
            x => x.getField("t")),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs
      .select(col(idCol),
        size(TextFns.tokens(col(textCol))).cast("long").as("__n_tokens"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** [[exactSubstrSpans]] + [[stripSpans]] composed: the end-to-end Lee et
    * al. ExactSubstr dedup — every token covered by a >= `minTokens`-token
    * substring occurring >= `minCount` times in the corpus is dropped.
    */
  def exactSubstrStrip(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int,
      minCount: Int = 2): DataFrame =
    stripSpans(docs, idCol, textCol,
      exactSubstrSpans(docs, idCol, textCol, minTokens, minCount))

  /** DSIR-style data selection via hashed-n-gram importance weights (Xie
    * et al. 2302.03169, "Data Selection for Language Models via Importance
    * Resampling"): fit bag-of-hashed-bigram models on a TARGET domain
    * sample and on the RAW corpus, score every raw document by how much
    * more target-like than raw-like its features are, and keep the top-k.
    *
    * Deliberate deviations, both documented for the oracle's sake (the
    * same rationale as the log-free TF-IDF):
    * - the paper's importance weight is a log-likelihood ratio SUM
    *   (a geometric mean); libm `log` is not bit-portable across engines,
    *   so the score here is the ARITHMETIC mean of the per-occurrence
    *   smoothed likelihood ratios ((ct+1)/(Tt+B)) / ((cr+1)/(Tr+B)) —
    *   same add-one smoothing, same target-vs-raw contrast, same features;
    *   every term is one division of two exact BIGINT products and the
    *   per-doc sum is the order-deterministic [[graft.functions.VectorExprs
    *   .orderedSum]] fold, so the doubles replay bit-for-bit.
    * - the paper samples Gumbel-top-k; this takes the deterministic
    *   zero-temperature limit (rank by score, ties by id) — reproducible
    *   and hash-verifiable.
    *
    * Integer-exactness contract: per-term numerator tf*(ct+1)*(Tr+B) must
    * stay below 2^53 — holds to ~petascale corpora (tf and ct are n-gram
    * counts; revisit only if single documents repeat one bucket millions
    * of times).
    *
    * Documents with fewer than 2 tokens have no bigram features and are
    * not selectable (the paper's featurization has the same property).
    *
    * Shape at scale: bigrams shuffle once into (doc, bucket) counts with
    * map-side combine; both models are <= `dims`-row aggregates BROADCAST
    * onto the corpus-grain frame; totals are in-plan 1-row broadcasts
    * (never collected); top-k is TakeOrderedAndProject.
    */
  def dsirSelect(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      dims: Int = 1024,
      k: Int = 100): DataFrame = {
    require(dims > 0 && k > 0, s"need positive dims/k: dims=$dims k=$k")
    def bucketed(df: DataFrame, withId: Boolean): DataFrame = {
      val cols = if (withId) Seq(col(idCol)) else Seq.empty
      df.select(cols :+ explode(
          TextFns.shingleList(TextFns.tokens(col(textCol)), 2)).as("__g"): _*)
        .withColumn("bucket",
          pmod(conv(substring(md5(col("__g")), 1, 8), 16, 10).cast("long"),
            lit(dims.toLong)))
    }
    val tf = bucketed(raw, withId = true)
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("tf"))
    val cr = tf.groupBy(col("bucket")).agg(sum(col("tf")).as("cr"))
    val ct = bucketed(target, withId = false)
      .groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val ttb = ct.agg((coalesce(sum(col("ct")), lit(0L)) + dims.toLong).as("__ttb"))
    val trb = cr.agg((coalesce(sum(col("cr")), lit(0L)) + dims.toLong).as("__trb"))
    val terms = tf
      .join(broadcast(ct), Seq("bucket"), "left")
      .join(broadcast(cr), Seq("bucket"))
      .crossJoin(broadcast(ttb))
      .crossJoin(broadcast(trb))
      .select(col(idCol), col("tf"),
        ((col("tf") * (coalesce(col("ct"), lit(0L)) + 1L) * col("__trb")).cast("double") /
          ((col("cr") + 1L) * col("__ttb")).cast("double")).as("__term"))
    terms
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_feats"),
        graft.functions.VectorExprs.orderedSum(collect_list(col("__term"))).as("__ssum"))
      .select(col(idCol), col("n_feats"),
        (col("__ssum") / col("n_feats").cast("double")).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col(idCol))
      .limit(k)
  }

  /** CCNet-style cross-document paragraph deduplication (Wenzek et al.
    * 2019, "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data" §3.1): split each document into paragraphs, hash each
    * paragraph, and keep only the globally FIRST occurrence of every
    * distinct paragraph — ordering by (doc id, paragraph index), the
    * deterministic stand-in for CCNet's shard order. Web boilerplate
    * (shared footers, cookie banners, navigation) collapses to one copy;
    * later documents keep their unique content with duplicated paragraphs
    * removed. Differs from [[boilerplateStrip]] (which drops EVERY
    * occurrence of a frequent span, first included) and from token-grain
    * [[exactSubstrStrip]]: the unit here is the whole delimiter-bounded
    * paragraph, and one canonical copy survives.
    *
    * Shape at scale: paragraphs shuffle once into an md5-grain
    * first-occurrence AGGREGATE (map-side combine; never a window
    * partitioned by hash — a mega-duplicated footer would funnel one
    * partition), joined back at paragraph grain; reassembly is a bounded
    * per-doc sort over the doc's own paragraphs.
    *
    * @param sepRegex paragraph delimiter regex (default: newline runs)
    * @return (idCol, clean_text — kept paragraphs joined by a single
    *         newline, n_paras_kept, n_paras_dropped)
    */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sepRegex: String = "\\n+"): DataFrame = {
    val paras = docs
      .select(col(idCol),
        posexplode(
          filter(transform(split(col(textCol), sepRegex), p => trim(p)),
            p => length(p) > 0)).as(Seq("para_idx", "__para")))
      .withColumn("__h", md5(col("__para")))
    val first = paras
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol).as("d"), col("para_idx").as("p"))).as("__first"))
    val kept = paras
      .join(first, Seq("__h"))
      .filter(col("__first.d") === col(idCol) && col("__first.p") === col("para_idx"))
    val reassembled = kept
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("para_idx").as("p"), col("__para").as("t")))),
            x => x.getField("t")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_paras_kept"))
    val totals = paras.groupBy(col(idCol)).agg(count(lit(1)).as("__n_paras"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_paras_kept"), lit(0L)).as("n_paras_kept"),
        (coalesce(col("__n_paras"), lit(0L)) -
          coalesce(col("n_paras_kept"), lit(0L))).as("n_paras_dropped"))
  }

  /** [[stripSpans]] over boilerplate extents: tokens covered by a
    * `spanTokens`-token span occurring in >= `minDocs` DISTINCT documents
    * are dropped — the rewrite [[boilerplateRatio]] only measures.
    */
  def boilerplateStrip(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int,
      minDocs: Int): DataFrame =
    stripSpans(docs, idCol, textCol,
      exactSubstrSpans(docs, idCol, textCol, spanTokens, minDocs, distinctDocs = true))

  /** C4-style line/document quality filter (Raffel et al. 1910.10683 §2.2;
    * the reference's sanitize step `a1_2_news_data_scrapper.py:25-44` is the
    * seed this generalizes). Line rules — a line survives iff it
    *   (1) ends in terminal punctuation (`.` `!` `?` `"`),
    *   (2) carries at least `minWordsPerLine` whitespace words, and
    *   (3) does not mention "javascript" (case-insensitive);
    * document rules — `keep` is true iff
    *   (4) at least `minLinesPerDoc` lines survive,
    *   (5) the full text contains no "lorem ipsum", no `{`, and
    *   (6) no blocklist term (case-insensitive substring).
    *
    * Entirely per-row — one pass of codegen HOFs (split → trim-filter →
    * predicate filter → join), zero shuffles, so at 100 TB this is the
    * cheap map stage it must be: throughput is parquet-scan-bound and
    * every rule is a whole-stage-codegen string predicate. The cleaned
    * text of dropped documents is still emitted (callers filter on
    * `keep`); C4 drops the page, CCNet keeps it for later stages — both
    * compose from this one output.
    */
  def c4Filter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blocklist: Seq[String] = Seq.empty,
      minWordsPerLine: Int = 5,
      minLinesPerDoc: Int = 3): DataFrame = {
    require(minWordsPerLine > 0 && minLinesPerDoc > 0,
      s"need positive thresholds: $minWordsPerLine / $minLinesPerDoc")
    val lines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)), l => length(l) > 0)
    def lineKeep(l: Column): Column =
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(TextFns.tokens(l)) >= minWordsPerLine &&
        !contains(lower(l), lit("javascript"))
    val keptLines = filter(lines, lineKeep _)
    val blocked = blocklist.foldLeft(lit(false))(
      (acc, w) => acc || contains(lower(col(textCol)), lit(w.toLowerCase)))
    docs.select(
      col(idCol),
      array_join(keptLines, "\n").as("clean_text"),
      size(lines).cast("long").as("n_lines"),
      size(keptLines).cast("long").as("n_lines_kept"),
      (size(keptLines) >= minLinesPerDoc &&
        !contains(lower(col(textCol)), lit("lorem ipsum")) &&
        !contains(col(textCol), lit("{")) &&
        !blocked).as("keep"))
  }

  /** Tracking query parameters dropped by [[urlCanonicalize]] — the
    * RE2-compatible prefix set every crawl pipeline strips (the regex also
    * runs verbatim in the DuckDB oracle).
    */
  val TrackingParamRegex = "^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref|ref_src)="

  /** Crawl-URL canonicalization — the ingest-side normalization a C4/CCNet
    * crawl pipeline runs before URL-level dedup (the reference's scrapers
    * key articles by raw link, `a1_2_news_data_scrapper.py:25-44`; at crawl
    * scale the same page arrives under case-, port-, fragment- and
    * tracking-param-variant URLs and raw keys under-merge).
    *
    * Rules, in order: lowercase scheme and host, strip userinfo, strip the
    * scheme's default port (`:80` http / `:443` https — a nonstandard port
    * is identity and survives), strip a leading `www.`, drop the fragment,
    * drop tracking params ([[TrackingParamRegex]]), sort surviving params
    * (order is not identity), strip trailing slashes. Path case and
    * nonstandard ports are preserved — they ARE identity. `domain` is the
    * last two host labels (a public-suffix list is a lookup-table join a
    * deployment adds; the column contract is the same).
    *
    * Pure per-row regexp/HOF work — map-only, zero shuffles, every rule in
    * whole-stage codegen; at 100 TB this runs at parquet-scan throughput.
    */
  /** The scheme / normalized host (nonstandard port kept) / scheme-relative
    * rest of a raw URL column — the shared front of the canonicalization
    * rule chain, factored so [[linkGraph]] keys link targets by the exact
    * same host normalization [[urlCanonicalize]] applies.
    */
  private def urlParts(u: Column): (Column, Column, Column) = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val rest = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val noUser = regexp_replace(hostport, "^[^@]*@", "")
    val noPort = when(scheme === "http", regexp_replace(noUser, ":80$", ""))
      .when(scheme === "https", regexp_replace(noUser, ":443$", ""))
      .otherwise(noUser)
    (scheme, regexp_replace(noPort, "^www\\.", ""), rest)
  }

  /** The port-free normalized hostname of a raw URL column — the node key
    * of [[linkGraph]] (graph identity is the host; a nonstandard port is
    * page identity, not site identity).
    */
  private def urlHost(u: Column): Column = {
    val (_, host, _) = urlParts(trim(u))
    regexp_extract(host, "^([^:]*)", 1)
  }

  def urlCanonicalize(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val u = trim(col(urlCol))
    val (scheme, host, rest) = urlParts(u)
    val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val params = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRegex)))
    val bareHost = regexp_extract(host, "^([^:]*)", 1)
    df.select(
      col(idCol), col(urlCol),
      concat(scheme, lit("://"), host, path,
        when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
          .otherwise(lit(""))).as("canon_url"),
      when(contains(bareHost, lit(".")),
        regexp_extract(bareHost, "([^.]+\\.[^.]+)$", 1))
        .otherwise(bareHost).as("domain"),
      path.as("path"))
  }

  /** HTML main-content extraction — the boilerpipe/jusText-style front end
    * of web curation (strip scripts, split into tag-delimited blocks,
    * drop navigation by LINK DENSITY, reassemble the article text). The
    * reference's scraper does the bs4 equivalent per article
    * (`a1_2_news_data_scrapper.py:25-44`); this is the corpus-scale form.
    *
    * Pipeline, all per-row (map-only, whole-stage codegen, RE2-compatible
    * regexes so the DuckDB oracle replays them verbatim):
    *   1. remove `<script>`/`<style>` elements and HTML comments;
    *   2. split on block-level tags (`p div h1-h6 li br nav header
    *      footer`);
    *   3. per block: tag-stripped text, word count, and the word count of
    *      `<a>` anchor contents — a block survives iff it has at least
    *      `minWordsPerBlock` words and link_words <= maxLinkDensity *
    *      words (jusText's nav heuristic: menus are all links);
    *   4. surviving block texts rejoin as `clean_text`.
    *
    * This is a heuristic segmenter, not an HTML parser — malformed nesting
    * degrades to over-splitting (blocks just get smaller), never to
    * failure.
    */
  def htmlExtract(
      docs: DataFrame,
      idCol: String,
      htmlCol: String,
      minWordsPerBlock: Int = 3,
      maxLinkDensity: Double = 0.5): DataFrame = {
    require(minWordsPerBlock > 0 && maxLinkDensity >= 0,
      s"bad thresholds: $minWordsPerBlock / $maxLinkDensity")
    val noScript = regexp_replace(regexp_replace(regexp_replace(col(htmlCol),
      "(?is)<script[^>]*>.*?</script>", ""),
      "(?is)<style[^>]*>.*?</style>", ""),
      "(?s)<!--.*?-->", "")
    def stripTags(c: Column): Column =
      trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))
    val analyzed = transform(
      split(noScript, "(?i)</?(p|div|h[1-6]|li|br|nav|header|footer)[^>]*>"),
      b => struct(
        stripTags(b).as("btext"),
        stripTags(array_join(
          regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)), " ")).as("atext")))
    val nonEmpty = filter(analyzed, s => length(s.getField("btext")) > 0)
    val kept = filter(nonEmpty, s =>
      size(TextFns.tokens(s.getField("btext"))) >= minWordsPerBlock &&
        size(TextFns.tokens(s.getField("atext"))).cast("double") <=
          lit(maxLinkDensity) * size(TextFns.tokens(s.getField("btext"))))
    docs.select(
      col(idCol),
      array_join(transform(kept, s => s.getField("btext")), "\n").as("clean_text"),
      size(nonEmpty).cast("long").as("n_blocks"),
      size(kept).cast("long").as("n_blocks_kept"))
  }

  /** Deterministic training-order shuffle with shard assignment — the
    * "global shuffle" step between curation and sequence packing. Order is
    * keyed by `md5(salt:id)`: reproducible across runs AND engines (no
    * engine RNG), re-saltable per epoch, and uniform. `shard` is the write
    * parallelism (hash mod `nShards`); `pos` is the rank of the full hex
    * key within the shard.
    *
    * Scale shape: ONE shuffle on the shard key + a sort within each shard
    * — exactly Spark's repartition-then-sort-within-partitions write path.
    * Locally nShards is small; at 100 TB it is thousands (one shard ≈ one
    * output file), which keeps the per-shard sort in-memory and the window
    * unskewed. A global `orderBy(order_key)` (range partition) gives a
    * total order instead if consumers need one stream.
    */
  def corpusShuffle(df: DataFrame, idCol: String, salt: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"need positive shard count: $nShards")
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat(lit(salt + ":"), col(idCol).cast("string")))
    val shard = pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(nShards.toLong))
    df.select(col(idCol), h.as("order_key"), shard.as("shard"))
      .withColumn("pos",
        (row_number().over(Window.partitionBy(col("shard")).orderBy(col("order_key")))
          - 1).cast("long"))
      .select(col(idCol), col("shard"), col("pos"), col("order_key"))
  }

  /** URL-level crawl dedup over [[urlCanonicalize]]: canonical-URL grain,
    * earliest id survives (crawl order = fetch priority), duplicate count
    * kept for the crawl-frontier report. ONE shuffle on the canonical key
    * with map-side combine — at 100 TB this is the standard pre-fetch
    * frontier compaction.
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    urlCanonicalize(df, idCol, urlCol)
      .groupBy(col("canon_url"))
      .agg(
        min(col(idCol)).as("keep_" + idCol),
        count(lit(1)).as("n_urls"),
        min(col("domain")).as("domain"))

  /** Hyperlink-graph extraction — the web-graph construction step between
    * [[htmlExtract]] and crawl prioritization: pull `<a href>` targets out
    * of each page, normalize both endpoints with the [[urlCanonicalize]]
    * host chain, and aggregate to a weighted host-level edge list. Feeding
    * the result to [[PageRank.run]] yields the CommonCrawl-style domain
    * rank that weights sources in curation pipelines.
    *
    * Only absolute http(s) targets count (relative links stay within the
    * source host and carry no cross-site signal; mailto/javascript schemes
    * are noise). Self-links survive — intra-site link mass is a real
    * crawl-priority feature; callers drop `src_host = dst_host` rows if
    * not.
    *
    * Shape at scale: per-row regex extraction (RE2-compatible, replayed
    * verbatim by the oracle) + a link-grain explode + ONE shuffle with
    * map-side combine on (src_host, dst_host) — host-pair cardinality is
    * tiny next to link cardinality, so the combine absorbs almost
    * everything before the exchange.
    */
  def linkGraph(
      docs: DataFrame,
      idCol: String,
      htmlCol: String,
      urlCol: String): DataFrame = {
    val hrefs = regexp_extract_all(
      col(htmlCol), lit("(?is)<a[^>]*href=\"([^\"]*)\""), lit(1))
    docs
      .select(urlHost(col(urlCol)).as("src_host"), explode(hrefs).as("__href"))
      .filter(col("__href").rlike("(?i)^https?://"))
      .select(col("src_host"), urlHost(col("__href")).as("dst_host"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))
  }
}
