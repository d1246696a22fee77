package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.core.Materialize
import graft.functions.{CappedIdList, IdPairs, IntersectCardSorted, MinHashSignature, TextFns}

/** Near-duplicate detection for document corpora: MinHash + LSH banding,
  * SimHash fingerprints, and exact n-gram Jaccard verification.
  *
  * Design for 100 TB:
  *   - signatures, band hashes and the hashed n-gram sets verification
  *     intersects are per-row codegen kernels (`MinHashSignature`,
  *     `NgramHashSet`): the corpus front end is map-only, nothing shuffles
  *     before the bucket aggregate;
  *   - candidate generation is ONE keyed aggregate on (band, band_hash)
  *     over one pass of the banded frame — classic LSH banding, so only
  *     same-bucket docs ever meet and the all-pairs O(n²) never
  *     materializes; each bucket's ids are collected and its pairs are
  *     generated per row, with no self-join;
  *   - a per-bucket cap (`bucketCap`) guards against degenerate buckets
  *     (boilerplate text) producing quadratic blowup — over-cap buckets are
  *     dropped, the standard production trade-off. The aggregate's buffer
  *     holds at most `bucketCap` ids and keeps only a count past it, so a
  *     degenerate bucket crosses the shuffle as at most one bounded buffer
  *     per map partition, never as its rows;
  *   - exact-Jaccard verification joins shingle sets only for the candidate
  *     pairs (two hash joins on doc id).
  *
  * Two hash families:
  *   - `HexMd5` — one md5-derived 28-bit base per shingle permuted by exact
  *     linear-congruential hashes, band hashes as md5 hex strings;
  *     deliberately chosen so the DuckDB oracle can reproduce signatures and
  *     bands bit-for-bit;
  *   - `Xx64` — xxhash64 longs; cheaper, the scale path (no SQL oracle,
  *     property-tested instead).
  */
object TextDedup {

  sealed trait HashFamily
  case object HexMd5 extends HashFamily
  case object Xx64 extends HashFamily

  /** MinHash signature of a shingle array: element i is min over shingles
    * s of h_i(s), in the family's hash (see [[graft.functions.MinHashSignature]]
    * for both definitions). Null when there are no shingles. This is the
    * one MinHash definition: `bandedSignatures` bands exactly this array.
    */
  def minhashSignature(shingles: Column, numHashes: Int, family: HashFamily = Xx64): Column =
    Bridge.column(MinHashSignature(Bridge.expression(shingles), numHashes, family == HexMd5))

  /** Per-doc banded signature rows: (id, band, band_hash). `numHashes` must
    * be bands * rowsPerBand. Exploded representation feeds the bucketing.
    *
    * Map-only: the fused `minhashSignature` kernel computes the whole
    * signature per row, band b hashes its slice of positions
    * [b*rowsPerBand, (b+1)*rowsPerBand) as plain codegen expressions, and
    * one explode emits the band rows, so nothing shuffles before the
    * bucketing. A doc with no shingles emits no band rows. Band hash:
    * Xx64 `xxhash64(b, m...)`; HexMd5 `md5("b|m|...")` over the decimal
    * minima, SQL-replayable.
    */
  def bandedSignatures(
      docs: DataFrame,
      idCol: String,
      shingles: Column,
      bands: Int,
      rowsPerBand: Int,
      family: HashFamily = Xx64): DataFrame = {
    val sig = col("__sig")
    val bandHash = (b: Int) => {
      val members = (0 until rowsPerBand).map(r => sig.getItem(b * rowsPerBand + r))
      family match {
        case HexMd5 => md5(concat_ws("|", lit(b.toString) +: members: _*))
        case Xx64   => xxhash64(lit(b) +: members: _*)
      }
    }
    // two selects: the signature is computed once per row and every band
    // hash reads it (nothing inlines a projection into a generator)
    docs
      .select(col(idCol), minhashSignature(shingles, bands * rowsPerBand, family).as("__sig"))
      .select(col(idCol), explode(when(sig.isNotNull, array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandHash(b).as("band_hash"))): _*))).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.band_hash").as("band_hash"))
  }

  /** LSH candidate pairs (a_id < b_id), deduplicated across bands: every
    * pair of ids that share a bucket (band, band_hash) holding at most
    * `bucketCap` rows.
    *
    * One keyed aggregate over the banded frame, so the frame (and the
    * MinHash kernel under it) is computed once: the group-by on (band,
    * band_hash) collects each bucket's ids with [[graft.functions.CappedIdList]],
    * and a per-row generator ([[graft.functions.IdPairs]]) emits the pairs
    * of every bucket still under the cap — no census, no anti-join, no
    * self-join. Every banded row counts toward the cap, a null-id row
    * too, but only non-null ids pair; a bucket with a null key pairs
    * nothing (the equi-join semantics).
    *
    * At 100 TB: the aggregate is partial per map partition, and a
    * partition ships ONE buffer per bucket holding at most `bucketCap` ids,
    * or only a count once the bucket is over the cap. A degenerate bucket
    * (empty shingle, boilerplate band) of 10⁸–10⁹ rows therefore never
    * lands its rows on one reducer (a count WINDOW over the bucket would
    * funnel them all through one task), and no buffer anywhere grows past
    * the cap. The pairs of a bucket are bounded by bucketCap²/2.
    *
    * Ids must be integral: they travel as bigint and come back in the id
    * column's type.
    *
    * @throws IllegalArgumentException if the id column is not integral;
    *         the message names the column.
    */
  def candidatePairs(banded: DataFrame, idCol: String, bucketCap: Int = 1000): DataFrame = {
    val idType = ConnectedComponents.integralType(banded, idCol, "LSH candidates: id")
    banded
      .filter(col("band").isNotNull && col("band_hash").isNotNull)
      .groupBy(col("band"), col("band_hash"))
      .agg(CappedIdList(col(idCol), bucketCap).as("__ids"))
      .select(IdPairs(col("__ids")))
      .select(col("a").cast(idType).as("a_id"), col("b").cast(idType).as("b_id"))
      .distinct()
  }

  /** Hashed word-n-gram sets computed WITHOUT building shingle strings:
    * one per-row column ([[graft.functions.NgramHashSet]] — each gram's
    * token tuple hashed directly, sorted, deduplicated), so the set build
    * is map-only. Tokens contain no separator characters (whitespace
    * tokenization), so tuple identity == joined-string identity — the set
    * cardinalities match the string-shingle formulation exactly (modulo
    * 64-bit collisions). 8-byte sorted elements make intersection a merge
    * walk (`IntersectCardSorted`). Output: keys, `__set`, `__n` = |set|;
    * docs with an empty set (fewer than n tokens) are dropped. Keys must
    * be unique per row (every caller passes unique doc ids).
    */
  private[graft] def hashedNgramSets(
      docs: DataFrame,
      idCol: String,
      blockCols: Seq[String],
      tokensCol: Column,
      n: Int): DataFrame = {
    val keys = blockCols.map(col) :+ col(idCol)
    // empty sets are dropped by exploding a one-element array, not by a
    // Filter: a Filter on `__set` is pushed below the projection and would
    // build every set (and tokenize every doc) twice
    docs
      .select(keys :+ TextFns.ngramHashSet(tokensCol, n).as("__s"): _*)
      .select(keys :+ explode(when(size(col("__s")) > 0, array(col("__s")))).as("__set"): _*)
      .withColumn("__n", size(col("__set")))
  }

  /** Exact Jaccard from an |A∩B| column and the two set sizes: union by
    * inclusion-exclusion (sets are distinct, so |A∪B| = |A|+|B|-|A∩B|).
    * Takes the intersection as a pre-staged column so the merge walk runs
    * once per pair, not once per reference.
    */
  private[graft] def jaccardFromInter(inter: Column, na: Column, nb: Column): Column =
    inter.cast("double") / nullif(na + nb - inter, lit(0)).cast("double")

  /** Verify candidate pairs with exact Jaccard over distinct shingle sets;
    * keeps pairs with jaccard >= threshold.
    */
  def verifiedPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      tokensCol: Column,
      shingleWords: Int,
      threshold: Double): DataFrame = {
    val sets = hashedNgramSets(docs, idCol, Seq(), tokensCol, shingleWords)
    // The candidate pair list is broadcast against the set table twice, so
    // the docs are scanned and the per-row set kernel runs twice — two
    // map-only passes and no shuffle of the array-heavy set rows (the pair
    // list is bounded by the LSH bucket cap and broadcasts for free). At
    // persistent-pipeline scale, materialize `sets` once (it is the
    // signature table) and both joins become cheap probes.
    pairs
      .join(sets.select(col(idCol).as("a_id"), col("__set").as("__sa")), Seq("a_id"))
      .join(sets.select(col(idCol).as("b_id"), col("__set").as("__sb")), Seq("b_id"))
      .withColumn("__i", IntersectCardSorted(col("__sa"), col("__sb")))
      .withColumn("jaccard", jaccardFromInter(col("__i"), size(col("__sa")), size(col("__sb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Cross-corpus near-duplicate pairs — MinHash-LSH DECONTAMINATION: find
    * training documents that fuzzily duplicate evaluation documents (the
    * near-dup complement of the exact n-gram `Curation.contamination`;
    * paraphrased or lightly-edited leakage that exact gram containment
    * misses). Same banding/verify discipline as the self-join form, but the
    * band-bucket join runs LEFT x RIGHT across the two corpora — candidate
    * work is bounded by bucket caps per side and output by true cross-dup
    * mass, never |train| x |eval|. Downstream: `left_anti` the training
    * corpus on `a_id` to strip the flagged docs.
    *
    * Scale note: the eval side is typically tiny (benchmark suites) — its
    * capped banded frame broadcasts, so the training corpus is touched by
    * one map-side join plus the verify probes.
    *
    * Runs internally at FAMILY grain (the r9 lesson, applied engine-side):
    * every stage — shingles, minhash signature, band hashes, exact-Jaccard
    * verify — is a pure function of the text, so docs with identical text
    * on a side form a lossless family. Banding, the bucket cap (counted
    * member-WEIGHTED, sum of family sizes, so cap behavior is byte-identical
    * to the doc-grain formulation), candidate generation, and verification
    * all run once per distinct text per side; family pairs expand to doc
    * pairs at the end. On a duplicate-saturated corpus (replication factor
    * f) the doc-grain candidate set grows f²-quadratically — only the
    * OUTPUT is inherently f²-sized here, and expansion produces it from
    * base-bounded verify work.
    */
  def crossCorpusDupPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.7,
      family: HashFamily = Xx64,
      bucketCap: Int = 1000): DataFrame = {
    def bandedOf(df: DataFrame): DataFrame = {
      val toks = TextFns.tokens(col(textCol))
      bandedSignatures(df, idCol, TextFns.wordShingles(toks, shingleWords),
        bands, rowsPerBand, family)
    }
    // per-SIDE families (the same text may appear on both sides — its two
    // side-families then pair through banding + verify at jaccard 1.0,
    // exactly as the doc-grain pairs did). Member ids are NOT aggregated
    // into a per-family array (r18 shipped collect_list here; a mega-family
    // — boilerplate text repeated across a 100 TB corpus — would
    // concentrate every member id in ONE aggregation row and blow a single
    // task's memory, r18 ADVICE). Membership is recovered by an id-only
    // re-join keyed on md5(text) instead (see memL/memR below): keys and
    // ids cross the shuffle, never the text payload and never an unbounded
    // buffer (guide §2.3 — shuffle keys/metadata, not payloads).
    def famOf(df: DataFrame): DataFrame = df
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("__gid"), count(lit(1)).as("__m"))
    val famL = Materialize.cache(famOf(left))
    val famR = Materialize.cache(famOf(right))
    def repsOf(fam: DataFrame): DataFrame =
      fam.select(col("__gid").as(idCol), col(textCol))
    // the cap must drop a bucket when its DOC population (sum of member
    // counts), not its family count, exceeds bucketCap — the buckets
    // `candidatePairs`' cap drops on the doc-grain banded frame
    def cappedW(fam: DataFrame): DataFrame = {
      val banded = bandedOf(repsOf(fam))
        .join(fam.select(col("__gid").as(idCol), col("__m")), Seq(idCol))
      val over = banded
        .groupBy(col("band"), col("band_hash"))
        .agg(sum(col("__m")).as("__n"))
        .filter(col("__n") > bucketCap)
        .select(col("band"), col("band_hash"))
      banded.join(over, Seq("band", "band_hash"), "left_anti")
    }
    val cands = cappedW(famL)
      .select(col("band"), col("band_hash"), col(idCol).as("__ga"))
      .join(cappedW(famR)
        .select(col("band"), col("band_hash"), col(idCol).as("__gb")),
        Seq("band", "band_hash"))
      .select(col("__ga"), col("__gb"))
      .distinct()
    val aSets = hashedNgramSets(repsOf(famL), idCol, Seq(),
      TextFns.tokens(col(textCol)), shingleWords)
      .select(col(idCol).as("__ga"), col("__set").as("__sa"))
    val bSets = hashedNgramSets(repsOf(famR), idCol, Seq(),
      TextFns.tokens(col(textCol)), shingleWords)
      .select(col(idCol).as("__gb"), col("__set").as("__sb"))
    val famPairs = cands
      .join(aSets, Seq("__ga"))
      .join(bSets, Seq("__gb"))
      .withColumn("__i", IntersectCardSorted(col("__sa"), col("__sb")))
      .withColumn("jaccard", jaccardFromInter(col("__i"), size(col("__sa")), size(col("__sb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("__ga"), col("__gb"), col("jaccard"))
    // membership expansion: map each verified family pair back to doc ids
    // via a 128-bit text digest, NOT via the text payload (the pre-r18
    // shape re-shuffled every document's full text bytes) and NOT via a
    // per-family collect_list array (the r18 shape — unbounded single-row
    // buffer on a mega-family). The digest joins are exact for all
    // practical purposes (an md5 collision between two distinct corpus
    // texts is ~2^-64 at billions of docs — same standing as the xxhash64
    // shingle identity above); each doc contributes one (16-byte key, id)
    // row, so no task ever holds a family's membership in memory at once.
    val keyL = famL.select(col("__gid").as("__ga"), md5(col(textCol)).as("__tka"))
    val keyR = famR.select(col("__gid").as("__gb"), md5(col(textCol)).as("__tkb"))
    val memL = left.select(md5(col(textCol)).as("__tka"), col(idCol).as("a_id"))
    val memR = right.select(md5(col(textCol)).as("__tkb"), col(idCol).as("b_id"))
    famPairs
      .join(keyL, Seq("__ga"))
      .join(keyR, Seq("__gb"))
      .join(memL, Seq("__tka"))
      .join(memR, Seq("__tkb"))
      // guard against overlapping id spaces between the two corpora (or the
      // same frame passed twice): a doc must never flag itself as its own
      // contamination — the self-join form's a < b discipline, adapted
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** End-to-end MinHash-LSH near-dup pairs on a text column. */
  def minhashDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.7,
      family: HashFamily = Xx64): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val sh = TextFns.wordShingles(toks, shingleWords)
    val banded = bandedSignatures(docs, idCol, sh, bands, rowsPerBand, family)
    val cands = candidatePairs(banded, idCol)
    verifiedPairs(cands, docs, idCol, toks, shingleWords, threshold)
  }

  /** 32-bit SimHash over the token multiset, md5-bit-sampled so the oracle
    * can reproduce it. Bit j of a token's hash = bit (3 - j%4) of hex nibble
    * j/4 of md5(token) — equivalently bit (31-j) of the token's first 8 md5
    * hex digits read as a uint32, which is how it is computed here: ONE
    * md5+conv per token, then pure integer bit extraction (the per-bit
    * string slicing this replaces evaluated 32 string ops per token).
    * Fingerprint bit j is set iff the signed sum of (2*bit - 1) across
    * tokens is >= 0.
    *
    * Pure per-row expression fold (aggregate over the token array) — no
    * shuffle, no explode; at 100 TB this is a map-only stage.
    */
  def simhash32(tokensCol: Column): Column = {
    val zeros = array_repeat(lit(0), 32)
    // bit j (j=0..31) of the sample = (v >> (31-j)) & 1; the shift is done
    // as exact double division by 2^(31-j) (v < 2^32 keeps it exact).
    val divisors = typedLit((0 until 32).map(j => 1L << (31 - j)))
    val tokHashes = transform(tokensCol, tk => conv(md5(tk).substr(1, 8), 16, 10).cast("long"))
    val sums = aggregate(tokHashes, zeros, (acc: Column, v: Column) =>
      zip_with(acc, divisors, (a, p) =>
        (a + (pmod((v / p).cast("long"), lit(2)) * 2 - 1)).cast("int")))
    aggregate(
      zip_with(sums, typedLit((0 until 32).map(j => 1L << j)), (s, p) =>
        when(s >= 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two simhash fingerprints (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** DataFrame-level simhash: same bit math as `simhash32` but computed as
    * explode(tokens) -> one md5+conv per token row -> 32 signed-bit sums as
    * aggregation columns -> fingerprint reassembly. Everything stays inside
    * whole-stage codegen (the per-row array fold of `simhash32` evaluates
    * interpreted) and the aggregation gets map-side partial sums + exchange
    * reuse when the output feeds both sides of a self-join.
    * Docs with zero tokens are dropped (simhash32 would yield the
    * degenerate all-bits-set fingerprint for them).
    */
  def simhashFingerprints(
      docs: DataFrame,
      idCol: String,
      carryCols: Seq[String],
      tokensCol: Column): DataFrame = {
    val keys = (carryCols :+ idCol).map(col)
    val bitSum = (j: Int) =>
      sum(pmod((col("__v") / lit(1L << (31 - j))).cast("long"), lit(2)) * 2 - 1).as(s"__s$j")
    docs
      .select(keys :+ explode(tokensCol).as("__tk"): _*)
      .withColumn("__v", conv(md5(col("__tk")).substr(1, 8), 16, 10).cast("long"))
      .groupBy(keys: _*)
      .agg(bitSum(0), (1 until 32).map(bitSum): _*)
      .select(keys :+ (0 until 32).map(j =>
        when(col(s"__s$j") >= 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as("simhash"): _*)
  }

  /** Exact n-gram Jaccard over all pairs within a blocking key. The blocking
    * key bounds the quadratic term (e.g. language, length bucket, LSH band);
    * never call with a constant key at scale.
    *
    * Three pure (no-false-negative, no-false-positive) optimizations:
    *   - EXACT-DUPLICATE COLLAPSE: docs whose (block, shingle set) are
    *     identical form a family; the quadratic loop runs at DISTINCT-SET
    *     grain and family pairs expand back to doc pairs afterwards.
    *     Same-family pairs are jaccard = 1.0 by identity (n/n — the exact
    *     double the generic path computes), cross-family pairs share one
    *     verification per family pair. On a duplicate-saturated corpus
    *     (the 100 TB near-dup regime: replication factor f) this cuts the
    *     O(block²) set comparisons by f² — measured 435 s → seconds at
    *     f=10 on the factor-replicated sf0.1 corpus — while on a
    *     duplicate-free corpus it costs one extra |docs|-row window;
    *   - a size-ratio prefilter (jaccard >= t implies min(|A|,|B|) >=
    *     t*max(|A|,|B|)) rejects most pairs on two ints before any array
    *     work;
    *   - shingle sets travel as sorted 64-bit hashes and intersect via the
    *     codegen merge-walk `IntersectCardSorted` instead of per-pair hash
    *     sets over strings.
    */
  def blockedJaccardPairs(
      docs: DataFrame,
      idCol: String,
      blockCol: String,
      tokensCol: Column,
      shingleWords: Int,
      threshold: Double): DataFrame = {
    val sets = hashedNgramSets(docs, idCol, Seq(blockCol), tokensCol, shingleWords)
    // family id = min doc id among identical (block, set) rows; doc ids are
    // unique, so __gid uniquely names the family across blocks. Partition
    // sizes are family sizes (the replication factor), never a whole block.
    val wfam = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockCol), col("__set"))
    // cached: the family frame feeds the representative loop AND both
    // expansion joins off one materialization of the set build
    val mem = Materialize.cache(sets.withColumn("__gid", min(col(idCol)).over(wfam)))
    val memLite = mem.select(col("__gid"), col(idCol).as("__did"), col("__n"))
    // one representative row per family carries the set into the loop
    val reps = mem.filter(col(idCol) === col("__gid"))

    // same-family doc pairs: identical sets, jaccard exactly n/n = 1.0;
    // empty-set families excluded (the generic path's union=0 => null)
    val same = memLite.filter(col("__n") >= 1)
      .select(col("__gid"), col("__did").as("a_id"))
      .join(memLite.select(col("__gid"), col("__did").as("b_id")), Seq("__gid"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("jaccard"))

    val l = reps.select(col(blockCol).as("__blk"), col("__gid").as("__ga"),
      col("__set").as("__sa"), col("__n").as("__na"))
    val r = reps.select(col(blockCol).as("__blk2"), col("__gid").as("__gb"),
      col("__set").as("__sb"), col("__n").as("__nb"))
    // The ENTIRE pair predicate (ordering, size-ratio prefilter, exact
    // jaccard >= t) lives in the join condition: the hash join evaluates it
    // on the probe, so the ~O(block²) non-matching pairs are never
    // materialized as output rows — with multi-KB set arrays per row that
    // materialization, not the merge walks, dominated the runtime.
    val cond = col("__blk") === col("__blk2") &&
      col("__ga") < col("__gb") &&
      col("__na") >= col("__nb") * threshold && col("__nb") >= col("__na") * threshold &&
      jaccardFromInter(IntersectCardSorted(col("__sa"), col("__sb")),
        col("__na"), col("__nb")) >= threshold
    // broadcast build over the cached representatives, NOT a join shuffled
    // on the block key: with a handful of blocks, hash partitioning
    // degenerates to one task per block and the dominant block's
    // O(block²) predicate loop runs on a single core — the broadcast probe
    // keeps every cache partition working. (Bounded-block operator: the
    // build side is small by contract, see the header.)
    val famPairs = l.join(broadcast(r), cond)
      .select(col("__ga"), col("__gb"), jaccardFromInter(
        IntersectCardSorted(col("__sa"), col("__sb")), col("__na"), col("__nb")).as("jaccard"))
    // expand family pairs to doc pairs; family ids don't order like member
    // ids, so the canonical (a_id < b_id) orientation is re-derived
    val cross = famPairs
      .join(memLite.select(col("__gid").as("__ga"), col("__did").as("__ida")), Seq("__ga"))
      .join(memLite.select(col("__gid").as("__gb"), col("__did").as("__idb")), Seq("__gb"))
      .select(least(col("__ida"), col("__idb")).as("a_id"),
        greatest(col("__ida"), col("__idb")).as("b_id"), col("jaccard"))

    same.unionByName(cross)
  }
}
