package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.IntersectCardSorted

/** Exact set-similarity self-join (token-set Jaccard ≥ θ) with AllPairs /
  * PPJoin-style prefix filtering — the third, *exact* member of the
  * near-dup family next to the probabilistic MinHash-LSH and SimHash paths
  * (reference dedups its news scrape by exact URL key only,
  * `models/warehouse/hubs/ephemeral_news.sql:17-25`; content-level
  * similarity joins are part of the LLM-curation surface).
  *
  * Algorithm (Bayardo/Ma/Srikant "Scaling Up All Pairs Similarity Search",
  * WWW'07 — public literature): order every token set by a global total
  * order (rarest document-frequency first), keep only each set's *prefix*
  * of length |x| − ⌈θ·|x|⌉ + 1, and generate candidates from an inverted
  * index over prefix tokens only. Any pair with Jaccard ≥ θ must share at
  * least one prefix token under a common total order, so the filter has no
  * false negatives; candidates are then verified with the exact
  * intersection cardinality. The O(n²) all-pairs never materializes — work
  * is proportional to the inverted-index bucket sizes of *rare* tokens.
  *
  * Design for 100 TB:
  *   - token-set signatures are one shuffle (groupBy id after the
  *     dictionary join); the rank dictionary is vocabulary-sized, orders of
  *     magnitude smaller than the corpus, and broadcast by AQE;
  *   - candidate generation touches prefix tokens only (a θ=0.9 set of 25
  *     tokens exposes 3, not 25) and the verify step is the codegen'd
  *     merge-walk `IntersectCardSorted` — allocation-free per pair;
  *   - the signature frame is persisted and read by both the candidate
  *     join and the verify joins. They carry no broadcast hint: AQE
  *     broadcasts the signature side from its measured size while it
  *     fits, and keeps shuffled joins beyond that instead of failing on
  *     the executor broadcast limit — so building the frame runs no job.
  *     The shuffled form is safe here, unlike the ngram/simhash block
  *     keys (BUILDER_NOTES): candidate generation joins on *prefix*
  *     tokens, which the rarest-first total order makes low-df by
  *     construction, and the verify joins shuffle on uniformly
  *     distributed doc ids — no hot-key degeneracy on either.
  *   - the rank dictionary uses a global row_number over the vocabulary —
  *     fine to ~1e8 vocab; beyond that any total order works for
  *     correctness (e.g. df·2³² | hash(token) after a collision audit),
  *     rarity-correlation only affects selectivity.
  */
object SetSimJoin {

  /** Distinct non-empty whitespace tokens of `textCol`, keyed by `idCol`. */
  def tokenSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      array_distinct(filter(split(col(textCol), " "), x => x =!= "")).as("toks"))

  /** All pairs (id_a < id_b) with Jaccard(tokens_a, tokens_b) ≥ thetaPct/100,
    * with exact intersection / union sizes. Integer cross-multiplication for
    * the threshold test — no floating-point enters the predicate.
    */
  def jaccardJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      thetaPct: Int): DataFrame = {
    require(thetaPct > 0 && thetaPct <= 100, s"thetaPct must be in (0,100]: $thetaPct")

    val toks = tokenSets(docs, idCol, textCol)
    val exploded = toks.select(col("id"), explode(col("toks")).as("tok"))

    // Global total order over the vocabulary: rarest df first, ties lexical.
    // row_number (not rank) so the order key is bijective — signature
    // intersection cardinality must equal token-set intersection exactly.
    val dict = exploded.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("r", row_number().over(Window.orderBy(col("df"), col("tok"))).cast("long"))

    val sigs = Materialize.cache(exploded.join(dict, "tok")
      .groupBy("id").agg(sort_array(collect_list(col("r"))).as("sig"))
      .withColumn("n", size(col("sig"))))

    // prefix length |x| - ceil(theta*|x|) + 1, in exact integer arithmetic
    val ceilTheta = floor((lit(thetaPct) * col("n") + lit(99)) / lit(100)).cast("int")
    val prefixes = sigs.select(col("id"),
      explode(slice(col("sig"), lit(1), col("n") - ceilTheta + 1)).as("r"))

    val cands = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.r") === col("b.r") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    cands
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"), col("n").as("n_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"), col("n").as("n_b")), "id_b")
      .withColumn("inter", IntersectCardSorted(col("sig_a"), col("sig_b")))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * lit(100) >= lit(thetaPct) * col("uni"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
  }
}
