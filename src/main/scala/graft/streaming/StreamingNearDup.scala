package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Materialize
import graft.functions.TextFns
import graft.operators.TextDedup

/** Streaming near-duplicate detection: each micro-batch of incoming
  * documents is checked against a pre-indexed corpus — the "dedup the
  * crawl increment against the data lake" shape every continuously-fed
  * training pipeline needs. The corpus is NEVER recomputed per batch: its
  * banded MinHash signatures and hashed shingle sets are built once
  * (`buildIndex`, pinned), and a batch only computes signatures for its
  * own rows, probes the bucket index, and exact-verifies the candidates.
  *
  * Scale shape: per batch the work is O(batch) signature computation + one
  * join keyed on (band, band_hash) against the index + verify joins on the
  * candidate ids only. At 100 TB of corpus the banded index is ~bands
  * small rows per doc (the shuffle/bucket machinery of `TextDedup`
  * applies); the batch side is tiny and broadcast into the probes. The
  * threshold/banding trade-offs (and the exactness of the verify) are the
  * LSH contracts spec'd in `LshRecallSpec` — this operator only changes
  * WHEN work happens (incrementally), not WHAT is computed.
  */
object StreamingNearDup {

  /** Immutable corpus-side index: banded signatures + hashed shingle sets (`__sb`). */
  final case class Index(
      banded: DataFrame,
      sets: DataFrame,
      shingleWords: Int,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double,
      family: TextDedup.HashFamily = TextDedup.Xx64)

  /** Build (and materialize) the corpus index once: both frames are
    * pinned and belong to the scope open at the call. `family` follows
    * `TextDedup`: Xx64 is the cheap scale path; HexMd5 makes the banding
    * SQL-replayable (the oracle gate runs `q_stream_neardup_batch` on it).
    */
  def buildIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.7,
      family: TextDedup.HashFamily = TextDedup.Xx64): Index = {
    val toks = TextFns.tokens(col(textCol))
    val sh = TextFns.wordShingles(toks, shingleWords)
    // pay the corpus pass once, up front
    val banded = Materialize.pin(TextDedup
      .bandedSignatures(corpus, idCol, sh, bands, rowsPerBand, family)
      .withColumnRenamed(idCol, "corpus_id"))
    val sets = Materialize.pin(TextDedup
      .hashedNgramSets(corpus, idCol, Seq(), toks, shingleWords)
      .select(col(idCol).as("corpus_id"), col("__set").as("__sb")))
    Index(banded, sets, shingleWords, bands, rowsPerBand, threshold, family)
  }

  /** Near-dup pairs of one batch against the index: (doc_id, corpus_id,
    * jaccard) with jaccard >= threshold. Pure batch function — the
    * streaming sink calls it per micro-batch; batch callers can use it for
    * backfills.
    */
  def matchBatch(batch: DataFrame, idCol: String, textCol: String, index: Index): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val sh = TextFns.wordShingles(toks, index.shingleWords)
    val banded = TextDedup
      .bandedSignatures(batch, idCol, sh, index.bands, index.rowsPerBand, index.family)
    val cands = broadcast(banded)
      .join(index.banded, Seq("band", "band_hash"))
      .select(col(idCol), col("corpus_id"))
      .distinct()
    val batchSets = TextDedup
      .hashedNgramSets(batch, idCol, Seq(), toks, index.shingleWords)
      .select(col(idCol), col("__set").as("__sa"))
    TextDedup.verified(broadcast(cands), broadcast(batchSets), index.sets, index.threshold)
  }

  /** Attach the detector to a document stream; matches are appended
    * idempotently (keyed on the pair) so at-least-once redelivery cannot
    * duplicate a finding.
    */
  def start(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      index: Index,
      outPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IncrementalIngest.idempotentAppend(
          matchBatch(batch, idCol, textCol, index),
          outPath, keys = Seq(idCol, "corpus_id"))
      }
      .start()
}
