package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-scoped deduplication operators.
  *
  * Reproduces the reference's signature dedup shapes:
  *   - earliest-wins `row_number() over (partition by key order by ts asc)=1`
  *     (reference `models/warehouse/hubs/hub_customer.sql:16-32` — W1 in
  *     SURVEY §2.6), used by every hub/link;
  *   - latest-wins: the same `firstRows` with desc orderings
  *     (`models/marts/dim_company.sql:29-51` — W2).
  *
  * Scale notes: a single hash-partition shuffle on the keys; no sort of the
  * whole relation (window sort is per-partition). For heavily skewed keys the
  * caller can pre-salt, but dedup keys here are business keys with bounded
  * fan-in. When only the *key* (not the full first row) is needed, prefer
  * `groupBy(keys).agg(min(...))` which gets a map-side partial aggregate —
  * `firstRows` must keep whole rows, which row_number cannot partial-agg.
  */
object Dedup {

  /** First row per key by `order` (caller supplies a total order — include
    * a unique tiebreaker for determinism). Earliest-wins with ascending
    * orderings; latest-wins snapshot with descending ones.
    */
  def firstRows(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact content dedup for a corpus: group by a content fingerprint, keep
    * the minimum id as the canonical representative. One shuffle on the
    * fingerprint; partial aggregation applies map-side, so at 100 TB the
    * shuffle carries one row per distinct hash per map partition.
    */
  def exactDedupGroups(df: DataFrame, fingerprintCol: Column, idCol: Column): DataFrame =
    df.groupBy(fingerprintCol.as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))
}
