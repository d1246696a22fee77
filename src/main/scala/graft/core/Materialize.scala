package graft.core

import scala.collection.mutable.ListBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of stored data: every cache mark, eager checkpoint and
  * release in the engine goes through here, so each stored frame has one
  * place that frees it.
  *
  *   - [[pin]] materializes a frame now as a local checkpoint: the result
  *     of an operator, or a per-round frame of an iterative loop.
  *   - [[cache]] marks a frame for caching; the first action fills it.
  *   - [[release]] frees what a frame stores, cache entry or checkpoint.
  *   - [[scoped]] runs an operator body that caches intermediates, pins the
  *     body's result and frees everything the scope owns, also when the
  *     body throws.
  *
  * Storage level. `Dataset.localCheckpoint`'s default keeps the
  * materialized partitions as DESERIALIZED row objects (MEMORY_AND_DISK).
  * For the frames that matter at scale — the mirrored edge list of a
  * near-dup graph is ~2 rows per candidate pair, tens of millions of rows
  * at factor 100 and billions on a 100 TB corpus — the per-row object
  * overhead multiplies the footprint several-fold, and 32 concurrent tasks
  * unrolling deserialized partitions OOM'd a default-sized heap at factor
  * 100 (q_canonical_selection, stage 55: the CC edge checkpoint) while the
  * same run fits comfortably serialized. MEMORY_AND_DISK_SER stores each
  * partition as one compact serialized buffer: no per-row object headers,
  * cheap eviction to disk under pressure, and the deserialize-on-read CPU
  * is noise next to the joins these frames feed. The level is a
  * STORAGE-format knob only — results are bit-identical.
  */
object Materialize {

  /** The storage level of every pinned frame (see the object doc). */
  val Ser: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** Materialize `df` NOW as a local checkpoint at [[Ser]]. The returned
    * frame reads the stored rows and has no lineage behind them: once it is
    * released it cannot be recomputed, so release it only when every
    * reader is done.
    */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(true, Ser)

  /** Mark `df` for caching at the default level; lazy, the first action
    * over it fills the cache. Whoever marks it releases it.
    */
  def cache(df: DataFrame): DataFrame = df.persist()

  /** Free what `df` stores. A cached frame owns its CacheManager entry; an
    * uncached one owns the checkpoint blocks its plan is rooted on (a
    * [[pin]]ned frame, or a projection of one). `Dataset.unpersist` never
    * frees checkpoint blocks, so those are found by walking the frame's
    * RDD lineage down to the first stored RDD. The walk never frees a cache
    * it meets on the way: that cache has its own owner. Walking plans the
    * frame, and planning a frame with exchanges under AQE runs them, so
    * pass an uncached frame only when it is a pin or a projection of one.
    */
  def release(df: DataFrame, blocking: Boolean = true): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking)
    else checkpoints(df).foreach(_.unpersist(blocking))

  private def checkpoints(df: DataFrame): Seq[RDD[_]] = {
    def walk(r: RDD[_]): Seq[RDD[_]] =
      if (r.getStorageLevel == StorageLevel.NONE) r.dependencies.flatMap(d => walk(d.rdd))
      else if (r.isCheckpointed) Seq(r)
      else Seq.empty
    walk(df.queryExecution.toRdd).distinct
  }

  /** The frames one [[scoped]] body stores; all of them are released when
    * the scope closes.
    */
  final class Scope private[Materialize] {
    private[Materialize] val owned = ListBuffer.empty[DataFrame]

    /** Cache `df` for the scope's lifetime, unless it is already cached: a
      * frame the caller cached stays the caller's and survives the scope.
      */
    def cache(df: DataFrame): DataFrame =
      if (df.storageLevel != StorageLevel.NONE) df
      else own(Materialize.cache(df))

    /** Adopt a frame stored elsewhere, such as the pinned result of a
      * nested operator, so the scope frees it.
      */
    def own(df: DataFrame): DataFrame = { owned += df; df }
  }

  /** Run `body`, pin its result and release every frame the body's scope
    * cached or adopted — after the pin, so the result never reads freed
    * storage, and in a `finally`, so a failing body frees them too. The
    * releases do not block: nothing reads those frames again.
    */
  def scoped(body: Scope => DataFrame): DataFrame = {
    val scope = new Scope
    try pin(body(scope))
    finally scope.owned.foreach(release(_, blocking = false))
  }
}
