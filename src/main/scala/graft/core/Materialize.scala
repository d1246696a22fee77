package graft.core

import scala.collection.mutable.ListBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of stored data: every cache mark, eager checkpoint and
  * release in the engine goes through here, and every stored frame belongs
  * to the scope that was open when it was stored.
  *
  *   - [[pin]] materializes a frame now as a local checkpoint: the input of
  *     an iterative loop, or one of its per-round frames.
  *   - [[cache]] marks a frame for caching; the first action fills it.
  *   - [[release]] frees what a frame stores, cache entry or checkpoint.
  *   - [[scoped]] runs one unit of work (a query's build plus its action)
  *     and frees everything stored inside it, also when the work throws.
  *
  * Ownership. `pin` and `cache` register the frame with the innermost
  * [[Owner]] open on the calling thread. Operators open none: the runner
  * opens one per line and a memo keeps one per entry, so what a query
  * stores lives exactly as long as the line that runs it, and what a memo
  * stores lives until the memo releases it. With no scope open the caller
  * owns what it gets and frees it with `release`. Work that stores frames
  * later or on another thread (a lazily built memo member, a driver thread
  * pool) takes the owner with it through [[current]].
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

  /** The frames stored under one scope, released together by `close`,
    * the latest first (a frame goes before the frames it was built from).
    * A cache entry is freed by unpersist alone, so a cache that someone
    * else already freed is never planned again.
    */
  final class Owner private[Materialize] () {
    private val frames = ListBuffer.empty[(DataFrame, Boolean)] // (frame, cached)

    /** Run `work` with this owner as the innermost scope on this thread. */
    def apply[A](work: => A): A = {
      open.set(this :: open.get)
      try work finally open.set(open.get.tail)
    }

    private[Materialize] def add(df: DataFrame, cached: Boolean): DataFrame = {
      if (this ne Caller) synchronized { frames += df -> cached }
      df
    }

    private[Materialize] def drop(df: DataFrame): Boolean = synchronized {
      val i = frames.indexWhere(_._1 eq df)
      if (i >= 0) frames.remove(i)
      i >= 0
    }

    def close(blocking: Boolean): Unit =
      synchronized { try frames.toList finally frames.clear() }.reverse.foreach {
        case (df, cached) => if (cached) df.unpersist(blocking) else free(df, blocking)
      }
  }

  /** The owners open on this thread, innermost first. */
  private val open = ThreadLocal.withInitial[List[Owner]](() => Nil)

  /** "No scope open": what is stored under it is the caller's to release. */
  private val Caller = new Owner

  /** The innermost scope open on this thread. Work that stores frames later
    * or on another thread runs inside it (`owner(work)`), so they belong
    * here and not to whichever scope is open then.
    */
  def current: Owner = open.get.headOption.getOrElse(Caller)

  /** A new scope that stays open across calls until `close`: a memo entry's. */
  def owner(): Owner = new Owner

  /** Run `work` inside a new scope and release everything stored in it in a
    * `finally`, so a failing `work` frees its frames too. The releases do
    * not block: nothing reads those frames again.
    */
  def scoped[A](work: => A): A = {
    val scope = owner()
    try scope(work) finally scope.close(blocking = false)
  }

  /** Materialize `df` NOW as a local checkpoint at [[Ser]], owned by the
    * current scope. The returned frame reads the stored rows and has no
    * lineage behind them: once it is released it cannot be recomputed, so
    * release it only when every reader is done.
    */
  def pin(df: DataFrame): DataFrame = current.add(df.localCheckpoint(true, Ser), cached = false)

  /** Mark `df` for caching at the default level, owned by the current
    * scope; lazy, the first action over it fills the cache. A frame that is
    * already cached is returned as it is and keeps its owner.
    */
  def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df else current.add(df.persist(), cached = true)

  /** Free what `df` stores, and drop it from the scope that owns it (an
    * iterative loop frees its dead per-round frames this way). A cached
    * frame owns its CacheManager entry; an uncached one owns the checkpoint
    * blocks its plan is rooted on (a [[pin]]ned frame, or a projection of
    * one). `Dataset.unpersist` never frees checkpoint blocks, so those are
    * found by walking the frame's RDD lineage down to the first stored RDD.
    * The walk never frees a cache it meets on the way: that cache has its
    * own owner. Walking plans the frame, and planning a frame with
    * exchanges under AQE runs them, so pass an uncached frame only when it
    * is a pin or a projection of one.
    */
  def release(df: DataFrame, blocking: Boolean = true): Unit = {
    open.get.find(_.drop(df))
    free(df, blocking)
  }

  private def free(df: DataFrame, blocking: Boolean): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking)
    else checkpoints(df).foreach(_.unpersist(blocking))

  private def checkpoints(df: DataFrame): Seq[RDD[_]] = {
    def walk(r: RDD[_]): Seq[RDD[_]] =
      if (r.getStorageLevel == StorageLevel.NONE) r.dependencies.flatMap(d => walk(d.rdd))
      else if (r.isCheckpointed) Seq(r)
      else Seq.empty
    walk(df.queryExecution.toRdd).distinct
  }
}
