package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of materialized DataFrames, and the one scope
  * every graph kernel materializes through.
  *
  * `Dataset.unpersist()` consults only the CacheManager, which never saw
  * a checkpoint: `localCheckpoint` persists the UNDERLYING RDD (the
  * Dataset it returns is a plain scan over that RDD), so unpersist() on
  * the checkpointed frame is a silent no-op and the blocks linger until
  * the ContextCleaner happens to GC the RDD object. Fine for one-shot
  * queries; NOT fine for iterative kernels that checkpoint every
  * superstep (SSSP relaxation, Yen's K×hops spur searches), where
  * nondeterministic cleanup lets storage accumulate across iterations.
  *
  * release() reaches through the checkpoint scan's LogicalRDD leaf and
  * unpersists the RDD itself — immediate, targeted block removal. For
  * any other plan shape it falls back to Dataset.unpersist() (the
  * CacheManager path, correct for cache()/persist() frames).
  *
  * [[scoped]] is the loan pattern over both: inside
  * `Checkpoints.scoped { s => … }` a kernel makes every checkpoint,
  * cache and stats-clean checkpoint through `s`, names the frames that
  * stay live at each round boundary (`s.keep`), and writes no release
  * of its own. The contract:
  *  - `s.keep(live*)` frees every held frame not named, comparing by
  *    identity, so a frame that aliases another needs no guard;
  *  - a stats-clean checkpoint (`s.fresh`) is one frame: naming the view
  *    keeps its checkpoint, and freeing the view frees it;
  *  - when the scope closes, normally or by an exception, it frees every
  *    held frame the returned value does not read. The DataFrames of the
  *    returned value are the value itself, or the DataFrame fields of a
  *    returned case class, tuple or Option. A held frame they read stays
  *    live: `release(result)` frees it, directly when it is a checkpoint
  *    leaf of the result and through [[owns]] otherwise;
  *  - the scope runs no Spark job of its own: everything it frees or
  *    inspects is driver-side plan and block-manager bookkeeping.
  */
object Checkpoints {

  /** Internal materializations a query result depends on, keyed by the
    * result Dataset's identity. A query builder that caches a shared
    * intermediate (q60's basket table feeds five consumers) cannot
    * unpersist it before returning — the plan hasn't executed yet — so
    * it registers the cache here via [[owns]] and the harness's
    * post-execution release(result) frees it. Weak keys: if a caller
    * drops the result without releasing, the entry (not the blocks —
    * those fall to the ContextCleaner, the pre-registry status quo)
    * vanishes with it.
    */
  private val owned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Seq[() => Unit]]())

  private def ownsFree(result: DataFrame, free: Seq[() => Unit]): Unit =
    owned.merge(result, free, (a, b) => a ++ b)

  /** Register cached/checkpointed frames that back `result` so that
    * `release(result)` frees them once the result is materialized.
    * Returns `result` for expression-position use.
    */
  def owns(result: DataFrame, cached: DataFrame*): DataFrame = {
    ownsFree(result, cached.map(c => () => release(c)))
    result
  }

  /** Free the storage behind `df` now. Safe to call more than once.
    *
    * Walks the analyzed plan and unpersists EVERY checkpoint-scan leaf,
    * so it also works on frames *derived* from a checkpoint (the
    * distributed sssp/apsp results are projections over the kernel's
    * final state) — callers that are done with such a result can release
    * it. Only call when no other live frame shares the checkpoint.
    * Also frees any intermediates registered against `df` via [[owns]].
    */
  def release(df: DataFrame): Unit = {
    Option(owned.remove(df)).foreach(_.foreach(_()))
    val leaves = leafRdds(df)
    if (leaves.isEmpty) { df.unpersist(); () }
    else leaves.foreach(_.unpersist(blocking = false))
  }

  private def leafRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Run `body` with a fresh [[Scope]] and close it on the way out. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    val result =
      try body(s)
      catch { case t: Throwable => s.keep(); throw t }
    s.close(result)
    result
  }

  /** The materializations of one kernel run; see the object doc. */
  final class Scope private[Checkpoints] () {

    /** `frame` is what the kernel reads; `store` is what holds the
      * blocks (the checkpoint behind a stats-clean view, else `frame`).
      */
    private final class Held(val frame: DataFrame, val store: DataFrame,
        val free: () => Unit)

    private var held = Vector.empty[Held]

    private def hold(frame: DataFrame, store: DataFrame,
        free: () => Unit): DataFrame = {
      held :+= new Held(frame, store, free)
      frame
    }

    /** Eager `localCheckpoint` of `df`. */
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      hold(cp, cp, () => release(cp))
    }

    /** `df.cache()` (MEMORY_AND_DISK, lazy like cache() itself). */
    def cache(df: DataFrame): DataFrame =
      hold(df.cache(), df, () => { df.unpersist(); () })

    /** A stats-clean checkpoint of `df`: eager `localCheckpoint`, read
      * through a view whose leaf carries no origin statistics.
      *
      * Spark 4.x `localCheckpoint` carries the origin plan's ESTIMATED
      * `Statistics` into the LogicalRDD leaf instead of the materialized
      * size. In an iterative kernel whose per-round plan references the
      * state MULTIPLE times under joins (Louvain's sig/kin/base fan-out),
      * the propagated sizeInBytes therefore MULTIPLIES each round — its
      * bit length grows ×3+ per round (measured 34 → 117 → 281 → … →
      * 168 603 bits by round 12), and once it reaches megabits every
      * optimizer pass does Toom-Cook BigInteger multiplications: rounds
      * that compute in 0.5 s plan for minutes. (Kernels that reference
      * state once per round — the SSSP relaxation — only grow the
      * estimate's bits additively and never hit this.)
      *
      * The Row round-trip through createDataFrame yields a leaf with NO
      * origin stats (plain defaultSizeInBytes), resetting the
      * compounding at a constant per-round cost of one decode/encode
      * pass over the state table. AQE re-plans joins from ACTUAL runtime
      * sizes, so the lost estimate does not change physical strategy
      * quality. The view owns its checkpoint: keeping or freeing the
      * view keeps or frees it, and [[backing]] returns it.
      */
    def fresh(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint(true)
      hold(df.sparkSession.createDataFrame(cp.rdd, cp.schema), cp,
        () => release(cp))
    }

    /** Hold a frame materialized elsewhere — another kernel's result or
      * a nested scope's — and free it with [[release]].
      */
    def adopt(df: DataFrame): DataFrame = hold(df, df, () => release(df))

    /** The checkpoint behind a [[fresh]] view; any other frame itself. */
    def backing(df: DataFrame): DataFrame =
      held.find(_.frame eq df).fold(df)(_.store)

    /** Round boundary: free every held frame that is not one of `live`
      * (or the checkpoint behind one), by identity.
      */
    def keep(live: DataFrame*): Unit = {
      val (kept, dead) = held.partition(h =>
        live.exists(l => (l eq h.frame) || (l eq h.store)))
      held = kept
      dead.foreach(_.free())
    }

    private[Checkpoints] def close(result: Any): Unit = {
      val out: Seq[DataFrame] = result match {
        case df: DataFrame @unchecked => Seq(df)
        case p: Product =>
          p.productIterator.collect { case df: DataFrame @unchecked => df }
            .toSeq
        case _ => Nil
      }
      val outLeaves = out.map(o => o -> leafRdds(o))
      def leafOf(f: DataFrame): Option[DataFrame] =
        f.queryExecution.analyzed match {
          case lr: LogicalRDD =>
            outLeaves.collectFirst { case (o, ls) if ls.exists(_ eq lr.rdd) => o }
          case _ => None
        }
      def readBy(f: DataFrame): Option[DataFrame] = leafOf(f).orElse {
        val p = f.queryExecution.analyzed
        out.find(_.queryExecution.analyzed.find(_.sameResult(p)).isDefined)
      }
      val all = held
      held = Vector.empty
      // a checkpoint leaf of the result is freed by release(result) itself
      all.filter(h => leafOf(h.store).isEmpty).foreach { h =>
        readBy(h.frame).orElse(readBy(h.store)) match {
          case Some(o) => ownsFree(o, Seq(h.free))
          case None => h.free()
        }
      }
    }
  }
}
