package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifetime API of the engine: `scoped` + [[release]]. Outside
  * `core/`, every cache and checkpoint is made inside
  * `Checkpoints.scoped { s => … }` through `s` and freed by the scope
  * or by `release(result)`. The one exception is a graph generation's
  * own frames, which `PropertyGraph.unpersistAll` frees. No other code
  * pairs a materialization with an `unpersist` of its own; LifetimeSpec
  * lints the sources for it.
  *
  * `Dataset.unpersist()` consults only the CacheManager, which never saw
  * a checkpoint: `localCheckpoint` persists the UNDERLYING RDD (the
  * Dataset it returns is a plain scan over that RDD), so unpersist() on
  * the checkpointed frame is a silent no-op and the blocks linger until
  * the ContextCleaner happens to GC the RDD object. [[release]] reaches
  * through the checkpoint scan's LogicalRDD leaf and unpersists the RDD
  * itself; for any other plan shape it falls back to Dataset.unpersist()
  * (the CacheManager path, correct for cache()/persist() frames).
  *
  * The scope's contract:
  *  - `s.checkpoint`, `s.cache` and `s.fresh` (a stats-clean checkpoint)
  *    materialize and hold; `s.adopt` holds a frame materialized
  *    elsewhere — another operator's result or a nested scope's;
  *  - `s.keep(live*)` frees every held frame not named, comparing by
  *    identity, so a frame that aliases another needs no guard; a
  *    stats-clean view is one frame with its checkpoint;
  *  - when the scope closes, normally or by an exception, it frees every
  *    held frame the returned value does not read. The DataFrames of the
  *    returned value are the value itself, or the DataFrame fields of a
  *    returned case class, tuple or Option. A held frame they read stays
  *    live until `release(result)`: directly when it is a checkpoint leaf
  *    of the result, else through an entry the scope records against
  *    the result (a query body's shared cache, q60's basket table);
  *  - a `return` inside the body is a throwable in Scala 2.13, so it
  *    frees everything held: branch with if/else instead;
  *  - the scope runs no Spark job of its own: everything it frees or
  *    inspects is driver-side plan and block-manager bookkeeping.
  */
object Checkpoints {

  /** Held frames a scope's result reads, keyed by the result Dataset's
    * identity: the result has not executed when the scope closes, so
    * they are freed by the harness's post-execution release(result).
    * Weak keys: if a caller drops the result without releasing, the
    * entry (not the blocks — those fall to the ContextCleaner) vanishes
    * with it.
    */
  private val owned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Seq[() => Unit]]())

  private def ownsFree(result: DataFrame, free: Seq[() => Unit]): Unit =
    owned.merge(result, free, (a, b) => a ++ b)

  /** Free the storage behind `df` now. Safe to call more than once.
    *
    * Walks the analyzed plan and unpersists EVERY checkpoint-scan leaf,
    * so it also works on frames *derived* from a checkpoint (the
    * distributed sssp/apsp results are projections over the kernel's
    * final state) — callers that are done with such a result can release
    * it. Only call when no other live frame shares the checkpoint.
    * Also frees the held frames a scope recorded against `df`.
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

    /** `df.cache()` (MEMORY_AND_DISK, lazy like cache() itself). A frame
      * cached already — a graph's projection — is held as it is.
      */
    def cache(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE) df.cache()
      hold(df, df, () => { df.unpersist(); () })
    }

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
