package graft

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** graft's one materialization policy: every checkpoint, persist and
  * release in the engine goes through this module, so the policy — the
  * checkpoint kind, the storage level, when a cache is filled and when it
  * is released — is decided here once instead of at each call site.
  *
  *  - [[checkpoint]] cuts a frame's lineage (a local checkpoint with a
  *    capped size estimate) — for results returned to callers, loop
  *    state, and frames several consumers read.
  *  - [[persist]] caches a frame that outlives the call (base tables,
  *    session-shared edge tables, the stores a session queries); the
  *    owner releases it with [[unpersist]] or [[release]].
  *  - [[using]] caches a frame for the duration of one body and releases
  *    it afterwards, also when the body throws — the scoped persist of
  *    most operators. A frame returned from `body` must not read the
  *    cache lazily unless recomputing it is acceptable: checkpoint the
  *    result first.
  *  - [[release]] drops a memoized value: its frames and the checkpoints
  *    they scan.
  *
  * Eager fill (`fill = true`): a lazily persisted frame is filled by the
  * first job that reads it. When one job has SEVERAL branches over the
  * cold cache (both sides of a self-join, a union of two scans, the
  * independent query stages AQE compiles concurrently), every branch
  * races the cold cache and recomputes the frame for the partitions not
  * yet cached — measured at ~25 % of the composed curation pipeline at
  * sf0.1. A single count() before the consumers are wired makes each
  * branch a cache read. A frame whose sole first consumer is one job (an
  * eager checkpoint that scans it once) needs no fill: that job fills it.
  */
object Materialize {

  /** A local checkpoint of `df` whose size estimate is capped
    * ([[GraftSqlBridge.capSizeEstimate]]): the LogicalRDD a checkpoint
    * produces PRESERVES the origin plan's sizeInBytes estimate, so a loop
    * that checkpoints a ~J-join plan every round compounds a J-fold
    * BigInt size product per round — by round ~10 query planning spends
    * minutes multiplying million-digit stats inside
    * SizeInBytesOnlyStatsPlanVisitor (observed wedging the louvain spec on
    * a 6-node graph). The cap is `spark.sql.defaultSizeInBytes`, the
    * estimate of a frame without statistics, so no product can compound;
    * a sane estimate passes through, and with it the join choice a plain
    * checkpoint would get (a small frame still broadcasts). A lazy
    * (`eager = false`) checkpoint materializes on the first action over
    * the returned frame. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    GraftSqlBridge.capSizeEstimate(df.localCheckpoint(eager))

  /** `ds` persisted at MEMORY_AND_DISK, and with `fill` filled by one
    * count before any consumer reads it (see the object doc). The caller
    * owns the cache entry: [[unpersist]] or [[release]] it. */
  def persist[T](ds: Dataset[T], fill: Boolean = false): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    if (fill) ds.count()
    ds
  }

  /** Drop the cache entry of a frame [[persist]] cached — only that
    * entry: the frames and checkpoints it reads stay. */
  def unpersist(ds: Dataset[_]): Unit = { ds.unpersist(blocking = false); () }

  /** `body` over `df` persisted (and with `fill` filled, see the object
    * doc); the cache is released when `body` returns or throws. */
  def using[A](df: DataFrame, fill: Boolean = false)(body: DataFrame => A): A = {
    persist(df)
    try {
      if (fill) df.count()
      body(df)
    } finally unpersist(df)
  }

  /** Unpersist every frame in a value (a frame, or a GraphStore or tuple
    * of frames) and the checkpointed RDDs it scans. */
  def release(value: Any): Unit = value match {
    case ds: Dataset[_] =>
      ds.queryExecution.analyzed.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
      unpersist(ds)
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }
}
