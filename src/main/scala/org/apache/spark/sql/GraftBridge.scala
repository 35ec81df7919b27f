/*
 * Lives in org.apache.spark.sql because the Spark 4 "classic" Column ⇄
 * catalyst Expression bridge (ExpressionColumnNode / ColumnConversions) is
 * private[sql]. This is the only sanctioned way for a library to expose a
 * custom Catalyst Expression as a user-facing Column without going through
 * FunctionRegistry; everything else of ours stays in the graft namespace.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnConversions, ExpressionColumnNode}

object GraftBridge {
  def columnOf(e: Expression): Column = Column(ExpressionColumnNode(e))
  def expressionOf(c: Column): Expression = ColumnConversions.expression(c)

  /** Block until the async listener bus has drained (private[spark]) —
    * the dev profiler reads listener-fed counters right after an action
    * and a fixed sleep under-reports on a loaded host (r20 ADVICE). */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** The operation-scope names of a stage's RDDs ("Scan csv", "Exchange",
    * ...; `RDDOperationScope` is private[spark]) — how a listener tells a
    * stage that parses source files from one that reads a cache. */
  def rddScopeNames(info: org.apache.spark.scheduler.StageInfo): Seq[String] =
    info.rddInfos.flatMap(_.scope.map(_.name)).toSeq

  /**
   * Pin lifecycle. Every [[checkpointNoStats]] persists its RDD
   * (`localCheckpoint` defaults to MEMORY_AND_DISK) and, before round 15,
   * NOTHING ever unpersisted them: a 156-query battery in one JVM accreted
   * hundreds of dead checkpoint RDDs, and the round-14 windows showed the
   * cost land on the late battery (q70 13.2× / q71 6.4× over minima —
   * eviction churn + GC once the dead blocks crowd the unified region).
   *
   * Scope model: a pin is TRANSIENT by default — it serves exactly one
   * query's lifetime, and the harness (Bench/Verify, or any library
   * caller) frees the batch with [[releaseTransientPins]] once the
   * consuming action returns. Computations whose pinned frame is MEANT to
   * outlive the query — the session-shared fixpoint caches, a streaming
   * gate's frozen model bundle — wrap the build in [[sessionPinned]],
   * which keeps their checkpoints out of the transient registry.
   */
  /** Per-THREAD pin registry: a query is built and released on one
    * thread (Bench/Verify main loop; a streaming micro-batch's
    * foreachBatch thread), and thread isolation means a stream thread
    * draining its own batch pins can never free a concurrent batch
    * query's frames mid-flight. A pin registered on thread A is only
    * releasable from thread A — callers that hand frames across threads
    * must use [[sessionPinned]] (long-lived) or release on the building
    * thread. */
  /** Weak refs: a caller that never releases (a spec, a library user
    * outside the harness) must not have this registry pin RDD wrappers in
    * memory — Spark's ContextCleaner unpersists checkpoint RDDs on GC,
    * and a strong ref here would defeat it. A cleared ref at release time
    * means the cleaner already handled that pin. */
  private val transientPins = new ThreadLocal[
      java.util.ArrayDeque[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]] {
    override def initialValue() =
      new java.util.ArrayDeque[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()
  }
  private val inSessionScope = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Run `body` with checkpoint pins registered as SESSION-scoped (never
    * freed by [[releaseTransientPins]]). For session-shared caches and
    * streaming frozen bundles only. */
  def sessionPinned[T](body: => T): T = {
    val prev = inSessionScope.get()
    inSessionScope.set(java.lang.Boolean.TRUE)
    try body finally inSessionScope.set(prev)
  }

  /** Unpersist every transient checkpoint pin THIS THREAD registered
    * since its last call (async — the blocks drop in the background).
    * Returns the number of pins released. Call after the consuming
    * query's action returns: a localCheckpoint RDD cannot be recomputed
    * once dropped, so the caller asserts the query is DONE with its
    * pinned frames. */
  def releaseTransientPins(): Int = {
    val q = transientPins.get()
    var n = 0
    var ref = q.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) {
        try rdd.unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => () }
        n += 1
      }
      ref = q.poll()
    }
    n
  }

  /** Run `body`, then unpersist exactly the transient pins `body`
    * registered on this thread — pins registered BEFORE the call are
    * untouched, so an enclosing scope's frames survive. Reentrant. Used
    * by the streaming batch steps: each micro-batch's pins die with the
    * batch instead of accreting over a long-running stream. Pins are
    * released even when `body` throws (the failed batch will be replayed
    * from scratch; its frames are dead either way). */
  def releasingPins[T](body: => T): T = {
    val q = transientPins.get()
    val before = q.size()
    try body finally {
      while (q.size() > before) {
        val rdd = q.pollLast().get()
        if (rdd != null) {
          try rdd.unpersist(blocking = false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
  }

  /** Drop ONE pinned frame's blocks immediately — for iterative loops
    * that retire round N-1's checkpoint as soon as round N is
    * materialized (the final round's frame is left alone). No-op on a
    * frame that is not a checkpoint pin. */
  def unpersistPin(df: Dataset[Row]): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        try lr.rdd.unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => () }
      case _ => ()
    }

  /**
   * Eager `localCheckpoint` that DROPS plan statistics. Spark ≥3.4
   * propagates the origin plan's stats through a checkpoint
   * (`LogicalRDD.originStats`); in an ITERATIVE algorithm (connected-
   * components contraction) each round's join therefore multiplies the
   * previous round's already-multiplied sizeInBytes — the estimate
   * compounds double-exponentially, and by round ~10 the driver spends
   * minutes multiplying million-bit BigIntegers inside
   * SizeInBytesOnlyStatsPlanVisitor (caught by ClusterSoakSpec's
   * chain-topology soak; the clique-heavy fixtures converge in 2-3
   * rounds and never tripped it). Rebuilding the frame over the
   * checkpointed RDD with `internalCreateDataFrame` (no originStats)
   * resets the leaf to the flat default estimate, which is exactly the
   * "stats-less LogicalRDD" contract the caller's broadcast hints
   * already assume.
   */
  def checkpointNoStats(df: Dataset[Row]): Dataset[Row] =
    checkpointNoStats(df, eager = true)

  /**
   * `eager = false` defers materialization to the FIRST ACTION on the
   * returned frame: `localCheckpoint(eager=false)` only marks the
   * checkpoint RDD, and Spark persists it (and truncates lineage) when
   * the first job computes it. An iterative caller that must run a
   * per-round convergence aggregate anyway can therefore fold the
   * checkpoint materialization into that aggregate's job — one scheduler
   * round-trip per iteration instead of two (materialize, then probe).
   */
  def checkpointNoStats(df: Dataset[Row], eager: Boolean): Dataset[Row] = {
    val cp = df.localCheckpoint(eager)
    val spark = cp.sparkSession.asInstanceOf[classic.SparkSession]
    val (rdd, out) = cp.queryExecution.analyzed match {
      // the checkpoint's own RDD already holds per-row COPIES (Dataset
      // .checkpoint materializes `execute().map(_.copy())`), so it can be
      // wrapped directly — zero extra copies, no stats
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        (lr.rdd, spark.internalCreateDataFrame(lr.rdd, cp.schema))
      // fallback: toRdd goes through RDDScanExec, whose UnsafeProjection
      // REUSES its result buffer per partition — must copy before caching
      case _ =>
        val r = cp.queryExecution.toRdd.map(_.copy())
        (r, spark.internalCreateDataFrame(r, cp.schema))
    }
    if (!inSessionScope.get())
      transientPins.get().add(new java.lang.ref.WeakReference(rdd))
    out
  }
}
