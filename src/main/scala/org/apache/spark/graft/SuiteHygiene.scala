package org.apache.spark.graft

import scala.util.control.NonFatal

import org.apache.spark.{MapOutputTrackerMaster, SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** SYNCHRONOUS suite-state hygiene for the bench harnesses (round-21
  * verdict, "Next round" #1): everything [[reset]] does must COMPLETE
  * before the next timed window opens — never async work that can
  * bleed in. [[graft.Bench]] and [[graft.tools.TimeQueries]] both reset
  * through it between timed windows.
  *
  * Round 21's reset relied on `System.gc()` every 25 slots to make
  * ContextCleaner notice dead shuffle/broadcast references. That design
  * queues an unbounded burst of cleanup — 25 queries' worth of shuffle
  * files and broadcast blocks — on the cleaner daemon, whose removal
  * I/O and BlockManager RPCs then run CONCURRENTLY with whichever
  * queries follow (shuffle removal is non-blocking by default:
  * `spark.cleaner.referenceTracking.blocking.shuffle=false`). The r21
  * driver bench showed exactly that signature: q69-q73, consecutive in
  * suite order, blew up 3-12x at 32 cores with no code change in their
  * paths, and the stretch sits right after a GC slot.
  *
  * This helper removes the GC/cleaner dependency: it enumerates the
  * driver's own registries (the map output tracker for shuffles, the
  * block manager master for broadcast blocks) and runs the SAME cleanup
  * the ContextCleaner would — through the cleaner, so listeners fire —
  * but synchronously (blocking = true) and every slot, so each drain is
  * one query's residue, not 25 queries' worth. Lives in
  * `org.apache.spark` because the registries are `private[spark]`
  * (the GraftSqlBridge precedent).
  *
  * Safety: called ONLY between bench queries, when no job is running —
  * each query's plans are built from scratch, so a completed query's
  * shuffles and broadcasts are dead by construction (the temp-view
  * REGISTRY holds logical plans, which re-plan into fresh shuffle ids
  * and broadcasts on re-execution). Cleanup through ContextCleaner is
  * idempotent — the cleaner's own later pass over the same ids (when
  * the JVM eventually GCs the references) degrades to a no-op.
  * Best-effort by design: a failure to drain must never fail the
  * bench. */
object SuiteHygiene {

  /** The between-windows reset: blocking unpersist of every persistent
    * RDD, then [[drain]], then [[settle]]. */
  def reset(sc: SparkContext): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    drain(sc)
    settle(sc)
  }

  /** Drain dead shuffle and broadcast state, synchronously. Skipped
    * when a streaming query is active (its in-flight state is not
    * residue). Returns the (shuffles, broadcasts) drained. */
  def drain(sc: SparkContext): (Int, Int) = try {
    if (sc.isStopped) return (0, 0)
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    if (session.exists(_.streams.active.nonEmpty)) return (0, 0)
    val cleaner = sc.cleaner.getOrElse(return (0, 0))
    val env = SparkEnv.get
    val shuffleIds: Seq[Int] = env.mapOutputTracker match {
      case m: MapOutputTrackerMaster =>
        m.shuffleStatuses.keySet.toSeq
      case _ => Nil
    }
    shuffleIds.foreach { id =>
      try cleaner.doCleanupShuffle(id, blocking = true)
      catch { case NonFatal(_) => }
    }
    val broadcastIds: Seq[Long] = env.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }.distinct
    broadcastIds.foreach { id =>
      try cleaner.doCleanupBroadcast(id, blocking = true)
      catch { case NonFatal(_) => }
    }
    (shuffleIds.size, broadcastIds.size)
  } catch { case NonFatal(_) => (0, 0) }

  /** Deterministic settle: wait until the async listener bus has
    * delivered everything in flight, so a prior query's listener work
    * (AQE metrics, SQL-tab bookkeeping) never lands inside the next
    * timed window. Bounded — never wedges the bench. */
  def settle(sc: SparkContext, timeoutMs: Long = 2000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case NonFatal(_) => }
}
