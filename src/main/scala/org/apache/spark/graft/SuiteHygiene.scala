package org.apache.spark.graft

import scala.util.control.NonFatal

import org.apache.spark.{MapOutputTrackerMaster, SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** SYNCHRONOUS suite-state hygiene for the bench harnesses (round-21
  * verdict, "Next round" #1): everything [[reset]] does must COMPLETE
  * before the next timed window opens — never async work that can
  * bleed in. The one timing loop ([[graft.Harness.time]]) resets through
  * it between timed windows.
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
  * bench, but [[reset]] reports it (see [[Leftover]]). */
object SuiteHygiene {

  /** What a [[reset]] could not clear: persistent RDDs still
    * registered after the blocking unpersist, and the per-id cleanups
    * that threw. A cross-query cached broadcast or shuffle shows up
    * here by name instead of as a later query's missing-block error. */
  final case class Leftover(rdds: Seq[Int], failures: Seq[String]) {
    def isEmpty: Boolean = rdds.isEmpty && failures.isEmpty
    override def toString: String =
      ((if (rdds.isEmpty) Nil else Seq(s"persistent rdds ${rdds.mkString(",")}")) ++
        failures).mkString("; ")
  }

  /** The between-windows reset: blocking unpersist of every persistent
    * RDD, then [[drain]], then [[settle]]. */
  def reset(sc: SparkContext): Leftover = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val (_, _, failures) = sweep(sc)
    settle(sc)
    Leftover(sc.getPersistentRDDs.keys.toSeq.sorted, failures)
  }

  /** Drain dead shuffle and broadcast state, synchronously. Skipped
    * when a streaming query is active (its in-flight state is not
    * residue). Returns the (shuffles, broadcasts) drained. */
  def drain(sc: SparkContext): (Int, Int) = {
    val (shuffles, broadcasts, _) = sweep(sc)
    (shuffles, broadcasts)
  }

  /** [[drain]], also naming every cleanup that threw. */
  private def sweep(sc: SparkContext): (Int, Int, Seq[String]) = try {
    if (sc.isStopped) return (0, 0, Nil)
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    if (session.exists(_.streams.active.nonEmpty)) return (0, 0, Nil)
    val cleaner = sc.cleaner.getOrElse(return (0, 0, Nil))
    val env = SparkEnv.get
    val failures = Seq.newBuilder[String]
    def attempt(what: String)(cleanup: => Unit): Unit =
      try cleanup catch { case NonFatal(e) => failures += s"$what: $e" }
    val shuffleIds: Seq[Int] = env.mapOutputTracker match {
      case m: MapOutputTrackerMaster =>
        m.shuffleStatuses.keySet.toSeq
      case _ => Nil
    }
    shuffleIds.foreach { id =>
      attempt(s"shuffle $id")(cleaner.doCleanupShuffle(id, blocking = true))
    }
    val broadcastIds: Seq[Long] = env.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }.distinct
    broadcastIds.foreach { id =>
      attempt(s"broadcast $id")(cleaner.doCleanupBroadcast(id, blocking = true))
    }
    (shuffleIds.size, broadcastIds.size, failures.result())
  } catch { case NonFatal(e) => (0, 0, Seq(s"drain: $e")) }

  /** Deterministic settle: wait until the async listener bus has
    * delivered everything in flight, so a prior query's listener work
    * (AQE metrics, SQL-tab bookkeeping) never lands inside the next
    * timed window. Bounded — never wedges the bench. */
  def settle(sc: SparkContext, timeoutMs: Long = 2000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case NonFatal(_) => }
}
