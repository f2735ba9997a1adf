package graft.learner

import java.util.{Collections, IdentityHashMap, UUID}

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/**
 * What one boosting run holds, and the one place it lets go — the
 * analog of the reference's finalize step, which shuts down its actors,
 * queue, stop event and placement group together (main.py:925-955,
 * 1733-1740). [[Trainer.boost]] (gbtree and DART, one label or
 * several, scalar or vector leaves), its refresh and gblinear's
 * [[graft.api.GraftLinear.trainWithEvals]] each run inside one
 * [[RunLifetime.apply]]: [[rounds]] runs the round loop under a fresh
 * `graft-train-*` job group that every [[StopEvent]] can cancel;
 * [[input]], [[persist]] and [[broadcast]] record what the run owns —
 * never a caller's input cache (a reused
 * [[graft.api.GraftBoost.BinnedMatrix]]) — and [[release]] /
 * [[destroy]] free one of those early. Every learner broadcast, the
 * tree builder's level chunks and the leaf refresh's included, is
 * made here (`tools/precommit-check.sh` gates it). On every exit
 * (the last round, a stop, a failing task, a throwing callback) one
 * `finally` clears the job group, unbinds the stop hooks and frees
 * whatever is still held.
 */
private[graft] final class RunLifetime private (sc: SparkContext,
    level: StorageLevel, ownsInputs: Boolean, stopEvents: Seq[StopEvent]) {

  private val owned = Collections.newSetFromMap(
    new IdentityHashMap[RDD[_], java.lang.Boolean]())
  private val broadcasts = ArrayBuffer[Broadcast[_]]()

  /** An input of the run, persisted if nothing cached it yet; owned
    * only when the run owns its inputs. */
  def input[T](r: RDD[T]): RDD[T] = {
    val c = if (r.getStorageLevel == StorageLevel.NONE) r.persist(level) else r
    if (ownsInputs) owned.add(c)
    c
  }

  def persist[T](r: RDD[T]): RDD[T] = { owned.add(r.persist(level)); r }

  def broadcast[T: ClassTag](v: T): Broadcast[T] = {
    val b = sc.broadcast(v); broadcasts += b; b
  }

  /** Unpersist `r` now if the run owns it; anything else stays. */
  def release(r: RDD[_]): Unit =
    if (owned.remove(r)) r.unpersist(blocking = false)

  def destroy(b: Broadcast[_]): Unit = { broadcasts -= b; b.destroy() }

  /** Runs `loop` under the run's job group; later jobs carry none. */
  def rounds[A](loop: => A): A = {
    val group = s"graft-train-${UUID.randomUUID()}"
    sc.setJobGroup(group, "graft boosting rounds", interruptOnCancel = true)
    stopEvents.foreach(_.bindCancel(() => sc.cancelJobGroup(group)))
    val out = loop
    endRounds()
    out
  }

  private def endRounds(): Unit = {
    sc.clearJobGroup()
    stopEvents.foreach(_.bindCancel(() => ()))
  }

  private def close(): Unit = {
    endRounds()
    owned.forEach(r => r.unpersist(blocking = false))
    owned.clear()
    // a destroy may race jobs a hard stop cancelled
    broadcasts.foreach(b => scala.util.Try(b.destroy()))
    broadcasts.clear()
  }
}

private[graft] object RunLifetime {
  def apply[A](sc: SparkContext, level: StorageLevel, ownsInputs: Boolean,
      stopEvents: Seq[StopEvent] = Nil)(run: RunLifetime => A): A = {
    val life = new RunLifetime(sc, level, ownsInputs, stopEvents)
    try run(life) finally life.close()
  }
}
