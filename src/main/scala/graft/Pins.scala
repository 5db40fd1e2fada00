package graft

import scala.collection.mutable
import scala.runtime.NonLocalReturnControl

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, GraftShims}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of materialized intermediates: the only code that
  * checkpoints or caches a Dataset, and the only code that releases one.
  *
  * An operator's body runs as a [[scope]]. Inside it `ds.pin()` is an eager
  * `localCheckpoint` and `ds.cached()` a Dataset cache, both registered with
  * the innermost open scope on this thread. When the scope exits, every
  * cache is unpersisted, and so is every pin the result does not read (the
  * result: a Dataset, or the Datasets of a tuple, case class or Option; a
  * `return` out of the body counts). A pin the result reads moves to the
  * enclosing scope, or to the caller when no scope is open, who frees a
  * served result with [[release]]. A scope that throws releases everything
  * it registered. A cache that a lazy result reads would outlive its scope,
  * so whatever a result reads must be a pin. */
object Pins {
  private final class Scope(val outer: Scope) {
    val pins = mutable.ArrayBuffer.empty[RDD[_]]
    val caches = mutable.ArrayBuffer.empty[Dataset[_]]
  }
  private val open = new ThreadLocal[Scope]

  def scope[A](body: => A): A = {
    val s = new Scope(open.get)
    open.set(s)
    var result: Any = null
    try { val a = body; result = a; a }
    catch { case r: NonLocalReturnControl[_] => result = r.value; throw r }
    finally {
      open.set(s.outer)
      s.caches.foreach(_.unpersist(blocking = false))
      if (s.pins.nonEmpty) {
        val kept = reads(result)
        val (keep, drop) = s.pins.partition(r => kept(r.id))
        drop.foreach(GraftShims.unpersistQuietly)
        if (s.outer != null) s.outer.pins ++= keep
      }
    }
  }

  implicit final class Pinning[T](private val ds: Dataset[T]) extends AnyVal {
    def pin(): Dataset[T] = {
      val p = ds.localCheckpoint(eager = true)
      Option(open.get).foreach(_.pins ++= leaves(p))
      p
    }

    /** Pin this loop frontier, then [[unpin]] `replacing`, the one it supersedes. */
    def pin(replacing: Dataset[_]): Dataset[T] = { val p = pin(); replacing.unpin(); p }

    /** Release now the innermost scope's pins this Dataset reads: a
      * superseded loop frontier that nothing reads any more. */
    def unpin(): Unit = Option(open.get).foreach { s =>
      leaves(ds).filter(r => s.pins.exists(_ eq r)).foreach { r =>
        s.pins -= r
        GraftShims.unpersistQuietly(r)
      }
    }

    def cached(): Dataset[T] = {
      val s = Option(open.get).getOrElse(
        throw new IllegalStateException("cached() outside a Pins.scope"))
      s.caches += ds.cache()
      ds
    }
  }

  /** Free the pins `result` reads: the caller's release of a served result. */
  def release(result: Any): Unit = rddsRead(result).foreach(GraftShims.unpersistQuietly)

  /** The ids of the RDDs `result` reads: the LogicalRDD leaves of each
    * Dataset's analyzed plan, its subqueries included. */
  def reads(result: Any): Set[Int] = rddsRead(result).map(_.id).toSet

  private def leaves(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd }

  private def rddsRead(result: Any): Seq[RDD[_]] = result match {
    case ds: Dataset[_] => leaves(ds)
    case p: Product => p.productIterator.toSeq.flatMap(rddsRead)
    case _ => Nil
  }
}
