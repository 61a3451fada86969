package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The session's shared pipeline stages: one memo keyed by
  * (node name, session, dataset).
  *
  * Pipeline stage outputs (enabled times, discovered batches, the feature
  * table, the ext families' shared builds) are consumed by many queries of
  * one session, so each is built once per (session, dataset) and reused.
  * Lifecycle, in one place for every node:
  *   - asking a node for (s, d) evicts that node's (s, d' != d) entries and
  *     every node's entries of stopped sessions, handing each evicted value
  *     to the `release` it was registered with — a live session keeps at
  *     most one dataset per node;
  *   - concurrent callers of one key build it once; the rest wait for it;
  *   - a build that throws leaves no entry, so the next call builds again.
  *
  * Builds nest (discovery reads segmentation, which reads enabled times), so
  * a build never runs inside the map's own lock: the map only hands out a
  * per-key [[Slot]], and the build runs under that slot's monitor. (A
  * nested `computeIfAbsent` on one ConcurrentHashMap throws "Recursive
  * update" when the two keys share a bin.)
  *
  * Each build body does its own staging (lazy [[Pinned.stage]],
  * [[Pinned.stageEager]], or a kernel's own staged output); the registry
  * does not change when or how a node materializes.
  */
object Stages {
  private final class Slot(val release: Any => Unit) {
    @volatile private var value: Option[Any] = None
    @volatile private var live = true

    /** The built value, building it on first use; None once this slot has
      * left the map (a failed build or an eviction) — the caller then asks
      * the map again. */
    def get(build: => Any, onFailure: () => Unit): Option[Any] = synchronized {
      if (value.isEmpty && live) {
        try value = Some(build)
        catch { case e: Throwable => live = false; onFailure(); throw e }
      }
      value
    }

    /** Leave the map: release the value if it was built. A slot evicted
      * while its build is still running is not released — its caller is
      * about to use the value. */
    def evict(): Unit = {
      live = false
      value.foreach(release)
    }
  }

  private val slots = new java.util.concurrent.ConcurrentHashMap[(String, SparkSession, String), Slot]()

  /** Node `name`'s value for (s, d): built once by `build`, handed to
    * `release` when evicted. */
  def node[V](name: String, s: SparkSession, d: String, release: V => Unit)(build: => V): V = {
    sweep(name, s, d)
    val key = (name, s, d)
    val slot = slots.computeIfAbsent(key, _ => new Slot(release.asInstanceOf[Any => Unit]))
    slot.get(build, () => slots.remove(key, slot)) match {
      case Some(v) => v.asInstanceOf[V]
      case None => node(name, s, d, release)(build)
    }
  }

  /** A DataFrame node, released with [[Pinned.releaseFrame]]. */
  def frame(name: String, s: SparkSession, d: String)(build: => DataFrame): DataFrame =
    node(name, s, d, Pinned.releaseFrame)(build)

  private def sweep(name: String, s: SparkSession, d: String): Unit =
    slots.keySet.asScala.toList
      .filter { case (n, ks, kd) =>
        ks.sparkContext.isStopped || (n == name && ks == s && kd != d) }
      .foreach(k => Option(slots.remove(k)).foreach(_.evict()))
}
