package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Session-scoped registry of persisted INTERMEDIATE DataFrames.
  *
  * Multi-consumer pipeline stages (batch discovery's segmentation frame,
  * dedup's shingle/minhash frames) persist so one action computes them once
  * — but the persists are plan-internal and the caller only sees the final
  * frame, so nothing ever unpersisted them. In a long-lived session (Bench,
  * the driver's gate, a notebook) those event-grain caches accumulated for
  * the session lifetime (round-3 verdict What's-wrong #1).
  *
  * `track` replaces the bare `.persist()` at those sites; `release` drops
  * every tracked cache for a session. Unpersisting is always safe — a block
  * evicted mid-job is recomputed from lineage — so harness code can call
  * `release` after every query action. Memoized stage outputs
  * ([[Stages]] nodes) are deliberately not tracked: their lifecycle is the
  * registry's dataset-switch eviction.
  */
object Pinned {
  private val reg =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.Queue[DataFrame]]()

  /** Persist `df` (MEMORY_AND_DISK) and register it for later release. */
  def track(df: DataFrame): DataFrame = {
    reg.computeIfAbsent(df.sparkSession,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()).add(df)
    df.persist()
  }

  /** [[track]] + immediate materialization (one count over the persisted
    * plan). Use when the tracked frame feeds SEVERAL independent AQE legs
    * of one query: Spark's cache has no computation lock, so concurrent
    * stage materializations racing on a not-yet-computed cached partition
    * ALL evaluate the subtree (observed: 4 simultaneous 1.13s evaluations
    * of one tracked simhash frame). The eager count serializes exactly one
    * evaluation before the consumers plan. Runs a job at construction —
    * the cost stays inside the caller's timed window (Bench times
    * construction + action together). */
  def trackEager(df: DataFrame): DataFrame = {
    val f = track(df)
    f.count()
    f
  }

  /** STAGE boundary: sever the SQL lineage of a long-lived, multi-consumed
    * stage output (lazy localCheckpoint — the returned frame's plan is a
    * LogicalRDD leaf, blocks cache MEMORY_AND_DISK like persist).
    *
    * Why severing matters and persist() is not enough: every action emits a
    * plan DESCRIPTION (SparkListenerSQLExecutionStart), and printing a plan
    * expands the shared DAG into a tree — a persisted frame referenced k
    * times prints its whole cached subtree k times, so descriptions of
    * queries layered over batch discovery grow multiplicatively (an
    * uncapped suite run burned 27+ CPU-minutes inside generateTreeString;
    * spark.sql.maxPlanStringLength caps the string but NOT the traversal).
    * With the stage cut, every downstream query plans against a leaf.
    *
    * Cluster posture: a severed stage loses recompute-from-lineage — the
    * same tradeoff as writing a pipeline stage to storage, which is what a
    * 100 TB deployment would do here anyway (these are the pipeline's
    * natural materialization points, reused by ~15 downstream queries).
    * Note the checkpoint builds its RDD eagerly (AQE runs the upstream
    * stages at call time) — only use at memoized/stage boundaries, never
    * inside lazy query constructors.
    *
    * NOT registered for `release`: a checkpointed RDD cannot be recomputed
    * after its lineage is severed, so dropping its blocks mid-session would
    * break every later consumer. Stage outputs follow the dataset-switch
    * eviction lifecycle — evict with `releaseFrame` when done. */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** EAGER stage: like [[stage]] but the checkpoint's blocks are fully
    * materialized before the call returns (localCheckpoint(eager = true)).
    * Use at the END of a multi-stage constructor whose INTERMEDIATE staged
    * frames should be released immediately: once the final frame's blocks
    * exist, the intermediates' blocks are dead weight and can be
    * `releaseFrame`d right away instead of leaking for the session
    * lifetime. (A lazy stage cannot do this — its blocks are computed at
    * the first downstream ACTION, which still reads the intermediates.) */
  def stageEager(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Unpersist every tracked intermediate of `s` (non-blocking) and any
    * entries of already-stopped sessions. */
  def release(s: SparkSession): Unit = {
    reg.keySet.asScala.toList.filter(k => k == s || k.sparkContext.isStopped).foreach { k =>
      Option(reg.remove(k)).foreach { q =>
        if (!k.sparkContext.isStopped) q.asScala.foreach(releaseFrame)
      }
    }
  }

  /** Drop one frame's blocks: checkpointed (staged) frames hold theirs on
    * the underlying RDD (Dataset.unpersist only reaches CacheManager
    * entries), persisted frames on the cached plan. A stopped session has
    * no blocks left to drop. */
  def releaseFrame(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => df.unpersist(blocking = false)
    }

  /** Count of live tracked intermediates for `s` (test hook). */
  def trackedCount(s: SparkSession): Int =
    Option(reg.get(s)).map(_.size).getOrElse(0)
}
