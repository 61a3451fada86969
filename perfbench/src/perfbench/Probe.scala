package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters one span (or one whole unit) accumulates. Mutated only from
  * the listener-bus thread; read after the bus is drained. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Milliseconds with at least one of this span's jobs running. */
  var busyMs = 0L
  private var active = 0
  private var busySince = 0L

  def jobStarted(t: Long): Unit = {
    jobs += 1
    if (active == 0) busySince = t
    active += 1
  }

  def jobEnded(t: Long): Unit = if (active > 0) {
    active -= 1
    if (active == 0) busyMs += math.max(0L, t - busySince)
  }

  def task(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** The benchmark's own SparkListener.
  *
  * Always on: whole-run totals (jobs, tasks, task CPU) and the RDD block
  * storage held at any moment, whose peak is `cached_peak_mb`. With
  * `traced`, jobs are also charged to the span that started them: the job
  * group label the span sets, or else the span open at job start (jobs
  * submitted from pools that do not inherit the label). Every handler is
  * O(1) per event. */
final class Probe(val traced: Boolean) extends SparkListener {
  val total = new Counters
  val spans = new ConcurrentHashMap[String, Counters]()
  /** Summed wall seconds of every span of each layer (driver thread only). */
  val spanWalls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  @volatile private var open: String = null
  @volatile private var closed = false
  private val stageSpan = new ConcurrentHashMap[Int, Counters]()
  private val jobSpan = new ConcurrentHashMap[Int, Counters]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private var storedBytes = 0L
  private var peakBytes = 0L

  def counters(span: String): Counters = spans.computeIfAbsent(span, _ => new Counters)

  /** Run `body` as span `name`: label its jobs and charge them to it. */
  def span[T](sc: SparkContext, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (traced) {
      counters(name)
      open = name
      sc.setJobGroup(name, name, interruptOnCancel = false)
    }
    try {
      val out = body
      val w = (System.nanoTime() - t0) / 1e9
      if (traced) spanWalls(name) = spanWalls.getOrElse(name, 0.0) + w
      (out, w)
    } finally if (traced) {
      sc.clearJobGroup()
      open = null
    }
  }

  /** End the unit: wait for its events, then ignore later ones (the output
    * checks' jobs). */
  def close(sc: SparkContext): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    closed = true
  }

  def peakStoredBytes: Long = synchronized(peakBytes)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (!closed) {
    total.jobStarted(e.time)
    if (traced) {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val name = if (g != null && spans.containsKey(g)) g else open
      if (name != null) {
        val c = counters(name)
        c.jobStarted(e.time)
        jobSpan.put(e.jobId, c)
        e.stageIds.foreach(s => stageSpan.put(s, c))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (!closed) {
    total.jobEnded(e.time)
    Option(jobSpan.remove(e.jobId)).foreach(_.jobEnded(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!closed) {
    total.task(e.taskMetrics)
    if (traced) Option(stageSpan.get(e.stageId)).foreach(_.task(e.taskMetrics))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (!closed && info.blockId.isRDD) synchronized {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prior = Option(blocks.get(key)).map(_.longValue).getOrElse(0L)
      if (size > 0) blocks.put(key, size) else blocks.remove(key)
      storedBytes += size - prior
      peakBytes = math.max(peakBytes, storedBytes)
    }
  }
}
