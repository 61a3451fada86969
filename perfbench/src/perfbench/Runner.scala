package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Per-unit measurements: the end-to-end counters and, when traced, each
  * layer's counters and span wall. */
final case class Sample(wallS: Double, jobs: Long, cpuS: Double, peakMb: Double,
                        layers: Map[String, (Counters, Double)])

final case class Runner(wl: Main.Workload, seed: Long, seconds: Double,
                        traced: Boolean, work: String, expected: Map[String, String]) {
  import Main._

  private val inputs = s"$work/inputs"
  private val salt = f"s$seed%d"
  private var spark: SparkSession = _

  /** One set-up: a fresh session and freshly generated inputs. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    if (spark != null) spark.stop()
    spark = session(work)
    Files.deleteTree(new java.io.File(inputs))
    if (wl.surface) Gen.writeTables(spark, s"$inputs/sf", wl.events)
    else Gen.writeSingleCsvGz(Gen.pmCsvView(Gen.events(spark, wl.events), salt), s"$inputs/log.csv.gz")
    (System.nanoTime() - t0) / 1e9
  }

  /** One unit with its own probe; returns the outcome and the sample. */
  private def unit(queries: Seq[String], unitNo: Int): (Outcome, Sample) = {
    if (wl.surface) { spark.stop(); spark = session(work) }
    val sc = spark.sparkContext
    val probe = new Probe(traced)
    // earlier events still queued on the bus would reach the new probe
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.addSparkListener(probe)
    try {
      val out =
        if (wl.surface) SurfaceUnit.run(spark, s"$inputs/sf", queries, probe)
        else EpUnit.run(spark, s"$inputs/log.csv.gz", s"$work/out/unit$unitNo", probe)
      val t = probe.total
      val layers = probe.spanWalls.toMap.map { case (k, w) => k -> (probe.counters(k), w) }
      (out, Sample(out.wallS, t.jobs, t.cpuNs / 1e9, probe.peakStoredBytes / 1048576.0, layers))
    } finally sc.removeSparkListener(probe)
  }

  def run(): String = {
    val load0 = loadAvg
    val stat0 = ProcStat.read()
    val setups = (1 to SetupReps).map(_ => setUp())
    // ep: the injected-truth gate is also the warm-up, one untimed EP unit
    // on the workload's own log in the session the timed units use: the
    // first unit in a JVM runs ~1.6x slower than the next
    val g0 = System.nanoTime()
    val truth = if (wl.surface) None else Some(Truth.gate(spark, s"$inputs/log.csv.gz", s"$work/truth"))
    val gateS = (System.nanoTime() - g0) / 1e9
    val calib0 = calibrate(spark)
    val queries = SurfaceUnit.order(seed)
    val errors = ArrayBuffer.empty[String]
    val samples = ArrayBuffer.empty[Sample]
    var attempted = 0
    var failed = 0
    var first: Option[Outcome] = None
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    while (attempted == 0 || System.nanoTime() < tEnd) {
      attempted += 1
      try {
        val (out, s) = unit(queries, attempted)
        System.err.println(f"[perfbench] unit $attempted: ${s.wallS}%.2f s, ${s.jobs} jobs")
        val problems = Checks.compare(out, first, expected)
        if (first.isEmpty) first = Some(out)
        if (problems.nonEmpty) {
          failed += 1
          errors ++= problems.map(p => s"unit $attempted: $p")
        } else samples += s
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"unit $attempted: ${e.getClass.getName}: ${e.getMessage}"
      }
    }
    val calib1 = calibrate(spark)
    val load1 = loadAvg
    val stat1 = ProcStat.read()
    val teardown = Teardown.stop(spark)
    Report(wl, seed, seconds, traced, Cpus, load0, load1, calib0, calib1,
      ProcStat.stealShare(stat0, stat1), setups, gateS,
      truth, attempted, failed, errors.toSeq, teardown, samples.toSeq,
      first.map(_.pinned).getOrElse(Map.empty)).write(s"$work/artifact.json")
  }
}

/** Output checks run on every unit's outcome. */
object Checks {
  /** Problems with `out`: the WT identity, digests that differ from the
    * run's first unit, and values that differ from the pinned expectations
    * (values no seed changes: report, rules, batch and WT totals, and each
    * surface query's digest). */
  def compare(out: Outcome, first: Option[Outcome], expected: Map[String, String]): Seq[String] = {
    val p = ArrayBuffer.empty[String]
    if (out.identityViolations != 0)
      p += s"${out.identityViolations} batch-case rows violate total = creation + ready + other"
    def diff(a: Map[String, String], b: Map[String, String]): Seq[String] =
      (a.keySet ++ b.keySet).toSeq.sorted.filter(k => a.get(k) != b.get(k))
    first.foreach { f =>
      val d = diff(f.digests, out.digests)
      if (d.nonEmpty) p += s"differs from the run's first unit: ${d.mkString(", ")}"
    }
    val d = diff(expected, out.pinned)
    if (d.nonEmpty) p += s"differs from the expected outputs: ${d.map(k =>
      s"$k=${out.pinned.getOrElse(k, "missing")} (want ${expected.getOrElse(k, "none")})").mkString(", ")}"
    p.toSeq
  }
}

/** Injected-truth gate, the reference's own strategy: plant batches of known
  * size, rediscover them. The cases of `SyntheticLog.withParallelBatches`
  * (own resources, activities A/B/C) are appended to a workload log and
  * the whole goes through one EP unit. Precision and recall are over the
  * batch instances holding planted cases, each identified by its activity
  * and case set. */
object Truth {
  val Cases = 120
  val K = 8

  def gate(spark: SparkSession, logCsv: String, dir: String): (Double, Double) = {
    import spark.implicits._
    val planted = graft.pm.SyntheticLog.withParallelBatches(spark, Cases, K)
    def render(us: org.apache.spark.sql.Column) =
      concat(date_format(timestamp_micros(us), "yyyy-MM-dd HH:mm:ss.SSSSSS"), lit("+00:00"))
    val workload = spark.read.option("header", "true").csv(logCsv)
    val csv = Gen.writeSingleCsvGz(workload.unionByName(planted.orderBy($"event_id").select(
      concat(lit("T-"), $"case_id".cast("string")).as("case_id"), $"activity".as("Activity"),
      render($"start_us").as("start_time"), render($"end_us").as("end_time"),
      concat(lit("planted-"), $"resource").as("Resource"))), s"$dir/planted.csv.gz")
    var found = Set.empty[(String, Set[String])]
    EpUnit.run(spark, csv, s"$dir/out", new Probe(false), (log, d) =>
      found = d.filter($"batch_id".isNotNull)
        .join(log.select($"event_id", $"case_str"), Seq("event_id"))
        .groupBy($"batch_id", $"activity")
        .agg(collect_set($"case_str").as("cases"))
        .filter(exists($"cases", _.startsWith("T-")))
        .select($"activity", $"cases").as[(String, Seq[String])].collect()
        .map { case (a, cs) => (a, cs.toSet) }.toSet)
    val want = (0 until Cases / K).map(b => ("B", (b * K until (b + 1) * K).map(i => s"T-$i").toSet)).toSet
    val hit = (found intersect want).size.toDouble
    (if (found.isEmpty) 0.0 else hit / found.size, hit / want.size)
  }
}

/** Host CPU counters from /proc/stat (zeros where it is absent). */
object ProcStat {
  def read(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case _: Throwable => Array.empty }

  /** Share of CPU time the hypervisor gave other guests between two reads. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = (0 until 8).map(i => b(i) - a(i)).sum
      if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
    }
}

object Teardown {
  /** Stop the session; exceptions raised by teardown (e.g. in-flight
    * non-blocking unpersists) are returned, apart from unit failures. */
  def stop(spark: SparkSession): Seq[String] = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prior = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((t: Thread, e: Throwable) =>
      errs.add(s"${t.getName}: ${e.getClass.getName}: ${e.getMessage}"))
    try {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.stop()
    } catch { case e: Throwable => errs.add(s"stop: ${e.getClass.getName}: ${e.getMessage}") }
    finally Thread.setDefaultUncaughtExceptionHandler(prior)
    import scala.jdk.CollectionConverters._
    errs.asScala.toSeq
  }
}
