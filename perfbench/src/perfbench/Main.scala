package perfbench

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of the paper pipeline and the shared-memo query
  * surface: one client runs units back to back in one JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --expected <pinned-outputs file>
  * Prints a detail line and then the result line as the last line of
  * stdout; the detail is also written to `<work>/artifact.json`. */
object Main {
  /** `events` sizes every generated table (see [[Gen.writeTables]]). */
  final case class Workload(name: String, events: Int, surface: Boolean)

  val Workloads = Seq(
    Workload("ep_sf0.01", 10000, surface = false),
    Workload("surface_sf0.01", 10000, surface = true))

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 5

  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed work whose wall moves only with host load. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 40000000L, 1, Cpus).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `<workload> <key> <value>` lines of the pinned-outputs file. */
  def readExpected(path: String, workload: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val pinned =
      try src.getLines().filterNot(_.startsWith("#")).map(_.trim.split("\\s+")).collect {
        case Array(w, k, v) if w == workload => k -> v
      }.toMap
      finally src.close()
    require(pinned.nonEmpty, s"no pinned outputs for $workload in $path")
    pinned
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}; known: ${Workloads.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val expected = readExpected(opts("expected"), wl.name)
    val res = Runner(wl, seed, seconds, traced, work, expected).run()
    System.out.flush()
    System.err.flush()
    println(res)
  }
}
