package perfbench

/** The run's artifact: every metric with its unit and sample count, the
  * host context, the checks, and the one-line result. */
final case class Report(
    wl: Main.Workload, seed: Long, seconds: Double, traced: Boolean,
    nproc: Int, load0: Double, load1: Double, calib0: Double, calib1: Double, steal: Double,
    setups: Seq[Double], gateS: Double, truth: Option[(Double, Double)], attempted: Int,
    failed: Int, errors: Seq[String], teardown: Seq[String], samples: Seq[Sample],
    pinned: Map[String, String]) {
  import Main.median
  import Report._

  private def med(f: Sample => Double): Double = median(samples.map(f))

  /** `--trace 0` metrics: name -> (value, unit, samples). */
  def endToEnd: Seq[(String, Double, String, Int)] = Seq(
    ("wall_s", med(_.wallS), "s", samples.size),
    ("events_per_s", med(s => wl.events / s.wallS), "1/s", samples.size),
    ("task_cpu_s", med(_.cpuS), "s", samples.size),
    ("jobs", med(_.jobs.toDouble), "count", samples.size),
    ("cached_peak_mb", med(_.peakMb), "MB", samples.size),
    ("setup_s", median(setups), "s", setups.size))

  /** `--trace 1` metrics; layers this workload does not run read 0. */
  def perLayer: Seq[(String, Double, String, Int)] = {
    val layerMetrics = AllLayers.flatMap { layer =>
      def m(f: (Counters, Double) => Double): Double =
        median(samples.flatMap(_.layers.get(layer)).map { case (c, w) => f(c, w) })
      val extra = layer match {
        case "sources.read" => Seq(("input_mb", m((c, _) => c.inputBytes / Mb), "MB"))
        case "sources.write" => Seq(("output_mb", m((c, _) => c.outputBytes / Mb), "MB"))
        case _ => Nil
      }
      (Seq(
        ("wall_s", m((_, w) => w), "s"),
        ("jobs", m((c, _) => c.jobs.toDouble), "count"),
        ("tasks", m((c, _) => c.tasks.toDouble), "count"),
        ("task_cpu_s", m((c, _) => c.cpuNs / 1e9), "s"),
        ("driver_gap_s", m((c, w) => math.max(0.0, w - c.busyMs / 1e3)), "s"),
        ("shuffle_write_mb", m((c, _) => c.shuffleWriteBytes / Mb), "MB"),
        ("spill_mb", m((c, _) => c.spillBytes / Mb), "MB")) ++ extra)
        .map { case (n, v, u) => (s"$layer.$n", v, u, samples.size) }
    }
    layerMetrics ++ Seq(
      ("unit.wall_s", med(_.wallS), "s", samples.size),
      ("unit.uncovered_s", med(s => s.wallS - s.layers.values.map(_._2).sum), "s", samples.size))
  }

  def metrics: Seq[(String, Double, String, Int)] = if (traced) perLayer else endToEnd

  def correct: Boolean = failed == 0 && samples.nonEmpty && truth.forall(_ == ((1.0, 1.0)))

  /** Writes the detail artifact to `path`; returns the detail line followed
    * by the result line. */
  def write(path: String): String = {
    val detail = obj(
      "workload" -> str(wl.name), "seed" -> seed.toString, "seconds" -> num(seconds),
      "trace" -> (if (traced) "1" else "0"), "log_events" -> wl.events.toString,
      "units_attempted" -> attempted.toString, "units_failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u, k) =>
        n -> obj("value" -> num(v), "unit" -> str(u), "samples" -> k.toString) }: _*),
      "unit_wall_s" -> arr(samples.map(s => num(s.wallS))),
      "setup_s" -> arr(setups.map(num)),
      "injected_truth" -> truth.fold("null") { case (p, r) =>
        obj("precision" -> num(p), "recall" -> num(r), "wall_s" -> num(gateS)) },
      "host" -> obj("nproc" -> nproc.toString,
        "load_avg_start" -> num(load0), "load_avg_end" -> num(load1),
        "calibration_start_s" -> num(calib0), "calibration_end_s" -> num(calib1),
        "cpu_steal_share" -> num(steal)),
      "pinned_outputs" -> obj(pinned.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*),
      "unit_failures" -> arr(errors.map(str)),
      "teardown_errors" -> arr(teardown.map(str)))
    val result = obj(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u, _) =>
        n -> obj("value" -> num(v), "unit" -> str(u)) }: _*))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), detail + "\n")
    detail + "\n" + result
  }
}

object Report {
  val Mb = 1048576.0
  val AllLayers: Seq[String] = EpUnit.Layers ++ SurfaceUnit.Layers

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
