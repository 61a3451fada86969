package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pm.{BatchDiscovery, EnabledTime, Ep1, Reporting, WaitingTimes}
import graft.rules.{Features, Ripper}
import graft.sources.EventLogCsv

/** What one unit produced, reduced to values the checks compare. */
final case class Outcome(
    digests: Map[String, String],
    /** rows violating total = creation + ready + other */
    identityViolations: Long = 0L,
    /** batch instances, then the sums of the six WT columns over batch cases */
    wtTotals: Seq[Long] = Nil,
    /** seconds from the unit's first call to its last result, checks excluded */
    wallS: Double = 0.0) {
  /** The outputs no seed changes: every digest (the WTs one is taken with
    * the case-id salt stripped) and the WT totals. */
  def pinned: Map[String, String] =
    digests ++ (if (wtTotals.isEmpty) Map.empty else Map("wt_totals" -> wtTotals.mkString(",")))
}

object Digest {
  /** Order-insensitive digest of a frame: row count and the decimal sum of
    * a 64-bit hash of every row. */
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  def ofString(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
  }

  def ofRules(rules: Map[String, Option[graft.rules.RuleSet]]): String =
    ofString(rules.toSeq.sortBy(_._1).map {
      case (k, Some(rs)) => s"$k|${rs.render}|${rs.numObs}|${rs.confidence}|${rs.support}"
      case (k, None) => s"$k|-"
    }.mkString("\n"))
}

/** One EP1 -> EP2 -> EP3 unit, driven through the program's public
  * functions in `Ep1.main` order, each call inside its layer's span. */
object EpUnit {
  val Layers = Seq("sources.read", "pm.enabled", "pm.discover", "pm.wt",
    "sources.write", "pm.report", "rules.features", "rules.ripper")

  /** Ep1.analyze's write-back: the per-(batch, case) waiting times joined to
    * every event of that batch case, zero for unbatched events, with the
    * original case string re-attached. */
  def writeBack(log: DataFrame, d: DataFrame, wt: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val perCase = wt.select($"batch_id", $"case_id",
      $"pt_us".as("batch_pt_us"), $"wt_us".as("batch_wt_us"),
      $"total_wt_us".as("batch_total_wt_us"),
      $"creation_wt_us".as("batch_creation_wt_us"),
      $"ready_wt_us".as("batch_ready_wt_us"),
      $"other_wt_us".as("batch_other_wt_us"))
    d.join(perCase, Seq("batch_id", "case_id"), "left")
      .na.fill(0L, perCase.columns.drop(2).toSeq)
      .join(log.select($"event_id", $"case_str"), Seq("event_id"))
  }

  /** Runs the unit; `inspect` sees the parsed log and the discovered frame
    * after the timer stops. */
  def run(spark: SparkSession, csv: String, outDir: String, probe: Probe,
          inspect: (DataFrame, DataFrame) => Unit = (_, _) => ()): Outcome = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    def span[T](name: String)(body: => T): T = probe.span(sc, name)(body)._1
    val log = span("sources.read")(EventLogCsv.read(spark, csv))
    val en = span("pm.enabled")(EnabledTime.withEnabled(log))
    val d = span("pm.discover")(BatchDiscovery.discoverFull(en))
    val (wt, analyzed) = span("pm.wt") {
      val wt = WaitingTimes.batchCaseWT(d)
      (wt, graft.Pinned.stage(writeBack(log, d, wt)))
    }
    span("sources.write") {
      analyzed.coalesce(1).write.mode("overwrite").parquet(s"$outDir/wts.parquet")
      EventLogCsv.writeCsvGz(Ep1.wtLogView(analyzed), s"$outDir/wts_csv", 1)
    }
    val report = span("pm.report")(Reporting.render(d))
    val feats = span("rules.features")(Features.featuresTable(d))
    val rules = span("rules.ripper")(Ripper.fitPerGroupAll(feats))
    val wallS = (System.nanoTime() - t0) / 1e9
    probe.close(sc)
    // checks run outside every span and after the unit's timer stops
    val out = check(wt, analyzed, report, rules).copy(wallS = wallS)
    inspect(log, d)
    Seq(analyzed, feats, d).foreach(graft.Pinned.releaseFrame)
    graft.Pinned.release(spark)
    out
  }

  def check(wt: DataFrame, analyzed: DataFrame, report: String,
            rules: Map[String, Option[graft.rules.RuleSet]]): Outcome = {
    import wt.sparkSession.implicits._
    val bad = wt.filter($"total_wt_us" =!= $"creation_wt_us" + $"ready_wt_us" + $"other_wt_us").count()
    val sums = wt.agg(countDistinct($"batch_id"), sum($"pt_us"), sum($"wt_us"),
      sum($"total_wt_us"), sum($"creation_wt_us"), sum($"ready_wt_us"), sum($"other_wt_us")).head()
    // case_id hashes the salted case string; the digest keeps only the
    // unsalted user id, so it is the same for every seed
    val unsalted = analyzed.drop("case_id").withColumn("case_str", Gen.unsalted($"case_str"))
    Outcome(
      Map("wts" -> Digest.of(unsalted),
        "report" -> Digest.ofString(report), "rules" -> Digest.ofRules(rules)),
      bad, (0 until 7).map(i => sums.getLong(i)))
  }
}

/** One pass of the query surface: each query's frame reduced by one
  * action to its row count and digest. */
object SurfaceUnit {
  val Pm = Seq("pm_batches", "pm_wt", "pm_report")
  val Ar = Seq("ar_features", "ar_rules")
  val ExtWrite = Seq("j7_ingest_audit")
  val ExtRead = Seq("st_inc_probe")
  val Layers = Seq("surface.pm", "surface.ar", "surface.ext_write", "surface.ext_read")

  def layerOf(q: String): String =
    if (Pm.contains(q)) "surface.pm" else if (Ar.contains(q)) "surface.ar"
    else if (ExtWrite.contains(q)) "surface.ext_write" else "surface.ext_read"

  /** The queries in the order the seed picks. */
  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(Pm ++ Ar ++ ExtWrite ++ ExtRead)

  def run(spark: SparkSession, sfDir: String, queries: Seq[String], probe: Probe): Outcome = {
    val all = graft.SparkEntry.queries
    val t0 = System.nanoTime()
    val digests = queries.map { q =>
      val (d, w) = probe.span(spark.sparkContext, layerOf(q)) {
        val d = Digest.of(all(q)(spark, sfDir))
        graft.Pinned.release(spark)
        d
      }
      System.err.println(f"[perfbench] $q%-24s $w%7.2f s")
      q -> d
    }.toMap
    val wallS = (System.nanoTime() - t0) / 1e9
    probe.close(spark.sparkContext)
    Outcome(digests, wallS = wallS)
  }
}
