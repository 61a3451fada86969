package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pm.{BatchDiscovery, EnabledTime, Ep1, WaitingTimes}
import graft.sources.EventLogCsv

/** The benchmark's own tests, on a 1,000-event log (sf0.001 shape):
  *  - the benchmark's EP1 composition equals `Ep1.analyze`, so the
  *    benchmark cannot drift from the program;
  *  - corrupted outputs (a dropped row, a broken WT identity) fail the
  *    checks, and the pinned outputs do not depend on the case-id salt;
  *  - a 10x inflated log yields 10x the batch instances and WT sums.
  * Also prints every metric name the artifact can carry, one per line as
  * `metric <name>`, for the declaration test in test_perfbench.py.
  *
  * Usage: perfbench.SelfTest --work <dir>; exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def expect(cond: Boolean, what: String): Unit = {
    println(s"${if (cond) "ok" else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = new java.io.File(args(args.indexOf("--work") + 1)).getAbsolutePath
    val spark = Main.session(work)
    import spark.implicits._
    val ev = Gen.events(spark, 1000)
    val csv = Gen.writeSingleCsvGz(Gen.pmCsvView(ev, "t"), s"$work/log.csv.gz")

    // 1. the benchmark's composition vs the program's own EP1
    val log = EventLogCsv.read(spark, csv)
    val d = BatchDiscovery.discoverFull(EnabledTime.withEnabled(log))
    val wt = WaitingTimes.batchCaseWT(d)
    val mine = EpUnit.writeBack(log, d, wt)
    val theirs = Ep1.analyze(log)
    expect(mine.columns.sorted.sameElements(theirs.columns.sorted),
      s"composition has Ep1.analyze's columns (${theirs.columns.sorted.mkString(",")})")
    expect(Digest.of(mine) == Digest.of(theirs), "composition digest equals Ep1.analyze's")

    // 2. corrupted outputs fail the checks
    val good = EpUnit.check(wt, mine, "report", Map.empty)
    expect(good.wtTotals.head > 0, s"the log has batch instances (${good.wtTotals.head})")
    expect(Checks.compare(good, Some(good), good.pinned).isEmpty, "an intact unit passes")
    val firstEvent = mine.agg(min($"event_id")).head.getLong(0)
    val dropped = EpUnit.check(wt, mine.filter($"event_id" =!= firstEvent), "report", Map.empty)
    expect(Checks.compare(dropped, None, good.pinned).nonEmpty,
      "a WTs frame missing one row fails the pinned checks of a run's first unit")
    val oneCase: DataFrame = wt.limit(1).select($"batch_id", $"case_id")
    val wtDropped = wt.join(oneCase, Seq("batch_id", "case_id"), "left_anti")
    expect(Checks.compare(EpUnit.check(wtDropped, mine, "report", Map.empty), Some(good), good.pinned)
      .nonEmpty, "a WT table missing one batch case fails the checks")
    val wtBroken = wt.withColumn("total_wt_us",
      when($"case_id" === oneCase.head.getLong(1), $"total_wt_us" + 1).otherwise($"total_wt_us"))
    expect(EpUnit.check(wtBroken, mine, "report", Map.empty).identityViolations > 0,
      "a broken total = creation + ready + other identity is counted")

    // 3. the pinned WTs digest does not depend on the case-id salt
    val other = EventLogCsv.read(spark,
      Gen.writeSingleCsvGz(Gen.pmCsvView(ev, "u"), s"$work/log-u.csv.gz"))
    val dU = BatchDiscovery.discoverFull(EnabledTime.withEnabled(other))
    val wtU = WaitingTimes.batchCaseWT(dU)
    val otherSalt = EpUnit.check(wtU, EpUnit.writeBack(other, dU, wtU), "report", Map.empty)
    expect(otherSalt.pinned == good.pinned, "another case-id salt gives the same pinned outputs")

    // 4. disjoint copies multiply the batch structure
    val big = Gen.writeSingleCsvGz(Gen.pmCsvView(graft.ScaleProbe.inflatedEvents(ev, 10), "t"),
      s"$work/log10.csv.gz")
    val log10 = EventLogCsv.read(spark, big)
    val d10 = BatchDiscovery.discoverFull(EnabledTime.withEnabled(log10))
    val wt10 = WaitingTimes.batchCaseWT(d10)
    val totals10 = EpUnit.check(wt10, EpUnit.writeBack(log10, d10, wt10), "", Map.empty).wtTotals
    expect(totals10 == good.wtTotals.map(_ * 10),
      s"10x log: ${totals10.mkString(",")} = 10 x ${good.wtTotals.mkString(",")}")

    // metric names of both run kinds
    val report = Report(Main.Workloads.head, 0L, 1, traced = false, 1, 0, 0, 0, 0, 0, Seq(1.0), 0,
      None, 1, 0, Nil, Nil, Nil, Map.empty)
    (report.endToEnd ++ report.copy(traced = true).perLayer).foreach(m => println(s"metric ${m._1}"))
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
