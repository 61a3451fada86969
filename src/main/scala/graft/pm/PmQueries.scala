package graft.pm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Dist, Tables}

/** Process-mining kernel queries (SURVEY §2 W-group + EP1/EP2 lifecycle),
  * each paired with a DuckDB oracle reproducing the exact documented
  * semantics over the same `events` table (CTE pipeline mirrors the engine
  * stage by stage; W4's fixed point becomes a recursive-CTE threshold
  * sequence). */
object PmQueries {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- engine

  /** Enabled-time stage (K2 output): the pipeline's FIRST natural
    * materialization point, shared by task-only discovery (disc) and the
    * full subprocess discovery (pm_sp_batches) — without it each built its
    * own K2 sweep (+~4s per consumer at sf0.1). The K2 sweep emits run_no
    * itself (round 8), so this frame also serves as the runs-annotated
    * stage behind both segmentations. */
  private[graft] def enabledStage(s: SparkSession, d: String): DataFrame =
    graft.Stages.frame("pm.enabled", s, d) {
      graft.Pinned.stage(EnabledTime.withEnabled(EventLogOps.fromEvents(s, d)))
    }

  /** Session-shared segmentation of the enabled stage: ONE segmentation
    * pass serves both task-only discovery (disc) and subprocess discovery
    * (pm_sp_batches); before round 8 each ran its own event-grain window
    * chain over the same log. */
  private[graft] def segStage(s: SparkSession, d: String): DataFrame =
    graft.Stages.frame("pm.seg", s, d) {
      graft.Pinned.stage(BatchDiscovery.segment(enabledStage(s, d)))
    }

  /** The discovery pipeline output is shared by every pm/ar query in a
    * session: the gate/bench pay for enabled-time + segmentation once (it
    * is one pipeline stage, not per-query work). Event-grain rows only —
    * tiny relative to input. */
  private[graft] def disc(s: SparkSession, d: String): DataFrame =
    graft.Stages.frame("pm.disc", s, d) {
      // STAGE boundary (graft.Pinned.stage): ~15 downstream queries plan
      // against a leaf instead of re-printing the discovery DAG per action
      graft.Pinned.stage(BatchDiscovery.discoverFromSeg(segStage(s, d)))
    }

  /** EP2 report over an explicit discovered frame — shared by pm_report
    * and the scale probe's report head (which feeds an INFLATED discovery
    * instead of the session cache). `view` must be caller-unique. */
  private[graft] def reportFrom(s: SparkSession, dd: DataFrame, view: String): DataFrame = {
    import s.implicits._
    val acts = dd.filter($"batch_id".isNotNull)
      .groupBy("batch_id")
      .agg(concat_ws(",", sort_array(collect_set($"activity"))).as("activities"))
    WaitingTimes.batchCaseWT(dd).join(acts, Seq("batch_id"))
      .createOrReplaceTempView(view)
    s.sql(reportSelect(view))
  }

  val queries: Map[String, Q] = Map(
    // K2 phase 1 — concurrency relation.
    "pm_pairs" -> ((s, d) =>
      EnabledTime.concurrencyPairs(EventLogOps.fromEvents(s, d))),

    // D7 variant — the l2l-gated (1.0.0-package) concurrency semantics:
    // length-2-loop trigram evidence vetoes pairs whose bidirectional df
    // counts come from an a⇄b rework loop (the Loan-golden generation).
    // Graded as the ANNOTATED relation (base pair + symmetric trigram count
    // + veto verdict): the survivor set is empty on the harness events, so
    // its hash couldn't discriminate (round-6 advisor finding).
    "pm_pairs_l2l" -> ((s, d) =>
      EnabledTime.concurrencyPairsL2lAnnotated(EventLogOps.fromEvents(s, d))),

    // K2 — enabled-time estimation (per-case sweep kernel). Slices the
    // shared discovery cache (enabled_us is computed on its way in).
    "pm_enabled" -> ((s, d) => {
      import s.implicits._
      disc(s, d).select($"event_id", $"case_id", $"activity", $"resource",
        $"start_us", $"end_us", $"enabled_us")
    }),

    // K1 + W4..W8 — full batch discovery, event grain.
    "pm_batches" -> ((s, d) => {
      import s.implicits._
      disc(s, d).select($"event_id", $"case_id", $"activity", $"resource",
        $"start_us", $"end_us", $"enabled_us", $"batch_id", $"batch_type")
    }),

    // K1 at the NON-default seq_tolerated_gap (PmConfig.GapVariantUs):
    // the one reference dial (batch_detection.R:36, discovery.py:239)
    // every other graded discovery query runs at its default 0. Shares the
    // session enabled stage; segments fresh because the gap changes the
    // S-link rule itself.
    "pm_batches_gap" -> ((s, d) => {
      import s.implicits._
      BatchDiscovery.discover(enabledStage(s, d),
          seqGapUs = PmConfig.GapVariantUs)
        .select($"event_id", $"case_id", $"activity", $"resource",
          $"start_us", $"end_us", $"enabled_us", $"batch_id", $"batch_type")
    }),

    // Batch-instance grain stats (activities set key C5, sizes C4).
    "pm_batch_stats" -> ((s, d) => {
      import s.implicits._
      disc(s, d).filter($"batch_id".isNotNull)
        .groupBy($"batch_id", $"batch_type")
        .agg(
          concat_ws(",", sort_array(collect_set($"activity"))).as("activities"),
          countDistinct($"case_id").as("n_cases"),
          count(lit(1)).as("n_events"),
          min($"start_us").as("b_start_us"),
          max($"end_us").as("b_end_us"))
    }),

    // EP1 stage 6 — six-way waiting-time decomposition, batch-case grain.
    "pm_wt" -> ((s, d) => WaitingTimes.batchCaseWT(disc(s, d))),

    // K3 — sweep-line PT/WT.
    "pm_sweepline" -> ((s, d) => WaitingTimes.sweepLine(disc(s, d))),

    // EP2 — grouping-sets report over the decomposition.
    "pm_report" -> ((s, d) => reportFrom(s, disc(s, d), "graft_pm_repin")),

    // A4 as DATA — the rendered report text emitted line-by-line
    // (line_no, line), so the renderer itself is driver-graded against a
    // DuckDB twin built from the same format rules (python-tuple keys,
    // Counter ordering, pandas-Timedelta means, %.2f frequencies). The
    // byte-level golden anchors on the reference logs stay in ReportingSpec;
    // this closes the one §2 row that had no driver entry. The render is
    // the documented tiny-data driver path (batch/case grain).
    "pm_report_text" -> ((s, d) => {
      import s.implicits._
      Reporting.render(disc(s, d)).split("\n", -1).toSeq.zipWithIndex
        .map { case (l, i) => ((i + 1).toLong, l) }
        .toDF("line_no", "line")
    }),

    // W2 — ordered n-gram (length-3) subsequence counting per case.
    "w2_ngram_seq" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy("case_id").orderBy("start_us", "end_us", "event_id")
      EventLogOps.fromEvents(s, d)
        .withColumn("act2", lead($"activity", 1).over(w))
        .withColumn("act3", lead($"activity", 2).over(w))
        .filter($"act3".isNotNull)
        .groupBy($"activity".as("act1"), $"act2", $"act3")
        .agg(count(lit(1)).as("n"))
    }),

    // W11 — k equally spaced instants inside an interval (explode+sequence).
    "w11_instants" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey", explode(sequence(lit(1), lit(3))).as("i0"),
          Det.us($"o_orderdate").as("base_us"))
        .select($"o_orderkey", $"i0".cast("long").as("i"),
          Det.tsNtz($"base_us" + $"i0" * lit(648000000000L)).as("instant"))
    }),

    // W12 — deterministic per-group sample without replacement (seeded
    // replacement for the reference's unseeded random.sample).
    "w12_sample" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy(Det.pseudoRand($"event_id"), $"event_id")
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 5)
        .select($"user_id", $"event_id", $"rn")
    }),

    // W15 — calendar-unavailability displacement (handoff_batch.py:101-140):
    // conditionally advance out-of-calendar starts to the next working
    // window. Applied to the events grain with event_type standing in for
    // the resource match: "purchase" events starting Thu-Sun roll toward
    // Sunday (net: next Monday 09:00 for working-hours starts), "signup"
    // events starting Mon-Wed roll toward Wednesday. Row-local codegen'd
    // integer arithmetic — one map pass, no shuffle.
    "w15_calendar" -> ((s, d) => {
      import s.implicits._
      val base = Tables.events(s, d)
        .select($"event_id", $"event_type", Det.us($"ts").as("us"))
      // the two rules match disjoint row sets, so chaining is exact
      val afterLoan = Calendar.displacedUs($"us", $"event_type" === "purchase", _ > 2, 6)
      val afterBoth = Calendar.displacedUs(afterLoan, $"event_type" === "signup", _ < 3, 2)
      base.select($"event_id", $"event_type", $"us", afterBoth.as("new_us"))
    }),

    // W16 — business-hours time arithmetic: biz(us) = working micros
    // since epoch under Mon-Fri 08:00-17:00; per-user gap to the previous
    // event in WORKING time (differences of the monotone transform).
    // Row-local closed form + one per-user window.
    "w16_biztime" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      Tables.events(s, d)
        .select($"event_id", $"user_id", Det.us($"ts").as("us"))
        .withColumn("biz_us", Calendar.businessUs($"us"))
        .withColumn("gap_biz_us", $"biz_us" - lag($"biz_us", 1).over(w))
        .select($"event_id", $"user_id", $"biz_us", $"gap_biz_us")
    }),

    // W17b — the BATCH waiting-time decomposition re-measured on each
    // batch's resource business clock: every component interval
    // [a, b) becomes biz_R(b) - biz_R(a) under the resource's calendar
    // (a batch belongs to exactly one resource by construction), so
    // "3 days of ready time" over a weekend reads as 0 working hours —
    // the working-time report a process analyst actually wants. The
    // telescoping identity total = creation + ready + other survives the
    // transform (PmKernelSpec pins it); the batch-grain resource frame
    // joins back by its equi-key (batch grain << case grain, AQE
    // broadcasts it at small scale).
    "pm_wt_biz" -> ((s, d) => {
      import s.implicits._
      val dd = disc(s, d)
      // min(resource) is well-defined because K1 segments per resource
      // (W5): countDistinct(resource) == 1 per batch — EXECUTABLE guard in
      // PmKernelSpec ("one-resource-per-batch invariant") over the real
      // datasets, so a future W5 change fails there instead of silently
      // mis-clocking this decomposition.
      val res = dd.filter($"batch_id".isNotNull)
        .groupBy($"batch_id").agg(min($"resource").as("resource"))
      def biz(c: org.apache.spark.sql.Column) =
        Calendar.resourceBizUs($"resource", c)
      WaitingTimes.batchCaseWT(dd).join(res, Seq("batch_id"))
        .select($"batch_id", $"batch_type", $"case_id", $"resource",
          (biz($"case_start_us") - biz($"case_enabled_us")).as("total_wt_biz_us"),
          (biz($"instance_enabled_us") - biz($"case_enabled_us")).as("creation_wt_biz_us"),
          (biz($"instance_start_us") - biz($"instance_enabled_us")).as("ready_wt_biz_us"),
          (biz($"case_start_us") - biz($"instance_start_us")).as("other_wt_biz_us"),
          (biz($"case_end_us") - biz($"case_start_us")).as("pt_biz_us"))
    }),

    // W17 — PER-RESOURCE working-time waiting decomposition: each resource
    // class has its own calendar (Calendar.ResourceCals — the reference's
    // two-officer-calendar setup generalized), and each event's waiting
    // time start_us - enabled_us is re-measured on its resource's business
    // clock (difference of the monotone biz transform). The calendar
    // when-chain constant-folds row-locally, so the whole query is the
    // enabled stage + one map pass + one aggregate.
    "w17_rescal" -> ((s, d) => {
      import s.implicits._
      val en = enabledStage(s, d)
      en.select($"resource", $"activity",
          ($"start_us" - $"enabled_us").as("wall"),
          (Calendar.resourceBizUs($"resource", $"start_us") -
            Calendar.resourceBizUs($"resource", $"enabled_us")).as("biz"))
        .groupBy($"resource", $"activity")
        .agg(count(lit(1)).as("n"),
          sum($"wall").as("wall_wt_us"),
          sum($"biz").as("biz_wt_us"))
    }),

    // W18 — w17_rescal computed from a calendar TABLE (calendar-as-DATA):
    // the same per-resource working-time decomposition, but the calendars
    // come from a DataFrame broadcast-joined on resource instead of a
    // Scala constant folded into the plan — the form a real deployment
    // needs (calendars arrive as data and change over time). Hash-equal
    // to w17_rescal by construction; the oracle is the same generated
    // CASE (it checks the VALUES, not the plumbing).
    "w18_caltable" -> ((s, d) => {
      import s.implicits._
      val en = Calendar.withResourceCal(enabledStage(s, d), Calendar.calendarDf(s))
      en.select($"resource", $"activity",
          ($"start_us" - $"enabled_us").as("wall"),
          (Calendar.bizUsFromCalCols($"start_us") -
            Calendar.bizUsFromCalCols($"enabled_us")).as("biz"))
        .groupBy($"resource", $"activity")
        .agg(count(lit(1)).as("n"),
          sum($"wall").as("wall_wt_us"),
          sum($"biz").as("biz_wt_us"))
    }),

    // W19 — calendar VALIDITY INTERVALS: the w18 calendar table gains
    // [valid_from_us, valid_to_us) rows (two versions: the round-robin
    // amendment at Calendar.CalAmendUs), and each event joins the row
    // valid at its START instant — the version convention "the clock the
    // resource was on when the work started" applies to the whole waiting
    // interval, so the transform stays a difference of ONE monotone
    // function per row. Broadcast range-join against the 2·|resources|-row
    // dimension; otherwise identical shape to w18_caltable.
    "w19_calversion" -> ((s, d) => {
      import s.implicits._
      val en = enabledStage(s, d)
      val cal = Calendar.versionedCalendarDf(s)
        .withColumnRenamed("resource", "cal_resource")
      en.join(broadcast(cal),
          en("resource") === cal("cal_resource") &&
            en("start_us") >= cal("valid_from_us") &&
            en("start_us") < cal("valid_to_us"))
        .select($"resource", $"activity",
          ($"start_us" - $"enabled_us").as("wall"),
          (Calendar.bizUsFromCalCols($"start_us") -
            Calendar.bizUsFromCalCols($"enabled_us")).as("biz"))
        .groupBy($"resource", $"activity")
        .agg(count(lit(1)).as("n"),
          sum($"wall").as("wall_wt_us"),
          sum($"biz").as("biz_wt_us"))
    }),

    // Full discovery INCLUDING case-based (subprocess) batches — the
    // reference's complete pass order with the nullification path.
    // discoverFull returns an EAGERLY staged frame (round-7: stage
    // boundaries replaced persists, 9.6s -> 6.1s at sf0.1) whose lifecycle
    // belongs to the caller — memoized per (session, dataset) with the
    // standard eviction so one session computes it once and the staged
    // blocks are released on dataset switch.
    "pm_sp_batches" -> ((s, d) => {
      import s.implicits._
      graft.Stages.frame("pm.sp", s, d) {
        BatchDiscovery.discoverFullFromStages(enabledStage(s, d), segStage(s, d)) }
        .select($"event_id", $"case_id", $"activity", $"resource",
          $"start_us", $"end_us", $"enabled_us", $"batch_id", $"batch_type")
    }),

    // EP1 output log: event grain + the six WT durations (zero-filled for
    // unbatched events, analysis.py:53-58), the numeric twin of the
    // *_WTs.csv.gz artifact (Ep1.wtLogView renders the reference layout).
    "pm_wt_log" -> ((s, d) => {
      import s.implicits._
      val dd = disc(s, d)
      val wt = WaitingTimes.batchCaseWT(dd).select($"batch_id", $"case_id",
        $"pt_us".as("batch_pt_us"), $"wt_us".as("batch_wt_us"),
        $"total_wt_us".as("batch_total_wt_us"),
        $"creation_wt_us".as("batch_creation_wt_us"),
        $"ready_wt_us".as("batch_ready_wt_us"),
        $"other_wt_us".as("batch_other_wt_us"))
      // shuffle join on (batch_id, case_id): the WT table is batch-case
      // grain — proportional to batched cases, NOT bounded at 100 TB, so a
      // forced broadcast is a driver/executor OOM there. AQE still picks a
      // broadcast at runtime when the side is actually small.
      dd.join(wt, Seq("batch_id", "case_id"), "left")
        .select($"event_id", $"case_id", $"activity", $"resource",
          $"enabled_us", $"start_us", $"end_us", $"batch_id", $"batch_type",
          $"batch_pt_us", $"batch_wt_us", $"batch_total_wt_us",
          $"batch_creation_wt_us", $"batch_ready_wt_us", $"batch_other_wt_us")
        .na.fill(0L, Seq("batch_pt_us", "batch_wt_us", "batch_total_wt_us",
          "batch_creation_wt_us", "batch_ready_wt_us", "batch_other_wt_us"))
    }),

    // Checkpoint columns (config.py:40-42, analysis.py:96-105): the
    // report_batch_checkpoints option adds batch_case_enabled /
    // batch_instance_enabled / batch_start to every event of a batch case
    // (NULL outside batches).
    "pm_checkpoints" -> ((s, d) => {
      import s.implicits._
      val dd = disc(s, d)
      val cp = WaitingTimes.batchCaseWT(dd).select($"batch_id", $"case_id",
        $"case_enabled_us".as("batch_case_enabled_us"),
        $"instance_enabled_us".as("batch_instance_enabled_us"),
        $"instance_start_us".as("batch_start_us"))
      // shuffle join, same unbounded-grain rationale as pm_wt_log above
      dd.join(cp, Seq("batch_id", "case_id"), "left")
        .select($"event_id", $"case_id", $"activity", $"batch_id",
          $"batch_case_enabled_us", $"batch_instance_enabled_us", $"batch_start_us")
    }),

    // W13 — ntile chunking over a total order, computed distributed
    // (Dist.ntileBy: range partition + per-partition offsets) instead of a
    // single-task global WindowExec; identical tiles to ntile(7) OVER.
    // k=7 deliberately does NOT divide the orders row count at any SF —
    // the uneven first-tiles-get-one-extra path stays oracle-checked
    // (k=10 divided evenly and masked a double-division drift, DistSpec).
    "w13_ntile" -> ((s, d) => {
      import s.implicits._
      Dist.ntileBy(Tables.orders(s, d), 7, "tile", Seq($"o_totalprice", $"o_orderkey"))
        .withColumn("tile", $"tile".cast("long"))
        .groupBy($"tile")
        .agg(count(lit(1)).as("n"), Det.dsum($"o_totalprice").as("sum_price"))
    })
  )

  // ------------------------------------------------------------ oracle SQL

  /** Canonical log derivation (mirrors EventLogOps.fromEvents). */
  private val logCte =
    """log AS (
      |  SELECT event_id, user_id AS case_id, event_type AS activity,
      |         concat('r', user_id % 4) AS resource,
      |         epoch_us(ts) AS start_us,
      |         epoch_us(ts) + CAST(round(value * 60000000.0) AS BIGINT) AS end_us
      |  FROM events)""".stripMargin

  /** Enabled-time CTEs (mirrors EnabledTime: df pairs -> concurrency ->
    * max non-concurrent predecessor end -> case-start fallback). */
  private val enCtes =
    s"""cs AS (SELECT case_id, min(start_us) AS case_start FROM log GROUP BY 1),
      |seqv AS (SELECT case_id, activity,
      |  lag(activity) OVER (PARTITION BY case_id ORDER BY start_us, event_id) AS prev_act FROM log),
      |dfp AS (SELECT prev_act AS a, activity AS b, count(*) AS n FROM seqv WHERE prev_act IS NOT NULL GROUP BY 1, 2),
      |conc AS (SELECT d1.a AS a, d1.b AS b FROM dfp d1 JOIN dfp d2 ON d1.a = d2.b AND d1.b = d2.a
      |  WHERE d1.a <> d1.b AND abs(d1.n - d2.n) / (d1.n + d2.n + 1.0) < ${EnabledTime.DependencyThreshold}),
      |pred AS (
      |  SELECT e.event_id, max(p.end_us) AS pred_end
      |  FROM log e JOIN log p ON p.case_id = e.case_id AND p.end_us <= e.start_us
      |    AND p.event_id <> e.event_id
      |  WHERE NOT EXISTS (SELECT 1 FROM conc c WHERE c.a = p.activity AND c.b = e.activity)
      |  GROUP BY e.event_id),
      |en AS (
      |  SELECT l.event_id, l.case_id, l.activity, l.resource, l.start_us, l.end_us,
      |         coalesce(pr.pred_end, c.case_start) AS enabled_us
      |  FROM log l LEFT JOIN pred pr ON l.event_id = pr.event_id
      |  JOIN cs c ON l.case_id = c.case_id)""".stripMargin

  /** Segmentation CTEs (mirrors BatchDiscovery.segment: typed-link chains
    * with the anchor/parity boundary rule — see ProcessMining Scaladoc).
    * The S-link gap tolerance is generated from PmConfig.SeqGapUs (same
    * constant the engine uses — const-sharing pattern). */
  private def segCtesFor(gapUs: Long): String =
    s"""seg0 AS (
      |  SELECT *, lag(start_us) OVER w AS prev_s, lag(end_us) OVER w AS prev_e,
      |    row_number() OVER w AS rn
      |  FROM en WINDOW w AS (PARTITION BY resource, activity ORDER BY start_us, end_us, event_id)),
      |seg1 AS (
      |  SELECT *, CASE WHEN prev_s IS NULL THEN NULL
      |                 WHEN start_us = prev_s AND end_us = prev_e THEN 'P'
      |                 WHEN start_us >= prev_e AND start_us <= prev_e + $gapUs THEN 'S'
      |                 WHEN start_us < prev_e AND end_us <> prev_e THEN 'C'
      |                 ELSE NULL END AS lnk
      |  FROM seg0),
      |seg2 AS (SELECT *, lag(lnk) OVER w2 AS prev_lnk
      |  FROM seg1 WINDOW w2 AS (PARTITION BY resource, activity ORDER BY start_us, end_us, event_id)),
      |seg3 AS (
      |  SELECT *, max(CASE WHEN lnk IS NULL THEN rn * 2 + 1
      |                     WHEN prev_lnk IS NOT NULL AND lnk = prev_lnk THEN rn * 2 END)
      |    OVER (PARTITION BY resource, activity ORDER BY start_us, end_us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anchor
      |  FROM seg2),
      |seg4 AS (
      |  SELECT *, CASE WHEN anchor % 2 = 1 THEN (rn - anchor // 2) % 2 = 0
      |                 ELSE (rn - anchor // 2) % 2 = 1 END AS bnd
      |  FROM seg3),
      |seg AS (
      |  SELECT *, sum(CASE WHEN bnd THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY resource, activity ORDER BY start_us, end_us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_no
      |  FROM seg4)""".stripMargin

  private val segCtes = segCtesFor(PmConfig.SeqGapUs)

  /** Classification + batch-case grain + W4 recursive split + W7 min size +
    * W8 renumbering (mirrors BatchDiscovery.classify/batchCases/split/discover). */
  private val batchCtes =
    """btype AS (
      |  SELECT resource, activity, seg_no,
      |    CASE min(CASE WHEN NOT bnd THEN lnk END)
      |      WHEN 'P' THEN 'Parallel'
      |      WHEN 'S' THEN 'Sequential task-based'
      |      WHEN 'C' THEN 'Concurrent task-based' END AS batch_type
      |  FROM seg GROUP BY 1, 2, 3),
      |bc AS (
      |  SELECT resource, activity, seg_no, case_id,
      |    min(start_us) AS case_start,
      |    min(CASE WHEN start_us = cs2 THEN enabled_us END) AS case_enabled,
      |    max(end_us) AS case_end
      |  FROM (SELECT *, min(start_us) OVER (PARTITION BY resource, activity, seg_no, case_id) AS cs2 FROM seg) z
      |  GROUP BY 1, 2, 3, 4),
      |thr AS (
      |  SELECT resource, activity, seg_no, 0 AS g, min(case_start) AS s FROM bc GROUP BY 1, 2, 3
      |  UNION ALL
      |  SELECT t.resource, t.activity, t.seg_no, t.g + 1,
      |    (SELECT min(c.case_start) FROM bc c WHERE c.resource = t.resource
      |       AND c.activity = t.activity AND c.seg_no = t.seg_no AND c.case_enabled > t.s)
      |  FROM thr t
      |  WHERE EXISTS (SELECT 1 FROM bc c WHERE c.resource = t.resource
      |       AND c.activity = t.activity AND c.seg_no = t.seg_no AND c.case_enabled > t.s)),
      |gen AS (
      |  SELECT c.*, (SELECT count(*) FROM thr t WHERE t.resource = c.resource
      |    AND t.activity = c.activity AND t.seg_no = c.seg_no AND t.s < c.case_enabled) AS sub
      |  FROM bc c),
      |bkeys AS (
      |  SELECT resource, activity, seg_no, sub, min(case_start) AS b_start, count(*) AS n_cases
      |  FROM gen GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
      |bid AS (
      |  SELECT *, CAST(dense_rank() OVER (ORDER BY b_start, resource, activity, seg_no, sub) AS BIGINT) AS batch_id
      |  FROM bkeys),
      |bcase AS (
      |  SELECT b.batch_id, t.batch_type, g.case_id, g.case_start, g.case_enabled, g.case_end
      |  FROM gen g
      |  JOIN bid b ON g.resource = b.resource AND g.activity = b.activity AND g.seg_no = b.seg_no AND g.sub = b.sub
      |  JOIN btype t ON g.resource = t.resource AND g.activity = t.activity AND g.seg_no = t.seg_no),
      |bev AS (
      |  SELECT s.*, b.batch_id, t.batch_type
      |  FROM seg s
      |  JOIN gen g ON s.resource = g.resource AND s.activity = g.activity AND s.seg_no = g.seg_no AND s.case_id = g.case_id
      |  JOIN bid b ON g.resource = b.resource AND g.activity = b.activity AND g.seg_no = b.seg_no AND g.sub = b.sub
      |  JOIN btype t ON s.resource = t.resource AND s.activity = t.activity AND s.seg_no = t.seg_no)""".stripMargin

  /** Subprocess (case-based) CTEs mirroring BatchDiscovery.discoverFull:
    * units (maximal same-resource gap-0 multi-activity runs) → typed-link
    * unit segmentation → W6 mix invalidation → W4 recursive split at unit
    * grain → min-size with nullification → unified ids (task over
    * unclaimed events first, then subprocess). */
  private val spCtes =
    s"""runs0 AS (SELECT *, lag(resource) OVER wc AS prev_res, lag(end_us) OVER wc AS prev_end
      |  FROM en WINDOW wc AS (PARTITION BY case_id ORDER BY start_us, end_us, event_id)),
      |runs AS (SELECT *, sum(CASE WHEN prev_res IS NULL OR prev_res <> resource OR start_us > prev_end + ${PmConfig.SeqGapUs} THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY case_id ORDER BY start_us, end_us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_no
      |  FROM runs0),
      |units AS (
      |  SELECT case_id, run_no, min(resource) AS resource,
      |    string_agg(activity, chr(1) ORDER BY start_us, end_us, event_id) AS subseq,
      |    min(start_us) AS unit_start, max(end_us) AS unit_end,
      |    min(CASE WHEN start_us = u_min_s THEN enabled_us END) AS unit_enabled
      |  FROM (SELECT *, min(start_us) OVER (PARTITION BY case_id, run_no) AS u_min_s FROM runs) z
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 2 AND count(DISTINCT activity) >= 2),
      |usg0 AS (SELECT *, lag(unit_start) OVER wu AS prev_s, lag(unit_end) OVER wu AS prev_e,
      |    row_number() OVER wu AS rn
      |  FROM units WINDOW wu AS (PARTITION BY resource, subseq ORDER BY unit_start, unit_end, case_id, run_no)),
      |usg1 AS (SELECT *, CASE WHEN prev_s IS NULL THEN NULL
      |                        WHEN unit_start = prev_s AND unit_end = prev_e THEN 'P'
      |                        WHEN unit_start >= prev_e AND unit_start <= prev_e + ${PmConfig.SeqGapUs} THEN 'S'
      |                        WHEN unit_start < prev_e AND unit_end <> prev_e THEN 'C'
      |                        ELSE NULL END AS lnk FROM usg0),
      |usg2 AS (SELECT *, lag(lnk) OVER wu2 AS prev_lnk
      |  FROM usg1 WINDOW wu2 AS (PARTITION BY resource, subseq ORDER BY unit_start, unit_end, case_id, run_no)),
      |usg3 AS (SELECT *, max(CASE WHEN lnk IS NULL THEN rn * 2 + 1
      |                            WHEN prev_lnk IS NOT NULL AND lnk = prev_lnk THEN rn * 2 END)
      |    OVER (PARTITION BY resource, subseq ORDER BY unit_start, unit_end, case_id, run_no
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anchor
      |  FROM usg2),
      |usg4 AS (SELECT *, CASE WHEN anchor % 2 = 1 THEN (rn - anchor // 2) % 2 = 0
      |                        ELSE (rn - anchor // 2) % 2 = 1 END AS bnd FROM usg3),
      |usg AS (SELECT *, sum(CASE WHEN bnd THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY resource, subseq ORDER BY unit_start, unit_end, case_id, run_no
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp_seg
      |  FROM usg4),
      |sptype AS (
      |  SELECT resource, subseq, sp_seg,
      |    CASE min(CASE WHEN NOT bnd THEN lnk END)
      |      WHEN 'P' THEN 'task-based'
      |      WHEN 'S' THEN 'Sequential case-based'
      |      WHEN 'C' THEN 'Concurrent case-based' END AS sp_type
      |  FROM usg GROUP BY 1, 2, 3
      |  HAVING count(DISTINCT case_id) >= 2 AND min(CASE WHEN NOT bnd THEN lnk END) IS NOT NULL),
      |cand AS (SELECT u.*, t.sp_type FROM usg u JOIN sptype t USING (resource, subseq, sp_seg)),
      |evsp AS (
      |  SELECT s.event_id, s.case_id, s.activity, s.resource, s.seg_no,
      |    c.subseq, c.sp_seg, c.sp_type, c.run_no
      |  FROM seg s JOIN runs r ON r.event_id = s.event_id
      |  JOIN cand c ON c.case_id = r.case_id AND c.run_no = r.run_no),
      |mixed AS (
      |  SELECT resource, subseq, sp_seg FROM (
      |    SELECT v.resource, v.subseq, v.sp_seg, coalesce(t.batch_type, ' ') AS bt
      |    FROM evsp v LEFT JOIN btype t ON t.resource = v.resource AND t.activity = v.activity AND t.seg_no = v.seg_no) e
      |  GROUP BY 1, 2, 3 HAVING count(DISTINCT bt) > 1),
      |candok AS (SELECT c.* FROM cand c LEFT JOIN mixed m
      |  ON m.resource = c.resource AND m.subseq = c.subseq AND m.sp_seg = c.sp_seg
      |  WHERE m.resource IS NULL),
      |evok AS (SELECT v.* FROM evsp v LEFT JOIN mixed m
      |  ON m.resource = v.resource AND m.subseq = v.subseq AND m.sp_seg = v.sp_seg
      |  WHERE m.resource IS NULL),
      |spbc AS (
      |  SELECT resource, subseq, sp_seg, case_id, min(unit_start) AS case_start,
      |    min(CASE WHEN unit_start = us2 THEN unit_enabled END) AS case_enabled,
      |    max(unit_end) AS case_end
      |  FROM (SELECT *, min(unit_start) OVER (PARTITION BY resource, subseq, sp_seg, case_id) AS us2 FROM candok) z
      |  GROUP BY 1, 2, 3, 4),
      |spthr AS (
      |  SELECT resource, subseq, sp_seg, 0 AS g, min(case_start) AS s FROM spbc GROUP BY 1, 2, 3
      |  UNION ALL
      |  SELECT t.resource, t.subseq, t.sp_seg, t.g + 1,
      |    (SELECT min(c.case_start) FROM spbc c WHERE c.resource = t.resource
      |       AND c.subseq = t.subseq AND c.sp_seg = t.sp_seg AND c.case_enabled > t.s)
      |  FROM spthr t
      |  WHERE EXISTS (SELECT 1 FROM spbc c WHERE c.resource = t.resource
      |       AND c.subseq = t.subseq AND c.sp_seg = t.sp_seg AND c.case_enabled > t.s)),
      |spgen AS (
      |  SELECT c.*, (SELECT count(*) FROM spthr t WHERE t.resource = c.resource
      |    AND t.subseq = c.subseq AND t.sp_seg = c.sp_seg AND t.s < c.case_enabled) AS sub
      |  FROM spbc c),
      |spvalid AS (
      |  SELECT resource, subseq, sp_seg, sub, min(case_start) AS b_start, count(*) AS n_cases
      |  FROM spgen GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
      |spclaims AS (
      |  SELECT v.event_id, v.sp_type, g.resource, g.subseq, g.sp_seg, g.sub
      |  FROM evok v JOIN spgen g ON g.resource = v.resource AND g.subseq = v.subseq
      |    AND g.sp_seg = v.sp_seg AND g.case_id = v.case_id),
      |useg AS (SELECT s.* FROM seg s
      |  WHERE NOT EXISTS (SELECT 1 FROM evok v WHERE v.event_id = s.event_id)),
      |ubc AS (
      |  SELECT resource, activity, seg_no, case_id, min(start_us) AS case_start,
      |    min(CASE WHEN start_us = cs2 THEN enabled_us END) AS case_enabled,
      |    max(end_us) AS case_end
      |  FROM (SELECT *, min(start_us) OVER (PARTITION BY resource, activity, seg_no, case_id) AS cs2 FROM useg) z
      |  GROUP BY 1, 2, 3, 4),
      |uthr AS (
      |  SELECT resource, activity, seg_no, 0 AS g, min(case_start) AS s FROM ubc GROUP BY 1, 2, 3
      |  UNION ALL
      |  SELECT t.resource, t.activity, t.seg_no, t.g + 1,
      |    (SELECT min(c.case_start) FROM ubc c WHERE c.resource = t.resource
      |       AND c.activity = t.activity AND c.seg_no = t.seg_no AND c.case_enabled > t.s)
      |  FROM uthr t
      |  WHERE EXISTS (SELECT 1 FROM ubc c WHERE c.resource = t.resource
      |       AND c.activity = t.activity AND c.seg_no = t.seg_no AND c.case_enabled > t.s)),
      |ugen AS (
      |  SELECT c.*, (SELECT count(*) FROM uthr t WHERE t.resource = c.resource
      |    AND t.activity = c.activity AND t.seg_no = c.seg_no AND t.s < c.case_enabled) AS sub
      |  FROM ubc c),
      |ubkeys AS (
      |  SELECT resource, activity, seg_no, sub, min(case_start) AS b_start, count(*) AS n_cases
      |  FROM ugen GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
      |ubid AS (
      |  SELECT *, CAST(dense_rank() OVER (ORDER BY b_start, resource, activity, seg_no, sub) AS BIGINT) AS batch_id
      |  FROM ubkeys),
      |umax AS (SELECT coalesce(max(batch_id), 0) AS m FROM ubid),
      |spbid AS (
      |  SELECT *, CAST(dense_rank() OVER (ORDER BY b_start, resource, subseq, sp_seg, sub) AS BIGINT)
      |    + (SELECT m FROM umax) AS batch_id
      |  FROM spvalid)""".stripMargin

  private val wtSelect =
    """SELECT batch_id, batch_type, case_id,
      |  case_start - case_enabled AS total_wt_us,
      |  inst_enabled - case_enabled AS creation_wt_us,
      |  inst_start - inst_enabled AS ready_wt_us,
      |  case_start - inst_start AS other_wt_us,
      |  case_end - case_start AS pt_us,
      |  case_start - case_enabled AS wt_us,
      |  inst_enabled AS instance_enabled_us,
      |  inst_start AS instance_start_us,
      |  case_enabled AS case_enabled_us,
      |  case_start AS case_start_us,
      |  case_end AS case_end_us
      |FROM (SELECT *, max(case_enabled) OVER (PARTITION BY batch_id) AS inst_enabled,
      |             min(case_start) OVER (PARTITION BY batch_id) AS inst_start FROM bcase) z""".stripMargin

  /** Report SELECT — identical text runs in Spark SQL (over a temp view) and
    * in DuckDB (over the CTE pipeline); only the FROM name differs. */
  private def reportSelect(from: String): String =
    s"""SELECT activities, coalesce(batch_type, 'ALL') AS batch_type,
       |count(DISTINCT batch_id) AS n_instances, count(*) AS n_cases,
       |CAST(floor(CAST(sum(total_wt_us) AS DOUBLE) / count(*)) AS BIGINT) AS avg_total_wt_us,
       |CAST(floor(CAST(sum(creation_wt_us) AS DOUBLE) / count(*)) AS BIGINT) AS avg_creation_wt_us,
       |CAST(floor(CAST(sum(ready_wt_us) AS DOUBLE) / count(*)) AS BIGINT) AS avg_ready_wt_us,
       |CAST(floor(CAST(sum(other_wt_us) AS DOUBLE) / count(*)) AS BIGINT) AS avg_other_wt_us,
       |CAST(floor(CAST(sum(pt_us) AS DOUBLE) / count(*)) AS BIGINT) AS avg_pt_us,
       |CAST(floor(CAST(sum(wt_us) AS DOUBLE) / count(*)) AS BIGINT) AS avg_wt_us,
       |CASE WHEN sum(pt_us) + sum(wt_us) = 0 THEN 0
       |     ELSE round(CAST(sum(pt_us) AS DOUBLE) / (sum(pt_us) + sum(wt_us)), 6) END AS cte
       |FROM $from
       |GROUP BY GROUPING SETS ((activities), (activities, batch_type))""".stripMargin

  private def withPrefix(ctes: String*)(select: String): String =
    s"WITH RECURSIVE ${ctes.mkString(",\n")}\n$select"

  /** [[Reporting.fmtAvg]] rendered in DuckDB SQL: exact integer floor of
    * the ns mean (HUGEINT-safe — us sums * 1000 can exceed int64), then
    * `D days HH:MM:SS` + the 6-or-9-digit fraction rule. Both engines
    * truncate toward zero (Scala BigInt /, DuckDB //). */
  private def fmtAvgSql(sum: String, n: String): String = {
    val ns = s"((CAST($sum AS HUGEINT) * 1000) // CAST($n AS HUGEINT))"
    val sec = s"($ns // 1000000000)"
    val frac = s"($ns % 1000000000)"
    // single-line on purpose: this fragment is embedded in a stripMargin
    // template, so no generated line may begin with whitespace + '|'
    s"(printf('%d days %02d:%02d:%02d', CAST($sec // 86400 AS BIGINT), " +
      s"CAST($sec % 86400 // 3600 AS BIGINT), CAST($sec % 3600 // 60 AS BIGINT), " +
      s"CAST($sec % 60 AS BIGINT)) || CASE WHEN $frac = 0 THEN '' " +
      s"WHEN $frac % 1000 = 0 THEN printf('.%06d', CAST($frac // 1000 AS BIGINT)) " +
      s"ELSE printf('.%09d', CAST($frac AS BIGINT)) END)"
  }

  /** Scala `f"$x%.2f%%"` of `num * 100.0 / den` in DuckDB: round() ties
    * away from zero like Java HALF_UP, and printf of the pre-rounded value
    * cannot re-round (0.01 grid >> double epsilon). */
  private def pct2Sql(num: String, den: String): String =
    s"(CASE WHEN $den = 0 THEN '0.00' ELSE printf('%.2f', round(CAST($num AS DOUBLE) * 100 / $den, 2)) END || '%')"

  /** The 7 [[Reporting.statBlock]] lines as SQL string expressions over a
    * stats alias carrying n_cases and the six HUGEINT sums. */
  private def statLineSql(ind: String, a: String): Seq[String] = {
    def f(col: String) = fmtAvgSql(s"$a.s_$col", s"$a.n_cases")
    val cte = s"printf('%.2f', round(CASE WHEN $a.s_pt > 0 THEN CAST($a.s_pt AS DOUBLE) / " +
      s"(CAST($a.s_pt AS DOUBLE) + CAST($a.s_wt AS DOUBLE)) ELSE 0 END, 2))"
    Seq(
      s"'${ind}Average overall processing time: ' || ${f("pt")} || ' sec'",
      s"'${ind}Average overall waiting time: ' || ${f("wt")} || ' sec'",
      s"'${ind}CTE: ' || $cte",
      s"'${ind}Average total wt: ' || ${f("total")} || ' sec'",
      s"'${ind}Average creation wt: ' || ${f("creation")} || ' sec'",
      s"'${ind}Average ready wt: ' || ${f("ready")} || ' sec'",
      s"'${ind}Average other wt: ' || ${f("other")} || ' sec'")
  }

  /** DuckDB twin of [[Reporting.render]] at (line_no, line) grain — the
    * report text reconstructed from the same discovery CTEs and format
    * rules. Counter ties keep first-appearance order in the reference's
    * instance iteration order (resource asc, instance start asc, id);
    * per-key occurrence counts replicate the representative-sequence rule
    * (first instance's earliest event's case, W2 rolling windows for
    * multi-activity sequences). */
  private val reportTextCtes: String = {
    val ctr = "'Counter({' || string_agg(bsize || ': ' || cnt, ', ' ORDER BY cnt DESC, fo) || '})'"
    val typeCase = "CASE st.bt WHEN 'Parallel' THEN 1 WHEN 'Sequential task-based' THEN 2 " +
      "WHEN 'Concurrent task-based' THEN 3 WHEN 'Sequential case-based' THEN 4 ELSE 5 END"
    val allLines = (Seq(
      "''", "''",
      "'Batch formed by activities: ' || k.tup",
      "'\tNum occurrences: ' || o.occ",
      "'\tNum occurrences in batch: ' || st.n_cases",
      "'\tFrequency occurrences in batch: ' || " + pct2Sql("st.n_cases", "o.occ"),
      "'\tBatch size distribution: ' || c.ctr") ++ statLineSql("\t", "st"))
      .mkString("[\n", ",\n", "\n] AS ls")
    val typLines = (Seq(
      "'\t- Batch type: ' || st.bt",
      "'\t\tNum batch instances: ' || ni.n_inst",
      "'\t\tBatch size distribution: ' || c.ctr",
      "'\t\tNum batch cases: ' || st.n_cases",
      "'\t\tFrequency: ' || " + pct2Sql("st.n_cases", "o.occ")) ++
      statLineSql("\t\t", "st"))
      .mkString("[\n", ",\n", "\n] AS ls")
    s"""acts AS (SELECT batch_id, string_agg(DISTINCT activity, ',' ORDER BY activity) AS activities
       |  FROM bev GROUP BY 1),
       |wtc AS (
       |$wtSelect),
       |repin AS (SELECT a.activities, w.* FROM wtc w JOIN acts a USING (batch_id)),
       |rtstat AS (SELECT activities, coalesce(batch_type, '#ALL#') AS bt,
       |    CAST(count(*) AS BIGINT) AS n_cases,
       |    CAST(sum(pt_us) AS HUGEINT) AS s_pt, CAST(sum(wt_us) AS HUGEINT) AS s_wt,
       |    CAST(sum(total_wt_us) AS HUGEINT) AS s_total,
       |    CAST(sum(creation_wt_us) AS HUGEINT) AS s_creation,
       |    CAST(sum(ready_wt_us) AS HUGEINT) AS s_ready,
       |    CAST(sum(other_wt_us) AS HUGEINT) AS s_other
       |  FROM repin GROUP BY GROUPING SETS ((activities), (activities, batch_type))),
       |rtinst AS (SELECT a.activities, b.batch_id, min(b.batch_type) AS batch_type,
       |    CAST(count(DISTINCT b.case_id) AS BIGINT) AS bsize,
       |    min(b.resource) AS res, min(b.start_us) AS bs
       |  FROM bev b JOIN acts a USING (batch_id) GROUP BY 1, 2),
       |rtord AS (SELECT *, row_number() OVER (PARTITION BY activities ORDER BY res, bs, batch_id) AS ord
       |  FROM rtinst),
       |rtctr AS (SELECT activities, '#ALL#' AS bt, $ctr AS ctr FROM (
       |    SELECT activities, bsize, CAST(count(*) AS BIGINT) AS cnt, min(ord) AS fo
       |    FROM rtord GROUP BY 1, 2) z GROUP BY 1
       |  UNION ALL
       |  SELECT activities, batch_type, $ctr FROM (
       |    SELECT activities, batch_type, bsize, CAST(count(*) AS BIGINT) AS cnt, min(ord) AS fo
       |    FROM rtord GROUP BY 1, 2, 3) z GROUP BY 1, 2),
       |rtninst AS (SELECT activities, batch_type, CAST(count(*) AS BIGINT) AS n_inst
       |  FROM rtinst GROUP BY 1, 2),
       |rtminb AS (SELECT activities, batch_id FROM (
       |    SELECT a.activities, b.batch_id,
       |      row_number() OVER (PARTITION BY a.activities
       |        ORDER BY min(b.resource), min(b.start_us), b.batch_id) AS rn
       |    FROM bev b JOIN acts a USING (batch_id) GROUP BY 1, 2) z WHERE rn = 1),
       |rtmine AS (SELECT activities, batch_id, case_id FROM (
       |    SELECT m.activities, m.batch_id, b.case_id,
       |      row_number() OVER (PARTITION BY m.activities
       |        ORDER BY b.start_us, b.end_us, b.event_id, b.case_id) AS rn
       |    FROM rtminb m JOIN bev b USING (batch_id)) z WHERE rn = 1),
       |rtseq AS (SELECT e.activities, list(b.activity ORDER BY b.start_us, b.end_us, b.event_id) AS sq
       |  FROM rtmine e JOIN bev b ON b.batch_id = e.batch_id AND b.case_id = e.case_id GROUP BY 1),
       |rttr AS (SELECT case_id, list(activity ORDER BY start_us, end_us, event_id) AS tr
       |  FROM seg GROUP BY 1),
       |rthits AS (SELECT r.activities, CAST(count(*) AS BIGINT) AS hits
       |  FROM rtseq r, rttr t, LATERAL (SELECT unnest(generate_series(1, len(t.tr))) AS p) g
       |  WHERE len(r.sq) >= 2 AND list_slice(t.tr, g.p, g.p + len(r.sq) - 1) = r.sq
       |  GROUP BY 1),
       |rtocc AS (
       |  SELECT r.activities, CAST(coalesce(s.n, 0) AS BIGINT) AS occ FROM rtseq r
       |    LEFT JOIN (SELECT activity, count(*) AS n FROM seg GROUP BY 1) s ON s.activity = r.sq[1]
       |    WHERE len(r.sq) <= 1
       |  UNION ALL
       |  SELECT r.activities, coalesce(h.hits, 0) FROM rtseq r
       |    LEFT JOIN rthits h USING (activities) WHERE len(r.sq) >= 2),
       |rtkeys AS (SELECT activities, row_number() OVER (ORDER BY activities) AS kr,
       |    CASE WHEN len(string_split(activities, ',')) = 1
       |         THEN '(' || chr(39) || activities || chr(39) || ',)'
       |         ELSE '(' || array_to_string(list_transform(string_split(activities, ','),
       |                x -> chr(39) || x || chr(39)), ', ') || ')' END AS tup
       |  FROM (SELECT DISTINCT activities FROM rtinst) k),
       |rtallb AS (SELECT k.kr, 0 AS tord, $allLines
       |  FROM rtkeys k
       |  JOIN rtocc o USING (activities)
       |  JOIN rtstat st ON st.activities = k.activities AND st.bt = '#ALL#'
       |  JOIN rtctr c ON c.activities = k.activities AND c.bt = '#ALL#'),
       |rttypb AS (SELECT k.kr, $typeCase AS tord, $typLines
       |  FROM rtkeys k
       |  JOIN rtstat st ON st.activities = k.activities AND st.bt <> '#ALL#'
       |  JOIN rtninst ni ON ni.activities = k.activities AND ni.batch_type = st.bt
       |  JOIN rtctr c ON c.activities = k.activities AND c.bt = st.bt
       |  JOIN rtocc o ON o.activities = k.activities)""".stripMargin
  }

  private val reportTextSelect: String =
    """SELECT CAST(row_number() OVER (ORDER BY kr, tord, lord) AS BIGINT) AS line_no, line FROM (
      |  SELECT kr, tord, g.p AS lord, ls[g.p] AS line
      |  FROM (SELECT * FROM rtallb UNION ALL SELECT * FROM rttypb) b,
      |       LATERAL (SELECT unnest(generate_series(1, len(ls))) AS p) g
      |  UNION ALL SELECT 2147483647, 9, 1, '') z""".stripMargin

  /** Event-grain discovery output (shared by pm_batches and its gap
    * variant). */
  private val batchesSelect =
    """SELECT s.event_id, s.case_id, s.activity, s.resource, s.start_us, s.end_us, s.enabled_us,
      |  b.batch_id, CASE WHEN b.batch_id IS NULL THEN NULL ELSE t.batch_type END AS batch_type
      |FROM seg s
      |LEFT JOIN gen g ON s.resource = g.resource AND s.activity = g.activity AND s.seg_no = g.seg_no AND s.case_id = g.case_id
      |LEFT JOIN bid b ON g.resource = b.resource AND g.activity = b.activity AND g.seg_no = b.seg_no AND g.sub = b.sub
      |LEFT JOIN btype t ON s.resource = t.resource AND s.activity = t.activity AND s.seg_no = t.seg_no""".stripMargin

  /** Expose the full PM CTE pipeline for downstream oracles (rules). The
    * argument is an extra CTE chain ending in the final SELECT. */
  def withFeaturePrefix(extraCtesAndSelect: String): String =
    s"WITH RECURSIVE ${Seq(logCte, enCtes, segCtes, batchCtes).mkString(",\n")},\n$extraCtesAndSelect"

  val oracleSql: Map[String, String] = Map(
    "pm_pairs" -> withPrefix(logCte, enCtes)("SELECT a, b FROM conc"),

    // Mirrors EnabledTime.concurrencyPairsL2lAnnotated: trigram a,b,a
    // counts per ordered pair, SYMMETRIC sum over both directions (a
    // one-directional count covers both orders — same key set as the
    // driver-side concurrencySet gate), annotated onto the base relation.
    "pm_pairs_l2l" -> withPrefix(logCte, enCtes,
      s"""seq3 AS (SELECT case_id, activity,
        |    lag(activity) OVER (PARTITION BY case_id ORDER BY start_us, event_id) AS p1,
        |    lag(activity, 2) OVER (PARTITION BY case_id ORDER BY start_us, event_id) AS p2
        |  FROM log),
        |l2p AS (SELECT p2 AS a, p1 AS b, count(*) AS nl FROM seq3
        |  WHERE p2 = activity AND p1 <> activity GROUP BY 1, 2),
        |l2sym AS (SELECT coalesce(x.a, y.b) AS a, coalesce(x.b, y.a) AS b,
        |    coalesce(x.nl, 0) + coalesce(y.nl, 0) AS ll
        |  FROM l2p x FULL JOIN l2p y ON y.a = x.b AND y.b = x.a)""".stripMargin)(
      s"""SELECT c.a, c.b, CAST(coalesce(l.ll, 0) AS BIGINT) AS l2l_count,
        |  CAST(CASE WHEN coalesce(l.ll, 0) / (coalesce(l.ll, 0) + 1.0)
        |    >= ${EnabledTime.L2lThreshold} THEN 1 ELSE 0 END AS BIGINT) AS l2l_vetoed
        |FROM conc c LEFT JOIN l2sym l ON l.a = c.a AND l.b = c.b""".stripMargin),

    "pm_enabled" -> withPrefix(logCte, enCtes)(
      "SELECT event_id, case_id, activity, resource, start_us, end_us, enabled_us FROM en"),

    "pm_batches" -> withPrefix(logCte, enCtes, segCtes, batchCtes)(batchesSelect),

    // Same pipeline, seq_tolerated_gap = GapVariantUs: only the S-link CTE
    // constant differs (const-shared with the engine through PmConfig).
    "pm_batches_gap" -> withPrefix(logCte, enCtes,
      segCtesFor(PmConfig.GapVariantUs), batchCtes)(batchesSelect),

    "pm_batch_stats" -> withPrefix(logCte, enCtes, segCtes, batchCtes)(
      """SELECT batch_id, batch_type,
        |  string_agg(DISTINCT activity, ',' ORDER BY activity) AS activities,
        |  count(DISTINCT case_id) AS n_cases, count(*) AS n_events,
        |  min(start_us) AS b_start_us, max(end_us) AS b_end_us
        |FROM bev GROUP BY 1, 2""".stripMargin),

    "pm_wt" -> withPrefix(logCte, enCtes, segCtes, batchCtes)(wtSelect),

    // W17b — wtSelect's checkpoint instants pushed through the generated
    // per-resource business clock (bcase rebuilt with its resource kept).
    "pm_wt_biz" -> withPrefix(logCte, enCtes, segCtes, batchCtes)({
      def biz(c: String) = Calendar.resourceBizSql("resource", c)
      s"""SELECT batch_id, batch_type, case_id, resource,
         |  ${biz("case_start")} - ${biz("case_enabled")} AS total_wt_biz_us,
         |  ${biz("inst_enabled")} - ${biz("case_enabled")} AS creation_wt_biz_us,
         |  ${biz("inst_start")} - ${biz("inst_enabled")} AS ready_wt_biz_us,
         |  ${biz("case_start")} - ${biz("inst_start")} AS other_wt_biz_us,
         |  ${biz("case_end")} - ${biz("case_start")} AS pt_biz_us
         |FROM (SELECT g.resource, b.batch_id, t.batch_type, g.case_id,
         |        g.case_start, g.case_enabled, g.case_end,
         |        max(g.case_enabled) OVER (PARTITION BY b.batch_id) AS inst_enabled,
         |        min(g.case_start) OVER (PARTITION BY b.batch_id) AS inst_start
         |      FROM gen g
         |      JOIN bid b ON g.resource = b.resource AND g.activity = b.activity AND g.seg_no = b.seg_no AND g.sub = b.sub
         |      JOIN btype t ON g.resource = t.resource AND g.activity = t.activity AND g.seg_no = t.seg_no) z""".stripMargin
    }),

    "pm_sweepline" -> withPrefix(logCte, enCtes, segCtes, batchCtes)(
      """SELECT batch_id, case_id,
        |  CAST(sum(CASE WHEN proc_c > 0 THEN nxt - t ELSE 0 END) AS BIGINT) AS pt_us,
        |  CAST(sum(CASE WHEN proc_c = 0 AND enabled_c > 0 THEN nxt - t ELSE 0 END) AS BIGINT) AS wt_us
        |FROM (
        |  SELECT batch_id, case_id, t, lc,
        |    sum(CASE lc WHEN 1 THEN 1 WHEN 2 THEN -1 ELSE 0 END)
        |      OVER (PARTITION BY batch_id, case_id ORDER BY t, lc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS enabled_c,
        |    sum(CASE lc WHEN 2 THEN 1 WHEN 3 THEN -1 ELSE 0 END)
        |      OVER (PARTITION BY batch_id, case_id ORDER BY t, lc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS proc_c,
        |    lead(t) OVER (PARTITION BY batch_id, case_id ORDER BY t, lc) AS nxt
        |  FROM (
        |    SELECT batch_id, case_id, enabled_us AS t, 1 AS lc FROM bev
        |    UNION ALL SELECT batch_id, case_id, start_us, 2 FROM bev
        |    UNION ALL SELECT batch_id, case_id, end_us, 3 FROM bev) m) o
        |WHERE nxt IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),

    "pm_report_text" -> withPrefix(logCte, enCtes, segCtes, batchCtes,
      reportTextCtes)(reportTextSelect),

    "pm_report" -> withPrefix(logCte, enCtes, segCtes, batchCtes,
      """acts AS (SELECT batch_id, string_agg(DISTINCT activity, ',' ORDER BY activity) AS activities
        |  FROM bev GROUP BY 1),
        |wtc AS (
        |""".stripMargin + wtSelect + "),\n" +
      """repin AS (SELECT a.activities, w.* FROM wtc w JOIN acts a USING (batch_id))""".stripMargin
    )(reportSelect("repin")),

    "pm_sp_batches" -> withPrefix(logCte, enCtes, segCtes, batchCtes, spCtes)(
      """SELECT s.event_id, s.case_id, s.activity, s.resource, s.start_us, s.end_us, s.enabled_us,
        |  CASE WHEN c.event_id IS NOT NULL THEN sb.batch_id ELSE tb.batch_id END AS batch_id,
        |  CASE WHEN (CASE WHEN c.event_id IS NOT NULL THEN sb.batch_id ELSE tb.batch_id END) IS NULL THEN NULL
        |       WHEN c.event_id IS NOT NULL AND c.sp_type <> 'task-based' THEN c.sp_type
        |       ELSE t.batch_type END AS batch_type
        |FROM seg s
        |LEFT JOIN spclaims c ON c.event_id = s.event_id
        |LEFT JOIN spbid sb ON sb.resource = c.resource AND sb.subseq = c.subseq
        |  AND sb.sp_seg = c.sp_seg AND sb.sub = c.sub
        |LEFT JOIN ugen g ON g.resource = s.resource AND g.activity = s.activity
        |  AND g.seg_no = s.seg_no AND g.case_id = s.case_id
        |LEFT JOIN ubid tb ON tb.resource = g.resource AND tb.activity = g.activity
        |  AND tb.seg_no = g.seg_no AND tb.sub = g.sub
        |LEFT JOIN btype t ON t.resource = s.resource AND t.activity = s.activity AND t.seg_no = s.seg_no""".stripMargin),

    "pm_wt_log" -> withPrefix(logCte, enCtes, segCtes, batchCtes,
      "wtc AS (\n" + wtSelect + ")")(
      """SELECT s.event_id, s.case_id, s.activity, s.resource, s.enabled_us, s.start_us, s.end_us,
        |  b.batch_id, CASE WHEN b.batch_id IS NULL THEN NULL ELSE t.batch_type END AS batch_type,
        |  coalesce(w.pt_us, 0) AS batch_pt_us,
        |  coalesce(w.wt_us, 0) AS batch_wt_us,
        |  coalesce(w.total_wt_us, 0) AS batch_total_wt_us,
        |  coalesce(w.creation_wt_us, 0) AS batch_creation_wt_us,
        |  coalesce(w.ready_wt_us, 0) AS batch_ready_wt_us,
        |  coalesce(w.other_wt_us, 0) AS batch_other_wt_us
        |FROM seg s
        |LEFT JOIN gen g ON s.resource = g.resource AND s.activity = g.activity AND s.seg_no = g.seg_no AND s.case_id = g.case_id
        |LEFT JOIN bid b ON g.resource = b.resource AND g.activity = b.activity AND g.seg_no = b.seg_no AND g.sub = b.sub
        |LEFT JOIN btype t ON s.resource = t.resource AND s.activity = t.activity AND s.seg_no = t.seg_no
        |LEFT JOIN wtc w ON w.batch_id = b.batch_id AND w.case_id = s.case_id""".stripMargin),

    "pm_checkpoints" -> withPrefix(logCte, enCtes, segCtes, batchCtes,
      "wtc AS (\n" + wtSelect + ")")(
      """SELECT s.event_id, s.case_id, s.activity, b.batch_id,
        |  w.case_enabled_us AS batch_case_enabled_us,
        |  w.instance_enabled_us AS batch_instance_enabled_us,
        |  w.instance_start_us AS batch_start_us
        |FROM seg s
        |LEFT JOIN gen g ON s.resource = g.resource AND s.activity = g.activity AND s.seg_no = g.seg_no AND s.case_id = g.case_id
        |LEFT JOIN bid b ON g.resource = b.resource AND g.activity = b.activity AND g.seg_no = b.seg_no AND g.sub = b.sub
        |LEFT JOIN wtc w ON w.batch_id = b.batch_id AND w.case_id = s.case_id""".stripMargin),

    "w2_ngram_seq" -> withPrefix(logCte)(
      """SELECT act1, act2, act3, count(*) AS n FROM (
        |  SELECT activity AS act1,
        |    lead(activity, 1) OVER (PARTITION BY case_id ORDER BY start_us, end_us, event_id) AS act2,
        |    lead(activity, 2) OVER (PARTITION BY case_id ORDER BY start_us, end_us, event_id) AS act3
        |  FROM log) z
        |WHERE act3 IS NOT NULL GROUP BY 1, 2, 3""".stripMargin),

    "w11_instants" ->
      """SELECT o_orderkey, i, make_timestamp(epoch_us(o_orderdate) + i * 648000000000) AS instant
        |FROM orders, generate_series(1, 3) t(i)""".stripMargin,

    "w12_sample" ->
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ((event_id % 1000000007) * 2654435761) % 1000000007, event_id) AS rn
        |  FROM events) z
        |WHERE rn <= 5""".stripMargin,

    "w15_calendar" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
        |x AS (SELECT event_id, event_type, us,
        |    ((us // 86400000000) + 3) % 7 AS dow,
        |    us % 86400000000 AS rem FROM e),
        |s AS (SELECT event_id, event_type, us, dow,
        |    (((8 - rem // 3600000000) % 24 + 24) % 24) * 3600000000
        |    + (59 - (rem % 3600000000) // 60000000) * 60000000
        |    + (59 - (rem % 60000000) // 1000000) * 1000000
        |    + (1000000 - rem % 1000000) AS clock_shift FROM x)
        |SELECT event_id, event_type, us,
        |  CASE
        |    WHEN event_type = 'purchase' AND dow > 2
        |      THEN us + (6 - dow) * 86400000000 + clock_shift
        |    WHEN event_type = 'signup' AND dow < 3
        |      THEN us + (2 - dow) * 86400000000 + clock_shift
        |    ELSE us END AS new_us
        |FROM s""".stripMargin,

    // W17 — enabled-time CTEs + the generated per-resource business-clock
    // CASE (const-shared with the engine through Calendar.ResourceCals).
    "w17_rescal" -> withPrefix(logCte, enCtes)(
      s"""SELECT resource, activity, count(*) AS n,
         |  CAST(sum(start_us - enabled_us) AS BIGINT) AS wall_wt_us,
         |  CAST(sum(${Calendar.resourceBizSql("resource", "start_us")} -
         |    ${Calendar.resourceBizSql("resource", "enabled_us")}) AS BIGINT) AS biz_wt_us
         |FROM en GROUP BY 1, 2""".stripMargin),

    // W18 — identical answer to w17_rescal (the engine reads the calendars
    // from a broadcast TABLE; the oracle checks the values either way).
    "w18_caltable" -> withPrefix(logCte, enCtes)(
      s"""SELECT resource, activity, count(*) AS n,
         |  CAST(sum(start_us - enabled_us) AS BIGINT) AS wall_wt_us,
         |  CAST(sum(${Calendar.resourceBizSql("resource", "start_us")} -
         |    ${Calendar.resourceBizSql("resource", "enabled_us")}) AS BIGINT) AS biz_wt_us
         |FROM en GROUP BY 1, 2""".stripMargin),

    // W19 — validity-interval twin: version CASE on the event's start
    // instant, both version CASEs generated from the same BizCal values.
    "w19_calversion" -> withPrefix(logCte, enCtes)(
      s"""SELECT resource, activity, count(*) AS n,
         |  CAST(sum(start_us - enabled_us) AS BIGINT) AS wall_wt_us,
         |  CAST(sum(CASE WHEN start_us < ${Calendar.CalAmendUs}
         |    THEN ${Calendar.resourceBizSql("resource", "start_us")} -
         |      ${Calendar.resourceBizSql("resource", "enabled_us")}
         |    ELSE ${Calendar.resourceBizSql("resource", "start_us", Calendar.ResourceCalsV2)} -
         |      ${Calendar.resourceBizSql("resource", "enabled_us", Calendar.ResourceCalsV2)}
         |    END) AS BIGINT) AS biz_wt_us
         |FROM en GROUP BY 1, 2""".stripMargin),

"w16_biztime" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |b AS (SELECT event_id, user_id, us,
        |    ((us // 86400000000) // 7) * 5 + CASE ((us // 86400000000) % 7)
        |      WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 2
        |      WHEN 4 THEN 2 WHEN 5 THEN 3 ELSE 4 END AS fulldays,
        |    least(greatest(us % 86400000000, 28800000000), 61200000000) - 28800000000 AS within,
        |    ((us // 86400000000) + 3) % 7 AS dow
        |  FROM e),
        |z AS (SELECT event_id, user_id, us,
        |    fulldays * 32400000000 + CASE WHEN dow <= 4 THEN within ELSE 0 END AS biz_us
        |  FROM b)
        |SELECT event_id, user_id, biz_us,
        |  biz_us - lag(biz_us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_biz_us
        |FROM z""".stripMargin,

        "w13_ntile" ->
      """SELECT tile, count(*) AS n,
        |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
        |FROM (SELECT o_totalprice, ntile(7) OVER (ORDER BY o_totalprice, o_orderkey) AS tile FROM orders) z
        |GROUP BY tile""".stripMargin
  )
}
