package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan posture regression locks (SURVEY §4): pushdown reaches the
  * parquet scan, projection is pruned, small dims broadcast, and the
  * native expressions stay inside whole-stage codegen. These are the
  * properties `.explain` review verified by hand — asserted here so a
  * refactor can't silently lose them. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** Run `check` over every query's executed plan, in name order, and
    * collect one line per query that fails to plan or is flagged — a bad
    * input in one query must not hide the rest of the surface. */
  private def auditSurface(
      check: (String, org.apache.spark.sql.execution.SparkPlan) => Option[String]): Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      auditOne(n)(check(n, fn(spark, sfDir).queryExecution.executedPlan))
    }

  /** `audit`'s offence, or the error it threw, as one line naming `n`. */
  private def auditOne(n: String)(audit: => Option[String]): Option[String] =
    try audit.map(o => s"$n: $o")
    catch { case scala.util.control.NonFatal(e) =>
      Some(s"$n: failed to plan: ${e.getClass.getSimpleName}: ${
        String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
    }

  test("a6: filter pushed to the parquet scan, schema pruned") {
    val p = planOf("a6_scan_prune")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(p_size,40)"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>"),
      s"schema not pruned to the 3 projected columns:\n$p")
  }

  test("w15 calendar displacement: row-local map pass, zero exchanges") {
    val p = planOf("w15_calendar")
    assert(!p.contains("Exchange"), s"calendar displacement must not shuffle:\n$p")
    // in executedPlan.toString the codegen span shows as the *(n) stage marker
    assert(p.contains("*(1)"), s"expected whole-stage-codegen marker:\n$p")
  }

  test("w17 per-resource calendars: JOIN-FREE (the calendar folds into the row expression)") {
    val p = planOf("w17_rescal")
    assert(!p.contains("Join"), s"per-resource calendar must not join a lookup table:\n$p")
  }

  test("j7_quality_gate: the threshold table joins back by BROADCAST only") {
    val p = planOf("j7_quality_gate")
    assert(p.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"doc grain must not re-shuffle for the verdict:\n$p")
  }

  test("w18 calendar table: attached by BROADCAST join, no product shapes") {
    val p = planOf("w18_caltable")
    assert(p.contains("BroadcastHashJoin"), s"calendar table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unexpected product join:\n$p")
  }

  test("w19 versioned calendars: broadcast range-join, no product shapes") {
    val p = planOf("w19_calversion")
    assert(p.contains("BroadcastHashJoin"),
      s"versioned calendar must broadcast on the resource equi-key " +
        s"(validity range as join condition, not a nested loop):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unexpected product join:\n$p")
  }

  test("ngram decontam/dup-frac/filtered-knn: no quadratic join shapes") {
    for (q <- Seq("j7_decontam_ngram", "j2_dup_ngram_frac", "j3_knn_filtered")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: quadratic join shape:\n$p")
    }
  }

  test("cx_sessions: exactly one exchange (the per-user window shuffle)") {
    val p = planOf("cx_sessions")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected 1 hash exchange (user_id reused by window AND agg), got $n:\n$p")
  }

  test("q3: dimension sides broadcast, fact scan filtered at the source") {
    val p = planOf("q3_revenue")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unexpected product join:\n$p")
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"dim filter not pushed:\n$p")
  }

  test("salted join: shuffle keys include the salt; result equals plain join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fact = Seq((1L, "hot", 5.0), (2L, "hot", 6.0), (3L, "hot", 7.0),
      (4L, "cold", 1.0), (5L, "orphan", 9.0)).toDF("id", "k", "v")
    val dim = Seq(("hot", 100L), ("cold", 200L), ("unused", 300L)).toDF("k", "attr")
    // semantics: salt-invariant, inner and left_outer both exact
    val inner = relational.SkewOps.saltedJoin(fact, dim, Seq("k"), n = 4)
      .select($"id", $"attr").as[(Long, Long)].collect().toSet
    assert(inner == fact.join(dim, Seq("k"))
      .select($"id", $"attr").as[(Long, Long)].collect().toSet)
    val left = relational.SkewOps.saltedJoin(fact, dim, Seq("k"), n = 4, "left_outer")
    assert(left.count() == 5 &&
      left.filter($"id" === 5L && $"attr".isNull).count() == 1,
      "left_outer: unmatched fact rows null-extend exactly once")
    // plan: BOTH exchanges hash on (k, __salt) — the whole point (a hot k
    // fans out over n sub-partitions). No conf juggling needed: the
    // operator's shuffle_hash hint keeps the planner from auto-
    // broadcasting the tiny replicated dim (salting and broadcasting are
    // alternatives; a broadcast would skip the salted shuffle entirely).
    val plan = relational.SkewOps.saltedJoin(fact, dim, Seq("k"), n = 4)
      .queryExecution.executedPlan.toString
    assert(raw"hashpartitioning\(k#\d+, __salt#\d+".r
      .findAllIn(plan).size >= 2, s"shuffle not salted:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"dim was broadcast:\n$plan")
  }

  test("similarity: long_dot runs inside a codegen span, embeddings scan pruned") {
    val p = planOf("j3_knn_cosine")
    assert(p.contains("long_dot"), s"native expression missing:\n$p")
    assert(p.contains("*("), s"no whole-stage codegen span:\n$p")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"embedding scan not pruned:\n$p")
  }

  test("dedup: per-doc stages are shuffle-free projections") {
    // shingling/minhash/winnowing are row-local array transforms: the only
    // exchanges in the dedup surface belong to the cross-doc stages (band
    // buckets, pair verification)
    val sigs = planOf("j2_minhash_sigs")
    assert(!sigs.contains("Exchange") && !sigs.contains("Window"),
      s"minhash signatures should be a pure projection:\n$sigs")
    val fps = planOf("j4_winnow")
    assert(!fps.contains("Exchange") && !fps.contains("Window"),
      s"winnowing should be a pure projection + explode:\n$fps")
    assert(sigs.contains("md5_head32"), s"native digest missing:\n$sigs")
  }

  test("pm: event scan prunes to the canonical log columns") {
    // pm queries plan against the memoized stage leaf (LogicalRDD), so the
    // parquet scan lives in the log-derivation plan the stage materializes
    val p = graft.pm.EventLogOps.fromEvents(spark, sfDir)
      .queryExecution.executedPlan.toString
    // exactly the five columns the canonical log derivation consumes; the ts
    // physical encoding varies by harness generation (nanos-as-long vs native
    // MICROS timestamp_ntz — Tables.events dispatches), so accept either while
    // still requiring the scan be pruned to these five columns and no more
    val pruned = Seq("bigint", "timestamp_ntz").exists(t => p.contains(
      s"ReadSchema: struct<event_id:bigint,ts:$t,user_id:bigint,event_type:string,value:double>"))
    assert(pruned, s"events scan not pruned:\n$p")
  }

  test("late-round ext queries: every scan pruned to its consumed columns") {
    // greedy to the line's last '>' so nested types (array<float>) survive;
    // ReadSchema is the final field of a FileScan line
    def readSchemas(name: String): Seq[String] =
      raw"ReadSchema: struct<(.*)>".r.findAllMatchIn(planOf(name)).map(_.group(1)).toSeq
    // documents has 5 columns; the text ops read at most (doc_id, text) —
    // bm25's corpus-stats branch prunes further, to text alone
    val rsB = readSchemas("j4_bm25")
    assert(rsB.nonEmpty && rsB.toSet.subsetOf(
      Set("doc_id:bigint,text:string", "text:string")),
      s"j4_bm25 scan not pruned to (doc_id, text): $rsB")
    // j2_jaccard_ngram plans against the session-MEMOIZED shingle leaf
    // since round 17 (no parquet scan in the query plan at all — the scan
    // happens once in the memo builder), so its pruning lock moves to the
    // KERNEL's own plan, which is the shape the memo builder materializes.
    val rsJ = raw"ReadSchema: struct<(.*)>".r.findAllMatchIn(
      ext.Dedup.jaccardNgramPairs(Tables.documents(spark, sfDir))
        .queryExecution.executedPlan.toString).map(_.group(1)).toSeq
    assert(rsJ.nonEmpty && rsJ.toSet.subsetOf(
      Set("doc_id:bigint,text:string", "text:string")),
      s"jaccardNgramPairs kernel scan not pruned to (doc_id, text): $rsJ")
    graft.Pinned.release(spark)
    // PQ reads (vec_id, embedding) everywhere, vec_id alone on the
    // query-filter branch, nothing at all for the 1-row stride count
    val pq = readSchemas("j3_pq_adc").toSet
    assert(pq.nonEmpty && pq.subsetOf(Set(
      "", "vec_id:bigint", "vec_id:bigint,embedding:array<float>")),
      s"j3_pq_adc scan not pruned: $pq")
    // the zorder key reads only the three projected lineitem columns
    val zo = readSchemas("g9_zorder")
    assert(zo.nonEmpty &&
      zo.forall(_ == "l_orderkey:bigint,l_partkey:bigint,l_linenumber:int"),
      s"g9_zorder scan not pruned: $zo")
    // round-7 additions — repetition reads (doc_id, text); pack/mix add
    // source; range search reads (vec_id, embedding); exact quantiles read
    // only (event_type, value) — the unused ts column must NOT survive
    // Tables.events' normalization projection into the scan
    // tfidf's 1-row N-count branch legitimately prunes to doc_id alone (or
    // nothing); repetition has no such branch, so every one of its scans
    // must read EXACTLY (doc_id, text) — keep that assertion tight so a
    // pruning regression (text dropped, or an empty scan) is caught
    val rep = readSchemas("j4_repetition")
    assert(rep.nonEmpty && rep.forall(_ == "doc_id:bigint,text:string"),
      s"j4_repetition scan not pruned to exactly (doc_id, text): $rep")
    val tf = readSchemas("j4_tfidf")
    assert(tf.nonEmpty && tf.toSet.subsetOf(
      Set("doc_id:bigint,text:string", "doc_id:bigint", "")),
      s"j4_tfidf scan not pruned: $tf")
    for (q <- Seq("j7_pack", "j7_mix")) {
      val rs = readSchemas(q)
      assert(rs.nonEmpty && rs.toSet.subsetOf(
        Set("doc_id:bigint,text:string,source:string", "text:string,source:string")),
        s"$q scan not pruned: $rs")
    }
    val rg = readSchemas("j3_range")
    assert(rg.nonEmpty && rg.forall(_ == "vec_id:bigint,embedding:array<float>"),
      s"j3_range scan not pruned: $rg")
    val qx = readSchemas("c14_quantiles")
    assert(qx.nonEmpty && qx.toSet.subsetOf(
      Set("event_type:string,value:double", "event_type:string")),
      s"c14_quantiles scan not pruned: $qx")
  }

  test("bucket join: co-located scans, the only exchange is the final aggregate") {
    // Both sides written bucketed by the join key: the SortMergeJoin reads
    // co-located buckets — NO Exchange on either join side (the per-bucket
    // local Sorts remain: Spark 3+ trusts bucket-file sort order only
    // behind the legacy bucketedTableScan.outputOrdering flag). The single
    // allowed exchange belongs to the 5-row priority aggregate.
    val p = planOf("d9_bucket_join")
    assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both scans must be bucketed:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"only the final aggregate may exchange:\n$p")
  }

  test("a9: day predicate prunes partition DIRECTORIES at planning time") {
    val p = planOf("a9_partitioned_sink")
    // the filter must land in PartitionFilters (directory pruning — zero
    // files of the other days opened), not in the data-filter set
    assert(p.contains("PartitionFilters: [isnotnull(day"),
      s"expected a partition filter on day:\n$p")
    assert("PartitionFilters: \\[[^\\]]*= 19737".r.findFirstIn(p).isDefined ||
      "PartitionFilters: \\[[^\\]]*2024-01-15".r.findFirstIn(p).isDefined,
      s"expected the day literal in PartitionFilters:\n$p")
  }

  test("a10: data-derived day predicate prunes partitions DYNAMICALLY") {
    val p = planOf("a10_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery on the fact partition column:\n$p")
  }

  test("whole surface: product joins only where the broadcast side is bounded") {
    // A BroadcastNestedLoopJoin / CartesianProduct is a 100 TB scale-killer
    // UNLESS its broadcast side has bounded cardinality by construction.
    // Full-surface audit (round 4): exactly these queries carry one, each
    // with a bounded side —
    //   d4_interval    31 daily instants (the interval-join probe grid)
    //   j3_knn_cosine  the bounded query sample (brute-force baseline by design)
    //   j3_ivf_ann     16 coarse-quantizer centroids
    //   w13_ntile      the ntile boundary table (numChunks rows)
    //   pm_sp_batches  1-row max-task-id fold (the plan-build .first() fix)
    //   j6_sketch      1-row sketch aggregate broadcast back over the scan
    //                  (the round-7 self-check rank pass)
    //   j3_pq_adc      1-row stride fold (the IVF pattern) + 64-centroid
    //                  sub-codebooks broadcast per sub-space
    //   j4_bm25        1-row corpus stats (N, avgdl) broadcast
    //   j3_range       the bounded query sample (knn's kernel, radius gate)
    //   c14_quantiles  3-row percentile-literal table broadcast
    //   j6_hll         1-row exact-distinct aggregate beside the registers
    //   j8_drift       1-row population-totals aggregate over the bin grain
    //   j6_kmv         1-row sketch statistics (k-th hash, counts) folds
    //   j4_lm_bits     1-row vocabulary-size aggregate broadcast (the
    //                  smoothing denominator V)
    //   j4_tfidf       1-row corpus-count aggregate broadcast (the idf
    //                  numerator N)
    // Anything new joining without keys must either broadcast a provably
    // bounded frame and be added here with its bound, or be rewritten.
    //   j8_psi         1-row totals aggregate broadcast (na/nb/n_bins)
    //   j8_psi_series  reference-bin broadcast (bounded by value range,
    //                  row-count-independent) + 1-row totals
    //   j3_ivf_np1     same 1-row stride broadcast as j3_ivf_ann
    //   j7_mix_temp    1-row weight-sum aggregate broadcast (the isqrt
    //                  normalization denominator wsum — same shape as
    //                  j4_lm_bits' V and j4_tfidf's N)
    //   j4_quality_clf(_agree)  1-row gold-threshold (slice mean) + 1-row
    //                  class-count aggregates broadcast; the bin profile
    //                  itself is a keyed broadcast hash join (<= 4x16 rows)
    //   j3_semdedup    1-row sqrt-cell stride frame + the <= ceil(sqrt(N))-row
    //                  centroid broadcast (the published SemDeDup assignment
    //                  shape; the memoized query presents a checkpoint leaf,
    //                  so the RAW constructor is audited below with a bound)
    //   j3_semdedup_inc  same stride/centroid broadcasts as j3_semdedup
    //                  plus the 1-row id-cutoff aggregate (corpus/batch split)
    //   j7_decontam_sem  <= EvalDocs(20)-row eval-vector broadcast (the
    //                  decontam fingerprint-side shape, embedding form)
    //   j7_ppl_buckets inherits j4_lm_bits' 1-row vocabulary-size
    //                  broadcast (the smoothing denominator V)
    //   j7_curriculum  same inherited 1-row V broadcast (it stages the
    //                  ppl-bucket terciles; the order itself is one range
    //                  shuffle through Dist)
    //   j7_funnel_full / j7_funnel_marginal  same inherited 1-row V
    //                  broadcast (the ppl gate joins the lm-bits chain
    //                  into the flag frame); every other join in the
    //                  funnels is doc-grain equi
    //   j2_bloom_stats three 1-row summary aggregates crossed into the
    //                  one stats row (the j7_pack_fit_stats shape)
    //   j3_semdedup_inc_state  the 1-row id-cutoff aggregate only (the
    //                  corpus/batch split); the centroid side is a READ
    //                  state TABLE joined broadcast-hash, not nested-loop
    //   j3_semdedup_inc_upsert  same 1-row cutoff broadcast (the write
    //                  step over the same read state tables)
    //   j7_mix_epochs  1-row (wsum, corpus_tokens) aggregate broadcast
    //                  (the j7_mix_temp shape plus the budget numerator)
    //   j7_span_corrupt_bpe  1-row vocab-max aggregate broadcast (the
    //                  reserved-sentinel base — j4_lm_bits' V shape)
    //   j7_pack_fit_stats  1-row x 1-row summary cross (fit aggregate vs
    //                  concat-chunk aggregate, the comparison row itself)
    //   j7_pack_fit_wdial  the same 1-row x 1-row cross over the two
    //                  window widths (the W dial's comparison row)
    //   j3_hard_negatives  the bounded KnnQueries(50)-row query sample
    //                  broadcast (j3_knn_cosine's shape; the label
    //                  INEQUALITY leaves no equi key, by design — the
    //                  negative pool is corpus-wide)
    //   j3_ann_recall  composes j3_knn_cosine's bounded query-sample
    //                  broadcast (the ground-truth side) with
    //                  j3_ivf_ann's allowlisted stride/centroid folds
    //   j2_source_overlap  the |sources|-row size table crossed with
    //                  itself on the < inequality (upper-triangle matrix
    //                  assembly — both sides bounded by the source count)
    //   j2_bloom_scale / j2_bloom_scale_probe / j2_bloom_scale_stats /
    //   st_bloom_scale  the geometric dial-table range join (rank in
    //                  (lo, hi] against the explicit-broadcast 40-row
    //                  params VALUES frame — a non-equi band has no hash
    //                  key by nature) and, in the probe chains, the
    //                  lines x standing-slices cross (bounded by the
    //                  O(log corpus) slice count, <= 40 rows, explicit
    //                  broadcast); j2_bloom_scale_stats adds the 1-row
    //                  lifecycle x 1-row probe-totals cross (the
    //                  j2_bloom_stats summary-row shape)
    //   j7_ingest_audit  composes j2_bloom_scale_probe's allowlisted
    //                  dial-table range join and lines x standing-slices
    //                  cross (both bounded, above)
    //   j7_ingest_upsert  the audit's allowlisted joins (above) plus the
    //                  bloom write leg's 1-row standing-line-count
    //                  broadcast (j2_bloom_scale_upsert's shape)
    //   j7_ingest_upsert2  the same bounded joins once per ingest step
    //                  (two dial-table range joins, two standing-slice
    //                  crosses, two 1-row standing-count broadcasts)
    //   j2_bloom_scale_upsert2  the same dial-table range joins and 1-row
    //                  standing-count broadcasts, once per ingest step
    //                  (two consecutive batches)
    //   j2_lsh_recall  1-row truth/candidate/hit count aggregates crossed
    //                  into the two comparison rows (the j2_bloom_stats
    //                  summary-row shape, twice)
    //   j3_semdedup_inc_upsert2  the 1-row two-cutoff aggregate broadcast
    //                  (the semIncSplit shape, two batch carves) over the
    //                  same read state tables as the single-step upsert
    //   j2_bloom_scale_state  the probe chain's allowlisted joins over
    //                  the persisted (line, slice) state table (same
    //                  dial-table range join + standing-slices cross)
    //   j2_bloom_scale_upsert  the same dial-table range join plus the
    //                  1-row standing-line-count aggregate broadcast onto
    //                  the ranked new lines (the j7_mix_temp
    //                  1-row-denominator shape)
    //   j8_cell_psi    j3_semdedup_inc's stride/centroid/cutoff folds
    //                  (it histograms the same frozen-cell assignments)
    //                  plus the 1-row totals broadcast (the psiDrift shape)
    //   j8_cell_psi_state  the state form: 1-row id-cutoff aggregate (the
    //                  corpus/batch split) + the same 1-row totals
    //                  broadcast; centroids/histogram are READ state
    //                  tables (the j3_semdedup_inc_state shape)
    //   st_sem_probe   the ONE-row packed centroid-array broadcast (the
    //                  append-mode row-local assignment fold — the whole
    //                  point is collapsing the bounded sqrt(N) centroid
    //                  table into a single broadcast row) plus the 1-row
    //                  id-cutoff aggregate (corpus/batch split)
    //   j7_ingest_state / j7_ingest_state2  the audit's allowlisted joins
    //                  (dial-table range join + lines x standing-slices
    //                  cross) over the persisted state TABLES (v0 per
    //                  family; v1 = the night-1-advanced composed set)
    //   st_ingest      the composed stream-shape audit: st_bloom_scale's
    //                  allowlisted dial-table range join (building the
    //                  packed one-row filter relation) — the probe itself
    //                  is equi-joins only
    //   j3_semdedup_retrain  the sem family's allowlisted stride/centroid
    //                  folds TWICE (the frozen state probe + the retrain
    //                  chain over the accumulated population — both
    //                  bounded: 1-row stride frames, <= ceil(sqrt(N))-row
    //                  centroid frames) plus the 1-row id-cutoff broadcast
    //   j7_ingest_audit_mm / j7_ingest_upsert_mm  the audit's allowlisted
    //                  joins plus the semantic state probe's bounded
    //                  broadcasts (read centroid/kept-member TABLES — the
    //                  j3_semdedup_inc_state shape, <= ceil(sqrt(N)) rows)
    //                  and, in the upsert, the bloom write leg's 1-row
    //                  standing-count broadcast
    val allowed = Set("d4_interval", "j3_knn_cosine", "j3_ivf_ann",
      "j3_ivf_np1", "j3_semdedup", "j3_semdedup_inc", "j3_semdedup_inc_state",
      "j3_semdedup_inc_upsert", "j3_semdedup_inc_upsert2",
      "w13_ntile", "pm_sp_batches", "j6_sketch", "j3_pq_adc", "j4_bm25",
      "j3_range", "c14_quantiles", "j6_hll", "j8_drift", "j6_kmv",
      "j4_lm_bits", "j4_tfidf", "j8_psi", "j8_psi_series", "j7_mix_temp",
      "j4_quality_clf", "j4_quality_clf_agree", "j7_decontam_sem",
      "j7_ppl_buckets", "j7_funnel_full", "j7_funnel_marginal",
      "j7_mix_epochs", "j7_span_corrupt_bpe",
      "j7_pack_fit_stats", "j7_pack_fit_wdial", "j3_hard_negatives",
      "j3_ann_recall", "j3_ann_recall_np1", "j7_curriculum", "j2_bloom_stats",
      "st_sem_probe", "j8_cell_psi", "j8_cell_psi_state", "j2_bloom_scale_upsert",
      "j2_bloom_scale", "j2_bloom_scale_probe", "j2_bloom_scale_state",
      "j2_bloom_scale_stats",
      "st_bloom_scale", "j7_ingest_audit", "j7_ingest_upsert",
      "j7_ingest_upsert2", "j7_ingest_state", "j7_ingest_state2",
      "j7_ingest_audit_mm",
      // j7_ingest_state_mm  the five-gate state read — the same reviewed
      //                  bounded crosses as j7_ingest_state (the bloom
      //                  probe chain's dial-table / 1-row broadcasts over
      //                  persisted tables) plus j7_ingest_audit_mm's sem
      //                  leg (<= ceil(sqrt(N))-row centroid/kept-member
      //                  TABLE broadcasts); the image leg is a doc-grain
      //                  equi-join against the persisted label table
      "j7_ingest_state_mm",
      // st_ingest_mm   st_ingest's reviewed bounded crosses (the packed
      //                one-row bloom-filter broadcast) plus st_sem_probe's
      //                (the packed <= ceil(sqrt(N))-row centroid broadcast
      //                and the per-cell packed member lists, bounded by
      //                the cell cap) — all literal-key broadcast joins
      //                against bounded standing state
      "st_ingest_mm",
      "j7_ingest_upsert_mm", "st_ingest", "j3_semdedup_retrain",
      "j2_bloom_scale_upsert2", "j2_lsh_recall",
      "j2_source_overlap")
    def hasProduct(p: String) =
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    val offenders = auditSurface { (n, plan) =>
      Option.when(hasProduct(plan.toString) && !allowed(n))(
        "unreviewed product join — broadcast side must be bounded")
    }
    // memoized queries (j2_neardup_pairs and everything over the pm.disc
    // stage) present a checkpoint-RDD leaf to the audit above, hiding
    // their real join tree — audit the RAW lazy constructors behind them too
    def rawPlan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val rawOffenders = Seq(
      auditOne("raw:nearDupPairs")(Option.when(hasProduct(rawPlan(
        ext.Dedup.nearDupPairs(Tables.documents(spark, sfDir)))))("product join hidden behind a memo")),
      auditOne("raw:jaccardNgramPairs")(Option.when(hasProduct(rawPlan(
        ext.Dedup.jaccardNgramPairs(Tables.documents(spark, sfDir)))))("product join hidden behind a memo")),
      // semDedup is memoized too, and its REVIEWED product joins are the
      // 1-row stride frame (2 refs) and the <= ceil(sqrt(N))-row trained
      // centroid frame (Lloyd rounds + assignment) — bound the count so an
      // UNREVIEWED product join cannot hide among them
      auditOne("raw:semDedup") {
        val semQuad = "CartesianProduct|BroadcastNestedLoopJoin".r
          .findAllIn(rawPlan(ext.Similarity.semDedup(Tables.embeddings(spark, sfDir)))).size
        Option.when(semQuad > 8)(
          s"$semQuad product joins — more than the reviewed stride/centroid broadcasts")
      }).flatten
    graft.Pinned.release(spark)
    val all = offenders ++ rawOffenders
    assert(all.isEmpty, s"${all.size} product-join audit failure(s):\n${all.mkString("\n")}")
  }

  test("packFit: range shuffles are exactly the two ranks (doc-grain permutation + window-grain bin cumsum)") {
    // the FFD packing's only wide movements of data must be the two
    // Dist two-phase ranks: the permutation rank over the DOC grain and
    // the bin-count cumsum over the (tiny) WINDOW grain. Any third range
    // shuffle means the fold or numbering regressed to a re-sort. The
    // walk descends into InMemoryRelations (Dist pins its local-rank
    // frame, hiding the exchange from the outer plan) and dedupes
    // structurally (the pinned frame is scanned by two branches).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val pf = ext.Pipeline.packFit(Tables.documents(spark, sfDir).selectExpr(
      "doc_id", "cast(size(split(text, ' ')) as bigint) as n_tokens"))
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      p +: kids.flatMap(walk)
    }
    val ranges = walk(pf.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.distinct
    assert(ranges.size == 2,
      s"expected exactly the two Dist range shuffles, got ${ranges.size}:\n${ranges.mkString("\n")}")
    graft.Pinned.release(spark)
  }

  test("whole surface: no single-partition window over unbounded grains") {
    // A Window with no partitionSpec moves its whole input through ONE task
    // — the classic 100 TB scale-killer (round-1's W8/W13 shape). Since the
    // Dist rewrite, the ONLY legitimate global windows are the prefix-sum
    // offset tables inside Dist itself, whose input is the bounded
    // numParts-row (__pid, count) aggregate. Lock exactly that: every
    // partition-less WindowExec in every query plan must sit over a __pid
    // aggregation.
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = auditSurface { (_, plan) =>
      Option.when(plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.child.toString.contains("__pid") => w
      }.nonEmpty)("single-partition window over a non-__pid grain")
    }
    graft.Pinned.release(spark)
    assert(offenders.isEmpty,
      s"${offenders.size} window audit failure(s):\n${offenders.mkString("\n")}")
  }
}
