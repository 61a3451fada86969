package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.pm.{BatchDiscovery, EnabledTime}
import graft.rules.{Cond, Rule, RuleSet}

/** Round-4 harness hardening:
  *   - Pinned intermediate caches are fully released after a query action
  *     (round-3 verdict What's-wrong #1: session-lifetime persist leaks);
  *   - building a query DataFrame triggers ZERO Spark jobs (round-3 verdict
  *     What's-wrong #3: driver-side .first()/count() at plan-build time);
  *   - the rule predicates' SQL rendering (toSql, used by the DuckDB scoring
  *     oracle) is semantically identical to the Column form (toColumn);
  *   - the graft.Stages registry builds each node once under concurrent
  *     nested requests, does not memoize a failed build, and releases a
  *     node's old dataset on a dataset switch.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("Pinned.release + releaseFrame drop every block discoverFull creates") {
    // memoized STAGE caches from other suites (untracked by design) may
    // already exist in the shared session — assert we return to that set
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val en = EnabledTime.withEnabled(graft.pm.EventLogOps.fromEvents(spark, sfDir))
    val out = BatchDiscovery.discoverFull(en)
    out.count()
    // round 7: discoverFull's pipeline boundaries are stage cuts released
    // internally; the tracked persists that remain are Dist.withGlobalRank's
    // correctness caches, dropped by the harness release. The returned
    // frame is an EAGER stage whose lifecycle belongs to the caller
    // (pm_sp_batches memoizes it; here we release it directly).
    assert(Pinned.trackedCount(spark) > 0, "discoverFull should track the Dist rank persists")
    Pinned.release(spark)
    assert(Pinned.trackedCount(spark) == 0)
    Pinned.releaseFrame(out)
    // unpersist is async — poll briefly for the blocks to drop
    val deadline = System.nanoTime() + 30e9.toLong
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"persistent RDDs leaked after release: $leaked")
  }

  test("building query DataFrames runs zero Spark jobs (no driver actions mid-plan)") {
    // the K2 concurrency oracle is a DOCUMENTED eager collect-broadcast
    // (tiny pair relation) — build `en` before counting; likewise touch
    // the embeddings table first so Spark's own parquet schema-inference
    // job (launched by spark.read, not by our plan building) is done.
    // discoverFull and the CC/nearDupGroups kernels are since round 7
    // DELIBERATELY eager (stage-boundary pipelines that materialize at
    // construction and release their intermediates) — the lock guards the
    // still-lazy constructors, where a job at plan build means an
    // accidental driver action (the round-3 .first() bug class).
    val en = EnabledTime.withEnabled(graft.pm.EventLogOps.fromEvents(spark, sfDir))
    val emb = Tables.embeddings(spark, sfDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = System.currentTimeMillis()
    val listener = new SparkListener {
      // a newly added listener can still receive queued events from the
      // previous test's actions — count only jobs submitted from now on
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        if (jobStart.time >= t0) {
          jobs.incrementAndGet()
          seen.add(jobStart.stageInfos.map(_.name).mkString(">"))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      BatchDiscovery.discover(en) // plan only — no action
      graft.ext.Similarity.annIvf(emb) // plan only
      // listener events are queued async; give the bus a moment to drain
      // (a job-start event would land well within this window)
      Thread.sleep(2000)
      assert(jobs.get() == 0,
        s"plan construction launched ${jobs.get()} Spark job(s): $seen")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Stages: 8 concurrent callers of nested builds, keys sharing a map bin, build each node once") {
    // a nested computeIfAbsent on one ConcurrentHashMap throws "Recursive
    // update" when the two keys land in the same bin: pick three node names
    // whose keys agree in the low 12 bits of the map's spread hash (one bin
    // for every table size up to 4096)
    val d = "stages-test-bins"
    def bin(n: String) = { val h = (n, spark, d).hashCode; (h ^ (h >>> 16)) & 0xfff }
    val Seq(top, depA, depB) = (0 until 20000).map(i => s"test.bins.$i")
      .groupBy(bin).values.find(_.size >= 3).get.take(3)
    val builds = Seq(top, depA, depB).map(_ -> new java.util.concurrent.atomic.AtomicInteger).toMap
    def dep(n: String, v: Int): Int = Stages.node(n, spark, d, (_: Int) => ()) {
      builds(n).incrementAndGet(); Thread.sleep(50); v
    }
    def root(): Int = Stages.node(top, spark, d, (_: Int) => ()) {
      builds(top).incrementAndGet(); dep(depA, 1) + dep(depB, 2)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val go = new java.util.concurrent.CountDownLatch(1)
    try {
      val futures = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = { go.await(); root() }
      }))
      go.countDown()
      val got = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.forall(_ == 3), s"callers saw different values: $got")
      assert(builds.values.forall(_.get == 1),
        s"builds per node: ${builds.map { case (n, c) => n -> c.get }}")
    } finally pool.shutdownNow()
  }

  test("Stages: a build that throws leaves no entry and is retried on the next call") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def ask(fail: Boolean): Int = Stages.node("test.retry", spark, "stages-test-retry", (_: Int) => ()) {
      builds.incrementAndGet()
      if (fail) throw new IllegalStateException("build failed")
      7
    }
    intercept[IllegalStateException](ask(fail = true))
    assert(ask(fail = false) == 7)
    assert(ask(fail = true) == 7) // memoized now: no third build
    assert(builds.get == 2)
  }

  test("Stages: a dataset switch returns getPersistentRDDs to its earlier set") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def persistent = spark.sparkContext.getPersistentRDDs.keySet -- before
    // a dependent pair of staged nodes; the last dataset builds unstaged
    // frames, so switching to it must leave nothing behind
    def staged(d: String, df: DataFrame, eager: Boolean) =
      if (d == "stages-test-drained") df else if (eager) Pinned.stageEager(df) else Pinned.stage(df)
    def base(d: String) = Stages.frame("test.switch.base", spark, d)(
      staged(d, spark.range(1000).toDF("x"), eager = true))
    def top(d: String) = Stages.frame("test.switch.top", spark, d)(
      staged(d, base(d).selectExpr("x * 2 AS y"), eager = false))
    def await(done: => Boolean): Unit = {
      // unpersist is async — poll briefly for the blocks to drop
      val deadline = System.nanoTime() + 30e9.toLong
      while (!done && System.nanoTime() < deadline) Thread.sleep(100)
    }
    assert(top("stages-test-a").count() == 1000L)
    val heldA = persistent
    assert(heldA.size == 2, s"expected both staged nodes to hold blocks, got $heldA")
    assert(top("stages-test-b").count() == 1000L)
    await((persistent & heldA).isEmpty)
    assert((persistent & heldA).isEmpty, s"dataset a's stages survived the switch: ${persistent & heldA}")
    assert(top("stages-test-drained").count() == 1000L)
    await(persistent.isEmpty)
    assert(persistent.isEmpty, s"persistent RDDs leaked across dataset switches: $persistent")
  }

  test("Bucketing: a dataset switch drops the old tables and deletes their dir") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucket_test").toFile
    def dataset(name: String): String = {
      val d = new java.io.File(tmp, name).getPath
      spark.range(20).selectExpr("id AS o_orderkey", "'1-URGENT' AS o_orderpriority")
        .write.parquet(s"$d/orders.parquet")
      spark.range(80).selectExpr("id % 20 AS l_orderkey", "1.0D AS l_quantity")
        .write.parquet(s"$d/lineitem.parquet")
      d
    }
    def dirOf(table: String) = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location).getParentFile
    try {
      val (ot1, lt1) = relational.Bucketing.ensureBucketed(spark, dataset("one"))
      val root1 = dirOf(ot1)
      assert(root1.isDirectory && root1.getParentFile.getName.startsWith("graft_bucketed"),
        s"unexpected dir $root1")
      val (ot2, lt2) = relational.Bucketing.ensureBucketed(spark, dataset("two"))
      assert(!root1.exists, s"bucketed dir of the old dataset left behind: $root1")
      assert(!spark.catalog.tableExists(ot1) && !spark.catalog.tableExists(lt1),
        "old dataset's bucketed tables still in the catalog")
      assert(spark.catalog.tableExists(ot2) && spark.catalog.tableExists(lt2))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("no hand-rolled per-(session, dataset) memo outside graft.Stages") {
    // every session memo goes through graft.Stages, so eviction, build-once
    // and failure handling live in one place
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val exempt = Set("src/main/scala/graft/Stages.scala", "src/main/scala/graft/Pinned.scala")
    val patterns = Seq("ConcurrentHashMap[(SparkSession", "computeIfAbsent((s, d)", "evictOthers")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(sources)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val hits = for {
      f <- sources(root) if !exempt(f.getPath)
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toList).zipWithIndex
      p <- patterns if line.contains(p)
    } yield s"${f.getPath}:${i + 1}: $p"
    assert(hits.isEmpty, s"hand-rolled session memo (use graft.Stages):\n${hits.mkString("\n")}")
  }

  test("RuleSet.toSql is semantically identical to toColumn (Spark-evaluated)") {
    import spark.implicits._
    val rs = RuleSet(List(
      Rule(List(Cond("t_ready_sec", isLeq = true, 3600.0), Cond("num_queue", isLeq = false, 2.0))),
      Rule(List(Cond("workload", isLeq = false, 5.0)))), 10L, 0.9, 0.5)
    val df = Seq(
      (1800.0, 3.0, 1.0), (1800.0, 1.0, 1.0), (7200.0, 3.0, 6.0),
      (3600.0, 2.0, 0.0), (7200.0, 1.0, 0.0))
      .toDF("t_ready_sec", "num_queue", "workload")
    val viaColumn = df.filter(rs.toColumn).count()
    val viaSql = df.filter(expr(rs.toSql)).count()
    assert(viaColumn == viaSql && viaColumn == 3L)
    // empty edge cases mirror the reference's semantics
    assert(Rule(Nil).toSql == "TRUE" && RuleSet(Nil, 0, 0, 0).toSql == "FALSE")
  }

  test("Oracle.materialize: structural recursion detection, not a name list") {
    // Round-3 ADVICE: the hard-coded {thr, uthr, spthr} skip set broke two
    // ways — a NEW recursive CTE name got an invalid MATERIALIZED hint, and
    // a non-recursive CTE reusing a listed name silently lost its hint.
    // Detection is now structural (body references its own name).
    val recursive =
      """WITH RECURSIVE walk AS (
        |  SELECT 1 AS n
        |  UNION ALL
        |  SELECT n + 1 FROM walk WHERE n < 5
        |), agg AS (
        |  SELECT sum(n) AS s FROM walk
        |)
        |SELECT * FROM agg""".stripMargin
    val out = Oracle.materialize(recursive)
    assert(out.contains("walk AS (") && !out.contains("walk AS MATERIALIZED ("),
      s"recursive member must stay unhinted:\n$out")
    assert(out.contains("agg AS MATERIALIZED ("),
      s"non-recursive CTE must still get the hint:\n$out")
    // a non-recursive CTE named like a historical recursive one is hinted
    val reuse = "WITH thr AS (\n  SELECT 1 AS x\n)\nSELECT * FROM thr"
    assert(Oracle.materialize(reuse).contains("thr AS MATERIALIZED ("))
    // self-reference inside a string literal is NOT recursion
    val literal = "WITH t AS (\n  SELECT 't' AS s\n)\nSELECT * FROM t"
    assert(Oracle.materialize(literal).contains("t AS MATERIALIZED ("))
  }
}
