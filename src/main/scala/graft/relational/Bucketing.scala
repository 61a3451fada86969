package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Bucketed-table co-location (SURVEY §2 layout surface): the OTHER half
  * of the shuffle-elimination toolkit next to broadcast (q3/q5) and
  * salting (d8). Writing both join sides bucketed AND sorted by the join
  * key pins identical partitionings on disk, so a fact-fact equi-join
  * plans with NO Exchange and NO Sort on either side — at 100 TB this is
  * the difference between re-shuffling two huge tables per join and
  * reading co-located buckets; the one-time bucketed write is amortized
  * over every downstream join on that key (the standard warehouse layout
  * decision).
  *
  * The graded query joins bucketed orders x lineitem on the order key and
  * aggregates — the ONLY exchange in the plan belongs to the final small
  * aggregate, which PlanSpec locks. Bucketed copies are written once per
  * (session, dataset) under a fresh temp dir — a [[graft.Stages]] node, so
  * a dataset switch (or the session stopping) drops both tables from the
  * catalog and deletes that dir; whatever is left at JVM exit goes with
  * the process's scratch dir.
  */
object Bucketing {
  val NumBuckets = 8

  /** Parent of every bucketed copy this process writes, deleted at JVM
    * exit: the registry releases a copy only when a later request evicts
    * it, so the last one would otherwise outlive the process. */
  private lazy val scratch: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile))
    dir
  }

  private def tableName(base: String, dataset: String): String =
    // catalog identifiers: keep [a-z0-9_]
    s"graft_${base}_b" + dataset.replaceAll("[^a-zA-Z0-9]", "_")

  /** Ensure bucketed+sorted external copies of orders and lineitem exist
    * for `dataset`, writing them at most once per (session, dataset). */
  def ensureBucketed(s: SparkSession, dataset: String): (String, String) = {
    val (ot, lt) = (tableName("orders", dataset), tableName("lineitem", dataset))
    graft.Stages.node("relational.bucketed", s, dataset, (root: String) => drop(s, Seq(ot, lt), root)) {
      val root = java.nio.file.Files.createTempDirectory(scratch, "tables").toString
      for ((name, df, key) <- Seq(
        (ot, Tables.orders(s, dataset).select("o_orderkey", "o_orderpriority"), "o_orderkey"),
        (lt, Tables.lineitem(s, dataset).select("l_orderkey", "l_quantity"), "l_orderkey"))) {
        s.sql(s"DROP TABLE IF EXISTS $name")
        // repartition on the bucket key first: one writer task per bucket
        // -> ONE file per bucket, which is what lets the reader trust the
        // per-bucket sort order (multi-file buckets force a re-sort even
        // though each file is sorted)
        df.repartition(NumBuckets, col(key))
          .write.mode("overwrite")
          .bucketBy(NumBuckets, key).sortBy(key)
          .option("path", s"$root/$name")
          .saveAsTable(name)
      }
      root
    }
    (ot, lt)
  }

  /** Drop the bucketed tables (while the session lives) and delete the
    * external files behind them. */
  private def drop(s: SparkSession, tables: Seq[String], root: String): Unit = {
    if (!s.sparkContext.isStopped) tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  /** Bucket-co-located orders x lineitem join + per-priority aggregate.
    * MERGE-hinted: the op demonstrates the fact-fact posture (at 100 TB
    * neither side broadcasts), and with both sides bucketed AND sorted the
    * SortMergeJoin needs no Exchange and no Sort — at harness SFs AQE
    * would otherwise broadcast the small orders side and hide exactly the
    * property the plan lock asserts. */
  def bucketJoinAgg(s: SparkSession, dataset: String): DataFrame = {
    import s.implicits._
    val (ot, lt) = ensureBucketed(s, dataset)
    s.table(ot).hint("merge")
      .join(s.table(lt), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), Det.dsum($"l_quantity").as("sum_qty"))
  }
}
