package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic inputs shaped like the sf0.1 test tables, generated in
  * the benchmark so a run needs nothing outside its checkout.
  *
  *  - `events`: 1,500 users (cases) and 5 event types (activities) per
  *    100,000 events, timestamps uniform over 30 days from 2024-01-01,
  *    exponential `value` with mean 50 (minutes of processing time in the
  *    process-mining view), `props` a small JSON string.
  *  - `documents`: one text per 20 events over a 31-word vocabulary,
  *    44–577 chars, with near-duplicate and exact-duplicate copies for the
  *    dedup gates.
  *
  * The content is fixed; a benchmark seed only salts the case-id strings or
  * permutes query order, so every seed analyses the same process. */
object Gen {
  val Day0Us = 1704067200000000L // 2024-01-01 00:00 UTC
  val SpanUs = 30L * 86400000000L
  val Types = Array("click", "view", "signup", "purchase", "error")
  private val Vocab = ("a the data spark batch stream table column row key value " +
    "query join sort hash scan filter group agg window merge part line vector " +
    "customer order big small fast slow").split(" ")
  private val Langs = Array("en", "en", "en", "es", "fr", "zh", "de")

  def events(spark: SparkSession, nEvents: Int): DataFrame = {
    val r = new SplittableRandom(42L)
    val users = math.max(1, nEvents * 3 / 200) // 1,500 per 100k
    val ts = Array.fill(nEvents)(Day0Us + r.nextLong(SpanUs)).sorted
    val rows = (0 until nEvents).map { i =>
      val value = math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0
      Row(i.toLong, java.time.LocalDateTime.ofEpochSecond(ts(i) / 1000000L,
        ((ts(i) % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC),
        r.nextInt(users).toLong, Types(r.nextInt(Types.length)), value,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  def documents(spark: SparkSession, nDocs: Int): DataFrame = {
    val r = new SplittableRandom(7L)
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i > 10 && r.nextInt(100) < 2) texts(r.nextInt(i)) // exact copy
        else if (i > 10 && r.nextInt(100) < 10) { // near copy: a few words swapped
          val w = texts(r.nextInt(i)).split(" ")
          (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)))
          w.mkString(" ")
        } else {
          val n = 44 + r.nextInt(534)
          val sb = new StringBuilder
          while (sb.length < n) {
            if (sb.nonEmpty) sb.append(' ')
            sb.append(Vocab(r.nextInt(Vocab.length)))
          }
          sb.substring(0, n)
        }
    }
    val rows = (0 until nDocs).map { i =>
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}", texts(i).length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** Write one parquet file per table under `dir` (the layout
    * [[graft.Tables]] reads). */
  def writeTables(spark: SparkSession, dir: String, nEvents: Int): Unit = {
    events(spark, nEvents).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    documents(spark, nEvents / 20).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** The process-mining view of an events frame as a reference-layout log
    * (`case_id, Activity, start_time, end_time, Resource`), with the same
    * case/activity/resource/duration derivation as
    * `graft.pm.EventLogOps.fromEventsDf`. Case ids are `"<salt>-<user_id>"`. */
  def pmCsvView(ev: DataFrame, salt: String): DataFrame = {
    def render(c: org.apache.spark.sql.Column) =
      concat(date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"), lit("+00:00"))
    val start = col("ts").cast(TimestampNTZType)
    ev.select(
      concat(lit(salt + "-"), col("user_id").cast("string")).as("case_id"),
      col("event_type").as("Activity"),
      render(start).as("start_time"),
      render(start + make_dt_interval(lit(0), lit(0), lit(0),
        (round(col("value") * 60000000d) / 1000000d).cast("decimal(18,6)"))).as("end_time"),
      concat(lit("r"), pmod(col("user_id"), lit(4))).as("Resource"))
  }

  /** The user id of a `"<salt>-<user_id>"` case string. */
  def unsalted(caseStr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring_index(caseStr, "-", -1)

  /** Write `df` as one gzip CSV file at `path` and return that file. */
  def writeSingleCsvGz(df: DataFrame, path: String): String = {
    graft.sources.EventLogCsv.writeCsvGz(df, path + ".dir", 1)
    val part = new java.io.File(path + ".dir").listFiles().find(_.getName.endsWith(".csv.gz")).get
    val target = new java.io.File(path)
    target.delete()
    require(part.renameTo(target), s"cannot move $part to $target")
    Files.deleteTree(new java.io.File(path + ".dir"))
    target.getPath
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }
}
