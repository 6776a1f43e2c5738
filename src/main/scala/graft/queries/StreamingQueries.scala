package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.operators.{Pin, TextAnalysis}
import graft.schema.TableSchemas
import graft.sources.GraftTable
import graft.streaming.StreamingAnalytics
import graft.tables.Tables

/** Streaming results under the BATCH oracle gate: the continuous
  * aggregate (reference users' TimescaleDB-style downsampling, SURVEY
  * §2.10 / StreamingAnalytics) run as a bounded multi-batch file stream,
  * its update-mode emissions version-appended into a merge-on-read table,
  * and the RESOLVED table compared row-for-row against DuckDB's batch
  * aggregation of the same events. A green row proves the whole streaming
  * path — watermarked incremental aggregation, per-batch version stamps,
  * update-mode re-emission, keep-greatest resolution — converges to
  * exactly the batch answer. */
object StreamingQueries {

  /** Shared bounded-replay harness for the continuous-aggregate
    * fixtures: dump a projection of events as 3 parquet files, stream
    * them back one file per micro-batch (so buckets really are corrected
    * ACROSS batches, not computed in one shot — files arrive in no
    * particular time order, hence the generous watermark the `start`
    * callbacks pass; state stays bounded at keys × buckets of the
    * fixture window), run the maintenance query to completion, return
    * the MOR table it maintained. Memoized per scale dir per JVM. */
  private def replayTable(s: SparkSession, dir: String,
      memo: scala.collection.concurrent.TrieMap[String, String],
      prefix: String, projection: DataFrame => DataFrame,
      srcSchema: StructType,
      tableSchema: graft.schema.TableSchema)(
      start: (DataFrame, GraftTable, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): GraftTable = {
    val root = memo.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create(prefix)
      val srcDir = r + "/src"
      projection(Tables.events(s, dir))
        .repartition(3).write.parquet(srcDir)
      val src = s.readStream
        .schema(srcSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val t = new GraftTable(s, r, tableSchema)
      start(src, t, r + "/chk").awaitTermination()
      r
    })
    new GraftTable(s, root, tableSchema)
  }

  private def replayStamp(bid: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.of(2024, 6, 1, 0, 0).plusSeconds(bid)

  private val built = scala.collection.concurrent.TrieMap[String, String]()

  private def aggTable(s: SparkSession, dir: String): GraftTable =
    replayTable(s, dir, built, "graft_stream_agg_",
      _.select((col("user_id") % 5).cast("string").as("key"),
        col("ts").cast("timestamp").as("ts")),
      StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType))),
      TableSchemas.bucketCounts) { (src, t, chk) =>
      StreamingAnalytics.continuousAggregate(src, t, "ts", "1 hour",
        "365 days", "key", chk, Trigger.AvailableNow(),
        stamp = Some(replayStamp))
    }

  private val pctBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Continuous exact-percentile aggregate run as the same bounded
    * 3-file replay as [[aggTable]]: update-mode corrections
    * version-append into a MOR table; the resolved view must equal
    * DuckDB's batch quantile_cont over the same events. */
  private def pctTable(s: SparkSession, dir: String): GraftTable =
    replayTable(s, dir, pctBuilt, "graft_stream_pct_",
      _.select((col("user_id") % 5).cast("string").as("key"),
        col("ts").cast("timestamp").as("ts"), col("value")),
      StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("value", org.apache.spark.sql.types.DoubleType))),
      TableSchemas.bucketStats) { (src, t, chk) =>
      StreamingAnalytics.continuousPercentiles(src, t, "ts", "1 hour",
        "365 days", "key", "value", chk, Trigger.AvailableNow(),
        stamp = Some(replayStamp))
    }

  private val joinBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Stream-stream interval join run to completion as two bounded file
    * streams (3 files each, one per micro-batch, progressing
    * independently — so matches really do pair rows across batch
    * boundaries out of either side's state, not within one batch), its
    * append-mode output written to parquet. The batch oracle is the same
    * inner interval join in DuckDB: inner-join emission is match-driven,
    * so the streamed set must equal the batch set row-for-row. */
  private def funnelOut(s: SparkSession, dir: String): String =
    joinBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_join_")
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_type"))
      ev.filter(col("event_type") === "view")
        .repartition(3).write.parquet(r + "/views")
      ev.filter(col("event_type") === "purchase")
        .repartition(3).write.parquet(r + "/purchases")
      val sch = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("event_type", StringType)))
      def src(p: String) = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(p)
      val joined = StreamingAnalytics.intervalJoin(
        src(r + "/views"), src(r + "/purchases"),
        "ts", Seq("user_id"), "4 HOUR", "365 days")
      val q = joined.select(col("l_user_id").as("user_id"),
          col("l_event_id").as("view_id"), col("r_event_id").as("purchase_id"))
        .writeStream
        .format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val dedupBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Watermarked streaming dedup run to completion: the events table
    * written TWICE into the source directory (6 files — every row arrives
    * exactly twice, the duplicates in different micro-batches), consumed
    * one file per trigger through
    * [[StreamingAnalytics.dedupStream]] (`dropDuplicatesWithinWatermark`),
    * append-mode output to parquet. The batch oracle is plain `events`:
    * dedup must restore exactly-once delivery, so the streamed output
    * aggregates to the batch aggregate row-for-row. */
  private def dedupOut(s: SparkSession, dir: String): String =
    dedupBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_dedup_")
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
      ev.repartition(3).write.parquet(r + "/src")
      ev.repartition(3).write.mode("append").parquet(r + "/src")
      val sch = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("event_type", StringType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      // files arrive in no time order → a watermark wide enough that no
      // id's state is evicted before its duplicate arrives (the fixture
      // spans one week; production sets this to the replay horizon)
      val q = StreamingAnalytics.dedupStream(src, "ts", "365 days",
          Seq("event_id"))
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val hhBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming heavy hitters run to completion: the documents corpus
    * tokenized batch-side and written as 3 files consumed one per
    * micro-batch through a GLOBAL Misra–Gries update-mode aggregate —
    * the sketch buffer crosses micro-batch boundaries through the
    * aggregation state store, so a green gate proves sketch
    * serialize/merge under checkpointing, not just the batch fold. The
    * final sketch row (max batch id) carries the candidate superset and
    * the running token total; the exact verify pass plus the q95
    * batch-frequency oracle close the loop: the streamed operator must
    * land on exactly the batch heavy-hitter set. */
  private def hhOut(s: SparkSession, dir: String): String =
    hhBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_hh_")
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.wordArr(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      toks.repartition(3).write.parquet(r + "/src")
      val src = s.readStream
        .schema(StructType(Seq(StructField("token", StringType))))
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.heavyHitterStream(src, "token",
        capacity = 256, r + "/out", r + "/chk", Trigger.AvailableNow())
      q.awaitTermination()
      r
    })

  private val sessBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** flatMapGroupsWithState sessionization run to completion: events for
    * user_id<30 (the q41 cohort) as 3 files/micro-batches, then TWO
    * far-future sentinel files under a dummy key — the first advances the
    * global watermark past every real session, the second provides the
    * batch in which the event-time TIMEOUTS fire and close the remaining
    * open sessions (watermark updates at batch end; timeouts run in the
    * batch after). The watermark delay (400 days) exceeds BOTH the
    * fixture's event-time span (events cover a ~31-day window — an 8-day
    * delay measurably dropped early-timestamped events arriving in later
    * batches as late) and the sentinel gap, so unordered file arrival can
    * never drop an event. Oracled by the q41 gaps-and-islands SQL:
    * streamed custom-state sessions must equal batch `session_window`
    * row-for-row. */
  private def sessionOut(s: SparkSession, dir: String): String =
    sessBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_sess_")
      val ev = Tables.events(s, dir).filter(col("user_id") < 30)
        .select(col("user_id").cast("string").as("key"),
          col("ts").cast("timestamp").as("ts"))
      ev.repartition(3).write.parquet(r + "/src")
      // sentinel batches ordered AFTER the data files by mtime (the file
      // source lists by (modTime, path)); 1.1 s apart so they are distinct
      // micro-batches in a deterministic order
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t)).toDF("key", "t")
          .select(col("key"), col("t").cast("timestamp").as("ts"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.sessionize(src, "key", "ts",
          gapMillis = 30L * 60 * 1000, watermark = "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val asofBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming as-of enrichment run to completion: clicks (left) and the
    * per-(user, ts) deduped errors (right) tagged and written as 6 files
    * consumed one per micro-batch — matches must come out of STATE across
    * batch boundaries, in whatever order the sides arrive. Two far-future
    * sentinel batches close out pending lefts (same watermark mechanics
    * as the q76 fixture; 400-day delay > the 31-day event span). The
    * batch oracle is the same DuckDB ASOF LEFT JOIN that pins q72 — the
    * streamed operator must reproduce the batch as-of join row-for-row. */
  private def asofOut(s: SparkSession, dir: String): String =
    asofBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_asof_")
      val ev = Tables.events(s, dir)
      val left = ev.filter(col("event_type") === "click").select(
        col("user_id").cast("string").as("key"), lit(1).as("side"),
        col("ts").cast("timestamp").as("ts"),
        col("event_id").cast("long").as("id"),
        lit(null).cast("double").as("value"))
      val right = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("value"))
        .select(col("user_id").cast("string").as("key"), lit(0).as("side"),
          col("ts").cast("timestamp").as("ts"),
          lit(-1L).as("id"), col("value").cast("double").as("value"))
      left.repartition(3).write.parquet(r + "/src")
      right.repartition(3).write.mode("append").parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", 1, t, -2L)).toDF("key", "side", "t", "id")
          .select(col("key"), col("side"),
            col("t").cast("timestamp").as("ts"), col("id"),
            lit(null).cast("double").as("value"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("side", org.apache.spark.sql.types.IntegerType),
        StructField("ts", TimestampType), StructField("id", LongType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.asOfStream(src, "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val ewmaBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming per-series EWMA run to completion: every event as 3
    * files/micro-batches (arbitrary arrival order — points must buffer in
    * state until the watermark finalizes their position in the series),
    * two far-future sentinel batches to advance the watermark and fire
    * the drain timeouts (same mechanics as the q76/q84 fixtures; 400-day
    * delay > the 31-day event span). The final snapshot per key must be
    * BIT-equal to the batch q108 fold — the q112 row reuses q108's
    * DuckDB `list_reduce` oracle verbatim. */
  private def ewmaOut(s: SparkSession, dir: String): String =
    ewmaBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_ewma_")
      Tables.events(s, dir)
        .select(col("user_id").cast("string").as("key"),
          col("ts").cast("timestamp").as("ts"),
          col("event_id").cast("long").as("id"), col("value"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, -1L, 0.0)).toDF("key", "t", "id", "value")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("id"), col("value"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType), StructField("id", LongType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.ewmaStream(src, alpha = 0.25, "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val cusumBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming CUSUM drift alert run to completion: every event as 3
    * files/micro-batches keyed by event_type, two far-future sentinel
    * batches (same watermark mechanics as the other fixtures). Hours
    * fold only when the watermark closes them, with the batch dsum
    * hourly-mean semantics replayed digit for digit — the final
    * snapshot per key must equal the batch recursion under the
    * recursive-CTE oracle with the same fixed target. */
  private def cusumOut(s: SparkSession, dir: String): String =
    cusumBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_cusum_")
      Tables.events(s, dir)
        .select(col("event_type").as("key"),
          col("ts").cast("timestamp").as("ts"), col("value"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, 0.0)).toDF("key", "t", "value")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("value"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.cusumStream(src, target = 50.0, k = 10.0,
          h = 60.0, watermark = "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val seqBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming sequence mining run to completion: events keyed by
    * user_id in 3 files/micro-batches + sentinels; trigrams emit as their
    * third event finalizes, and the aggregated paths must be row-for-row
    * the batch q132 output under its oracle. */
  private def seqOut(s: SparkSession, dir: String): String =
    seqBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_seq_")
      Tables.events(s, dir)
        .select(col("user_id").cast("string").as("key"),
          col("ts").cast("timestamp").as("ts"),
          col("event_id").as("id"), col("event_type").as("etype"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, -1L, "x")).toDF("key", "t", "id", "etype")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("id"), col("etype"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("id", org.apache.spark.sql.types.LongType),
        StructField("etype", StringType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.sequenceStream(src, watermark = "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val apdexBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming Apdex run to completion: events keyed by event_type in 3
    * files/micro-batches + sentinels; days close on watermark advance and
    * emit their counts; the appended rows must be row-for-row the batch
    * q124 output under its oracle. */
  private def apdexOut(s: SparkSession, dir: String): String =
    apdexBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_apdex_")
      Tables.events(s, dir)
        .select(col("event_type").as("key"),
          col("ts").cast("timestamp").as("ts"), col("value"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, 0.0)).toDF("key", "t", "value")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("value"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.apdexStream(src, t = 50.0,
          watermark = "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val histqBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming histogram_quantile run to completion (same harness); the
    * appended rows must be row-for-row the batch q106 output under its
    * oracle. */
  private def histqOut(s: SparkSession, dir: String): String =
    histqBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_histq_")
      Tables.events(s, dir)
        .select(col("event_type").as("key"),
          col("ts").cast("timestamp").as("ts"), col("value"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, 0.0)).toDF("key", "t", "value")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("value"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.histQuantileStream(src, q = 0.95,
          watermark = "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val hwBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming Holt-Winters run to completion (q128's harness with the
    * seasonal fold): events keyed by event_type in 3 files/micro-batches
    * + the two sentinel batches; the final snapshot per key must be
    * bit-equal to the batch q129 recursion under its recursive-CTE
    * oracle. */
  private def hwOut(s: SparkSession, dir: String): String =
    hwBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_hw_")
      Tables.events(s, dir)
        .select(col("event_type").as("key"),
          col("ts").cast("timestamp").as("ts"), col("value"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, 0.0)).toDF("key", "t", "value")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("value"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.holtWintersStream(src, alpha = 0.5,
          beta = 0.25, gamma = 0.125, watermark = "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val holtBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming Holt smoothing run to completion: events keyed by
    * event_type in 3 files/micro-batches + the two sentinel batches;
    * hours fold only when the watermark closes them, and the final
    * snapshot per key must be bit-equal to the batch q119 recursion
    * under its recursive-CTE oracle. */
  private def holtOut(s: SparkSession, dir: String): String =
    holtBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_holt_")
      Tables.events(s, dir)
        .select(col("event_type").as("key"),
          col("ts").cast("timestamp").as("ts"), col("value"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, 0.0)).toDF("key", "t", "value")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("value"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.holtStream(src, alpha = 0.5, beta = 0.25,
          watermark = "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val burnBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming burn-rate alert run to completion: every event as 3
    * files/micro-batches carrying (ts, is_error), two far-future
    * sentinels (shared watermark mechanics). Hours close on watermark
    * advance and emit their fast/slow burns incrementally; the appended
    * rows must be row-for-row the batch q114 output under its oracle. */
  private def burnOut(s: SparkSession, dir: String): String =
    burnBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_burn_")
      Tables.events(s, dir)
        .select(lit("all").as("key"), col("ts").cast("timestamp").as("ts"),
          (col("event_type") === "error").as("is_err"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, false)).toDF("key", "t", "is_err")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("is_err"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("is_err", org.apache.spark.sql.types.BooleanType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.burnRateStream(src, budget = 0.10,
          watermark = "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val nearDupBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Near-dup dedup AT INGEST run to completion: the documents corpus in
    * three id-ordered micro-batches; each batch drops docs that
    * exact-Jaccard (≥ 0.9, lang-blocked) an already-committed SURVIVOR
    * (probed against a [[graft.streaming.TextIngestIndex]] — key-sorted
    * frozen-rarity prefix segments, so per-batch probe cost follows the
    * batch's token mass, never the corpus), then keeps the greedy min-id
    * survivor set within itself
    * ([[graft.operators.TextDedup.greedySurvivors]]), and appends the
    * keepers to a doc_store MOR table. The greedy rule is
    * batching-invariant, so the final table must equal the GLOBAL
    * sequential "keep unless it near-dups an earlier keeper" pass —
    * which the oracle replays as a recursive CTE over the exact pair
    * graph. The production shape for keeping a training corpus clean
    * incrementally instead of re-deduplicating it per snapshot. */
  private def nearDupIngestOut(s: SparkSession, dir: String): String =
    nearDupBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_neardup_")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1
      (0 until 3).foreach { b =>
        if (b > 0) Thread.sleep(1100) // distinct mod-times: oldest-first
        docs.filter(col("doc_id") >= lit(b * maxId / 3) &&
            col("doc_id") < lit((b + 1) * maxId / 3))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      val tbl = new GraftTable(s, r + "/table", TableSchemas.docStore)
      val sch = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      // the committed survivors live in a TextIngestIndex — hashed sets,
      // frozen-rarity-order prefix rows, and vocab as key-sorted parquet
      // segments (LSM binary-counter merges): each batch tokenizes ONCE
      // and probes through pushed key filters, so per-batch probe cost
      // follows the BATCH's token/candidate mass. The corpus text is
      // never re-scanned, the base sets are never re-bucketed, and the
      // rarity-order frequency pass — the last corpus-sized per-batch
      // cost when the base rode PinnedBase into jaccardPairsAgainstSets
      // — is frozen per segment at index-build time instead of being
      // recomputed over base ∪ batch every micro-batch. Output is
      // spec-pinned EQUAL to jaccardPairsAgainstSets, so the q126
      // batching-invariance oracle is untouched.
      val idx = new graft.streaming.TextIngestIndex(s, r + "/txtidx",
        Seq("lang"), threshold = 0.9)
      val q = src.writeStream
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // widen = false: micro-batch frames — the kernel is cheaper
          // than the per-batch width probe (see hashedSets)
          val newSets = Pin(graft.operators.TextDedup
            .hashedSets(Pin(batch), "doc_id", "text",
              Seq("lang"), widen = false))
          val blocked = idx.probe(newSets)
            .select(col("new_id").as("doc_id")).distinct()
          val clean = batch.join(blocked, Seq("doc_id"), "left_anti")
          val within = graft.operators.TextDedup.jaccardPairs(
            clean, "doc_id", "text", Seq("lang"), 0.9, widen = false)
          val surv = graft.operators.TextDedup.greedySurvivors(
            clean.select(col("doc_id").as("__id")), within)
          tbl.append(
            clean.join(surv.select(col("__id").as("doc_id")), "doc_id")
              .select(lit("0").as("project_id"),
                (lit("2024-01-01 00:00:00").cast("timestamp_ntz") + expr(
                  "make_interval(0, 0, 0, 0, 0, cast(doc_id % 720 as int), 0)"))
                  .as("timestamp"),
                col("doc_id").cast("string").as("id"),
                col("lang").as("name"), col("text").as("content")),
            Some(java.time.LocalDateTime.of(2024, 6, 1, 0, batchId.toInt)))
          idx.add(newSets.join(surv.select(col("__id")), Seq("__id")))
          ()
        }
        .start()
      q.awaitTermination()
      r
    })

  private val semDedupBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** SEMANTIC dedup AT INGEST run to completion — the embedding-space
    * twin of [[nearDupIngestOut]] (q126), the production shape for
    * keeping a multimodal corpus clean incrementally: the q47 near-dup
    * embedding corpus (base + planted 1.02x+0.01 dups) in three
    * id-ordered micro-batches; each batch drops vectors that exact-cosine
    * (≥ 0.9) an already-committed SURVIVOR
    * ([[graft.operators.VectorSearch.cosineNearDupPairsAgainst]] — per-
    * batch cost scales with the batch × bucket collisions, never
    * corpus²), keeps the greedy min-id survivor set within itself
    * ([[graft.operators.TextDedup.greedySurvivors]] over the exact-cosine
    * pair graph), and lands its survivors exactly-once (per-batch
    * deterministic OVERWRITE, the q137 idempotence pattern). The greedy
    * rule is batching-invariant, so the union of per-batch survivor sets
    * must equal the GLOBAL sequential "keep unless it cosine-near-dups an
    * earlier keeper" pass — which the oracle replays as unrolled iterated
    * elimination over the brute-force cosine pair graph. The committed
    * base lives in an [[graft.streaming.AnnIngestIndex]] — key-sorted
    * LSH bucket segments maintained incrementally (LSM merges), probed
    * through a pushed key filter — so per-batch probe cost follows the
    * batch's bucket mass and the base is never re-hashed, re-shuffled,
    * or re-scanned as raw corpus. */
  private def semDedupIngestOut(s: SparkSession, dir: String): String =
    semDedupBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_semdedup_")
      // id-ordered thirds by RANK, not id value: the planted dup ids sit
      // 1M above the base ids, so value thirds would leave a batch empty
      val corpus = Pin(TrainingData.nearDupCorpus(s, dir)
        .withColumn("__b", ntile(3).over(
          org.apache.spark.sql.expressions.Window.orderBy("vec_id"))))
      (1 to 3).foreach { b =>
        if (b > 1) Thread.sleep(1100) // distinct mod-times: oldest-first
        corpus.filter(col("__b") === b)
          .select(col("vec_id"), col("v"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      val sch = StructType(Seq(StructField("vec_id", LongType),
        StructField("v", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      // committed survivors live in an incrementally-maintained ANN
      // index (key-sorted LSH bucket segments, LSM merges): each probe
      // bucketizes ONLY the batch and reads the index through a pushed
      // key filter — the base is never re-hashed or shuffled per batch.
      // Output equals cosineNearDupPairsAgainst (same seed-fixed family,
      // exact verify), so the q148 oracle is untouched.
      // family PINNED at the gate default (12, 10): the oracle replays
      // the brute-force cosine pair graph and this corpus is tiny, so
      // the collision-heavy small family is the exactness path; the
      // PRODUCTION default (no pin) derives each segment's family from
      // its observed size (graft.Autotune.annFamily — VERDICT r13 #1)
      val idx = new graft.streaming.AnnIngestIndex(s, r + "/annidx",
        "vec_id", "v", dim = 64, threshold = 0.9,
        planesPerTable = 12, numTables = 10)
      val q = src.writeStream
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch0: DataFrame, batchId: Long) =>
          val batch = Pin(batch0)
          val blocked = idx.probe(batch)
            .select(col("new_id").as("vec_id")).distinct()
          val clean = batch.join(blocked, Seq("vec_id"), "left_anti")
          val within = graft.operators.VectorSearch.cosineNearDupPairs(
            clean, "vec_id", "v", dim = 64, threshold = 0.9)
          val surv = graft.operators.TextDedup.greedySurvivors(
            clean.select(col("vec_id").as("__id")),
            within.select("id_a", "id_b"))
          val keepers = Pin(
            clean.join(surv.select(col("__id").as("vec_id")), "vec_id"))
          keepers.select(col("vec_id"))
            .write.mode("overwrite").parquet(s"$r/out/batch_$batchId")
          idx.add(keepers)
          ()
        }
        .start()
      q.awaitTermination()
      r
    })

  private val containBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Containment decontamination AT INGEST run to completion — the q135
    * operator deployed the way decontamination actually runs: the
    * benchmark suite is the small, pinned side; the training corpus
    * ARRIVES in micro-batches and each batch is probed incrementally
    * (per-batch cost scales with the batch, never the corpus). Exactness
    * composes trivially: C(b,d) involves only b and d, and the rarity
    * prefix filter is candidate-pruning only (provably lossless), so the
    * union of per-batch outputs must equal the one-shot batch q135 —
    * under q135's own DuckDB brute-force oracle. Exactly-once across
    * drains/retries: each micro-batch OVERWRITES its own deterministic
    * output directory (file-source checkpointing replays a batchId with
    * the same input files, so a re-delivered batch lands byte-identical
    * in place instead of appending duplicates). */
  private def containDecontamOut(s: SparkSession, dir: String): String =
    containBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_contain_")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val bench = Pin(docs.filter(col("doc_id") % 20 === 0))
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1
      (0 until 3).foreach { b =>
        if (b > 0) Thread.sleep(1100) // distinct mod-times: oldest-first
        corpus.filter(col("doc_id") >= lit(b * maxId / 3) &&
            col("doc_id") < lit((b + 1) * maxId / 3))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      val sch = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      // the bench side is FROZEN once into a ContainmentBenchIndex
      // (tokenized, df-ranked, prefix-cut, key-sorted+bloomed parquet) —
      // before r13 every micro-batch re-tokenized the pinned bench and
      // re-ran its frequency/rarity pass; now per-batch bench IO follows
      // the batch's token overlap through pushed key filters. Output is
      // spec-pinned EQUAL to containmentJoin (ids AND scores), so the
      // q137 oracle (per-batch outputs ∪ = the one-shot q135) is
      // untouched.
      val idx = new graft.streaming.ContainmentBenchIndex(
        s, r + "/benchidx", tau = 0.95)
      idx.build(graft.operators.TextDedup.hashedSets(
        bench, "doc_id", "text", Nil))
      val q = src.writeStream
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          idx.probe(graft.operators.TextDedup.hashedSets(
              Pin(batch), "doc_id", "text", Nil,
              widen = false))
            .select(col("bench_id"), col("doc_id"),
              round(col("containment"), 6).as("containment"))
            .write.mode("overwrite").parquet(s"$r/out/batch_$batchId")
          ()
        }
        .start()
      q.awaitTermination()
      r
    })

  private val gapfillBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming gapfill-interpolate run to completion: the q116 slice
    * (user_id < 10, first week) as 3 files/micro-batches in arbitrary
    * arrival order, two far-future sentinel batches (the shared watermark
    * mechanics). Observed buckets emit when the watermark closes them;
    * empty buckets emit the interpolated line when their RIGHT endpoint
    * closes — the appended union of every drain must be row-for-row the
    * batch q116 output under the same DuckDB oracle. */
  private def gapfillOut(s: SparkSession, dir: String): String =
    gapfillBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_gapfill_")
      Tables.events(s, dir)
        .filter(col("user_id") < 10 &&
          col("ts") < lit("2024-01-08").cast("timestamp_ntz"))
        .select(col("user_id").cast("string").as("key"),
          col("ts").cast("timestamp").as("ts"), col("value"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, 0.0)).toDF("key", "t", "value")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("value"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("value", org.apache.spark.sql.types.DoubleType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.gapfillInterpStream(src, "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  private val funnelBuilt = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming conversion funnel run to completion: the three funnel step
    * types as 3 files/micro-batches (steps arrive interleaved and out of
    * order — funnels must assemble from state), two far-future 'view'
    * sentinels under a dummy key to advance the watermark past every
    * anchor's deadline and fire the finalization timeouts. Oracle = the
    * q80 batch funnel SQL: the streamed rows must equal the batch
    * operator's per-user step times exactly. */
  private def funnelOut2(s: SparkSession, dir: String): String =
    funnelBuilt.getOrElseUpdate(dir, {
      val r = graft.tables.TempDirs.create("graft_stream_funnel_")
      Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id").cast("string").as("key"),
          col("ts").cast("timestamp").as("ts"), col("event_type"))
        .repartition(3).write.parquet(r + "/src")
      import s.implicits._
      def sentinel(t: String): Unit = {
        Thread.sleep(1100)
        Seq(("__sentinel", t, "view")).toDF("key", "t", "event_type")
          .select(col("key"), col("t").cast("timestamp").as("ts"),
            col("event_type"))
          .coalesce(1).write.mode("append").parquet(r + "/src")
      }
      sentinel("2031-01-01 00:00:00")
      sentinel("2031-01-02 00:00:00")
      val sch = StructType(Seq(StructField("key", StringType),
        StructField("ts", TimestampType),
        StructField("event_type", StringType)))
      val src = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(r + "/src")
      val q = StreamingAnalytics.funnelStream(src, "key", "ts", "event_type",
          Seq("view", "click", "purchase"), "24 HOUR", "400 days")
        .toDF()
        .writeStream.format("parquet")
        .option("path", r + "/out")
        .option("checkpointLocation", r + "/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      r
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q51_streaming_continuous_agg" -> { (s, dir) =>
      aggTable(s, dir).readResolved()
        .select(col("project_id"),
          col("timestamp").as("hour"), col("n"))
        .orderBy("project_id", "hour")
    },

    // ---- continuous exact percentile aggregate (percentile face of q51) --
    "q100_streaming_percentile" -> { (s, dir) =>
      pctTable(s, dir).readResolved()
        .select(col("project_id"),
          col("timestamp").as("hour"), col("p50"), col("p95"), col("n"))
        .orderBy("project_id", "hour")
    },

    // ---- stream-stream interval join (funnel/attribution shape) ----------
    "q70_stream_stream_join" -> { (s, dir) =>
      s.read.parquet(funnelOut(s, dir) + "/out")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("view_id")).as("view_id_sum"),
          sum(col("purchase_id")).as("purchase_id_sum"))
        .orderBy("user_id")
    },

    // ---- flatMapGroupsWithState sessionization (streaming q41) ------------
    "q76_streaming_sessions" -> { (s, dir) =>
      s.read.parquet(sessionOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .select(col("key").cast("long").as("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n").as("n_events"))
        .orderBy("user_id", "session_start")
    },

    // ---- streaming as-of enrichment (the q72 join, incrementally) ---------
    "q84_streaming_asof" -> { (s, dir) =>
      s.read.parquet(asofOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .select(col("id").as("event_id"),
          col("key").cast("long").as("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("matched_ts").cast("timestamp_ntz").as("err_ts"),
          col("value").as("err_value"))
        .orderBy("event_id")
    },

    // ---- streaming per-series EWMA (the q108 recursion, incrementally) ----
    "q112_streaming_ewma" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("key").orderBy(col("n").desc)
      s.read.parquet(ewmaOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("key").cast("long").as("user_id"), col("n"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("user_id")
    },

    // ---- streaming CUSUM drift alert (the q118 recursion, in-stream,
    // against a fixed target) --------------------------------------------
    "q120_streaming_cusum" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("key").orderBy(col("n_hours").desc)
      s.read.parquet(cusumOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("key").as("event_type"), col("n_hours"),
          round(col("s"), 6).as("cusum_final"),
          round(col("mx"), 6).as("cusum_max"),
          col("alarms").as("alarm_hours"))
        .orderBy("event_type")
    },

    // ---- streaming gapfill + linear interpolation (the q116 operator,
    // incrementally: observed buckets close on watermark, empty buckets
    // interpolate when their right endpoint fixes) ------------------------
    "q125_streaming_gapfill" -> { (s, dir) =>
      s.read.parquet(gapfillOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .select(col("key").cast("long").as("user_id"),
          expr("cast(timestamp_micros(bucket_us) as timestamp_ntz)")
            .as("bucket"),
          col("filled"),
          round(col("value_interp"), 6).as("value_interp"))
        .orderBy("user_id", "bucket")
    },

    // ---- streaming Holt level+trend (the q119 recursion, in-stream) ------
    "q128_streaming_holt" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("key").orderBy(col("n_hours").desc)
      s.read.parquet(holtOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("key").as("event_type"), col("n_hours"),
          round(col("l"), 6).as("level"),
          round(col("b"), 6).as("trend"),
          round(col("l") + col("b"), 6).as("forecast_next"))
        .orderBy("event_type")
    },

    // ---- streaming event-sequence mining (the q132 top-paths surface,
    // incrementally — trigrams emit as their third event finalizes) ---------
    "q136_streaming_event_sequences" -> { (s, dir) =>
      s.read.parquet(seqOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .groupBy("path")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("key")).as("n_users"))
        .orderBy(desc("n"), col("path"))
        .limit(25)
    },

    // ---- streaming Apdex (the q124 SLA index, incrementally) --------------
    "q133_streaming_apdex" -> { (s, dir) =>
      s.read.parquet(apdexOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .select(col("key").as("event_type"),
          expr("cast(timestamp_micros(day_us) as timestamp_ntz)").as("day"),
          col("n"), col("n_sat").as("n_satisfied"),
          col("n_tol").as("n_tolerating"),
          round((col("n_sat") + col("n_tol") / lit(2.0)) / col("n"), 6)
            .as("apdex"))
        .orderBy("event_type", "day")
    },

    // ---- streaming histogram_quantile (the q106 bucket walk, per closed
    // day as an alert evaluator runs it) ------------------------------------
    "q134_streaming_histogram_quantile" -> { (s, dir) =>
      s.read.parquet(histqOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .select(col("key").as("event_type"),
          expr("cast(timestamp_micros(day_us) as timestamp_ntz)").as("day"),
          col("n"),
          when(col("is_inf"),
            when(isnan(col("p95_raw")), lit(null)).otherwise(col("p95_raw")))
            .otherwise(round(col("p95_raw"), 6)).as("p95"))
        .orderBy("event_type", "day")
    },

    // ---- streaming Holt-Winters (the q129 seasonal recursion, in-stream) --
    "q130_streaming_holt_winters" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("key").orderBy(col("n_hours").desc)
      s.read.parquet(hwOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("key").as("event_type"), col("n_hours"),
          round(col("l"), 6).as("level"),
          round(col("b"), 6).as("trend"),
          round(col("s_next"), 6).as("seasonal_next"),
          round(col("l") + col("b") + col("s_next"), 6).as("forecast_next"))
        .orderBy("event_type")
    },

    // ---- streaming multi-window burn rate (the q114 alert guard,
    // incrementally — the shape an alert evaluator deploys) ----------------
    "q127_streaming_burn_rate" -> { (s, dir) =>
      s.read.parquet(burnOut(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .select(
          expr("cast(timestamp_micros(hour_us) as timestamp_ntz)").as("hour"),
          col("n"), col("n_err"),
          round(col("burn_1h"), 6).as("burn_1h"),
          round(col("burn_6h"), 6).as("burn_6h"))
        .withColumn("alert", col("burn_1h") > 1.0 && col("burn_6h") > 1.0)
        .orderBy("hour")
    },

    // ---- near-dup dedup at ingest (greedy min-id keep rule, streamed in
    // id-ordered micro-batches against the committed survivors) -----------
    "q126_streaming_neardup_ingest" -> { (s, dir) =>
      new GraftTable(s, nearDupIngestOut(s, dir) + "/table",
          TableSchemas.docStore)
        .readResolved()
        .select(col("id").cast("long").as("doc_id"), col("name").as("lang"))
        .orderBy("doc_id")
    },

    // ---- streaming containment decontamination (the q135 operator at
    // ingest: pinned benchmark suite, corpus probed per micro-batch) ------
    "q137_streaming_containment" -> { (s, dir) =>
      s.read.option("recursiveFileLookup", "true")
        .parquet(containDecontamOut(s, dir) + "/out")
        .orderBy("bench_id", "doc_id")
    },

    // ---- streaming SEMANTIC dedup at ingest (greedy min-id keep rule in
    // embedding space, micro-batches probed against committed survivors) --
    "q148_streaming_semantic_dedup" -> { (s, dir) =>
      s.read.option("recursiveFileLookup", "true")
        .parquet(semDedupIngestOut(s, dir) + "/out")
        .orderBy("vec_id")
    },

    // ---- streaming conversion funnel (the q80 operator, incrementally) ----
    "q85_streaming_funnel" -> { (s, dir) =>
      s.read.parquet(funnelOut2(s, dir) + "/out")
        .filter(col("key") =!= "__sentinel")
        .select(col("key").cast("long").as("user_id"),
          element_at(col("steps"), 1).cast("timestamp_ntz").as("step_1_ts"),
          element_at(col("steps"), 2).cast("timestamp_ntz").as("step_2_ts"),
          element_at(col("steps"), 3).cast("timestamp_ntz").as("step_3_ts"))
        .orderBy("user_id")
    },

    // ---- watermarked streaming exact dedup (ingest-time q24) --------------
    "q74_streaming_dedup" -> { (s, dir) =>
      s.read.parquet(dedupOut(s, dir) + "/out")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"),
          sum(col("user_id")).as("user_sum"))
        .orderBy("event_type")
    },

    // ---- continuous frequent-items sketch (streaming q95) ------------------
    "q97_streaming_heavy_hitters" -> { (s, dir) =>
      val last = s.read.parquet(hhOut(s, dir) + "/out")
        .orderBy(col("batch_id").desc).limit(1)
      val cands = last.select(explode(map_keys(col("sk"))).as("token"),
        col("n"))
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.wordArr(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      toks.join(broadcast(cands), Seq("token"))
        .groupBy("token", "n").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= ceil(lit(0.01) * col("n").cast("double")))
        .select("token", "cnt")
        .orderBy(col("cnt").desc, col("token"))
    }
  )

  val oracle: Map[String, String] = Map(
    "q51_streaming_continuous_agg" ->
      """SELECT CAST(user_id % 5 AS VARCHAR) AS project_id,
        | date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        | count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q100_streaming_percentile" ->
      """SELECT CAST(user_id % 5 AS VARCHAR) AS project_id,
        | date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.95), 6) AS p95,
        | count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same oracle as the batch q108: the streamed fold must converge to
    // the identical recursion, bit for bit
    "q112_streaming_ewma" ->
      """SELECT user_id, count(*) AS n,
        | round(list_reduce(
        |   list(value ORDER BY CAST(ts AS TIMESTAMP), event_id),
        |   (acc, x) -> 0.25 * x + 0.75 * acc), 6) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the batch q116 oracle VERBATIM: the appended union of every drain
    // must be row-for-row the batch gapfill output
    "q125_streaming_gapfill" -> TimeSeries.oracle("q116_gapfill_interp"),

    // the batch q114 oracle verbatim — hours stream-closed one at a time
    // must equal the batch rolling window
    "q127_streaming_burn_rate" -> TimeSeries.oracle("q114_burn_rate"),

    // the batch q119 oracle verbatim — the streamed level/trend fold must
    // converge to the identical recursion, bit for bit
    "q128_streaming_holt" -> TimeSeries.oracle("q119_holt"),

    // the batch q129 oracle verbatim — the streamed triple-smoothing fold
    // (level/trend/seasonal vector) must converge to the identical
    // recursion, bit for bit
    "q130_streaming_holt_winters" -> TimeSeries.oracle("q129_holt_winters"),

    // the batch q132 oracle verbatim — the streamed trigram emissions,
    // aggregated, must equal the batch lead() window exactly
    "q136_streaming_event_sequences" ->
      TimeSeries.oracle("q132_event_sequences"),

    // the batch q124/q106 oracles verbatim — per-day drains must
    // reconstruct the batch rows exactly
    "q133_streaming_apdex" -> TimeSeries.oracle("q124_apdex"),
    "q134_streaming_histogram_quantile" ->
      TimeSeries.oracle("q106_histogram_quantile"),

    // the GLOBAL sequential greedy keep rule, replayed as a recursive CTE
    // over the exact lang-blocked Jaccard pair graph (the q25 pair
    // semantics): doc d is kept iff it near-dups no already-kept doc in
    // doc_id order. Streamed micro-batches must converge to exactly this
    // set — the greedy rule is batching-invariant, so equality here also
    // proves the cross-batch blocking (against survivors only) and the
    // within-batch iterated elimination compose to the sequential pass.
    // CTEs are MATERIALIZED: DuckDB otherwise re-inlines the pair join
    // into every recursion step.
    // identical brute force to q135's oracle: the streamed union must be
    // row-for-row the one-shot batch answer
    "q137_streaming_containment" ->
      """WITH d AS (
        | SELECT doc_id,
        |  list_distinct(string_split_regex(lower(text), '\s+')) AS ts
        | FROM documents),
        |b AS (SELECT doc_id AS bench_id, ts AS bts FROM d
        |      WHERE doc_id % 20 = 0),
        |c AS (SELECT doc_id, ts AS cts FROM d WHERE doc_id % 20 <> 0)
        |SELECT bench_id, doc_id,
        | round(len(list_intersect(bts, cts))::DOUBLE / len(bts), 6)
        |   AS containment
        |FROM b JOIN c
        | ON len(list_intersect(bts, cts))::DOUBLE / len(bts) >= 0.95
        |ORDER BY bench_id, doc_id""".stripMargin,

    // the GLOBAL sequential greedy keep rule over the EXACT cosine ≥ 0.9
    // pair graph of the q47 near-dup embedding corpus (base + planted
    // dups), replayed as unrolled iterated elimination — the q126 oracle
    // retargeted at embedding space. Brute-force pair scoring is
    // quadratic and stays a GATE-SCALE oracle (the q47 treatment: at sf1
    // the family is covered by the sampled-exact gates + recall
    // measurement). Poison row on an unconverged unroll.
    "q148_streaming_semantic_dedup" -> {
      val rounds = 64
      s"""WITH base AS (
         | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |dups AS (
         | SELECT vec_id + 1000000 AS vec_id,
         |   list_transform(v, x -> x * 1.02 + 0.01) AS v
         | FROM base WHERE vec_id % 20 = 0),
         |corpus AS MATERIALIZED (
         | SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
         | FROM (SELECT * FROM base UNION ALL SELECT * FROM dups)),
         |epairs AS MATERIALIZED (
         | SELECT a.vec_id AS x, b.vec_id AS y
         | FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         | WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9),
         |${OracleSql.eliminationChain(rounds)}
         |SELECT c.vec_id FROM corpus c
         |WHERE c.vec_id NOT IN (SELECT id FROM paired)
         |   OR c.vec_id IN (SELECT id FROM s$rounds)
         |UNION ALL
         |SELECT -1 FROM unconv WHERE n > 0
         |ORDER BY vec_id""".stripMargin
    },

    // The sequential keep rule as UNROLLED iterated elimination (the
    // one-row-per-step recursive CTE it replaces is O(n) sequential
    // steps — hours at sf1): PPJoin-prefix edges, then 64 materialized
    // rounds of "drop every hi whose lo survives"; the fixpoint IS the
    // sequential greedy set, and the `unconv` poison row makes an
    // unconverged unroll fail the compare LOUDLY (mirroring
    // greedySurvivors' own maxIter guard) instead of silently blessing
    // a wrong survivor set.
    "q126_streaming_neardup_ingest" -> {
      val rounds = 64
      s"""WITH ${OracleSql.jaccardEdges},
         |${OracleSql.eliminationChain(rounds)}
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id FROM paired)
         |   OR d.doc_id IN (SELECT id FROM s$rounds)
         |UNION ALL
         |SELECT -1, 'ORACLE_UNCONVERGED' FROM unconv WHERE n > 0
         |ORDER BY doc_id""".stripMargin
    },

    // the q118 recursion with a LITERAL target (a stream cannot know the
    // series' own mean upfront); recursive CTE, not a lambda fold — see
    // the q118 oracle note
    "q120_streaming_cusum" ->
      """WITH RECURSIVE hourly AS (
        | SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS xm
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT event_type, xm,
        |  row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
        | FROM hourly),
        |c AS (
        | SELECT r.event_type, r.rn,
        |  greatest(0.0::DOUBLE, r.xm - 60.0::DOUBLE) AS s,
        |  greatest(0.0::DOUBLE, r.xm - 60.0::DOUBLE) AS mx,
        |  CASE WHEN greatest(0.0::DOUBLE, r.xm - 60.0::DOUBLE) > 60.0
        |    THEN 1 ELSE 0 END AS al
        | FROM r WHERE r.rn = 1
        | UNION ALL
        | SELECT n.event_type, n.rn,
        |  greatest(0.0::DOUBLE, c.s + n.xm - 60.0::DOUBLE) AS s,
        |  greatest(c.mx,
        |    greatest(0.0::DOUBLE, c.s + n.xm - 60.0::DOUBLE)) AS mx,
        |  c.al + CASE WHEN
        |    greatest(0.0::DOUBLE, c.s + n.xm - 60.0::DOUBLE) > 60.0
        |    THEN 1 ELSE 0 END AS al
        | FROM c JOIN r n
        |  ON n.event_type = c.event_type AND n.rn = c.rn + 1),
        |last AS (SELECT event_type, max(rn) AS mxr FROM c GROUP BY 1)
        |SELECT c.event_type, CAST(c.rn AS BIGINT) AS n_hours,
        | round(c.s, 6) AS cusum_final, round(c.mx, 6) AS cusum_max,
        | CAST(c.al AS BIGINT) AS alarm_hours
        |FROM c JOIN last t ON c.event_type = t.event_type AND c.rn = t.mxr
        |ORDER BY 1""".stripMargin,

    "q70_stream_stream_join" ->
      """WITH v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        | FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        | FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        | SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
        | FROM v JOIN p ON v.user_id = p.user_id
        |  AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 4 HOUR)
        |SELECT user_id, count(*) AS n_pairs,
        | CAST(sum(view_id) AS BIGINT) AS view_id_sum,
        | CAST(sum(purchase_id) AS BIGINT) AS purchase_id_sum
        |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q85_streaming_funnel" ->
      """WITH ev AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        | FROM events),
        |s1 AS (
        | SELECT user_id, min(ts) AS step_1_ts FROM ev
        | WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        | SELECT e.user_id, min(e.ts) AS step_2_ts
        | FROM ev e JOIN s1 USING (user_id)
        | WHERE e.event_type = 'click' AND e.ts > s1.step_1_ts
        |  AND e.ts <= s1.step_1_ts + INTERVAL 24 HOUR
        | GROUP BY 1),
        |s3 AS (
        | SELECT e.user_id, min(e.ts) AS step_3_ts
        | FROM ev e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        | WHERE e.event_type = 'purchase' AND e.ts > s2.step_2_ts
        |  AND e.ts <= s1.step_1_ts + INTERVAL 24 HOUR
        | GROUP BY 1)
        |SELECT s1.user_id, step_1_ts, step_2_ts, step_3_ts
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin,

    "q74_streaming_dedup" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(event_id) AS BIGINT) AS id_sum,
        | CAST(sum(user_id) AS BIGINT) AS user_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q84_streaming_asof" ->
      """WITH clicks AS (
        | SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        | FROM events WHERE event_type = 'click'),
        |errs AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  max_by(value, event_id) AS err_value
        | FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts, e.ts AS err_ts, e.err_value
        |FROM clicks c ASOF LEFT JOIN errs e
        | ON c.user_id = e.user_id AND c.ts >= e.ts
        |ORDER BY c.event_id""".stripMargin,

    "q76_streaming_sessions" ->
      """WITH ev AS (
        | SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        | FROM events WHERE user_id < 30),
        |marked AS (
        | SELECT *, CASE WHEN ts - lag(ts) OVER w < INTERVAL 30 MINUTE
        |   THEN 0 ELSE 1 END AS new_session
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        | SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |   ROWS UNBOUNDED PRECEDING) AS sid
        | FROM marked)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        | count(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // same batch-frequency oracle as q95: the streamed sketch + exact
    // verify must land on the identical heavy-hitter set
    "q97_streaming_heavy_hitters" ->
      """WITH toks AS (
        | SELECT t.token
        | FROM documents,
        |   unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(token)
        | WHERE len(t.token) > 0),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT token, count(*) AS cnt
        |FROM toks GROUP BY token
        |HAVING count(*) >= ceil(0.01 * (SELECT n FROM tot))
        |ORDER BY cnt DESC, token""".stripMargin
  )
}
