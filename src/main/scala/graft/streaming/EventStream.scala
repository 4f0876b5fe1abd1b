package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

/** Structured Streaming extension (SURVEY §7.2 step 11). The reference has
  * NO streaming (§1.4 — its only "stream" source reads one console line,
  * DataSourceStream.cs:153-171); this is engine capability beyond the
  * reference surface: the `events` table as an unbounded source.
  *
  * Design: the same declarative transforms as the batch engine —
  * `readStream` → watermarked windowed aggregation → `writeStream` — so
  * Catalyst plans incremental execution; custom per-key state goes through
  * `KeyValueGroupedDataset.flatMapGroupsWithState` (the one place
  * imperative state is the right tool). At scale the aggregation state is
  * partitioned by (window, event_type) across executors and the watermark
  * bounds state size — late events beyond it are dropped, so state never
  * grows with stream length.
  */
object EventStream {

  /** The NORMALIZED events heading the transforms below consume (TESTDATA
    * events.parquet after [[fromParquetDir]]/[[graft.sources.Sources
    * .nanosTsToMicros]] ingest — the on-file ts precision varies by
    * producer generation and is coerced to the instant type here). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  /** File-based unbounded source: new parquet files under `dir` become
    * stream batches (the standard file-source pattern for a table that
    * keeps receiving partitions). ts precision is SCHEMA-DRIVEN, exactly
    * like the batch events loader: a footer peek decides whether the files
    * store TIMESTAMP(NANOS) (surfaced as long under nanosAsLong → truncate
    * to micros) or native TIMESTAMP(MICROS) (read directly) — hardcoding
    * either unit silently breaks when the producer's writer changes
    * precision, which is what flipped both streaming gates red in round 9
    * (the generated events table moved from ns to us with zero code
    * changes here). */
  def fromParquetDir(spark: SparkSession, dir: String): DataFrame = {
    // A single-file path works too (replay one table file as the stream).
    // The file source derives basePath from a NON-glob path directly — for
    // a file that trips "basePath must be a directory" — so present the
    // file as a one-entry brace glob; glob paths anchor to the parent dir.
    val f = new java.io.File(dir)
    val path = if (f.isFile) s"${f.getParent}/{${f.getName}}" else dir
    // footer-only peek: take the file's OWN schema as this session's
    // reader surfaces it (peek the raw path — the batch reader takes
    // files directly, and peeking the brace-glob trips a noisy
    // FileStreamSink metadata probe). Pinning a hardcoded schema instead
    // silently nulls renamed columns and mis-units retyped ones; only the
    // event-time normalization is ours ([[Sources.nanosTsToMicros]]).
    val raw = graft.sources.Sources.parquet(spark, dir).schema
    graft.sources.Sources.nanosTsToMicros(spark.readStream.schema(raw).parquet(path))
  }

  /** Windowed per-type aggregation with a watermark — the streaming
    * analogue of the batch q_events_hour (hour × event_type counts and
    * value totals). State per (hour, type) key only; watermark `late`
    * bounds retained windows. */
  def hourlyByType(events: DataFrame, late: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", late)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"),
              col("n"), col("total_value"))

  /** [[hourlyByType]] with the batch engine's numeric-determinism policy
    * (sum in decimal, convert to double at the end — Queries.scala header):
    * the variant the oracle-gated q_stream_window runs, so the streaming
    * result hash-matches the DuckDB batch oracle exactly. */
  def hourlyByTypeExact(events: DataFrame, late: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", late)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
             .cast("double").as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"),
              col("n"), col("total_value"))

  /** Streaming exact dedup: drop rows whose key was already seen within the
    * watermark horizon — the streaming analogue of Dedup.exact. State is
    * per-key and EVICTED once the event time passes `late`, so memory is
    * bounded by the duplicate-arrival window, not stream length (the
    * property that makes this viable on an unbounded 100-TB/day feed). */
  def dedupWithinWatermark(rows: DataFrame, keys: Seq[String],
                           tsCol: String = "ts", late: String = "1 hour"): DataFrame =
    rows.withWatermark(tsCol, late)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Gap-based sessionization via Spark's native session_window: a user's
    * events merge into one session while each gap is < `gap`; a gap ≥ `gap`
    * starts a new session. One shuffle on user_id; session merging happens
    * inside the aggregation (streaming keeps per-open-session state only,
    * bounded by the watermark). The same plan shape runs batch (this) and
    * streaming ([[sessionizeStream]]). */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .select(col("user_id"), col("session_start"), col("session_end"),
              col("n_events"))

  /** Streaming [[sessionize]]: watermarked, append-mode (sessions emit once
    * finalized — i.e. once the watermark passes session_end + gap). */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
                       late: String = "1 hour"): DataFrame =
    sessionize(events.withWatermark("ts", late), gap)

  /** Stream-stream interval join: every purchase joined to the same
    * user's clicks in the preceding `window`. The SAME definition runs
    * batch (watermarks are no-ops) and streaming — in streaming the range
    * condition plus both watermarks let Spark BOUND the join state: a
    * buffered click is dropped once the watermark passes c_ts + window,
    * so state size tracks the window, not stream length (the property
    * that keeps a days-long click×purchase join alive on an unbounded
    * feed). Inner join: matches emit as soon as both sides arrive. */
  def purchaseClickJoin(events: DataFrame, window: String = "1 hour",
                        late: String = "30 minutes"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      .withWatermark("p_ts", late)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("click_value"))
      .withWatermark("c_ts", late)
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $window") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("purchase_value"), col("c_ts"), col("click_value"))
  }

  /** Per-user running session state via flatMapGroupsWithState: emits one
    * updated (user_id, n_events, total_value) row per user per batch.
    * Custom state is the right tool ONLY where windowed aggregation can't
    * express the semantics; state is per-key, partitioned, and scales
    * horizontally. */
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  def runningUserTotals(events: DataFrame): Dataset[UserTotals] = {
    implicit val rowEnc: Encoder[(Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    implicit val stateEnc: Encoder[UserTotals] = Encoders.product[UserTotals]
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { case (_, v) => n += 1; tot += v }
          val next = UserTotals(uid, n, tot)
          state.update(next)
          Iterator(next)
      }
  }
}
