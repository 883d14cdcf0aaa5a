package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming wrapper over the event-time aggregations
  * (SURVEY §2.8): the same window/session logic as graft.ops.Events, run as
  * `readStream → withWatermark → agg → writeStream`. All reference
  * aggregations (count/sum/min/max) are watermark-compatible, so batch and
  * streaming share semantics; the batch queries in ops.Events are the
  * oracle-checked versions of these.
  */
object EventStream {

  /** Streaming source over the events directory, ts normalized to µs
    * TimestampType exactly as in [[graft.Tables]]. readStream needs an
    * explicit schema, `stored`: the events layout as stored, whose `ts`
    * physical type has varied across data drops (TIMESTAMP(NANOS) readable
    * only as Long, TIMESTAMP(MICROS) without tz read as NTZ). A caller
    * streaming a fresh copy of a table passes the schema pinned for the
    * original, so nothing is inferred. */
  def events(spark: SparkSession, sfDir: String, stored: StructType): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.normalizeTs(
      spark.readStream.schema(stored).parquet(s"$sfDir/events.parquet"))
  }

  /** [[events]] with the schema [[graft.Tables.stored]] pins for
    * `<sfDir>/events.parquet`. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir, graft.Tables.stored(spark, sfDir, "events"))

  /** 10-minute tumbling counts with a 1-hour watermark (late data beyond an
    * hour is dropped; state is bounded per window × type). */
  def tumblingCounts(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessions per user (30-minute inactivity), streaming-native
    * via session_window + watermark — state closes once the watermark passes
    * a session's end. */
  def sessionCounts(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("sess_start"),
        col("n_events"))

  /** Streaming exact dedup — the streaming member of the dedup family
    * (batch counterpart: ops.Dedup q34). Re-deliveries of the same event_id
    * within the watermark delay are dropped; state is BOUNDED — ids older
    * than the watermark are evicted — so this runs forever at constant
    * memory, which a batch distinct over an unbounded log cannot. At 100 TB/
    * day the state store holds only one key per event inside the 1-hour
    * late-data horizon, sharded by the groupBy-key shuffle. */
  def dedupEvents(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream join — purchase-to-click attribution: each
    * purchase matches the same user's clicks from the preceding 30 minutes.
    * Both sides carry a watermark AND the join condition bounds event time
    * on both sides, so Spark can evict join state once the watermark passes
    * `click_ts + 30 min` — bounded state at any throughput, the
    * stream-stream analogue of q61's interval join (there the bound comes
    * from bin bucketing; here from watermark-driven state eviction). */
  def attributionJoin(ev: DataFrame, joinType: String = "inner"): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buyer_id"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"), col("value"))
      .withWatermark("buy_ts", "1 hour")
    // Clicks are the preserved side under "left_outer": an unmatched click
    // emits with null buy columns once the watermark passes click_ts + 30m
    // (its state can no longer match) — inner results are unaffected by
    // the side order.
    clicks.join(purchases,
      col("user_id") === col("buyer_id") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("interval 30 minutes"),
      joinType)
      .select(col("user_id"), col("click_id"), col("buy_id"),
        unix_timestamp(col("click_ts")).as("click_s"),
        unix_timestamp(col("buy_ts")).as("buy_s"), col("value"))
  }

  /** Output mode a plan can actually run in: aggregations (windowed counts,
    * sessions) → complete; row-level plans (dedup, stream-stream joins) →
    * append — those throw AnalysisException in complete mode, so defaulting
    * to one fixed mode is a call-site trap (ADVICE r3). */
  private[streaming] def inferOutputMode(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // Only STREAMING aggregates force complete mode — an aggregate on the
    // static side of a stream-static join must not (the query would throw
    // "Complete output mode not supported" at start).
    val hasStreamingAgg = df.queryExecution.analyzed.collectFirst {
      case a: Aggregate if a.isStreaming => a
    }.isDefined
    if (hasStreamingAgg) "complete" else "append"
  }

  /** Run a streaming query over the existing files and stop
    * (Trigger.AvailableNow) — results land in an in-memory table. The
    * output mode is inferred from the plan unless explicitly overridden. */
  def runAvailableNow(df: DataFrame, queryName: String,
      outputMode: String = ""): Unit = {
    val mode = if (outputMode.nonEmpty) outputMode else inferOutputMode(df)
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
