package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.kernel.ConvertKernel.{ConversionConfig, FileOptions}

/** Structured Streaming plane (SURVEY.md §2.2 streaming row, §3.2 Spark
  * mapping): the reference's Celery queue is a stream of job requests; here
  * both the jobs plane and event-time analytics are readStream →
  * transform → writeStream with watermarks. The conversion inbox streams
  * a file manifest and converts each micro-batch through the same
  * `docling` scan as Pipeline.convertDirectory.
  */
object EventStreams {

  /** Tumbling event-time window aggregate with watermark — the streaming
    * twin of batch q20 (same grouping semantics, plus late-data bound).
    * Works on any DataFrame with (ts: timestamp, event_type, value). */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    // tumbling = the slide == window special case of slidingRollup
    slidingRollup(events, win = "1 hour", slide = "1 hour", watermark = watermark)
      .withColumnRenamed("win_start", "hour")

  /** Sliding event-time windows — each event contributes to
    * window/slide overlapping windows (4 here), the shape behind
    * "last hour, refreshed every 15 minutes" dashboards. Same watermark
    * eviction as tumbling: state is bounded by (horizon / slide) open
    * windows per key, independent of stream length. */
  def slidingRollup(events: DataFrame, win: String = "1 hour",
                    slide: String = "15 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows via the built-in session_window (gap-close semantics
    * matching batch q19's 30-minute gap rule). */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Stream-stream interval self-join — the streaming twin of batch q26:
    * emit (trigger event, follow-up event) pairs where the same user acts
    * again within `window`. Both join inputs carry event-time watermarks
    * and the join condition bounds b_ts on BOTH ends relative to a_ts, so
    * Spark can evict join state as the watermark advances — the required
    * shape for unbounded stream-stream joins (state is O(events within
    * the watermark horizon), never the full stream). */
  def followupPairsStream(events: DataFrame, window: String = "10 minutes",
                          watermark: String = "2 hours"): DataFrame = {
    val a = events.withWatermark("ts", watermark)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
    val b = events.withWatermark("ts", watermark)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
    a.join(b, expr(
      s"a_user = b_user AND b_ts > a_ts AND b_ts <= a_ts + INTERVAL $window"))
      .select(col("a_id"), col("b_id"), col("a_user").as("user_id"))
  }

  /** LEFT OUTER stream-stream interval join — [[followupPairsStream]]'s
    * outer variant, the hard streaming case: a trigger with NO follow-up
    * within `window` must still emit (b_id NULL), and the engine can only
    * prove the negative once the watermark passes a_ts + window — so the
    * outer row is emitted exactly when the trigger's join state is
    * evicted. Same two-sided time bounds ⇒ same bounded state as the
    * inner form; the negative answer costs nothing extra. This is the
    * "did the user act again, or churn?" shape: the batch alternative is
    * an anti-join re-scanning the lake per horizon, while here both the
    * positive and negative results stream out of O(horizon) state. */
  def followupPairsStreamOuter(events: DataFrame, window: String = "10 minutes",
                               watermark: String = "2 hours"): DataFrame = {
    val a = events.withWatermark("ts", watermark)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
    val b = events.withWatermark("ts", watermark)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
    a.join(b, expr(
      s"a_user = b_user AND b_ts > a_ts AND b_ts <= a_ts + INTERVAL $window"),
      "leftOuter")
      .select(col("a_id"), col("b_id"), col("a_user").as("user_id"))
  }

  /** FULL OUTER stream-stream interval join — the one join mode the
    * plane still lacked (VERDICT r9 #6), completing inner
    * ([[followupPairsStream]]) and left-outer
    * ([[followupPairsStreamOuter]]): BOTH sides null-pad on watermark
    * eviction. A trigger with no follow-up emits (a_id, NULL) once the
    * watermark passes a_ts + window (st4's rule); a follow-up with no
    * same-user trigger in the PRECEDING window — a "cold-start" event,
    * the session-opening shape — emits (NULL, b_id) once the watermark
    * passes b_ts itself (its candidate triggers all satisfy
    * a_ts < b_ts, so b's match set is provably complete the moment the
    * watermark clears its own timestamp). Same two-sided time bounds ⇒
    * same O(horizon) state as the inner form; both negatives stream
    * out of state eviction instead of a lake rescan. */
  def followupPairsStreamFull(events: DataFrame, window: String = "10 minutes",
                              watermark: String = "2 hours"): DataFrame = {
    val a = events.withWatermark("ts", watermark)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
    val b = events.withWatermark("ts", watermark)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
    a.join(b, expr(
      s"a_user = b_user AND b_ts > a_ts AND b_ts <= a_ts + INTERVAL $window"),
      "fullOuter")
      .select(col("a_id"), col("b_id"),
        coalesce(col("a_user"), col("b_user")).as("user_id"))
  }

  /** Streaming exact dedup — the ingest-time twin of batch d1: documents
    * arriving on a stream keep only the FIRST occurrence of each content
    * hash. dropDuplicatesWithinWatermark scopes the dedup state to the
    * event-time watermark, so state size is bounded by the dedup horizon
    * instead of growing with the corpus (at 100 TB/day the horizon is the
    * streaming window; cross-horizon dedup remains the batch d1 job over
    * the accumulated lake). Works on any stream with (ts: timestamp,
    * text: string) plus passthrough columns. */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .withColumn("content_hash", sha2(col("text"), 256))
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-static enrichment join — the streaming dimension lookup (the
    * q4 join shape applied to a live stream): each micro-batch of events
    * left-joins the STATIC dimension frame with the dimension broadcast,
    * so enrichment is map-side and completely STATELESS — stream-static
    * joins keep no watermark-scoped join state, unlike stream-stream
    * (followupPairsStream). At 100 TB/day of events the dimension
    * broadcast is the same broadcast the batch plan uses; a dimension too
    * big to broadcast shuffles each micro-batch instead, still stateless.
    * Left outer keeps events with no dimension row (the enrichment
    * contract: never drop facts because a dimension is late). */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   eventKey: String = "user_id",
                   dimKey: String = "c_custkey"): DataFrame =
    // keys resolve against their own frame, so a stream already carrying
    // a column named like the dim key (e.g. a second enrichment pass)
    // never trips an ambiguous-reference analysis error
    events.join(broadcast(dim), events.col(eventKey) === dim.col(dimKey), "left_outer")

  /** Streaming distinct-users rollup — the streaming twin of batch x1
    * (Sketches.scala): per-window HLL sketches of the user id, built
    * incrementally as micro-batches arrive. Two scale properties make
    * this THE shape for streaming distinct counts:
    *
    *  - state per (window, event_type) group is one constant-size HLL
    *    buffer, not the set of user ids seen — a `countDistinct` over a
    *    stream would grow state with the key universe;
    *  - the emitted row carries the serialized SKETCH beside the
    *    estimate, so a downstream store can union-merge closed windows
    *    into any coarser rollup (day/week/source) without replaying the
    *    stream — the streaming half of the store-partials-merge-later
    *    warehouse pattern x1 demonstrates in batch.
    *
    * HLL register updates are idempotent maxes, so the estimate is
    * independent of arrival order and micro-batch boundaries — the spec
    * pins streamed == batch equality, not an envelope. */
  def distinctUsersRollup(events: DataFrame, win: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win).as("w"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .select(col("w.start").as("win_start"), col("event_type"),
        hll_sketch_estimate(col("sk")).cast("long").as("approx_users"),
        col("sk"))

  /** The composed streaming curation path — e1's streaming sibling,
    * proving the streaming operators CHAIN in one query the way the
    * batch planes compose: at-least-once delivery dedup
    * (dropDuplicatesWithinWatermark on the event id — redelivered events
    * collapse), stream-static broadcast enrichment (stateless), then the
    * tumbling event-time rollup per (hour, customer segment). Two
    * stateful operators in one query — Spark 3.4+ chains them with a
    * single watermark — and everything between them is map-side. Values
    * aggregate in integer cents so stream == batch holds EXACTLY. */
  def curatedSegmentRollup(events: DataFrame, dim: DataFrame,
                           watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .withColumn("cents", (col("value") * 100).cast("long"))
      .join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left_outer")
      .groupBy(window(col("ts"), "1 hour").as("w"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents_sum"))
      .select(col("w.start").as("hour"), col("segment"),
        col("n_events"), col("cents_sum"))

  /** [[conversionStream]] in CATCH-UP mode: Trigger.AvailableNow drains
    * everything currently in the inbox in rate-limited micro-batches and
    * then STOPS — the cron-batch shape (process the overnight drop, exit)
    * that the always-on ProcessingTime trigger can't express. Same
    * checkpoint contract: a restart resumes from the last committed
    * offset, so repeated catch-up runs never re-convert a file. */
  def conversionCatchUp(spark: SparkSession, inboxDir: String, outDir: String,
                        checkpointDir: String,
                        config: ConversionConfig = ConversionConfig(),
                        batchMode: Boolean = false): StreamingQuery =
    conversionStreamWith(spark, inboxDir, outDir, checkpointDir, config,
      Trigger.AvailableNow(), batchMode)

  /** Streaming jobs plane: watch an inbox directory of binary documents and
    * convert each micro-batch through the `docling` scan — the
    * readStream→foreachBatch analog of the Celery worker loop (§3.2).
    * Returns the running query; results append as JSON under `outDir`. */
  def conversionStream(spark: SparkSession, inboxDir: String, outDir: String,
                       checkpointDir: String,
                       config: ConversionConfig = ConversionConfig()): StreamingQuery =
    conversionStreamWith(spark, inboxDir, outDir, checkpointDir, config,
      Trigger.ProcessingTime("1 second"), batchMode = false)

  private def conversionStreamWith(spark: SparkSession, inboxDir: String, outDir: String,
                                   checkpointDir: String, config: ConversionConfig,
                                   trigger: Trigger,
                                   batchMode: Boolean): StreamingQuery = {
    // MANIFEST-ONLY stream: the streaming plan carries (path, length) and
    // never `content`. Two scale reasons, both measured round 14 (sf0.01
    // probe; see SCALING.md):
    //  1. The file-stream source plans ONE PARTITION PER FILE — it never
    //     bin-packs the way a batch scan does — so a 5,000-doc inbox
    //     batch is 5,000 tiny tasks no matter what the user function
    //     does. With content in the schema each of those tasks reads its
    //     file's bytes (~290 s of task-time at sf0.1); pruned to
    //     path+length they are metadata-only.
    //  2. Spark 4.1's ForeachBatchSink EAGERLY materializes the
    //     micro-batch plan once BEFORE calling the user function, and
    //     the DataFrame it hands over re-executes that plan again per
    //     action — content in the streaming schema is therefore read
    //     once and thrown away, then read again. Streaming the manifest
    //     and batch-reading the payload inside foreachBatch reads every
    //     payload byte exactly once, through the core-sized docling scan.
    val options = FileOptions(config, batchMode = batchMode).toOptions
    spark.readStream
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(inboxDir)
      .select(col("path"), col("length"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // Collect the batch's paths (bounded by the trigger's admission
        // control, not the table size; the coalesce keeps the collect at
        // core-count tasks since the handed frame re-executes the
        // per-file-partition streaming RDD otherwise). The docling scan
        // then plans the explicit paths into LPT buckets: no second
        // directory listing, one content read per file.
        val paths = batch.coalesce(s.sparkContext.defaultParallelism)
          .select(col("path")).as(org.apache.spark.sql.Encoders.STRING)
          .collect()
        if (paths.nonEmpty)
          s.read.format("docling").options(options).load(paths.toIndexedSeq: _*)
            .write.mode("append").json(outDir)
        ()
      }
      .start()
  }
}
