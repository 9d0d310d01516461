package graft.streaming

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The streaming plane's driver-oracle row (VERDICT r5 #7): until now
  * every streaming operator was parity-pinned in specs but none carried a
  * CORRECTNESS entry. st1 runs [[EventStreams.hourlyRollup]] — the
  * PRODUCTION configuration: append output mode, 2-hour watermark,
  * rate-limited AvailableNow catch-up over a staged file inbox — and the
  * DuckDB oracle replays the watermark-finalization rule itself: an
  * hourly window is emitted iff its END is at or below the final
  * watermark (max event time − 2 h). That makes the CORRECTNESS row pin
  * exactly the semantics that matter in an unbounded deployment — which
  * windows are CLOSED — rather than sidestepping them with complete mode
  * (whose result table grows without bound and demonstrates nothing
  * about eviction).
  *
  * Determinism: counts are exact; sums run over DECIMAL(18,4) casts so
  * partial-aggregation order (which varies with micro-batch slicing)
  * cannot perturb the double output; and the emitted-window set depends
  * only on the FINAL watermark, not on how AvailableNow batches the
  * inbox (each batch's watermark only grows; the no-data final batch
  * flushes everything at or below max−2h).
  */
object StreamQueries {

  /** Stage the events table as a multi-file parquet inbox (write-once per
    * sf dir, marker-versioned like the media fixture) so the stream
    * source has real files to rate-limit over. Public so Bench's untimed
    * warmup can pay the one-time staging write there, keeping st1's
    * measured time on the streaming query. */
  def stagedInbox(s: SparkSession, dir: String): String = {
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val nFiles = 8
    val path = new java.io.File(root, "events_inbox_" + base)
    // same once-per-process fast path as Multimodal.mediaTable: after the
    // first verification the measured st* calls skip the count() job
    if (verifiedInboxes.contains(path.getAbsolutePath))
      return path.getAbsolutePath
    val events = Tables(s, dir, "events")
    // staleness keys on the SOURCE parquet's size/mtime fingerprint (the
    // mediaTable/stagedCorpus convention): no Spark count() job to decide
    // the inbox is current, and a driver-side fixture regeneration that
    // keeps the row count but changes values still rebuilds
    val stamp = s"v5:f$nFiles:${graft.operators.Multimodal.sourceFingerprint(
      new java.io.File(dir, "events.parquet"))}"
    val marker = new java.io.File(path.getAbsolutePath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      // 8 TIME-RANGED files (a real inbox arrives in rough event-time
      // order); runCatchUp's maxFilesPerTrigger (see there for the
      // batching rationale) slices them into micro-batches with the
      // watermark advancing between them, and no row is ever later than
      // the watermark its batch runs under. A randomly-shuffled staging
      // (the first attempt) drives the watermark to max−2h in batch 1 and
      // correctly LATE-DROPS most of the remaining inbox — valid
      // semantics, but then the row tests the staging artifact, not the
      // rollup.
      events.repartitionByRange(nFiles, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(path.getAbsolutePath)
      // The file source replays in MODIFICATION-TIME order, and the 8
      // parallel write tasks finish in arbitrary order — pin the part
      // files' mtimes to a strictly increasing sequence in (range-ordered)
      // NAME order, anchored to one shared base (max of the actual
      // mtimes), so a re-staging can never present day 26 before day 1.
      // Anchoring to each file's OWN mtime would only preserve name order
      // when no later-range task finished well before an earlier one —
      // not guaranteed with 8 parallel writers. HARNESS-ONLY DEVICE:
      // local-FS mtimes are writable; on an object store (S3/GCS) this
      // staging trick is meaningless and a real deployment orders its
      // inbox by arrival instead.
      val parts = path.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val mtimeBase = parts.map(_.lastModified()).max
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(mtimeBase + i * 2000L),
          s"stagedInbox: setLastModified failed for ${f.getName} — " +
            "file-source replay order would be undefined")
      }
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedInboxes.add(path.getAbsolutePath)
    path.getAbsolutePath
  }

  private val verifiedInboxes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Stage the "daily crawl" slice (doc_id % 10 == 0 — d11's batch
    * convention) of the documents table as a 4-file doc_id-ranged
    * parquet inbox for st5. Same write-once marker pattern as
    * [[stagedInbox]], but NO mtime pinning: st5's per-batch pipeline is
    * stateless (no watermark, no cross-batch state), and its per-doc
    * output is independent of which micro-batch a document lands in, so
    * replay order genuinely does not matter here. */
  def stagedDocInbox(s: SparkSession, dir: String): String = {
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(root, "docs_inbox_" + base)
    if (verifiedInboxes.contains(path.getAbsolutePath))
      return path.getAbsolutePath
    import s.implicits._
    val crawl = Tables(s, dir, "documents")
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"text")
    // source-fingerprint staleness, same rationale as stagedInbox above
    val stamp = s"v2:${graft.operators.Multimodal.sourceFingerprint(
      new java.io.File(dir, "documents.parquet"))}"
    val marker = new java.io.File(path.getAbsolutePath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      crawl.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(path.getAbsolutePath)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedInboxes.add(path.getAbsolutePath)
    path.getAbsolutePath
  }

  /** Per-batch progress of the most recent catch-up run (runCatchUp or
    * st6's inline runner) — read by StreamQueriesSpec's state-size pins,
    * which turn "state is bounded by the watermark horizon / active
    * keys" from scaladoc prose into a regression gate on
    * `stateOperators.numRowsTotal`. */
  @volatile private[graft] var lastRunProgress:
      Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = Array.empty

  /** Stream-scoped shuffle parallelism derived from the INBOX, not the
    * session or a constant (r19 — the loopParts convention lifted to
    * streams, VERDICT r18 #6): every micro-batch commits one state
    * store per shuffle partition PER STATEFUL OPERATOR (st4's outer
    * join keeps four), so partitions beyond what one trigger's data
    * fills are pure commit round-trips — the pre-r19 constant 8 paid
    * 8·stores·batches commits for KB-sized triggers, and a session
    * setting of 32 would pay 4× that. One partition per ~4 MB of
    * trigger input (the `filesPerTrigger` largest staged files), capped
    * at the session's core count: the staged catch-up inboxes land on
    * 1, a production stream at GBs per trigger fills the cores — the
    * same formula at both scales. Safe to derive per run because every
    * run starts a FRESH checkpoint (a restarted production stream keeps
    * whatever its checkpoint pinned at first start). An inbox that does
    * not list as a local directory gets the core count. Conf
    * `graft.stream.parts` overrides. */
  private[streaming] def streamParts(s: SparkSession, inbox: String,
                          filesPerTrigger: Int): Int =
    s.conf.getOption("graft.stream.parts").map(_.toInt).getOrElse {
      val cores = s.sparkContext.defaultParallelism
      Option(new java.io.File(inbox).listFiles()) match {
        // not a listable local directory (a glob, a nested layout, a
        // remote path): the trigger size is unknown, so size for the
        // cores rather than pin a fresh checkpoint to one partition
        case None => cores
        case Some(files) =>
          val perTrigger = files.filter(_.getName.endsWith(".parquet"))
            .map(_.length()).sorted.reverse
            .take(math.max(filesPerTrigger, 1)).sum
          math.max(1, math.min(cores, (perTrigger / (4L << 20)).toInt + 1))
      }
    }

  /** Run `transform` over the staged inbox as a rate-limited AvailableNow
    * catch-up stream to completion, and return the finalized rows read
    * back from the parquet sink — the shared runner behind every st*
    * CORRECTNESS row. */
  private def runCatchUp(s: SparkSession, dir: String,
                         transform: DataFrame => DataFrame): DataFrame = {
    val inbox = stagedInbox(s, dir)
    val runDir = freshRunDir("st").getAbsolutePath
    val outDir = s"$runDir/out"
    val schema = s.read.parquet(inbox).schema
    // 8 ranged files / 4 per trigger = 2 real data batches plus the
    // final no-data flush batch: still exercises cross-batch state and
    // the incremental watermark advance, at half the per-batch
    // state-store/sink-commit overhead of smaller triggers (each extra
    // micro-batch costs a checkpoint + sink commit, ~1 s on tmpfs).
    // -Dgraft.stream.filesPerTrigger is the cadence half of the
    // stagedInbox dev knob (SCALING r13) — results are invariant,
    // only the micro-batch slicing changes.
    val perTrigger = sys.props.get("graft.stream.filesPerTrigger")
      .map(_.toInt).getOrElse(4)
    // Stateful parallelism sized to the stream's own trigger volume
    // ([[streamParts]]); session value restored for the read-back and
    // every batch query.
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      streamParts(s, inbox, perTrigger).toString)
    try {
      val stream = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", perTrigger)
        .parquet(inbox)
      val q = transform(stream)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", s"$runDir/chk")
        .trigger(Trigger.AvailableNow())
        .format("parquet")
        .option("path", outDir)
        .start()
      q.awaitTermination()
      lastRunProgress = q.recentProgress
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.read.parquet(outDir)
  }

  /** st1: the watermark-finalized hourly rollup as a batch frame. */
  def hourlyRollupCatchUp(s: SparkSession, dir: String): DataFrame =
    runCatchUp(s, dir, ev => EventStreams.hourlyRollup(
      // decimal BEFORE the aggregation: exact sums regardless of which
      // micro-batch each row lands in
      ev.withColumn("value", col("value").cast("decimal(18,4)"))))
      .select(col("hour").as("win_start"), col("event_type"),
        col("n"), col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  /** st2: the composed dedup → broadcast-enrich → rollup chain
    * ([[EventStreams.curatedSegmentRollup]]) run to termination. */
  def curatedRollupCatchUp(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables(s, dir, "customer")
    runCatchUp(s, dir, ev => EventStreams.curatedSegmentRollup(ev, dim))
      .orderBy(col("hour"), col("segment"))
  }

  /** st3: watermark-finalized session windows
    * ([[EventStreams.sessionRollup]]) run to termination. */
  def sessionRollupCatchUp(s: SparkSession, dir: String): DataFrame =
    runCatchUp(s, dir, ev => EventStreams.sessionRollup(ev))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** st4: the LEFT OUTER stream-stream interval join
    * ([[EventStreams.followupPairsStreamOuter]]) run to termination. */
  def followupOuterCatchUp(s: SparkSession, dir: String): DataFrame =
    runCatchUp(s, dir, ev => EventStreams.followupPairsStreamOuter(ev))
      .orderBy(col("a_id"), col("b_id"))

  /** st14: the FULL OUTER stream-stream interval join
    * ([[EventStreams.followupPairsStreamFull]]) run to termination.
    * Null ids sort FIRST so the presentation order is total over the
    * three row classes (matched / trigger-only / follow-up-only). */
  def followupFullCatchUp(s: SparkSession, dir: String): DataFrame =
    runCatchUp(s, dir, ev => EventStreams.followupPairsStreamFull(ev))
      .orderBy(col("a_id").asc_nulls_first, col("b_id").asc_nulls_first)

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "st1_hourly_rollup_stream",
      (s, dir) => hourlyRollupCatchUp(s, dir),
      // The oracle replays the finalization rule: window end (start+1h)
      // at or below the final watermark (max ts − 2h) — the exact
      // append-mode eviction contract of the watermarked aggregation.
      Some("""
        WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events, wm
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
        GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // ----------------------------------------------------------------- st2
    // The COMPOSED chain — at-least-once dedup, stream-static broadcast
    // enrichment, tumbling rollup — under the same finalization oracle.
    // Deterministic because: event_id is unique in the fixture (the spec
    // plane plants the redeliveries; here dedup must be an exact
    // pass-through), the dimension join is stateless, and cents
    // accumulate as longs. TRUNC mirrors Spark's double→long cast (both
    // truncate toward zero; DuckDB's bare CAST rounds).
    QuerySpec(
      "st2_curated_rollup_stream",
      (s, dir) => curatedRollupCatchUp(s, dir),
      Some("""
        WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events),
        e AS (
          SELECT date_trunc('hour', ts) AS hour,
                 COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
                 CAST(TRUNC(value * 100) AS BIGINT) AS cents
          FROM events LEFT JOIN customer c ON user_id = c.c_custkey, wm
          WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w)
        SELECT hour, segment, COUNT(*) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS cents_sum
        FROM e GROUP BY 1, 2 ORDER BY hour, segment""")),

    // ----------------------------------------------------------------- st3
    // Session windows under the oracle: the emitted set is every session
    // CLOSED by the final watermark (session end = last event + gap;
    // emitted iff end <= max(ts) − 2h), and the oracle rebuilds the
    // sessions with the islands technique — a gap of >= 30 minutes opens
    // a new session, matching session_window's half-open [ts, ts+gap)
    // merge rule exactly.
    QuerySpec(
      "st3_session_rollup_stream",
      (s, dir) => sessionRollupCatchUp(s, dir),
      Some("""
        WITH f AS (
          SELECT user_id, ts,
                 CASE WHEN LAG(ts) OVER w IS NULL
                           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        g AS (
          SELECT user_id, ts,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM f),
        sess AS (
          SELECT user_id, MIN(ts) AS session_start,
                 MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM g GROUP BY user_id, grp),
        wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
        SELECT user_id, session_start, session_end, n_events
        FROM sess, wm WHERE session_end <= wm.w
        ORDER BY user_id, session_start""")),

    // ----------------------------------------------------------------- st4
    // The LEFT OUTER stream-stream interval join under the oracle — the
    // one streaming shape whose OUTPUT is eviction-driven: a matched pair
    // emits when the match arrives, but a null-padded row emits only when
    // the watermark passes the trigger's join horizon (a_ts + 10 min) and
    // the engine can prove no follow-up will come. The oracle replays
    // both halves: the match set is the plain interval join (every match
    // emits — with a time-ordered inbox and a 2 h watermark against a
    // 10 min window, no trigger's state is evicted before its candidate
    // follow-ups arrive), and the negative half is triggers with no
    // follow-up whose horizon is STRICTLY below the final watermark
    // (max ts − 2 h) — pinned strict: state evicts when the watermark
    // passes the horizon, and a horizon exactly AT the watermark is not
    // yet proven matchless. Triggers in the final 2h10m emit nothing —
    // in an unbounded deployment their verdict is simply still pending.
    QuerySpec(
      "st4_followup_outer_stream",
      (s, dir) => followupOuterCatchUp(s, dir),
      Some("""
        WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events),
        m AS (
          SELECT a.event_id AS a_id, b.event_id AS b_id,
                 a.user_id
          FROM events a JOIN events b ON a.user_id = b.user_id
            AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE),
        neg AS (
          SELECT a.event_id AS a_id, NULL AS b_id, a.user_id
          FROM events a, wm
          WHERE a.ts + INTERVAL 10 MINUTE < wm.w
            AND NOT EXISTS (SELECT 1 FROM m WHERE m.a_id = a.event_id))
        SELECT a_id, CAST(b_id AS BIGINT) AS b_id, user_id FROM m
        UNION ALL
        SELECT a_id, CAST(b_id AS BIGINT) AS b_id, user_id FROM neg
        ORDER BY a_id, b_id NULLS FIRST""")),

    // ----------------------------------------------------------------- st5
    // d11's incremental daily-run shape actually RUN incrementally: the
    // new-crawl slice arrives as a file-source stream, and foreachBatch
    // executes the full Bloom pipeline per micro-batch — build the filter
    // over the BATCH's passage hashes, prefilter the static corpus
    // map-side, exact confirm join, append matches to the sink. The
    // static corpus passages materialize ONCE before the stream starts
    // (persisted, released after) — no per-batch corpus shuffle. Output
    // is per-doc aggregation of the appended matches; every document
    // lands in exactly one micro-batch and the pipeline is stateless (no
    // watermark), so the result is independent of batch slicing and the
    // oracle is d11's verbatim. This is the one streaming primitive the
    // plane lacked under the oracle: foreachBatch as the incremental
    // orchestrator (the shape a 100 TB daily ingest runs, where each
    // day's batch Blooms against yesterday's corpus).
    QuerySpec(
      "st5_incremental_dedup_stream",
      (s, dir) => {
        import s.implicits._
        val inbox = stagedDocInbox(s, dir)
        val corpus = graft.operators.Dedup.passagesOn(
            Tables(s, dir, "documents").filter($"doc_id" % 10 =!= 0))
          .persist()
        corpus.count()
        val runDir =
          freshRunDir("st5").getAbsolutePath
        val outDir = s"$runDir/out"
        // seed the sink with the (empty) match schema so a no-match run
        // still reads back as a valid empty frame
        Seq.empty[(Long, String, Long)].toDF("doc_id", "passage", "corpus_id")
          .write.mode("overwrite").parquet(outDir)
        val schema = s.read.parquet(inbox).schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 2).parquet(inbox)
        val step: (org.apache.spark.sql.DataFrame, Long) => Unit = {
          (batchDocs, _) =>
            val (batch, candidates) = graft.operators.Dedup
              .bloomCandidatesFor(
                s, graft.operators.Dedup.passagesOn(batchDocs), corpus)
            batch.join(candidates, Seq("passage"))
              .select($"doc_id", $"passage", $"corpus_id")
              .write.mode("append").parquet(outDir)
        }
        val q = stream.writeStream
          .foreachBatch(step)
          .option("checkpointLocation", s"$runDir/chk")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val out = s.read.parquet(outDir)
          .groupBy($"doc_id")
          .agg(countDistinct($"passage").as("n_shared_passages"),
            min($"corpus_id").as("dup_of"))
        graft.Materialize.thenRelease(out, corpus).orderBy($"doc_id")
      },
      Some(raw"""
        WITH w AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 10),
        p AS (
          SELECT doc_id, array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS passage
          FROM f, UNNEST(generate_series(0, CAST(len(ws)//10 AS INT) - 1)) AS t(i)),
        b AS (SELECT * FROM p WHERE doc_id % 10 = 0),
        c AS (SELECT * FROM p WHERE doc_id % 10 <> 0)
        SELECT b.doc_id,
               CAST(COUNT(DISTINCT b.passage) AS BIGINT) AS n_shared_passages,
               MIN(c.doc_id) AS dup_of
        FROM b JOIN c ON b.passage = c.passage
        GROUP BY b.doc_id ORDER BY b.doc_id""")),

    // ----------------------------------------------------------------- st6
    // transformWithState under the oracle: per-(user, type) running
    // counts via [[RunningTotals.TypeCountProcessor]]'s MapState run to
    // termination over the staged inbox. Update-mode emissions land in a
    // parquet sink through foreachBatch (the file sink is append-only);
    // because each count is MONOTONE, max(n) over all emissions per
    // (user, type) is exactly the final state — independent of how
    // AvailableNow slices the inbox — so the DuckDB oracle is the plain
    // batch aggregate. This puts the arbitrary-state plane (previously
    // spec-only: RunningTotalsSpec) on the CORRECTNESS scoreboard. State
    // story at 100 TB: MapState keys each (user, type) entry separately
    // — one store write per touched type per batch, never a whole-
    // profile rewrite — and the RocksDB provider (required by
    // transformWithState, scoped here like runCatchUp's parallelism)
    // checkpoints changelogs, not snapshots.
    QuerySpec(
      "st6_type_counts_stream",
      (s, dir) => {
        import s.implicits._
        val inbox = stagedInbox(s, dir)
        val runDir =
          freshRunDir("st6").getAbsolutePath
        val outDir = s"$runDir/out"
        Seq.empty[(Long, String, Long)].toDF("user_id", "event_type", "n")
          .write.mode("overwrite").parquet(outDir)
        val schema = s.read.parquet(inbox).schema
        val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
        val prevProvider =
          s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        s.conf.set("spark.sql.shuffle.partitions",
          streamParts(s, inbox, 4).toString)
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4).parquet(inbox)
          val updates = RunningTotals.typeCounts(s, stream).toDF()
          val q = updates.writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("append").parquet(outDir)
            }
            .outputMode(OutputMode.Update)
            .option("checkpointLocation", s"$runDir/chk")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          lastRunProgress = q.recentProgress
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
          prevProvider match {
            case Some(p) =>
              s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
            case None =>
              s.conf.unset("spark.sql.streaming.stateStore.providerClass")
          }
        }
        s.read.parquet(outDir)
          .groupBy($"user_id", $"event_type")
          .agg(max($"n").as("n_events"))
          .orderBy($"user_id", $"event_type")
      },
      Some("""
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, event_type
        ORDER BY user_id, event_type""")),

    // ----------------------------------------------------------------- st7
    // SLIDING windows under the finalization oracle ([[EventStreams
    // .slidingRollup]], 1 h window / 15 min slide — the "last hour,
    // refreshed every 15 minutes" dashboard shape): each event lands in
    // exactly four overlapping windows, and append mode emits a window
    // iff its END clears the final watermark. The oracle replays BOTH
    // rules — the 4-window replication (15-minute bucket minus 0..3
    // slides; Spark's window() and DuckDB's time_bucket both align
    // sub-hour buckets on :00/:15/:30/:45, so the window sets coincide)
    // and the eviction cut. Values aggregate as DECIMAL(18,4) before the
    // windowed sum (the st1 convention), so micro-batch slicing cannot
    // perturb the doubles.
    QuerySpec(
      "st7_sliding_rollup_stream",
      (s, dir) => runCatchUp(s, dir, ev => EventStreams.slidingRollup(
          ev.withColumn("value", col("value").cast("decimal(18,4)"))))
        .select(col("win_start"), col("event_type"),
          col("n"), col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("win_start"), col("event_type")),
      Some("""
        WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events),
        e AS (
          SELECT time_bucket(INTERVAL '15 minutes', ts)
                   - i * INTERVAL '15 minutes' AS win_start,
                 event_type, value
          FROM events, UNNEST(generate_series(0, 3)) AS t(i))
        SELECT win_start, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM e, wm
        WHERE win_start + INTERVAL 1 HOUR <= wm.w
        GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // ----------------------------------------------------------------- st8
    // flatMapGroupsWithState sessionization under the oracle
    // ([[StatefulSessions.statefulSessionize]] — the hand-rolled
    // arbitrary-state twin of st3's built-in session_window, previously
    // spec-only). Its emission contract is batching-independent by
    // construction, which is what makes an oracle possible: a session
    // CLOSED by a later event (> gap after it) emits regardless of the
    // watermark — whether closer and closee share a micro-batch or not,
    // the same row comes out — while each user's final open session
    // emits only when the event-time timeout fires, i.e. when the final
    // watermark passes STRICTLY beyond last_ts + gap
    // (FlatMapGroupsWithStateExec times out on timestamp < watermark).
    // The oracle rebuilds the islands (STRICT > gap split — the
    // merge-on-equal boundary this sessionizer shares with batch q19,
    // vs session_window's half-open split) and applies exactly that
    // rule: every non-final session, plus final sessions with
    // end + gap < wm. Unlike st3, session_end here is the LAST EVENT's
    // timestamp, not last + gap.
    QuerySpec(
      "st8_stateful_sessions_stream",
      (s, dir) => runCatchUp(s, dir, ev =>
          StatefulSessions.statefulSessionize(s, ev).toDF())
        .orderBy(col("user_id"), col("session_start")),
      Some("""
        WITH f AS (
          SELECT user_id, ts,
                 CASE WHEN LAG(ts) OVER w IS NULL
                           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        g AS (
          SELECT user_id, ts,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM f),
        sess AS (
          SELECT user_id, grp, MIN(ts) AS session_start, MAX(ts) AS session_end,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM g GROUP BY user_id, grp),
        lastg AS (SELECT user_id, MAX(grp) AS maxgrp FROM sess GROUP BY user_id),
        wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
        SELECT s.user_id, s.session_start, s.session_end, s.n_events
        FROM sess s JOIN lastg l USING (user_id), wm
        WHERE s.grp < l.maxgrp OR s.session_end + INTERVAL 30 MINUTE < wm.w
        ORDER BY s.user_id, s.session_start""")),

    // ----------------------------------------------------------------- st9
    // The KERNEL plane's streaming half under the oracle: the same
    // staged corpus k1 converts in batch drains through
    // [[graft.streaming.EventStreams.conversionCatchUp]] — readStream
    // binaryFile inbox → foreachBatch mapPartitions kernel → append
    // JSON sink, checkpointed — and the read-back result must match
    // k1's DuckDB oracle byte-for-byte. This puts the §3.2 worker-loop
    // analog (the reference's Celery consumer) on the CORRECTNESS
    // scoreboard, not just under EventStreamsSpec's exactly-once pins;
    // a declared read-back schema keeps error rows (null markdown)
    // loss-free through the JSON sink.
    QuerySpec(
      "st9_convert_stream",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val corpus = graft.operators.KernelQueries.stagedCorpus(s, dir)
        val runDir = freshRunDir("st9").getAbsolutePath
        // batchMode mirrors k1's batch-conversion plane (error rows
        // carry the FULL filename; single mode stems them — the
        // reference's §3.2/§3.3 asymmetry), so k1's oracle applies
        // verbatim
        val q = EventStreams.conversionCatchUp(
          s, corpus, s"$runDir/out", s"$runDir/chk",
          graft.kernel.ConvertKernel.ConversionConfig(), batchMode = true)
        q.awaitTermination()
        lastRunProgress = q.recentProgress
        s.read.schema(
            "filename STRING, markdown STRING, " +
              "images ARRAY<STRUCT<type: STRING, filename: STRING, image: STRING>>, " +
              "error STRING")
          .json(s"$runDir/out")
          .select(
            regexp_extract(col("filename"), "(\\d+)", 1).cast("long").as("doc_id"),
            col("filename"),
            length(col("markdown")).cast("long").as("md_len"),
            size(col("images")).cast("long").as("n_images"),
            col("error"))
          .orderBy(col("doc_id"))
      },
      Some(graft.operators.KernelQueries.K1OracleSql)),

    // ---------------------------------------------------------------- st10
    // Streaming bottom-k sampling — p12's streaming twin: per-event-type
    // bottom-10 of md5(seed:event_id) maintained as
    // flatMapGroupsWithState state while the inbox drains. The KMV merge
    // property (bottom-k of a union = bottom-k of merged bottom-ks) is
    // what makes an EXACT oracle possible for a stateful stream: the
    // final state is provably independent of how AvailableNow slices or
    // orders the inbox, so the DuckDB oracle is simply the BATCH
    // bottom-k over the whole table — the same replayability argument
    // as st6's monotone counters, here for a truncated-set state shape.
    // Each touched group re-emits its current sample per batch (Update
    // mode); the read-back keeps each type's LAST emission (max batch).
    // State story at 100 TB: k (hash, id) pairs per stratum — constant
    // per key, no watermark needed, and the same state merges across a
    // restart because it IS the mergeable sketch.
    QuerySpec(
      "st10_bottomk_sample_stream",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.GroupStateTimeout
        val inbox = stagedInbox(s, dir)
        val runDir =
          freshRunDir("st10").getAbsolutePath
        val outDir = s"$runDir/out"
        Seq.empty[(String, Long, Long, Long)]
          .toDF("event_type", "pos", "event_id", "batch")
          .write.mode("overwrite").parquet(outDir)
        val schema = s.read.parquet(inbox).schema
        val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions",
          streamParts(s, inbox, 4).toString)
        try {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4).parquet(inbox)
          val updates = stream.select($"event_type", $"event_id")
            .as[(String, Long)]
            .groupByKey(_._1)
            .flatMapGroupsWithState(
              OutputMode.Update(), GroupStateTimeout.NoTimeout)(bottomKUpdate _)
          val q = updates.toDF("event_type", "pos", "event_id").writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              b.withColumn("batch", lit(id)).write.mode("append").parquet(outDir)
            }
            .outputMode(OutputMode.Update)
            .option("checkpointLocation", s"$runDir/chk")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          lastRunProgress = q.recentProgress
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        val raw = s.read.parquet(outDir)
        val last = raw.groupBy($"event_type").agg(max($"batch").as("batch"))
        raw.join(last, Seq("event_type", "batch"))
          .select($"event_type", $"pos", $"event_id")
          .orderBy($"event_type", $"pos")
      },
      Some("""
        SELECT event_type, CAST(pos AS BIGINT) AS pos, event_id
        FROM (SELECT event_type, event_id,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY md5('graft:7:' || CAST(event_id AS VARCHAR)),
                                event_id) AS pos
              FROM events)
        WHERE pos <= 10
        ORDER BY event_type, pos""")),

    // ---------------------------------------------------------------- st11
    // Streaming CDC latest-wins — q58's streaming twin and the THIRD
    // state-replayability class on the scoreboard: beside st6's monotone
    // counters and st10's mergeable KMV sets, per-key latest-wins is a
    // COMMUTATIVE max-by-version merge (argmax over (ts, event_id) is
    // associative, commutative, idempotent), so the final state is
    // independent of micro-batch slicing and arrival order, and the
    // batch argmax over the whole table is an exact oracle. The events
    // stream is read as a changelog keyed by user_id (version =
    // (event-time, event_id) — microsecond-exact per the st8 lesson;
    // Timestamp.getTime alone would ms-truncate); ValueState holds one
    // (version, value) per key — the materialized-view state a real CDC
    // consumer keeps, constant per key, no watermark needed.
    QuerySpec(
      "st11_cdc_latest_stream",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.GroupStateTimeout
        val inbox = stagedInbox(s, dir)
        val runDir =
          freshRunDir("st11").getAbsolutePath
        val outDir = s"$runDir/out"
        Seq.empty[(Long, Long, Double, Long)]
          .toDF("user_id", "micros", "value", "batch")
          .write.mode("overwrite").parquet(outDir)
        val schema = s.read.parquet(inbox).schema
        val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions",
          streamParts(s, inbox, 4).toString)
        try {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4).parquet(inbox)
          val updates = stream
            .select($"user_id", unix_micros($"ts").as("micros"),
              $"event_id", $"value")
            .as[(Long, Long, Long, Double)]
            .groupByKey(_._1)
            .flatMapGroupsWithState(
              OutputMode.Update(), GroupStateTimeout.NoTimeout)(latestWins _)
          val q = updates.toDF("user_id", "micros", "value").writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              b.withColumn("batch", lit(id)).write.mode("append").parquet(outDir)
            }
            .outputMode(OutputMode.Update)
            .option("checkpointLocation", s"$runDir/chk")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          lastRunProgress = q.recentProgress
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        val raw = s.read.parquet(outDir)
        val last = raw.groupBy($"user_id").agg(max($"batch").as("batch"))
        raw.join(last, Seq("user_id", "batch"))
          .select($"user_id", timestamp_micros($"micros").as("last_ts"),
            $"value".as("last_value"))
          .orderBy($"user_id")
      },
      Some("""
        WITH r AS (
          SELECT user_id, ts, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, ts AS last_ts, value AS last_value
        FROM r WHERE rn = 1 ORDER BY user_id""")),

    // ---------------------------------------------------------------- st12
    // Streaming distinct-count via mergeable sketch state — the FOURTH
    // state-replayability class beside st6's monotone counters, st10's
    // KMV sets and st11's latest-wins registers: a theta-sketch UNION is
    // commutative, associative and idempotent, so the final per-key
    // sketch is independent of micro-batch slicing and arrival order —
    // and below the 2^lgK exact-mode capacity its estimate IS the exact
    // distinct count (x4's capacity argument, here as STREAMING STATE),
    // which is what makes a COUNT(DISTINCT) oracle possible for a
    // stateful stream. This is x1's nightly pre-aggregation turned
    // continuous: per event type, ValueState holds one compact sketch
    // (KBs, CONSTANT-size even past capacity — where an exact
    // distinct-set state grows with the keyspace, the sketch degrades
    // gracefully to the ~1/sqrt(2^lgK) envelope instead of OOMing),
    // each batch unions its user_ids in, and every touched key re-emits
    // its current estimate (Update mode; read-back keeps the last
    // emission). No watermark: distinct-over-all-time has no horizon.
    QuerySpec(
      "st12_distinct_sketch_stream",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.GroupStateTimeout
        val inbox = stagedInbox(s, dir)
        val runDir =
          freshRunDir("st12").getAbsolutePath
        val outDir = s"$runDir/out"
        Seq.empty[(String, Long, Long)]
          .toDF("event_type", "approx_users", "batch")
          .write.mode("overwrite").parquet(outDir)
        val schema = s.read.parquet(inbox).schema
        val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions",
          streamParts(s, inbox, 4).toString)
        try {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4).parquet(inbox)
          val updates = stream.select($"event_type", $"user_id")
            .as[(String, Long)]
            .groupByKey(_._1)
            .flatMapGroupsWithState(
              OutputMode.Update(), GroupStateTimeout.NoTimeout)(sketchDistinct _)
          val q = updates.toDF("event_type", "approx_users").writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              b.withColumn("batch", lit(id)).write.mode("append").parquet(outDir)
            }
            .outputMode(OutputMode.Update)
            .option("checkpointLocation", s"$runDir/chk")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          lastRunProgress = q.recentProgress
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        val raw = s.read.parquet(outDir)
        val last = raw.groupBy($"event_type").agg(max($"batch").as("batch"))
        raw.join(last, Seq("event_type", "batch"))
          .select($"event_type", $"approx_users")
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS approx_users
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---------------------------------------------------------------- st13
    // Streaming replication fingerprint — q64's continuous twin: per
    // event type, a running (row count, Σ row-fingerprint) maintained
    // as ValueState while the inbox drains. The row fingerprint is
    // q64's exact canonical-string 28-bit md5 prefix (computed
    // COLUMN-side before the stateful operator — codegen'd md5/conv,
    // the state function only adds longs), and both components are
    // COMMUTATIVE MONOTONE SUMS — st6's replayability class — so the
    // final state is independent of micro-batch slicing and the batch
    // q64-style aggregate is an exact oracle. This is how a replica
    // verifies a CONTINUOUSLY-replicated feed without ever pausing it:
    // compare one (count, checksum) row per key against the source's,
    // any divergence localizes to a key, no sort, no scan freeze.
    // Constant state per key (two longs), no watermark.
    QuerySpec(
      "st13_fingerprint_stream",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.streaming.GroupStateTimeout
        val inbox = stagedInbox(s, dir)
        val runDir =
          freshRunDir("st13").getAbsolutePath
        val outDir = s"$runDir/out"
        Seq.empty[(String, Long, Long, Long)]
          .toDF("event_type", "n_rows", "checksum", "batch")
          .write.mode("overwrite").parquet(outDir)
        val schema = s.read.parquet(inbox).schema
        val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions",
          streamParts(s, inbox, 4).toString)
        try {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4).parquet(inbox)
          // q64's total canonicalization: every field sentinel-coalesced
          // (concat_ws skips nulls, the oracle's || propagates them).
          def canon(c: org.apache.spark.sql.Column) =
            coalesce(c.cast("string"), lit("<null>"))
          val updates = stream
            .select($"event_type",
              conv(substring(md5(concat_ws("|",
                canon($"event_id"), canon($"user_id"), canon($"event_type"),
                canon(unix_micros($"ts")),
                canon($"value".cast("decimal(18,4)")))), 1, 7), 16, 10)
                .cast("long").as("fp"))
            .as[(String, Long)]
            .groupByKey(_._1)
            .flatMapGroupsWithState(
              OutputMode.Update(), GroupStateTimeout.NoTimeout)(fingerprintUpdate _)
          val q = updates.toDF("event_type", "n_rows", "checksum").writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              b.withColumn("batch", lit(id)).write.mode("append").parquet(outDir)
            }
            .outputMode(OutputMode.Update)
            .option("checkpointLocation", s"$runDir/chk")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          lastRunProgress = q.recentProgress
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        val raw = s.read.parquet(outDir)
        val last = raw.groupBy($"event_type").agg(max($"batch").as("batch"))
        raw.join(last, Seq("event_type", "batch"))
          .select($"event_type", $"n_rows", $"checksum")
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(('0x' || substr(md5(
                 COALESCE(CAST(event_id AS VARCHAR), '<null>') || '|' ||
                 COALESCE(CAST(user_id AS VARCHAR), '<null>') || '|' ||
                 COALESCE(event_type, '<null>') || '|' ||
                 COALESCE(CAST(epoch_us(ts) AS VARCHAR), '<null>') || '|' ||
                 COALESCE(CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR),
                          '<null>')), 1, 7))
                 AS BIGINT)) AS BIGINT) AS checksum
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---------------------------------------------------------------- st14
    // FULL OUTER stream-stream interval join under the oracle — the last
    // join mode (st4 covers left-outer, followupPairsStream inner), and
    // the one where BOTH sides' negatives are eviction-driven. The
    // oracle replays all three row classes: the match set is the plain
    // interval join (st4's argument — time-ordered inbox, 2 h watermark
    // vs 10 min window, so no state evicts before its candidates
    // arrive); trigger-only rows are a's with no follow-up whose horizon
    // (a_ts + 10 min) is STRICTLY below the final watermark (st4's
    // pinned strictness); follow-up-only rows are b's with no same-user
    // trigger in the PRECEDING 10 minutes whose OWN timestamp is
    // strictly below the watermark — b's candidate triggers all have
    // a_ts < b_ts, so b's match set is provably complete once the
    // watermark clears b_ts, the earlier of the two horizons (this is
    // why the b side evicts sooner and the join's state stays
    // one-horizon-bounded on both sides). Events inside the final
    // watermark lag emit nothing — their verdict is pending, exactly as
    // an unbounded deployment would leave it.
    QuerySpec(
      "st14_followup_full_outer_stream",
      (s, dir) => followupFullCatchUp(s, dir),
      Some(FollowupFullOracle)),

    // ---------------------------------------------------------------- st15
    // st14's full-outer interval join under the ROCKSDB state store
    // provider — the standard lever when watermark-horizon state
    // outgrows the executor heap (the st14 sf10 telemetry point: 3.7 GiB
    // of HDFS-backed heap state on an 8 GiB heap; RocksDB pages state to
    // native memory + local SST files instead, bounding the heap at the
    // block-cache size). The provider is a FIRST-START checkpoint
    // property, so the conf is scoped around the run-to-termination and
    // every run uses a fresh checkpoint — the choice never leaks into
    // another query's run. Results are provider-invariant by contract:
    // this row reuses st14's oracle verbatim, and StreamQueriesSpec pins
    // that the run's state operators actually reported RocksDB custom
    // metrics (a silent fallback to the default provider would pass the
    // oracle while testing nothing).
    QuerySpec(
      "st15_followup_rocksdb_state",
      (s, dir) => {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try followupFullCatchUp(s, dir)
        finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None    => s.conf.unset(key)
        }
      },
      Some(FollowupFullOracle)),

    // ---------------------------------------------------------------- st16
    // ANN SERVING as a stream — the production shape of s12's standing
    // IVF index: query vectors ARRIVE (staged 4-file inbox of the
    // vec_id % 5 == 2 slice), and each micro-batch probes the standing
    // index via the SAME serving core the batch rows use
    // (Similarity.ivfProbeIndex): broadcast batch × 10-row centroid
    // table, postings scan statically pruned to the batch's probed
    // cells — per-trigger cost follows the ARRIVAL RATE, the corpus is
    // never re-clustered or fully scanned. foreachBatch is the right
    // primitive (not a stream-static join): the IVF router is a
    // driver-side probed-cell list dispatching a pruned batch read,
    // which is per-micro-batch batch-DataFrame work by construction —
    // exactly what foreachBatch exists for, and how every vector store
    // services a query stream (accumulate → dispatch → append).
    // Determinism/oracle: top-k per query is independent of micro-batch
    // slicing (per-query work shares nothing across queries), so the
    // finalized sink equals the one-shot batch probe row-for-row
    // (AnnServeStreamSpec pins stream ≡ batch; the DuckDB oracle
    // replays the full inline derivation for the st16 query slice).
    QuerySpec(
      "st16_ann_serve_stream",
      (s, dir) => annServeCatchUp(s, dir),
      Some(AnnServeOracle)),

    // ---------------------------------------------------------------- st17
    // CLUSTER MAINTENANCE as a stream — d28's ingest loop at trigger
    // cadence, completing the standing-artifact matrix (d25 probe /
    // d28 one-shot maintain / s13 append / st16 serve): vector batches
    // ARRIVE (staged 4-file inbox of the d28 batch slice) and each
    // micro-batch runs Dedup.maintainStep — the SAME step function the
    // one-shot row executes — against the driver-held evolving state:
    // the label table and the ACCUMULATED signature set (corpus + every
    // previously admitted batch; each batch's signatures join the set
    // after its step, the s13 append move, so near-dups ACROSS
    // micro-batches are found exactly like batch-vs-corpus ones).
    // foreachBatch is the primitive (not mapGroupsWithState): the state
    // is two corpus-keyed FRAMES maintained by joins + a batch-sized
    // CC, not per-key values — the vector-store ingest-loop shape.
    // Equivalence is associativity, pinned two ways: min-label
    // union-find is independent of edge arrival order, so the finalized
    // labels equal d28's one-shot result AND the DuckDB full-recompute
    // oracle (shared verbatim with d28); ClusterMaintainStreamSpec
    // additionally pins trigger-slicing invariance (1 vs 4 files per
    // trigger) and that cross-micro-batch merges actually occurred.
    QuerySpec(
      "st17_cluster_maintain_stream",
      (s, dir) => clusterMaintainCatchUp(s, dir),
      Some(graft.operators.Dedup.d28Oracle)),

    // ---------------------------------------------------------------- st18
    // LAKEHOUSE INGEST as a stream — the write side of the e9–e15
    // plane at trigger cadence: batches of rows ARRIVE (staged 4-file
    // inbox of the 20% split), and each micro-batch z-clusters its rows
    // on the SHARED grid, appends the files to the table, and COMMITS
    // manifest rows for exactly the new files (footer boxes of the
    // batch — the e12 commit, per trigger). The table's source of
    // truth is the manifest log assembled across commits: the roster
    // row plans the e9 box from it and is oracle-checked against the
    // full base table, so a commit that loses, duplicates, or
    // mis-boxes a batch's files fails the hash. The standing layout is
    // read-only throughout (spec-pinned byte-identity); per-trigger
    // cost is batch-sized — cluster the batch, read the batch's
    // footers, append manifest rows. ManifestIngestStreamSpec pins ≥2
    // commits, manifest ≡ from-scratch rebuild, and parity with e10's
    // directory-listed scan.
    QuerySpec(
      "st18_manifest_ingest_stream",
      (s, dir) => manifestIngestCatchUp(s, dir),
      Some(graft.operators.Mixing.ZBoxAggOracle)),

    // ---------------------------------------------------------------- st19
    // INCREMENTAL CONSUMPTION of the manifest log — st18's read-side
    // twin (the Delta/Iceberg readStream contract): a downstream
    // consumer streams the table's COMMITS (each manifest file is one
    // micro-batch), reads exactly the files that commit added, and
    // folds batch-sized PARTIAL aggregates that merge exactly (decimal
    // partials, algebraic count/sum — no commit read twice, none
    // skipped). The oracle is the same box over the full base table,
    // so double-consuming or dropping a commit fails the hash — the
    // exactly-once property is value-checked, not asserted.
    // ManifestConsumeStreamSpec pins one micro-batch per commit file
    // and parity with the batch manifest-planned scan.
    QuerySpec(
      "st19_manifest_consume_stream",
      (s, dir) => manifestConsumeCatchUp(s, dir),
      Some(graft.operators.Mixing.ZBoxAggOracle)),

    // ---------------------------------------------------------------- st20
    // CHECKPOINT-BOOTSTRAPPED consumption of the OCC LOG with
    // remove-action reconciliation — the streaming composition of e19
    // (bootstrap = one snapshot read, never the log's history) and e20
    // (rewrite commits retract files): the consumer seeds per-FILE
    // partial aggregates from the checkpoint, then streams only the
    // post-checkpoint commits one per trigger, appending partials for
    // each commit's adds and TOMBSTONES for its removes. The staged
    // log's raced compactions (v5/v6) remove files whose partials came
    // from the CHECKPOINT, so the retraction genuinely crosses the
    // snapshot boundary — the failure mode a naive consumer hits when a
    // rewrite lands after its bootstrap (victim counted AND its packed
    // replacement = double count; the oracle is the base table, so
    // that's a hash failure, not an assertion). Per-trigger cost is
    // commit-sized; the downstream "materialized view" heals under
    // OPTIMIZE without reprocessing the table.
    QuerySpec(
      "st20_occ_log_consume_stream",
      (s, dir) => occLogConsume(s, dir),
      Some(graft.operators.Mixing.ZBoxAggOracle)),

    // ---------------------------------------------------------------- st21
    // STREAMING INGEST THROUGH THE OCC PROTOCOL — st18's write side
    // promoted from the single-writer manifest log to the multi-writer
    // commit log, WITH a foreign writer landing mid-stream: each
    // micro-batch z-clusters its rows, appends the files, and commits
    // through the claim-and-retry loop ([[graft.operators.Mixing
    // .occCommit]]); between the second data batch's snapshot read and
    // its claim, a competing writer takes the slot (injected
    // deterministically through the onAttempt hook — a genuine
    // FileAlreadyExists collision, not a mock), so the stream
    // conflict-checks the foreign commit, verifies disjointness, and
    // retries at the new head. The foreign file's rows live OUTSIDE
    // the e9 box, so the oracle stays the base table: a batch lost to
    // the race, double-committed on the retry, or mis-ordered in the
    // log is a hash failure. This is the shape a 100 TB CDC apply has
    // to survive — ingest streams don't get the table to themselves.
    QuerySpec(
      "st21_occ_ingest_stream",
      (s, dir) => occIngestCatchUp(s, dir),
      Some(graft.operators.Mixing.ZBoxAggOracle)),

    // ---------------------------------------------------------------- st22
    // EXACTLY-ONCE UNDER RESTART — the delivery contract st18/st21
    // leave open: Spark's foreachBatch documentation guarantees only
    // that a crashed stream RE-EXECUTES its last micro-batch with the
    // SAME batchId on restart, so a sink that blindly commits would
    // double-ingest that batch. The writer here stamps every commit
    // with Delta's txn action (appId, batchId) and checks the log's
    // per-app high-water mark BEFORE writing anything
    // ([[graft.operators.Lakehouse.occLastTxn]]): a replayed batch is a
    // no-op, a fresh one proceeds. The run ingests the delta inbox,
    // then REPLAYS its last delivery verbatim (same rows, same
    // batchId — the documented crash shape, driven deterministically
    // rather than by killing the JVM); guards pin that the replay
    // committed nothing and left the log version-identical, and the
    // base-table oracle pins that the net state lost/duplicated no
    // rows. The idempotence gate costs one manifest-log read per
    // batch — commit-sized, table-size-invariant.
    QuerySpec(
      "st22_idempotent_ingest_stream",
      (s, dir) => occIngestIdempotent(s, dir),
      Some(graft.operators.Mixing.ZBoxAggOracle)),

    // ---------------------------------------------------------------- st23
    // ROW-LEVEL RETRACTION in the streaming consumer — st20 retracts
    // whole files (a rewrite's remove actions); a DELETE WHERE commits
    // dv actions that mask a few rows per file, and a downstream
    // materialized aggregate must subtract EXACTLY those rows without
    // reprocessing the table. Per trigger (one commit file each): adds
    // fold in box-pruned per-file partials (st20's shape); dv actions
    // read ONLY the sidecar's masked rows (broadcast semi-join on the
    // dv'd files) and append NEGATED decimal partials — the algebraic
    // retraction, cost ∝ masked rows. The final merge sums positives
    // and negatives; the base-table oracle (box agg minus the deleted
    // slice) makes an over- or under-retraction a hash failure. At
    // 100 TB this is the CDC-materialized-view contract: maintenance
    // and row deletes flow through the same incremental fold.
    QuerySpec(
      "st23_occ_dv_consume_stream",
      (s, dir) => occDvConsume(s, dir),
      Some(graft.operators.Mixing.ZBoxCte + """
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM lineitem, box
        WHERE l_partkey BETWEEN plo AND phi
          AND l_suppkey BETWEEN slo AND shi
          AND l_orderkey % 97 <> 0
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- st24
    // EQUALITY-DELETE CONSUMPTION in the streaming consumer (VERDICT
    // r14 #3, closing the streaming half of the eqdel composition):
    // st23 retracts positionally-masked rows; a CDC-shaped DELETE
    // arrives as an EQUALITY-delete commit — key values, no file
    // named — and the downstream materialized aggregate must subtract
    // exactly the key-matching rows of BELOW-sequence files while rows
    // re-inserted ABOVE the delete survive. Per trigger: adds fold in
    // per-file partials; an eqdel commit appends NEGATED partials from
    // a broadcast key semi-join against below-sequence adds only
    // ([[occEqConsume]] — sequencing is order-independent, each
    // (add, delete) pair handled when the later commit arrives). The
    // staged log's delta ingest commits above the delete and CARRIES
    // key-matching rows, so the oracle (e27's sequence predicate over
    // the base table) value-pins delete-then-reinsert: an
    // over-retraction (the r14 consumers' inverse failure — they
    // ignored eqdel commits entirely) or a killed re-insert is a hash
    // failure. EqConsumeStreamSpec pins the physical story: negative
    // partials exist, they name only below-sequence files, and the
    // retraction read masked rows, never a rescan of folded files.
    QuerySpec(
      "st24_occ_eq_consume_stream",
      (s, dir) => occEqConsume(s, dir),
      Some(graft.operators.Mixing.EqDeleteOracle)),

    // ---------------------------------------------------------------- st25
    // st24 BOOTSTRAPPED FROM THE e28 CHECKPOINT — the two round-15
    // pieces composed: e28 made the snapshot carry pending equality
    // deletes WITH their versions; st25 is the consumer that earns
    // that format — per-file partials, sequencing state, AND the
    // pending delete's retraction all seed from ONE snapshot read
    // (the staged log streams exactly one tail commit where st24
    // replays three — trigger-count spec-pinned), then the tail's
    // re-insert folds in ABOVE the snapshot's delete and survives.
    // A consumer bootstrapping from the r14 flattened snapshot would
    // have resurrected the deleted keys and failed this row's hash;
    // sharing st24's oracle pins bootstrap ≡ full replay by value at
    // the streaming grain, completing the e19→st20 pattern for the
    // equality-delete plane. EqConsumeStreamSpec pins one-tail-trigger
    // and bootstrap-vs-replay result identity.
    QuerySpec(
      "st25_occ_eq_bootstrap_stream",
      (s, dir) => occEqBootstrapConsume(s, dir),
      Some(graft.operators.Mixing.EqDeleteOracle)),

    // ---------------------------------------------------------------- st26
    // MIXED-FLAVOR STREAMING CONSUMPTION — e32's unified scan at
    // trigger cadence, with the property a batch scan gets for free
    // but a fold must EARN: exactly-once retraction PER ROW. The
    // staged log stacks a positional delete (v1) under an equality
    // delete (v2) under the ingest (v3); rows hit by BOTH masks (the
    // %97 ∩ %13≡5 overlap) must be negated once, whichever commit
    // arrives first — so the dv fold anti-joins already-seen
    // applicable eqdel keys and the eqdel fold anti-joins already-seen
    // sidecar positions on its below-sequence files
    // ([[occMixConsume]]). The e32 intersection oracle makes the naive
    // sum-of-masks fold (double retraction of the overlap) a hash
    // failure, not a lucky pass; MixConsumeStreamSpec pins one trigger
    // per commit, parity with the one-shot unified scan, and that the
    // total retraction equals the overlap-netted union by count.
    QuerySpec(
      "st26_occ_mixed_consume_stream",
      (s, dir) => occMixConsume(s, dir),
      Some("""
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM lineitem
        WHERE l_orderkey % 5 = 0
           OR (l_orderkey % 97 <> 0 AND l_suppkey % 13 <> 5)
        GROUP BY l_returnflag ORDER BY l_returnflag""")))

  /** Stage the st16 query-vector inbox: the vec_id % 5 == 2 slice of
    * the embeddings table as a 4-file query_id-ranged parquet inbox
    * (write-once per sf dir, [[stagedInbox]]'s marker convention). No
    * mtime pinning: st16's per-query output is independent of which
    * micro-batch a query lands in ([[stagedDocInbox]]'s rationale). */
  def stagedQueryInbox(s: SparkSession, dir: String): String = {
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(root, "ann_inbox_" + base)
    if (verifiedInboxes.contains(path.getAbsolutePath))
      return path.getAbsolutePath
    import s.implicits._
    val stamp = s"v1:${graft.operators.Multimodal.sourceFingerprint(
      new java.io.File(dir, "embeddings.parquet"))}"
    val marker = new java.io.File(path.getAbsolutePath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      Tables(s, dir, "embeddings").filter($"vec_id" % 5 === 2)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
        .repartitionByRange(4, col("query_id"))
        .sortWithinPartitions("query_id")
        .write.mode("overwrite").parquet(path.getAbsolutePath)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedInboxes.add(path.getAbsolutePath)
    path.getAbsolutePath
  }

  /** st16's run-to-termination: stream the staged query inbox, probe
    * the standing IVF index per micro-batch, read back the finalized
    * sink. The index is s12's artifact — staged once per fixture by
    * [[graft.operators.Similarity.ivfIndex]], UNTOUCHED by the stream
    * (serving never writes the index; s13 owns appends). Stateless
    * (no watermark/state store): the probe is per-query work, so
    * append-mode parquet writes inside foreachBatch are exactly-once
    * enough here — a replayed batch would re-derive identical rows,
    * and AvailableNow's ledger prevents replay within a run. */
  def annServeCatchUp(s: SparkSession, dir: String): DataFrame = {
    val indexRoot = graft.operators.Similarity.ivfIndex(s, dir)
    val inbox = stagedQueryInbox(s, dir)
    val runDir = freshRunDir("st16").getAbsolutePath
    val outDir = s"$runDir/out"
    val schema = s.read.parquet(inbox).schema
    // stream-sized shuffle parallelism, runCatchUp's rationale — here
    // it sizes the per-batch top-k window, not a state store
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
          streamParts(s, inbox, 4).toString)
    try {
      val stream = s.readStream
        .schema(schema)
        // 4 ranged files / 2 per trigger = 2 data batches: enough to
        // demonstrate cross-batch index serving at half the per-batch
        // sink-commit overhead (runCatchUp's batching rationale)
        .option("maxFilesPerTrigger",
          sys.props.get("graft.stream.filesPerTrigger")
            .map(_.toInt).getOrElse(2))
        .parquet(inbox)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Similarity
            .ivfProbeIndex(batch, indexRoot, nProbe = 2, k = 5)
            .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", s"$runDir/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastRunProgress = q.recentProgress
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.read.parquet(outDir).orderBy(col("query_id"), col("rank"))
  }

  /** Stage the st17 ingest inbox: the d28 batch slice (vec_id % 5 == 0)
    * as a 4-file vec_id-ranged parquet inbox ([[stagedQueryInbox]]'s
    * convention). No mtime pinning: st17's finalized labels are
    * invariant to micro-batch slicing (min-label union-find is
    * arrival-order independent — the property the spec pins). */
  def stagedBatchVectorInbox(s: SparkSession, dir: String): String = {
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(root, "cm_inbox_" + base)
    if (verifiedInboxes.contains(path.getAbsolutePath))
      return path.getAbsolutePath
    import s.implicits._
    val stamp = s"v1:${graft.operators.Multimodal.sourceFingerprint(
      new java.io.File(dir, "embeddings.parquet"))}"
    val marker = new java.io.File(path.getAbsolutePath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      Tables(s, dir, "embeddings").filter($"vec_id" % 5 === 0)
        .select($"vec_id", $"embedding")
        .repartitionByRange(4, col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(path.getAbsolutePath)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedInboxes.add(path.getAbsolutePath)
    path.getAbsolutePath
  }

  /** st17's run-to-termination: stream the staged vector inbox and run
    * one [[graft.operators.Dedup.maintainStep]] per micro-batch against
    * the driver-held evolving (labels, signatures) state, seeded from
    * the STANDING artifacts (d25's signature index + d28's label
    * table — read once, never written by the stream: production would
    * publish the final frames back as the next standing snapshot, a
    * write this run skips so the roster row stays a pure function of
    * the fixture). Both state frames are checkpoint-rebased per step
    * (constant-size plans, default leaf stats — the r13 CC lesson,
    * which a per-trigger loop would otherwise re-trip in one run).
    * Returns the finalized label table. */
  def clusterMaintainCatchUp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val D = graft.operators.Dedup
    val indexRoot = D.semanticIndex(s, dir)
    val labelsPath = D.corpusLabels(s, dir, indexRoot)
    val anchors = s.read.parquet(
      new java.io.File(indexRoot, "anchors").getAbsolutePath)
      .localCheckpoint(true)
    @volatile var labels = s.read.parquet(labelsPath).localCheckpoint(true)
    @volatile var sigs = s.read.parquet(
      new java.io.File(indexRoot, "signatures").getAbsolutePath)
      .select($"band".cast("long").as("band"), $"sg", $"corpus_id".as("id"))
      .localCheckpoint(true)
    val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
    val inbox = stagedBatchVectorInbox(s, dir)
    val schema = s.read.parquet(inbox).schema
    val runDir = freshRunDir("st17").getAbsolutePath
    // stream-sized shuffle parallelism (runCatchUp's rationale): the
    // per-trigger frames are batch/edge-sized, far below the session's
    // corpus-sized default
    val filesPerTrigger = sys.props.get("graft.stream.filesPerTrigger")
      .map(_.toInt).getOrElse(2)
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      streamParts(s, inbox, filesPerTrigger).toString)
    try {
      val stream = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(inbox)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val (nl, ns) = D.maintainStep(s, emb, anchors,
            D.d28Shape._2, D.d28Threshold, labels, sigs, batch)
          labels = nl
          sigs = ns
          ()
        }
        .option("checkpointLocation", s"$runDir/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastRunProgress = q.recentProgress
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    labels.orderBy($"doc_id")
  }

  /** st16's oracle: the s2/s12 inline IVF derivation (decimal-mean
    * centroids → nProbe=2 probe → cosine rerank → top-5) replayed for
    * the st16 query slice — the stream serves from a standing index,
    * DuckDB re-derives everything from the base table; they must land
    * on identical rows. */
  private def AnnServeOracle: String = """
        WITH e AS (
          SELECT label, vec_id, embedding,
                 UNNEST(embedding) AS v,
                 UNNEST(range(len(embedding))) AS dim
          FROM embeddings),
        cent AS (
          SELECT label AS cell, dim,
                 CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
          FROM e GROUP BY label, dim),
        centl AS (
          SELECT cell, list(c ORDER BY dim) AS centroid FROM cent GROUP BY cell),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id % 5 = 2),
        probe AS (
          SELECT query_id, qv, cell,
                 list_sum(list_transform(generate_series(1, len(qv)),
                   i -> (CAST(qv[i] AS DOUBLE) - centroid[i]) *
                        (CAST(qv[i] AS DOUBLE) - centroid[i]))) AS cdist
          FROM q CROSS JOIN centl),
        pr AS (
          SELECT query_id, qv, cell,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cdist ASC, cell) AS probe_rank
          FROM probe),
        probed AS (SELECT query_id, qv, cell FROM pr WHERE probe_rank <= 2),
        cand AS (SELECT vec_id AS cand_id, embedding AS cv, label AS cell
                 FROM embeddings),
        p AS (
          SELECT query_id, cand_id,
                 ROUND(
                   list_sum(list_transform(generate_series(1, len(qv)),
                     i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(qv)),
                        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(generate_series(1, len(cv)),
                          i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))), 6) AS cosine
          FROM probed JOIN cand USING (cell)
          WHERE query_id != cand_id),
        r AS (SELECT query_id, cand_id, cosine,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, cand_id) AS rank
              FROM p)
        SELECT query_id, rank, cand_id, cosine FROM r WHERE rank <= 5
        ORDER BY query_id, rank"""

  /** The finalization oracle shared by st14 and st15 (the state-store
    * provider must not change results): matched pairs, watermark-
    * finalized trigger-only rows, and follow-up-only rows with no
    * earlier trigger inside the interval. */
  private def FollowupFullOracle: String = """
        WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events),
        m AS (
          SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id
          FROM events a JOIN events b ON a.user_id = b.user_id
            AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE),
        nega AS (
          SELECT a.event_id AS a_id, CAST(NULL AS BIGINT) AS b_id,
                 a.user_id
          FROM events a, wm
          WHERE a.ts + INTERVAL 10 MINUTE < wm.w
            AND NOT EXISTS (SELECT 1 FROM m WHERE m.a_id = a.event_id)),
        negb AS (
          SELECT CAST(NULL AS BIGINT) AS a_id, b.event_id AS b_id,
                 b.user_id
          FROM events b, wm
          WHERE b.ts < wm.w
            AND NOT EXISTS (SELECT 1 FROM events a
                            WHERE a.user_id = b.user_id AND a.ts < b.ts
                              AND a.ts >= b.ts - INTERVAL 10 MINUTE))
        SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
               user_id FROM m
        UNION ALL SELECT a_id, b_id, user_id FROM nega
        UNION ALL SELECT a_id, b_id, user_id FROM negb
        ORDER BY a_id NULLS FIRST, b_id NULLS FIRST"""

  /** st11's state transition: per-key latest-wins under the
    * (micros, event_id) version order — a commutative, associative,
    * idempotent merge, which is the whole replayability argument. */
  private[streaming] def latestWins(
      key: Long, rows: Iterator[(Long, Long, Long, Double)],
      state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Double)])
      : Iterator[(Long, Long, Double)] = {
    val best = (state.getOption.iterator ++
      rows.map { case (_, m, id, v) => (m, id, v) })
      .maxBy { case (m, id, _) => (m, id) }
    state.update(best)
    Iterator.single((key, best._1, best._3))
  }

  /** st12's state transition: union the batch's user_ids into the key's
    * theta sketch (lgK=16 ⇒ exact below 65,536 distinct ids per key —
    * sized ABOVE the sf1 fixture's ~15k users/type so the exact
    * COUNT(DISTINCT) oracle holds one scale step past the driver SF,
    * while 5 keys × 64Ki hashes is still sub-MB state) and re-emit the
    * estimate — in exact mode an integral double, so toLong is exact.
    * Union is commutative/associative/idempotent, which is the whole
    * replayability argument. */
  private[streaming] def sketchDistinct(
      key: String, rows: Iterator[(String, Long)],
      state: org.apache.spark.sql.streaming.GroupState[Array[Byte]])
      : Iterator[(String, Long)] = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{Sketches => TS}
    val union = TS.setOperationBuilder().setLogNominalEntries(16).buildUnion()
    state.getOption.foreach(b =>
      union.union(TS.heapifyCompactSketch(Memory.wrap(b))))
    rows.foreach { case (_, id) => union.update(id) }
    val compact = union.getResult()
    state.update(compact.toByteArray)
    Iterator.single((key, compact.getEstimate.toLong))
  }

  /** st13's state transition: fold the batch's row fingerprints into
    * the key's running (count, checksum) — two commutative monotone
    * sums, st6's replayability class, so the batch aggregate is an
    * exact oracle. */
  private[streaming] def fingerprintUpdate(
      key: String, rows: Iterator[(String, Long)],
      state: org.apache.spark.sql.streaming.GroupState[(Long, Long)])
      : Iterator[(String, Long, Long)] = {
    var (n, sum) = state.getOption.getOrElse((0L, 0L))
    rows.foreach { case (_, fp) => n += 1L; sum += fp }
    state.update((n, sum))
    Iterator.single((key, n, sum))
  }

  /** st10's state transition: merge the batch's (hash, id) pairs into
    * the stratum's bottom-k and re-emit the current sample. Associative
    * and commutative by construction (sorted-merge + truncate), which is
    * the whole replayability argument. */
  private[streaming] def bottomKUpdate(
      key: String, rows: Iterator[(String, Long)],
      state: org.apache.spark.sql.streaming.GroupState[Seq[(String, Long)]])
      : Iterator[(String, Long, Long)] = {
    def h(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:7:$id".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val merged = (state.getOption.getOrElse(Seq.empty) ++
      rows.map { case (_, id) => (h(id), id) })
      .distinct.sorted.take(10)
    state.update(merged)
    merged.iterator.zipWithIndex.map { case ((_, id), i) =>
      (key, (i + 1).toLong, id)
    }
  }

  /** Stage the st18 ingest inbox: the 20% lineitem split (l_orderkey %
    * 5 == 0, the zinc delta slice) with the layout's six columns as a
    * 4-file l_orderkey-ranged parquet inbox ([[stagedQueryInbox]]'s
    * convention). No mtime pinning: st18's final manifest-planned
    * answer is invariant to micro-batch slicing (the box agg sees the
    * union of all committed files; only the file/commit layout
    * varies). */
  def stagedLineitemDeltaInbox(s: SparkSession, dir: String): String = {
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(root, "zli_inbox_" + base)
    if (verifiedInboxes.contains(path.getAbsolutePath))
      return path.getAbsolutePath
    import s.implicits._
    val stamp = s"v1:${graft.operators.Multimodal.sourceFingerprint(
      new java.io.File(dir, "lineitem.parquet"))}"
    val marker = new java.io.File(path.getAbsolutePath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      Tables(s, dir, "lineitem").filter($"l_orderkey" % 5 === 0)
        .select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_returnflag",
          $"l_quantity", $"l_extendedprice")
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(path.getAbsolutePath)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedInboxes.add(path.getAbsolutePath)
    path.getAbsolutePath
  }

  /** The last st18 run's table root (delta + manifest log), for
    * ManifestIngestStreamSpec's physical pins — [[lastRunProgress]]'s
    * convention. */
  @volatile private[graft] var lastIngestRunDir: String = _

  /** The last st20 run's dir (partials + tombstones), for
    * OccLogConsumeStreamSpec's physical pins — same convention. */
  @volatile private[graft] var lastOccConsumeRunDir: String = _

  /** Temp run dirs, deleted lazily when the SAME stream family runs
    * again: the latest run's artifacts stay inspectable by the stream
    * specs (lastIngestRunDir, partial frames not yet collected) while a
    * long session — the bench loops every roster row, a server serves
    * for days — accumulates at most one run dir per family instead of
    * one per invocation (ADVICE r13: st18 leaves a full clustered copy
    * of the 20% slice per run). */
  private val lastTempRunDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.io.File]()

  private def freshRunDir(family: String): java.io.File = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_" + family).toFile
    Option(lastTempRunDirs.put(family, dir)).foreach(prev =>
      graft.operators.Mixing.deleteRecursively(prev.toPath))
    dir
  }

  /** st19's run-to-termination: stream the staged table's manifest LOG
    * one commit file per trigger; each micro-batch reads exactly the
    * data files its commits reference (box-filtered — at lake scale the
    * consumer would also prune on the manifest boxes before opening
    * files) and appends a batch-sized PARTIAL aggregate; the finalized
    * answer merges the partials. Partials stay DECIMAL so the merge is
    * exact regardless of batch slicing; the table root is read-only
    * throughout. */
  def manifestConsumeCatchUp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = graft.operators.Mixing
    val L = graft.operators.Lakehouse
    val tableRoot = new java.io.File(stagedIngestRoot(s, dir))
    val manifestDir = new java.io.File(tableRoot, "manifest")
    val runDir = freshRunDir("st19")
    val partialDir = new java.io.File(runDir, "partials").getAbsolutePath
    val (pLo, pHi, sLo, sHi) = M.e9Box(dir)
    // one commit's partial aggregate — shared by the per-trigger body
    // and the empty-log guard below (same plan, so schemas agree)
    def partialAgg(data: DataFrame): DataFrame = data
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)"))
          .as("sum_price"))
    val schema = s.read.parquet(manifestDir.getAbsolutePath).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(manifestDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (commits: DataFrame, _: Long) =>
        // manifest-scale collect: one row per data file in this commit;
        // prune on the committed boxes before opening any data file
        val files = commits
          .filter(col("pmax") >= pLo && col("pmin") <= pHi &&
            col("smax") >= sLo && col("smin") <= sHi)
          .select("file").collect().map(_.getString(0)).toSeq.sorted
        if (files.nonEmpty) {
          partialAgg(s.read.parquet(files: _*))
            .write.mode("append").parquet(partialDir)
        }
        ()
      }
      .option("checkpointLocation",
        new java.io.File(runDir, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastRunProgress = q.recentProgress
    // every commit can be box-pruned (then no partial file was ever
    // written): answer from an empty partial of the same shape rather
    // than throwing path-not-found (ADVICE r13)
    val partials =
      if (new java.io.File(partialDir).isDirectory)
        s.read.parquet(partialDir)
      else partialAgg(s.read.parquet(
        new java.io.File(tableRoot, "delta").getAbsolutePath).limit(0))
    partials
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty")).cast("double").as("sum_qty"),
        sum(col("sum_price")).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** st20's run-to-termination: bootstrap per-file partials from the
    * OCC checkpoint (ONE manifest read replaces replaying every commit
    * ≤ cpV), then stream exactly the post-checkpoint commits — one per
    * trigger via a version-name glob over the commit log — folding each
    * commit's adds into new per-file partials and its removes into a
    * tombstone set. The final answer merges partials MINUS tombstoned
    * files: keying partials by file is what makes a rewrite's
    * retraction exact (remove victim partials, add the packed file's —
    * algebraic, no table rescans). Partials stay DECIMAL so the merge
    * is exact under any commit slicing; paths are normalized to the
    * manifest's scheme-less spelling so `_metadata.file_path`'s
    * `file:///` form joins the tombstones correctly. */
  def occLogConsume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = graft.operators.Mixing
    val L = graft.operators.Lakehouse
    val root = new java.io.File(L.occRoot(s, dir))
    val commitsDir = new java.io.File(root, "commits")
    val runDir = freshRunDir("st20")
    lastOccConsumeRunDir = runDir.getAbsolutePath
    val partialDir = new java.io.File(runDir, "partials").getAbsolutePath
    val tombDir = new java.io.File(runDir, "tombstones").getAbsolutePath
    val (pLo, pHi, sLo, sHi) = M.e9Box(dir)
    // one manifest frame's add-side partials, keyed by file (box-pruned
    // on the committed footer stats before any data file opens)
    def filePartials(manifest: DataFrame): Option[DataFrame] = {
      val files = manifest
        .filter(col("action") === "add" &&
          col("pmax") >= pLo && col("pmin") <= pHi &&
          col("smax") >= sLo && col("smin") <= sHi)
        .select("file").as[String].collect().toSeq.sorted
      if (files.isEmpty) None
      else Some(s.read.parquet(files: _*)
        .filter(col("l_partkey").between(pLo, pHi) &&
          col("l_suppkey").between(sLo, sHi))
        .groupBy(
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
            .as("file"),
          col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).as("sum_price")))
    }
    // BOOTSTRAP: the checkpoint's net state, one read
    val cpV = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, "_last_checkpoint").toPath)).trim.toInt
    val cp = new java.io.File(new java.io.File(root, "checkpoints"),
      f"cp_v$cpV%05d.parquet")
    filePartials(s.read.parquet(cp.getAbsolutePath))
      .foreach(_.write.mode("append").parquet(partialDir))
    // TAIL: stream only versions past the checkpoint, one per trigger
    val tailVs = L.occVersions(commitsDir).filter(_ > cpV)
    require(tailVs.nonEmpty, "staged log should have post-checkpoint commits")
    val glob = tailVs.map(v => f"v$v%05d.parquet").mkString("{", ",", "}")
    val schema = s.read.parquet(
      L.occCommitFile(commitsDir, tailVs.head).getAbsolutePath).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", glob)
      .parquet(commitsDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (commit: DataFrame, _: Long) =>
        filePartials(commit)
          .foreach(_.write.mode("append").parquet(partialDir))
        commit.filter(col("action") === "remove")
          .select(regexp_replace(col("file"), "^file:/+", "/").as("file"))
          .write.mode("append").parquet(tombDir)
        ()
      }
      .option("checkpointLocation",
        new java.io.File(runDir, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastRunProgress = q.recentProgress
    val partials =
      if (new java.io.File(partialDir).isDirectory) s.read.parquet(partialDir)
      else s.range(0).select(lit("").as("file"),
        lit("").as("l_returnflag"), lit(0L).as("n_rows"),
        lit(null).cast("decimal(28,4)").as("sum_qty"),
        lit(null).cast("decimal(28,4)").as("sum_price"))
    val tombs = s.read.parquet(tombDir)
    partials.join(tombs, Seq("file"), "left_anti")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty")).cast("double").as("sum_qty"),
        sum(col("sum_price")).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** The last st21 run's root (commits + delta + foreign), and the
    * claim retries its injected race forced — OccIngestStreamSpec's
    * physical pins. */
  @volatile private[graft] var lastOccIngestRunDir: String = _
  @volatile private[graft] var lastOccIngestRetries: Int = -1

  /** st21's run-to-termination: st18's ingest loop, but every commit
    * goes through the OCC claim-and-retry protocol against a commit
    * log a FOREIGN writer also lands in mid-stream. The injection is
    * deterministic: on the second data batch's FIRST claim attempt
    * (occCommit's onAttempt hook fires after the snapshot
    * read/conflict check, immediately before the link(2) claim), the
    * foreign commit synchronously takes the contested slot — the
    * stream's claim then throws FileAlreadyExists, re-reads the log,
    * conflict-checks the foreign adds (disjoint — its rows sit outside
    * every grid box), and lands at the new head. The final answer
    * plans the e9 box from the net visible state, so the race can't
    * silently lose or duplicate a batch. */
  def occIngestCatchUp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = graft.operators.Mixing
    val L = graft.operators.Lakehouse
    val standing = new java.io.File(
      new java.io.File(L.zincManifestRoot(s, dir)), "standing")
    val inbox = stagedLineitemDeltaInbox(s, dir)
    val runDir = freshRunDir("st21")
    runDir.mkdirs()
    lastOccIngestRunDir = runDir.getAbsolutePath
    val deltaDir = new java.io.File(runDir, "delta")
    // bootstrap commit: the standing layout's manifest rows (v0)
    L.occCommit(s, runDir, M.footerBoxRows(standing), snapshotVersion = -1)
    // shared grid bounds — base-table footers, zincMaintain's rule
    val keys = Set("l_partkey", "l_suppkey")
    val groups = M.footerStats(new java.io.File(dir, "lineitem.parquet"), keys)
    def global(col: String): (Long, Long) =
      groups.map(_.stats(col)).reduce { (a, b) =>
        (math.min(a._1, b._1), math.max(a._2, b._2))
      }
    val (pMin, pMax) = global("l_partkey")
    val (sMin, sMax) = global("l_suppkey")
    // the foreign writer's file: one row OUTSIDE the grid (so its
    // footer box never enters the e9 plan and the shared base-table
    // oracle stands) — a real parquet leaf, a real commit
    val foreignDir = new java.io.File(runDir, "foreign")
    Seq((0L, pMax + 1, sMax + 1, "F", 0.0, 0.0))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_quantity", "l_extendedprice")
      .coalesce(1).write.parquet(foreignDir.getAbsolutePath)
    val foreignRows = M.footerBoxRows(foreignDir)
    val raceArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    def listParquet(d: java.io.File): Set[String] =
      if (!d.isDirectory) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    var dataBatches = 0
    val schema = s.read.parquet(inbox).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger",
        sys.props.get("graft.stream.filesPerTrigger")
          .map(_.toInt).getOrElse(2))
      .parquet(inbox)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val before = listParquet(deltaDir)
        M.clusterOnSharedGrid(batch, pMin, pMax, sMin, sMax, 2)
          .write.mode("append").parquet(deltaDir.getAbsolutePath)
        val fresh = (listParquet(deltaDir) -- before).toSeq.sorted
        if (fresh.nonEmpty) {
          dataBatches += 1
          val arm = dataBatches == 2 && raceArmed.compareAndSet(false, true)
          val snapshot = L.occVersions(new java.io.File(runDir, "commits")).last
          val gate: Int => Unit = attempt =>
            if (attempt == 0 && arm) {
              // the competing writer lands on the slot this commit is
              // about to claim — same snapshot, disjoint adds
              L.occCommit(s, runDir, foreignRows, snapshotVersion = snapshot)
              ()
            }
          val r = L.occCommit(s, runDir,
            fresh.flatMap(f => M.footerBoxRows(new java.io.File(f))),
            snapshotVersion = snapshot, onAttempt = gate)
          retries.addAndGet(r.retries)
          ()
        }
        ()
      }
      .option("checkpointLocation",
        new java.io.File(runDir, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastRunProgress = q.recentProgress
    lastOccIngestRetries = retries.get()
    require(raceArmed.get(), "the injected race never armed")
    require(lastOccIngestRetries >= 1,
      "the foreign commit should have forced a claim retry")
    // the table IS the commit log: plan the e9 box from the net state
    val (pLo, pHi, sLo, sHi) = M.e9Box(dir)
    val files = L.occVisible(s.read.parquet(
        new java.io.File(runDir, "commits").getAbsolutePath))
      .filter($"pmax" >= pLo && $"pmin" <= pHi &&
        $"smax" >= sLo && $"smin" <= sHi)
      .select($"file").as[String].collect().toSeq.sorted
    require(files.nonEmpty, "commit-log planning pruned every file")
    s.read.parquet(files: _*)
      .filter($"l_partkey".between(pLo, pHi) &&
        $"l_suppkey".between(sLo, sHi))
      .transform(M.flagAgg)
  }

  /** The last st23 run's dir and its count of NEGATIVE (retraction)
    * partial rows — DvConsumeStreamSpec's physical pins. */
  @volatile private[graft] var lastDvConsumeRunDir: String = _
  @volatile private[graft] var lastDvConsumeNegatives: Long = -1L

  /** st23's run-to-termination: stream the occDvRoot commit log one
    * commit per trigger; adds fold into box-pruned per-file partials
    * (st20's shape), dv actions fold into NEGATED partials built from
    * only the sidecar's masked rows, removes into tombstones. The
    * merge is exact under any commit slicing because partials stay
    * DECIMAL (the st19/st20 discipline). */
  def occDvConsume(s: SparkSession, dir: String,
                   rootOverride: Option[java.io.File] = None): DataFrame = {
    import s.implicits._
    val M = graft.operators.Mixing
    val L = graft.operators.Lakehouse
    val root = rootOverride.getOrElse(new java.io.File(L.occDvRoot(s, dir)))
    val commitsDir = new java.io.File(root, "commits")
    val runDir = freshRunDir("st23")
    lastDvConsumeRunDir = runDir.getAbsolutePath
    val partialDir = new java.io.File(runDir, "partials").getAbsolutePath
    val tombDir = new java.io.File(runDir, "tombstones").getAbsolutePath
    val (pLo, pHi, sLo, sHi) = M.e9Box(dir)
    // sidecars already folded, per masked file — overlapping-dv netting
    val seenDvSidecars = scala.collection.mutable.Map.empty[String, List[String]]
    // callers prepare a `file` column (the scan's metadata path); the
    // group key is normalized to the manifest's scheme-less spelling
    def boxAgg(df: DataFrame, sign: Int): DataFrame =
      df.filter(col("l_partkey").between(pLo, pHi) &&
          col("l_suppkey").between(sLo, sHi))
        .groupBy(regexp_replace(col("file"), "^file:/+", "/").as("file"),
          col("l_returnflag"))
        .agg((count(lit(1)) * sign).as("n_rows"),
          (sum(col("l_quantity").cast("decimal(18,4)")) * sign)
            .as("sum_qty"),
          (sum(col("l_extendedprice").cast("decimal(18,4)")) * sign)
            .as("sum_price"))
    def applyCommit(commit: DataFrame): Unit = {
      val addFiles = commit
        .filter(col("action") === "add" &&
          col("pmax") >= pLo && col("pmin") <= pHi &&
          col("smax") >= sLo && col("smin") <= sHi)
        .select("file").as[String].collect().toSeq.sorted
      if (addFiles.nonEmpty)
        boxAgg(s.read.parquet(addFiles: _*)
            .withColumn("file", col("_metadata.file_path")), 1)
          .write.mode("append").parquet(partialDir)
      val dvd = commit.filter(col("action") === "dv")
        .select(col("file"), col("dv")).as[(String, String)].collect()
      if (dvd.nonEmpty) {
        val mask = s.read.parquet(dvd.map(_._2).distinct.toSeq: _*)
        val positioned = s.read.parquet(dvd.map(_._1).distinct.toSeq: _*)
          .withColumn("file", col("_metadata.file_path"))
          .withColumn("pos", col("_metadata.row_index"))
          .join(broadcast(mask), Seq("file", "pos"), "left_semi")
        // positions an EARLIER sidecar on the same file already
        // retracted subtract once, not per overlapping DELETE (the
        // batch scan's sidecar-union anti-join, replayed incrementally
        // — round-15 self-review)
        val earlier = dvd.map(_._1).distinct
          .flatMap(f => seenDvSidecars.getOrElse(f, Nil)).distinct.sorted
        val maskedRows =
          (if (earlier.isEmpty) positioned
           else positioned.join(
             broadcast(s.read.parquet(earlier.toSeq: _*)),
             Seq("file", "pos"), "left_anti"))
          .drop("pos")
        boxAgg(maskedRows, -1)
          .write.mode("append").parquet(partialDir)
        dvd.foreach { case (f, sc) =>
          seenDvSidecars(f) =
            (seenDvSidecars.getOrElse(f, Nil) :+ sc).distinct
        }
      }
      commit.filter(col("action") === "remove")
        .select(regexp_replace(col("file"), "^file:/+", "/").as("file"))
        .write.mode("append").parquet(tombDir)
      ()
    }
    val vs = L.occVersions(commitsDir)
    val glob = vs.map(v => f"v$v%05d.parquet").mkString("{", ",", "}")
    val schema = s.read.parquet(
      L.occCommitFile(commitsDir, vs.head).getAbsolutePath).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", glob)
      .parquet(commitsDir.getAbsolutePath)
      .writeStream
      .foreachBatch { (commit: DataFrame, _: Long) =>
        applyCommit(commit)
      }
      .option("checkpointLocation",
        new java.io.File(runDir, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastRunProgress = q.recentProgress
    // every commit can in principle be box-pruned (then no partial file
    // was ever written): answer from an empty partial of the same shape
    // rather than throwing path-not-found — the st19/st20 guard, applied
    // here for consistency (VERDICT r14 #6; unreachable on the staged
    // fixture, whose dv commit guarantees retraction partials)
    val partials =
      if (new java.io.File(partialDir).isDirectory) s.read.parquet(partialDir)
      else s.range(0).select(lit("").as("file"),
        lit("").as("l_returnflag"), lit(0L).as("n_rows"),
        lit(null).cast("decimal(28,4)").as("sum_qty"),
        lit(null).cast("decimal(28,4)").as("sum_price"))
    lastDvConsumeNegatives = partials.filter(col("n_rows") < 0).count()
    require(lastDvConsumeNegatives > 0,
      "the dv commit should have produced retraction partials")
    val tombs =
      if (new java.io.File(tombDir).isDirectory) s.read.parquet(tombDir)
      else s.range(0).select(lit("").as("file"))
    partials.join(tombs, Seq("file"), "left_anti")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty")).cast("double").as("sum_qty"),
        sum(col("sum_price")).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** The last st26 run's dir and its negative-partial count —
    * MixConsumeStreamSpec's physical pins. */
  @volatile private[graft] var lastMixConsumeRunDir: String = _
  @volatile private[graft] var lastMixConsumeNegatives: Long = -1L

  /** st26's run-to-termination: the MIXED-flavor log (occMixRoot — a
    * positional delete UNDER an equality delete UNDER the delta
    * ingest) consumed one commit per trigger, with EXACTLY-ONCE
    * retraction PER ROW: a row masked by both flavors must be negated
    * once, whichever mask's commit arrives first — so each flavor's
    * negation NETS OUT the other's earlier masks (dv retraction
    * anti-joins the keys of already-seen applicable equality deletes;
    * eqdel retraction anti-joins the already-seen sidecars' positions
    * on its below-sequence files — occChangeFeed's netting discipline,
    * applied to streaming partials). Sequence rules carry over from
    * st24 (eqdels scope by version, order-independent per (add,
    * delete) pair); dv masks name files, so the ingest above both
    * deletes folds in untouched. Shares e32's intersection oracle:
    * a double retraction (the naive sum of both masks), a missed
    * flavor, or a mask leaking onto the ingest is a hash failure. */
  def occMixConsume(s: SparkSession, dir: String,
                    rootOverride: Option[java.io.File] = None): DataFrame = {
    import s.implicits._
    val L = graft.operators.Lakehouse
    val root = rootOverride.getOrElse(new java.io.File(L.occMixRoot(s, dir)))
    val commitsDir = new java.io.File(root, "commits")
    val runDir = freshRunDir("st26")
    lastMixConsumeRunDir = runDir.getAbsolutePath
    val partialDir = new java.io.File(runDir, "partials").getAbsolutePath
    val tombDir = new java.io.File(runDir, "tombstones").getAbsolutePath
    def fileAgg(df: DataFrame, sign: Int): DataFrame =
      df.groupBy(regexp_replace(col("file"), "^file:/+", "/").as("file"),
          col("l_returnflag"))
        .agg((count(lit(1)) * sign).as("n_rows"),
          (sum(col("l_quantity").cast("decimal(18,4)")) * sign)
            .as("sum_qty"),
          (sum(col("l_extendedprice").cast("decimal(18,4)")) * sign)
            .as("sum_price"))
    val seenAdds = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    val seenEqs = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    // dv sidecars seen so far, per masked file
    val seenDvs = scala.collection.mutable.Map.empty[String, List[String]]
    // signed partial frames accumulated within a trigger, written as
    // ONE job (VERDICT r15 #3 — the st24/st25 batching, same move)
    val pending = scala.collection.mutable.ListBuffer
      .empty[org.apache.spark.sql.DataFrame]
    def flush(): Unit =
      if (pending.nonEmpty) {
        pending.reduce(_ unionByName _)
          .write.mode("append").parquet(partialDir)
        pending.clear()
      }
    def eqKeys(delFile: String): Seq[String] =
      s.read.parquet(delFile).schema.fieldNames.toSeq
    // NEGATE an equality delete over its below-sequence adds, net of
    // positions already retracted by earlier dv masks on those files
    // AND of rows already retracted by OTHER eqdels whose (add, delete)
    // pair was negated earlier (`priorDels`) — two overlapping equality
    // deletes matching one row subtract it once, the batch scan's
    // distinct()-union contract (ADVICE r15 #1)
    def negateEq(delFile: String, belowAdds: Seq[String],
                 priorDels: Seq[String]): Unit =
      if (belowAdds.nonEmpty) {
        val keys = eqKeys(delFile)
        val sidecars = belowAdds.flatMap(f =>
          seenDvs.getOrElse(f, Nil)).distinct.sorted
        val keyed = s.read.parquet(belowAdds.sorted: _*)
          .withColumn("file", col("_metadata.file_path"))
          .withColumn("pos", col("_metadata.row_index"))
          .join(broadcast(s.read.parquet(delFile)
            .select(keys.map(col): _*).distinct()),
            keys, "left_semi")
        val posNetted =
          if (sidecars.isEmpty) keyed
          else keyed.join(broadcast(s.read.parquet(sidecars: _*)),
            Seq("file", "pos"), "left_anti")
        val netted = priorDels.foldLeft(posNetted) { (df, pd) =>
          val pk = eqKeys(pd)
          df.join(broadcast(s.read.parquet(pd)
              .select(pk.map(col): _*).distinct()),
            pk, "left_anti")
        }
        pending += fileAgg(netted.drop("pos"), -1)
        ()
      }
    // a delete's full below-sequence sweep, per add-version stratum
    // (an earlier delete nets only rows of adds it ALSO sequences above)
    def negateEqBelow(delFile: String, delV: Int): Unit =
      seenAdds.toSeq.filter(_._2 < delV).groupBy(_._2).toSeq.sortBy(_._1)
        .foreach { case (av, adds) =>
          negateEq(delFile, adds.map(_._1).sorted,
            seenEqs.toSeq.filter(_._2 > av).map(_._1).distinct.sorted)
        }
    // NEGATE a dv commit's masked positions, net of rows already
    // retracted by earlier applicable equality deletes — per add-
    // version stratum, since an eqdel applies only to files it
    // sequences above (the occChangeFeed signature-grouping argument) —
    // AND net of positions earlier sidecars on the SAME files already
    // retracted (two overlapping DELETEs masking one row must subtract
    // it once; the batch scan anti-joins the sidecar UNION and gets
    // this for free — round-15 self-review)
    def negateDv(dvd: Seq[(String, String)]): Unit = {
      val addV = seenAdds.toMap
      dvd.groupBy(d => addV.getOrElse(d._1, Int.MaxValue)).toSeq
        .sortBy(_._1).foreach { case (av, group) =>
          val mask = s.read.parquet(group.map(_._2).distinct.sorted: _*)
          val positioned = s.read.parquet(group.map(_._1).distinct.sorted: _*)
            .withColumn("file", col("_metadata.file_path"))
            .withColumn("pos", col("_metadata.row_index"))
            .join(broadcast(mask), Seq("file", "pos"), "left_semi")
          val earlier = group.map(_._1).flatMap(f =>
            seenDvs.getOrElse(f, Nil)).distinct.sorted
          val posNetted =
            if (earlier.isEmpty) positioned
            else positioned.join(broadcast(s.read.parquet(earlier: _*)),
              Seq("file", "pos"), "left_anti")
          val netted = seenEqs.filter(_._2 > av).map(_._1)
            .foldLeft(posNetted) { (df, delFile) =>
              val keys = eqKeys(delFile)
              df.join(broadcast(s.read.parquet(delFile)
                  .select(keys.map(col): _*).distinct()),
                keys, "left_anti")
            }
          pending += fileAgg(netted.drop("pos"), -1)
          ()
        }
    }
    def applyCommit(commit: DataFrame): Unit = {
      // ONE collect per trigger (manifest-sized), ONE partial write
      val acts = commit.select($"file", $"action", $"dv", $"_commit_version")
        .as[(String, String, String, Int)].collect()
      val vs = acts.map(_._4).distinct
      require(vs.length == 1, s"one commit per trigger expected: ${vs.toSeq}")
      val version = vs.head
      val addFiles = acts.filter(_._2 == "add").map(_._1).toSeq.sorted
      if (addFiles.nonEmpty) {
        pending += fileAgg(s.read.parquet(addFiles: _*)
          .withColumn("file", col("_metadata.file_path")), 1)
        val applicable = seenEqs.toSeq.filter(_._2 > version)
          .map(_._1).distinct.sorted
        applicable.zipWithIndex.foreach { case (delFile, i) =>
          negateEq(delFile, addFiles, applicable.take(i))
        }
        seenAdds ++= addFiles.map(f => (f, version))
        ()
      }
      val dvd = acts.filter(_._2 == "dv").map(a => (a._1, a._3)).toSeq
      if (dvd.nonEmpty) {
        negateDv(dvd)
        dvd.foreach { case (f, sc) =>
          seenDvs(f) = (seenDvs.getOrElse(f, Nil) :+ sc).distinct
        }
      }
      acts.filter(_._2 == "eqdel").map(_._1).toSeq.sorted
        .foreach { delFile =>
          negateEqBelow(delFile, version)
          seenEqs += ((delFile, version))
        }
      val removes = acts.filter(_._2 == "remove")
        .map(_._1.replaceFirst("^file:/+", "/")).toSeq.sorted
      if (removes.nonEmpty)
        removes.toDF("file").write.mode("append").parquet(tombDir)
      flush()
    }
    val vs = L.occVersions(commitsDir)
    val glob = vs.map(v => f"v$v%05d.parquet").mkString("{", ",", "}")
    val schema = s.read.parquet(
      L.occCommitFile(commitsDir, vs.head).getAbsolutePath).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", glob)
      .parquet(commitsDir.getAbsolutePath)
      .withColumn("_commit_version",
        regexp_extract(col("_metadata.file_path"),
          "v(\\d{5})\\.parquet", 1).cast("int"))
      .writeStream
      .foreachBatch { (commit: DataFrame, _: Long) =>
        applyCommit(commit)
      }
      .option("checkpointLocation",
        new java.io.File(runDir, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastRunProgress = q.recentProgress
    val partials =
      if (new java.io.File(partialDir).isDirectory) s.read.parquet(partialDir)
      else s.range(0).select(lit("").as("file"),
        lit("").as("l_returnflag"), lit(0L).as("n_rows"),
        lit(null).cast("decimal(28,4)").as("sum_qty"),
        lit(null).cast("decimal(28,4)").as("sum_price"))
    lastMixConsumeNegatives = partials.filter(col("n_rows") < 0).count()
    require(lastMixConsumeNegatives > 0,
      "the delete commits should have produced retraction partials")
    val tombs =
      if (new java.io.File(tombDir).isDirectory) s.read.parquet(tombDir)
      else s.range(0).select(lit("").as("file"))
    partials.join(tombs, Seq("file"), "left_anti")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty")).cast("double").as("sum_qty"),
        sum(col("sum_price")).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** The last st24 run's dir and its count of NEGATIVE (retraction)
    * partial rows — EqConsumeStreamSpec's physical pins. */
  @volatile private[graft] var lastEqConsumeRunDir: String = _
  @volatile private[graft] var lastEqConsumeNegatives: Long = -1L

  /** st24's run-to-termination: stream the occEqRoot commit log one
    * commit per trigger; adds fold into per-file partials (st20's
    * shape, unpruned — the staged delete keys by l_suppkey, the e9
    * box's own clustering column, so a box-pruned consumer would be
    * VACUOUSLY green at fixture scales whose box holds no ≡5-mod-13
    * suppkey; box-pruned consumption is already pinned by st20/st23),
    * EQUALITY-DELETE commits fold into NEGATED partials built from the
    * key-matching rows of BELOW-SEQUENCE adds only — st23's retraction
    * move at key grain (VERDICT r14 #3: the r14 consumers switched on
    * add/dv/remove and streamed an eqdel commit through un-retracted).
    * Sequencing is ORDER-INDEPENDENT: each (add, delete) pair with
    * addV < delV is negated exactly once, when the LATER of the two
    * commits is processed — an add arriving after a delete it
    * sequences under is caught by the add-side sweep, so a re-ordered
    * trigger can't leak or double-retract.
    * The delta ingest commits ABOVE the staged delete, so its
    * key-matching rows must SURVIVE in the final merge — the oracle
    * (e27's sequence predicate over the base table) value-pins the
    * delete-then-reinsert contract. Retraction cost ∝ key-matching
    * rows of below-sequence files, never a rescan of folded files. */
  def occEqConsume(s: SparkSession, dir: String,
                   rootOverride: Option[java.io.File] = None): DataFrame =
    eqConsume(s, dir, bootstrap = false, rootOverride)

  /** The last st25 run's dir, negatives, and streamed-trigger count —
    * EqConsumeStreamSpec's physical pins for the bootstrap variant. */
  @volatile private[graft] var lastEqBootRunDir: String = _
  @volatile private[graft] var lastEqBootNegatives: Long = -1L
  @volatile private[graft] var lastEqBootTriggers: Int = -1

  /** st25: st24's consumer BOOTSTRAPPED from the e28 checkpoint — the
    * composition that makes a new eqdel-aware consumer cheap on an old
    * log: the versioned snapshot (net adds + PENDING eqdel actions,
    * each with its commit version) seeds the per-file partials AND the
    * bootstrap-time retraction in one manifest read, then only the
    * post-checkpoint commits stream (one trigger each — the staged log
    * streams exactly ONE tail commit where st24 replays three). The
    * pending delete applies at bootstrap to snapshot adds below its
    * version; the tail's re-insert sequences above it and survives —
    * the same order-independent (add, delete) pairing as st24, with
    * the snapshot standing in for the replayed prefix. Shares st24's
    * oracle: bootstrap-vs-replay divergence is a hash failure. */
  def occEqBootstrapConsume(s: SparkSession, dir: String): DataFrame =
    eqConsume(s, dir, bootstrap = true)

  private def eqConsume(s: SparkSession, dir: String,
                        bootstrap: Boolean,
                        rootOverride: Option[java.io.File] = None): DataFrame = {
    import s.implicits._
    val L = graft.operators.Lakehouse
    val root = rootOverride.getOrElse(new java.io.File(L.occEqRoot(s, dir)))
    val commitsDir = new java.io.File(root, "commits")
    val runDir = freshRunDir(if (bootstrap) "st25" else "st24")
    if (bootstrap) lastEqBootRunDir = runDir.getAbsolutePath
    else lastEqConsumeRunDir = runDir.getAbsolutePath
    val partialDir = new java.io.File(runDir, "partials").getAbsolutePath
    val tombDir = new java.io.File(runDir, "tombstones").getAbsolutePath
    def fileAgg(df: DataFrame, sign: Int): DataFrame =
      df.groupBy(regexp_replace(col("file"), "^file:/+", "/").as("file"),
          col("l_returnflag"))
        .agg((count(lit(1)) * sign).as("n_rows"),
          (sum(col("l_quantity").cast("decimal(18,4)")) * sign)
            .as("sum_qty"),
          (sum(col("l_extendedprice").cast("decimal(18,4)")) * sign)
            .as("sum_price"))
    // driver-side sequencing state: box-surviving adds and the delete
    // files seen so far, each with its commit version (commit-log
    // grain — one entry per data file / delete file, never rows)
    val seenAdds = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    val seenEqs = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    // signed partial frames accumulated within a trigger and written as
    // ONE job (VERDICT r15 #3 — the st9 floor move: the fold's wall at
    // fixture scale was driver-sequential micro-jobs, one per negation
    // read + parquet append; the union write keeps every row identical,
    // negatives included, while cutting jobs/trigger to one collect +
    // one write)
    val pending = scala.collection.mutable.ListBuffer
      .empty[org.apache.spark.sql.DataFrame]
    def flush(): Unit =
      if (pending.nonEmpty) {
        pending.reduce(_ unionByName _)
          .write.mode("append").parquet(partialDir)
        pending.clear()
      }
    // NEGATE an equality delete over below-sequence adds, net of rows
    // already retracted by OTHER eqdels whose (add, delete) pair was
    // negated earlier (`priorDels`) — two OVERLAPPING equality deletes
    // matching one row must subtract it once; the batch scan distinct()s
    // the key UNION and gets this for free (ADVICE r15 #1: without the
    // netting the fold double-retracts the overlap)
    def negate(delFile: String, addFiles: Seq[String],
               priorDels: Seq[String]): Unit =
      if (addFiles.nonEmpty) {
        val keys = s.read.parquet(delFile).schema.fieldNames.toSeq
        val masked = s.read.parquet(addFiles.sorted: _*)
          .withColumn("file", col("_metadata.file_path"))
          .join(broadcast(s.read.parquet(delFile)
            .select(keys.map(col): _*).distinct()),
            keys, "left_semi")
        val netted = priorDels.foldLeft(masked) { (df, pd) =>
          val pk = s.read.parquet(pd).schema.fieldNames.toSeq
          df.join(broadcast(s.read.parquet(pd)
              .select(pk.map(col): _*).distinct()),
            pk, "left_anti")
        }
        pending += fileAgg(netted, -1)
        ()
      }
    // a delete's full below-sequence sweep: one negation per add-version
    // stratum (netting applicability is version-scoped — an earlier
    // delete nets only rows of adds it ALSO sequences above)
    def negateBelow(delFile: String, delV: Int): Unit =
      seenAdds.toSeq.filter(_._2 < delV).groupBy(_._2).toSeq.sortBy(_._1)
        .foreach { case (av, adds) =>
          negate(delFile, adds.map(_._1).sorted,
            seenEqs.toSeq.filter(_._2 > av).map(_._1).distinct.sorted)
        }
    def applyCommit(commit: DataFrame): Unit = {
      // ONE collect per trigger (the commit is manifest-sized) — the
      // r15 shape probed the micro-batch once per action kind, four
      // driver-sequential jobs before any fold work started
      val acts = commit.select($"file", $"action", $"_commit_version")
        .as[(String, String, Int)].collect()
      val vs = acts.map(_._3).distinct
      require(vs.length == 1, s"one commit per trigger expected: ${vs.toSeq}")
      val version = vs.head
      val addFiles = acts.filter(_._2 == "add").map(_._1).toSeq.sorted
      if (addFiles.nonEmpty) {
        pending += fileAgg(s.read.parquet(addFiles: _*)
          .withColumn("file", col("_metadata.file_path")), 1)
        // deletes already seen that sequence ABOVE this add mask it —
        // each netted of the sweep's earlier deletes (overlap once)
        val applicable = seenEqs.toSeq.filter(_._2 > version)
          .map(_._1).distinct.sorted
        applicable.zipWithIndex.foreach { case (delFile, i) =>
          negate(delFile, addFiles, applicable.take(i))
        }
        seenAdds ++= addFiles.map(f => (f, version))
        ()
      }
      acts.filter(_._2 == "eqdel").map(_._1).toSeq.sorted
        .foreach { delFile =>
          negateBelow(delFile, version)
          seenEqs += ((delFile, version))
        }
      val removes = acts.filter(_._2 == "remove")
        .map(_._1.replaceFirst("^file:/+", "/")).toSeq.sorted
      if (removes.nonEmpty)
        removes.toDF("file").write.mode("append").parquet(tombDir)
      flush()
    }
    // BOOTSTRAP (st25): seed state, partials, and the pending delete's
    // retraction from the e28 checkpoint — ONE manifest read; the
    // stream then carries only the post-checkpoint tail
    val allVs = L.occVersions(commitsDir)
    val streamVs =
      if (!bootstrap) allVs
      else {
        val cpV = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(root, "_last_checkpoint").toPath)).trim.toInt
        val cp = s.read.parquet(new java.io.File(
          new java.io.File(root, "checkpoints"),
          f"cp_v$cpV%05d.parquet").getAbsolutePath)
        // ONE manifest collect seeds adds, pending deletes, and the
        // bootstrap retraction; ONE write lands every seeded partial
        val cpActs = cp.select($"file", $"action", $"version")
          .as[(String, String, Int)].collect()
        val cpRemoved = cpActs.filter(_._2 == "remove").map(_._1).toSet
        val cpAdds = cpActs.filter(_._2 == "add")
          .filter(a => !cpRemoved.contains(a._1))
          .map(a => (a._1, a._3)).toSeq.sorted
        if (cpAdds.nonEmpty)
          pending += fileAgg(s.read.parquet(cpAdds.map(_._1): _*)
            .withColumn("file", col("_metadata.file_path")), 1)
        seenAdds ++= cpAdds
        cpActs.filter(_._2 == "eqdel").map(a => (a._1, a._3)).toSeq
          .sortBy(_._2).foreach { case (delFile, delV) =>
            negateBelow(delFile, delV)
            seenEqs += ((delFile, delV))
          }
        flush()
        allVs.filter(_ > cpV)
      }
    val glob = streamVs.map(v => f"v$v%05d.parquet").mkString("{", ",", "}")
    val schema = s.read.parquet(
      L.occCommitFile(commitsDir, streamVs.head).getAbsolutePath).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", glob)
      .parquet(commitsDir.getAbsolutePath)
      // the commit's version, projected AT THE SOURCE (the _metadata
      // column resolves only on the scan relation — inside foreachBatch
      // the micro-batch is already a materialized row set)
      .withColumn("_commit_version",
        regexp_extract(col("_metadata.file_path"),
          "v(\\d{5})\\.parquet", 1).cast("int"))
      .writeStream
      .foreachBatch { (commit: DataFrame, _: Long) =>
        applyCommit(commit)
      }
      .option("checkpointLocation",
        new java.io.File(runDir, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastRunProgress = q.recentProgress
    if (bootstrap)
      lastEqBootTriggers = lastRunProgress.count(_.numInputRows > 0)
    val partials =
      if (new java.io.File(partialDir).isDirectory) s.read.parquet(partialDir)
      else s.range(0).select(lit("").as("file"),
        lit("").as("l_returnflag"), lit(0L).as("n_rows"),
        lit(null).cast("decimal(28,4)").as("sum_qty"),
        lit(null).cast("decimal(28,4)").as("sum_price"))
    val negatives = partials.filter(col("n_rows") < 0).count()
    if (bootstrap) lastEqBootNegatives = negatives
    else lastEqConsumeNegatives = negatives
    require(negatives > 0,
      "the eqdel should have produced retraction partials")
    val tombs =
      if (new java.io.File(tombDir).isDirectory) s.read.parquet(tombDir)
      else s.range(0).select(lit("").as("file"))
    partials.join(tombs, Seq("file"), "left_anti")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty")).cast("double").as("sum_qty"),
        sum(col("sum_price")).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** The last st22 run's root, replay-skip count, and data-commit count
    * — IdempotentIngestStreamSpec's physical pins. */
  @volatile private[graft] var lastIdemRunDir: String = _
  @volatile private[graft] var lastIdemSkips: Int = -1
  @volatile private[graft] var lastIdemCommits: Int = -1

  /** st22's run-to-termination: the OCC ingest loop with Delta's txn
    * action making it exactly-once under Spark's restart contract.
    * The writer is check-first — one commit-log read
    * ([[graft.operators.Lakehouse.occLastTxn]]) decides skip-or-proceed
    * before any data bytes move (Delta's own foreachBatch txn pattern
    * writes the data files first and skips only the commit, orphaning
    * the bytes until vacuum; checking first buys the same guarantee
    * without the churn, and the log read is manifest-sized). After the
    * stream terminates, the run replays its LAST delivery with the
    * same batchId — the exact re-execution Spark performs when a
    * stream restarts after crashing between the sink action and the
    * offset-log commit. */
  def occIngestIdempotent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = graft.operators.Mixing
    val L = graft.operators.Lakehouse
    val standing = new java.io.File(
      new java.io.File(L.zincManifestRoot(s, dir)), "standing")
    val inbox = stagedLineitemDeltaInbox(s, dir)
    val runDir = freshRunDir("st22")
    runDir.mkdirs()
    lastIdemRunDir = runDir.getAbsolutePath
    val deltaDir = new java.io.File(runDir, "delta")
    val commitsDir = new java.io.File(runDir, "commits")
    L.occCommit(s, runDir, M.footerBoxRows(standing), snapshotVersion = -1)
    val keys = Set("l_partkey", "l_suppkey")
    val groups = M.footerStats(new java.io.File(dir, "lineitem.parquet"), keys)
    def global(col: String): (Long, Long) =
      groups.map(_.stats(col)).reduce { (a, b) =>
        (math.min(a._1, b._1), math.max(a._2, b._2))
      }
    val (pMin, pMax) = global("l_partkey")
    val (sMin, sMax) = global("l_suppkey")
    val appId = "st22_ingest"
    val skips = new java.util.concurrent.atomic.AtomicInteger(0)
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    def listParquet(d: java.io.File): Set[String] =
      if (!d.isDirectory) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    // THE WRITER — all idempotence lives here, so the replay below can
    // exercise the identical code path Spark re-executes on restart
    def applyBatch(batch: DataFrame, batchId: Long): Unit = {
      if (L.occLastTxn(s, runDir, appId) >= batchId) {
        skips.incrementAndGet(); return
      }
      val before = listParquet(deltaDir)
      M.clusterOnSharedGrid(batch, pMin, pMax, sMin, sMax, 2)
        .write.mode("append").parquet(deltaDir.getAbsolutePath)
      val fresh = (listParquet(deltaDir) -- before).toSeq.sorted
      if (fresh.nonEmpty) {
        val snapshot = L.occVersions(commitsDir).last
        L.occCommit(s, runDir,
          fresh.flatMap(f => M.footerBoxRows(new java.io.File(f))),
          snapshotVersion = snapshot, txn = Some((appId, batchId)))
        commits.incrementAndGet()
        ()
      }
    }
    val lastBatchId = new java.util.concurrent.atomic.AtomicLong(-1L)
    val schema = s.read.parquet(inbox).schema
    val chkDir = new java.io.File(runDir, "chk")
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger",
        sys.props.get("graft.stream.filesPerTrigger")
          .map(_.toInt).getOrElse(2))
      .parquet(inbox)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        lastBatchId.set(batchId)
        applyBatch(batch, batchId)
        ()
      }
      .option("checkpointLocation", chkDir.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastRunProgress = q.recentProgress
    require(commits.get() >= 2, s"expected >= 2 data commits, got ${commits.get()}")
    require(skips.get() == 0, "a live batch was wrongly skipped")
    // CRASH REPLAY: the last delivery again, same rows, same batchId.
    // The rows come from the checkpoint's file-source offset log — the
    // SAME record Spark replays the batch from when a restarted stream
    // finds the sink ran but the batch never committed to the offset
    // log's commits/ side.
    val replayId = lastBatchId.get()
    val replayFiles = {
      val entry = new java.io.File(chkDir, s"sources/0/$replayId")
      val rx = "\"path\":\"([^\"]+)\"".r
      rx.findAllMatchIn(
        new String(java.nio.file.Files.readAllBytes(entry.toPath)))
        .map(_.group(1)).toSeq.sorted
    }
    require(replayFiles.nonEmpty, "last delivery carried no input files")
    val logBefore = L.occVersions(commitsDir)
    applyBatch(s.read.parquet(replayFiles: _*), replayId)
    require(skips.get() == 1, "the replayed batch should have been skipped")
    require(L.occVersions(commitsDir) == logBefore,
      "the replay changed the commit log")
    lastIdemSkips = skips.get()
    lastIdemCommits = commits.get()
    // the table IS the commit log: plan the e9 box from the net state
    val (pLo, pHi, sLo, sHi) = M.e9Box(dir)
    val files = L.occVisible(s.read.parquet(commitsDir.getAbsolutePath))
      .filter($"pmax" >= pLo && $"pmin" <= pHi &&
        $"smax" >= sLo && $"smin" <= sHi)
      .select($"file").as[String].collect().toSeq.sorted
    require(files.nonEmpty, "commit-log planning pruned every file")
    s.read.parquet(files: _*)
      .filter($"l_partkey".between(pLo, pHi) &&
        $"l_suppkey".between(sLo, sHi))
      .transform(M.flagAgg)
  }

  /** Write-once STAGED result of one st18 ingest run (delta dir +
    * manifest log with one file per commit), for st19's read side: the
    * consumer needs a standing table whose manifest log it can stream,
    * so the producing run executes once per fixture under the marker
    * convention and its output becomes the artifact. The bootstrap
    * commit + one commit per data micro-batch means the log carries ≥3
    * files — three triggers for the consumer. */
  def stagedIngestRoot(s: SparkSession, dir: String): String = {
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(root, "zingest_" + base)
    if (verifiedInboxes.contains(path.getAbsolutePath))
      return path.getAbsolutePath
    val stamp = s"v1:${graft.operators.Multimodal.sourceFingerprint(
      new java.io.File(dir, "lineitem.parquet"))}"
    val marker = new java.io.File(path.getAbsolutePath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      graft.operators.Mixing.deleteRecursively(path.toPath)
      manifestIngestCatchUp(s, dir, Some(path))
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedInboxes.add(path.getAbsolutePath)
    path.getAbsolutePath
  }

  /** st18's run-to-termination: stream the staged delta inbox; each
    * micro-batch z-clusters its rows on the SHARED grid (bounds from
    * the base table's footers — the zincMaintain contract: one grid for
    * standing and every delta), appends the files into the run's delta
    * dir, and commits manifest rows for exactly the new files. The
    * standing layout ([[graft.operators.Lakehouse.zincManifestRoot]]'s
    * standing/) is read-only — its manifest rows are bootstrapped once
    * at run start from footer boxes, the e11 derivation. The final
    * answer plans the e9 box from the assembled manifest log. Fresh
    * run dir per call: the roster row stays a pure function of the
    * fixture; AvailableNow's ledger gives exactly-once within the
    * run. */
  def manifestIngestCatchUp(s: SparkSession, dir: String,
                            fixedRoot: Option[java.io.File] = None)
      : DataFrame = {
    import s.implicits._
    val M = graft.operators.Mixing
    val L = graft.operators.Lakehouse
    val standing = new java.io.File(
      new java.io.File(L.zincManifestRoot(s, dir)), "standing")
    val inbox = stagedLineitemDeltaInbox(s, dir)
    val runDir = fixedRoot.getOrElse(freshRunDir("st18"))
    runDir.mkdirs()
    lastIngestRunDir = runDir.getAbsolutePath
    val deltaDir = new java.io.File(runDir, "delta")
    val manifestDir = new java.io.File(runDir, "manifest").getAbsolutePath
    // bootstrap commit: the standing layout's manifest rows
    M.writeManifestLog(s, M.footerBoxRows(standing), manifestDir)
    // shared grid bounds — base-table footers, zincMaintain's rule
    val keys = Set("l_partkey", "l_suppkey")
    val groups = M.footerStats(new java.io.File(dir, "lineitem.parquet"), keys)
    def global(col: String): (Long, Long) =
      groups.map(_.stats(col)).reduce { (a, b) =>
        (math.min(a._1, b._1), math.max(a._2, b._2))
      }
    val (pMin, pMax) = global("l_partkey")
    val (sMin, sMax) = global("l_suppkey")
    def listParquet(d: java.io.File): Set[String] =
      if (!d.isDirectory) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    val schema = s.read.parquet(inbox).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger",
        sys.props.get("graft.stream.filesPerTrigger")
          .map(_.toInt).getOrElse(2))
      .parquet(inbox)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val before = listParquet(deltaDir)
        M.clusterOnSharedGrid(batch, pMin, pMax, sMin, sMax, 2)
          .write.mode("append").parquet(deltaDir.getAbsolutePath)
        val fresh = (listParquet(deltaDir) -- before).toSeq.sorted
        val rows = fresh.flatMap(f => M.footerBoxRows(new java.io.File(f)))
        M.writeManifestLog(s, rows, manifestDir)
        ()
      }
      .option("checkpointLocation",
        new java.io.File(runDir, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastRunProgress = q.recentProgress
    // the table IS the manifest log: plan the e9 box from it
    val (pLo, pHi, sLo, sHi) = M.e9Box(dir)
    val files = s.read.parquet(manifestDir)
      .filter($"pmax" >= pLo && $"pmin" <= pHi &&
        $"smax" >= sLo && $"smin" <= sHi)
      .select($"file").as[String].collect().toSeq.sorted
    require(files.nonEmpty, "manifest planning pruned every file")
    s.read.parquet(files: _*)
      .filter($"l_partkey".between(pLo, pHi) &&
        $"l_suppkey".between(sLo, sHi))
      .transform(graft.operators.Mixing.flagAgg)
  }
}
