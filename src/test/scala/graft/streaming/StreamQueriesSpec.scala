package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Pins st1's contract: the AvailableNow catch-up emits EXACTLY the
  * windows the watermark finalizes — equal, row for row, to the batch
  * rollup restricted to windows whose end is at or below max(ts) − 2 h.
  * This is the same rule the DuckDB oracle replays for the driver. */
class StreamQueriesSpec extends SparkTestBase {

  test("stream partitions: a small local inbox gets 1, an unlistable one the cores") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1, "the fallback is only visible with more than one core")
    val inbox = java.nio.file.Files.createTempDirectory("graft_inbox")
    assert(StreamQueries.streamParts(spark, inbox.toString, 4) == 1) // empty
    java.nio.file.Files.write(inbox.resolve("part-0.parquet"), new Array[Byte](1024))
    assert(StreamQueries.streamParts(spark, inbox.toString, 4) == 1) // tiny
    assert(StreamQueries.streamParts(spark, s"$inbox/*.parquet", 4) == cores) // glob
    assert(StreamQueries.streamParts(spark, s"$inbox/missing", 4) == cores)
  }

  test("st1 catch-up equals batch rollup over watermark-closed windows") {
    import spark.implicits._
    val streamed = StreamQueries.hourlyRollupCatchUp(spark, sfDir)

    val events = Tables(spark, sfDir, "events")
    val maxTs = events.agg(max($"ts")).head().getTimestamp(0)
    val expected = events
      .withColumn("value", $"value".cast("decimal(18,4)"))
      .groupBy(date_trunc("hour", $"ts").as("win_start"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
      .filter($"win_start" + expr("INTERVAL 1 HOUR") <=
        lit(maxTs) - expr("INTERVAL 2 HOURS"))
      .select($"win_start", $"event_type", $"n",
        $"sum_value".cast("double").as("sum_value"))
      .orderBy($"win_start", $"event_type")

    val got = streamed.collect().map(_.toSeq)
    val want = expected.collect().map(_.toSeq)
    assert(got.length == want.length,
      s"row count ${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  // The st1/st2 oracles finalize with a NON-STRICT bound (window end <=
  // max(ts) − 2h). The sf fixtures never land max(ts) exactly on an
  // hour+2h boundary, so until now the <= vs < choice at the exact
  // boundary was unpinned (ADVICE r6): if Spark's append-mode eviction
  // were strict, a fixture landing on the boundary would flip one window
  // and the oracle would falsely fail. This case plants max(ts) EXACTLY
  // two hours after a window end and asserts that window is emitted —
  // pinning Spark's eviction as non-strict, matching the oracles' <=.
  test("window ending exactly at the final watermark is emitted (<= eviction)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_wm_boundary")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // window [10:00,11:00) end=11:00; max ts 13:00:00.000 exactly ⇒
    // final watermark = 11:00:00.000 == the window end
    Seq(("a", 1.0, t("2024-01-01 10:15:00")),
        ("a", 2.0, t("2024-01-01 11:30:00")), // [11:00,12:00) stays open
        ("a", 3.0, t("2024-01-01 13:00:00")))
      .toDF("event_type", "value", "ts")
      .coalesce(1).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val q = EventStreams.hourlyRollup(
        spark.readStream.schema(schema).parquet(s"$dir/in")
          .withColumn("value", $"value".cast("decimal(18,4)")))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$dir/out").start()
    q.awaitTermination()
    val hours = spark.read.parquet(s"$dir/out").collect()
      .map(_.getAs[java.sql.Timestamp]("hour")).toSet
    assert(hours == Set(t("2024-01-01 10:00:00")),
      s"boundary window set was $hours — if empty, Spark's eviction is " +
        "STRICT at the boundary and the st1/st2/st3 oracles' <= must " +
        "become <")
  }

  test("st5's inbox really streams in multiple micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    // the oracle pins st5's VALUES; this pins its INCREMENTALITY — the
    // 4-file inbox at maxFilesPerTrigger=2 must yield 2 data batches
    // (the registered query uses the same staging + trigger config)
    val inbox = StreamQueries.stagedDocInbox(spark, sfDir)
    assert(new java.io.File(inbox).listFiles()
      .count(_.getName.startsWith("part-")) == 4,
      "doc inbox should stage as 4 ranged part files")
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val schema = spark.read.parquet(inbox).schema
    val dir = java.nio.file.Files.createTempDirectory("graft_st5_spec")
    val step: (org.apache.spark.sql.DataFrame, Long) => Unit = { (b, _) =>
      if (b.count() > 0) { seen.incrementAndGet(); rows.addAndGet(b.count()) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(inbox)
      .writeStream.foreachBatch(step)
      .option("checkpointLocation", s"$dir/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val expected = spark.read.parquet(inbox).count()
    assert(seen.get() == 2, s"expected 2 data micro-batches, saw ${seen.get()}")
    assert(rows.get() == expected,
      s"micro-batches covered ${rows.get()} of $expected inbox rows")
  }

  // ---- state-size pins (VERDICT r8 #4): the scaladocs' "state is
  // bounded by the watermark horizon / active keys" claims as regression
  // gates on stateOperators.numRowsTotal, read from the run's progress

  private def stateTotals(): Seq[Long] =
    StreamQueries.lastRunProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)

  test("st4 outer-join state is horizon-bounded and actually evicted") {
    import spark.implicits._
    graft.SparkEntry.queries("st4_followup_outer_stream")(spark, sfDir).collect()
    val totals = stateTotals()
    assert(totals.nonEmpty, "st4 recorded no stateful progress")
    val events = Tables(spark, sfDir, "events")
    val total = events.count()
    val maxTs = events.agg(max($"ts")).head().getTimestamp(0)
    // per side the join retains rows until the watermark clears
    // ts + window (left) / ts (right): delay 2h + window 10m, with 20m
    // batch-boundary slack
    val horizonRows = events
      .filter($"ts" > lit(maxTs) - expr("INTERVAL 150 MINUTES")).count()
    assert(totals.max <= 2 * total,
      s"join buffered more than both full inputs: ${totals.max}")
    assert(totals.last <= 2 * math.max(horizonRows, 1L),
      s"final state ${totals.last} exceeds the 2x${horizonRows}-row horizon " +
        "— eviction is not tracking the watermark (the 30-day fixture " +
        "holds only a handful of events inside the 2h10m horizon)")
    assert(totals.last < totals.max,
      s"state never shrank ($totals) — eviction never ran")
  }

  test("st14 full-outer-join state is horizon-bounded and actually evicted") {
    import spark.implicits._
    graft.SparkEntry.queries("st14_followup_full_outer_stream")(spark, sfDir)
      .collect()
    val totals = stateTotals()
    assert(totals.nonEmpty, "st14 recorded no stateful progress")
    val events = Tables(spark, sfDir, "events")
    val total = events.count()
    val maxTs = events.agg(max($"ts")).head().getTimestamp(0)
    // same horizon arithmetic as st4: the full-outer mode adds the
    // b-side null-padding duty but NOT extra state — b evicts at its
    // own timestamp (the earlier horizon), a at ts + window
    val horizonRows = events
      .filter($"ts" > lit(maxTs) - expr("INTERVAL 150 MINUTES")).count()
    assert(totals.max <= 2 * total,
      s"join buffered more than both full inputs: ${totals.max}")
    assert(totals.last <= 2 * math.max(horizonRows, 1L),
      s"final state ${totals.last} exceeds the 2x${horizonRows}-row horizon " +
        "— full-outer eviction is not tracking the watermark")
    assert(totals.last < totals.max,
      s"state never shrank ($totals) — eviction never ran")
  }

  test("st15 really runs on RocksDB state stores and matches st14 row-for-row") {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(providerKey)
    val rocks = graft.SparkEntry
      .queries("st15_followup_rocksdb_state")(spark, sfDir).collect()
    // the provider pin: a silent fallback to HDFSBackedStateStore would
    // pass the shared oracle while testing nothing — RocksDB stores
    // report their own custom metrics in every progress event
    val metricKeys = Option(StreamQueries.lastRunProgress).toSeq.flatten
      .flatMap(_.stateOperators.toSeq)
      .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      .toSet
    assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"no RocksDB state-store metrics in the run's progress: $metricKeys")
    // provider restored after the scoped run (getOption yields the
    // conf's DEFAULT — HDFSBacked — when unset, so compare to before)
    assert(spark.conf.getOption(providerKey) == before,
      "st15 leaked the RocksDB provider into the session")
    assert(!spark.conf.getOption(providerKey).exists(_.contains("RocksDB")))
    // provider-invariance, directly (the shared oracle pins it too)
    val hdfs = graft.SparkEntry
      .queries("st14_followup_full_outer_stream")(spark, sfDir).collect()
    def key(r: org.apache.spark.sql.Row) =
      (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))
    assert(rocks.map(key).toSeq == hdfs.map(key).toSeq,
      "RocksDB and HDFS-backed runs diverged")
  }

  test("st6 transformWithState holds one state row per active (user, type)") {
    import spark.implicits._
    graft.SparkEntry.queries("st6_type_counts_stream")(spark, sfDir).collect()
    val totals = stateTotals()
    assert(totals.nonEmpty, "st6 recorded no stateful progress")
    val pairs = Tables(spark, sfDir, "events")
      .select($"user_id", $"event_type").distinct().count()
    assert(totals.max <= pairs,
      s"st6 state ${totals.max} exceeds the ${pairs} active (user, type) keys")
    assert(totals.last == pairs,
      s"final st6 state ${totals.last} != $pairs active keys")
  }

  test("st11 CDC state holds exactly one version row per key") {
    import spark.implicits._
    graft.SparkEntry.queries("st11_cdc_latest_stream")(spark, sfDir).collect()
    val totals = stateTotals()
    assert(totals.nonEmpty, "st11 recorded no stateful progress")
    val users = Tables(spark, sfDir, "events")
      .select($"user_id").distinct().count()
    assert(totals.max <= users,
      s"st11 state ${totals.max} exceeds the $users keys")
    assert(totals.last == users,
      s"final st11 state ${totals.last} != $users keys")
  }

  test("st12 sketch state is one row per event type and stays exact-mode") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("st12_distinct_sketch_stream")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = stateTotals()
    assert(totals.nonEmpty, "st12 recorded no stateful progress")
    val types = Tables(spark, sfDir, "events")
      .select($"event_type").distinct().count()
    assert(totals.max <= types, s"st12 state ${totals.max} exceeds $types keys")
    assert(totals.last == types, s"final st12 state ${totals.last} != $types")
    // the capacity precondition as a gate (the x4/x7 pattern): every
    // per-type distinct count must sit below the 2^12 exact-mode
    // capacity at this SF, and then the sketch estimates must be EXACT
    val exact = Tables(spark, sfDir, "events").groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.values.forall(_ < 4096L),
      "fixture outgrew theta exact mode — the COUNT(DISTINCT) oracle is invalid here")
    assert(got == exact, s"sketch estimates diverged in exact mode: $got vs $exact")
  }

  test("st13 fingerprint state is one row per type and equals q64-style sums") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("st13_fingerprint_stream")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val totals = stateTotals()
    assert(totals.nonEmpty, "st13 recorded no stateful progress")
    val types = Tables(spark, sfDir, "events")
      .select($"event_type").distinct().count()
    assert(totals.max <= types && totals.last == types)
    // driver-side rebuild of the commutative checksum
    def fp28(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 7), 16)
    }
    val rows = Tables(spark, sfDir, "events")
      .select($"event_type", $"event_id", $"user_id",
        unix_micros($"ts").as("us"), $"value".cast("decimal(18,4)").as("v"))
      .collect()
    val expect = rows.groupBy(_.getString(0)).map { case (t, rs) =>
      t -> (rs.length.toLong, rs.map(r => fp28(
        s"${r.getLong(1)}|${r.getLong(2)}|$t|${r.getLong(3)}|${r.getDecimal(4)}"))
        .sum)
    }
    assert(got == expect, "streaming fingerprint diverges from the batch rebuild")
  }

  test("st8 sessionizer state is one row per still-open user session") {
    import spark.implicits._
    graft.SparkEntry.queries("st8_stateful_sessions_stream")(spark, sfDir).collect()
    val totals = stateTotals()
    assert(totals.nonEmpty, "st8 recorded no stateful progress")
    val events = Tables(spark, sfDir, "events")
    val users = events.groupBy($"user_id").agg(max($"ts").as("last_ts"))
    val allUsers = users.count()
    val maxTs = events.agg(max($"ts")).head().getTimestamp(0)
    // a user's state survives the final flush iff the event-time timer
    // has not fired: wm (= max − 2h) must NOT be strictly beyond
    // last_ts + 30m gap
    val stillOpen = users
      .filter($"last_ts" + expr("INTERVAL 30 MINUTES") >=
        lit(maxTs) - expr("INTERVAL 2 HOURS")).count()
    assert(totals.max <= allUsers,
      s"st8 state ${totals.max} exceeds the $allUsers users")
    assert(totals.last == stillOpen,
      s"final st8 state ${totals.last} != $stillOpen still-open sessions")
  }
}
