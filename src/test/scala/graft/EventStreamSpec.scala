package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream
import graft.util.Scratch

/** The genuine streaming path must replay to byte-identical results vs
  * the batch plan (same windows, same exact decimal sums). */
class EventStreamSpec extends AnyFunSuite {
  import SparkTestSession._

  test("streaming tumbling windows == batch tumbling windows on replay") {
    val batch = EventStream.st01Tumbling(spark, sf).collect().map(_.toString)
    val streamed = EventStream.streamingTumblingCounts(spark, sf).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming redelivery dedup == batch exactly-once totals across micro-batches") {
    import org.apache.spark.sql.functions._
    // batch contract's deduplicated ledger (n_unique, sum_cents per type)
    val batch = EventStream.st10RedeliveryDedup(spark, sf)
      .select(col("event_type"), col("n_unique"), col("sum_cents"))
      .collect().map(_.toString)
    // duplicates arrive one file-per-trigger => a LATER micro-batch; the
    // dedup must come from the watermark state store
    val streamed = EventStream.streamingRedeliveryDedup(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming CDC apply == batch last-writer-wins image on out-of-order replay") {
    val batch = graft.streaming.EventStream.st12CdcApply(spark, sf)
      .collect().map(_.toString)
    assert(batch.nonEmpty)
    // hash-split files decorrelate arrival from event time: the state
    // machine must ignore stale ops that arrive after newer ones
    val streamed = graft.streaming.EventStream.streamingCdcApply(spark, sf)
      .collect().map(_.toString)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming stream-static enrichment == batch dimension ledger") {
    val batch = EventStream.st11StaticEnrich(spark, sf).collect().map(_.toString)
    // 4-way file split, one file per trigger => the complete-mode
    // aggregate must accumulate across micro-batches
    val streamed = EventStream.streamingStaticEnrich(spark, sf).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming quality gate split sinks == batch gate accounting") {
    val batch = EventStream.st06QualityGate(spark, sf).collect().map(_.toString)
    val streamed = EventStream.streamingQualityGate(spark, sf).collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming session windows == batch session windows on replay") {
    import org.apache.spark.sql.functions._
    import graft.util.Exact._
    val spark2 = spark
    spark2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stageDir = java.nio.file.Paths.get(Scratch.dir("graft_sess_"))
    java.nio.file.Files.createSymbolicLink(
      stageDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val q = EventStream.eventsStream(spark2, stageDir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "6 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
              col("n_events"), col("sum_value"))
      .writeStream.format("memory").queryName("st_sessions")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark2.table("st_sessions")
      .orderBy(col("user_id"), col("session_start_us")).collect().map(_.toString)
    val batch = EventStream.st04SessionWindow(spark2, sf).collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("mapGroupsWithState final per-user state == batch aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.statefulUserStats(spark, sf).collect().map(_.toString)
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(expr("CAST(round(value * 100) AS BIGINT)")) / 100.0).as("sum_value"))
      .orderBy(col("user_id")).collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("flatMapGroupsWithState sessionization == batch sessions (closed set)") {
    import org.apache.spark.sql.functions._
    // batch truth: session_window agg + each session's LAST event time, so
    // we can predict which sessions the stream can close: a session is
    // emitted iff it closed inline (a later event arrived > gap after it)
    // or its event-time timeout fired (final watermark = max event ts with
    // a 0s delay passed lastTs + gap). Sessions still open at drain —
    // last event within gap of the stream's max ts — are correctly absent.
    val gapUs = 6L * 3600 * 1000000
    val withLast = Tables.events(spark, sf)
      .groupBy(session_window(col("ts"), "6 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(expr("CAST(round(value * 100) AS BIGINT)")) / 100.0).as("sum_value"),
        max(unix_micros(col("ts"))).as("last_us"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
              col("n_events"), col("sum_value"), col("last_us"))
    val maxUs = Tables.events(spark, sf)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    // the streaming watermark is tracked in FLOOR(ms), so a session times
    // out iff floor((last+gap)/1000) <= floor(max/1000) — compare in ms
    val expected = withLast.collect()
      .filter(r => (r.getAs[Long]("last_us") + gapUs) / 1000L <= maxUs / 1000L)
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
                 r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSet
    val streamed = EventStream.flatSessionize(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
                 r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSet
    assert(expected.nonEmpty, "corpus must contain closable sessions")
    assert(streamed == expected,
      s"missing: ${(expected -- streamed).take(3)} extra: ${(streamed -- expected).take(3)}")
  }

  test("streaming first-touch == batch per-user min on the watermark-closed region") {
    import org.apache.spark.sql.functions._
    val firsts = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"))
    val maxUs = Tables.events(spark, sf)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    // the timeout fires iff wm_ms is STRICTLY past floor(first/1000)
    // (finalizing at equality would over-commit: the ms-resolution wm
    // still admits same-ms smaller-us events); the final wm with a 0s
    // delay is floor(max/1000) — compare in ms like the sessionizer
    val expected = firsts.collect()
      .filter(r => r.getLong(1) / 1000L < maxUs / 1000L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = EventStream.streamingFirstTouch(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("first_us"))).toSet
    assert(expected.nonEmpty)
    assert(streamed == expected,
      s"missing: ${(expected -- streamed).take(3)} extra: ${(streamed -- expected).take(3)}")
    // and the hour rollup of the emitted firsts reproduces the st08
    // batch contract on the closed region
    val spark2 = spark; import spark2.implicits._
    val rolled = streamed.toSeq.toDF("user_id", "first_us")
      .groupBy(expr("unix_micros(date_trunc('hour', timestamp_micros(first_us)))").as("ws"))
      .agg(count(lit(1)).as("new_users"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batchHours = EventStream.st08NewUsersPerHour(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // every fully-closed hour must match exactly (the only hour that can
    // differ is the one holding the withheld global-max first appearance)
    batchHours.foreach { case (ws, n) =>
      if (rolled.contains(ws) && ws + 3600L * 1000000 <= maxUs)
        assert(rolled(ws) == n, s"hour $ws: streamed ${rolled(ws)} != batch $n")
    }
  }

  test("append-mode watermark drops late rows across micro-batches") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stageDir = java.nio.file.Paths.get(Scratch.dir("graft_late_"))
    def writeBatch(name: String, rowsUs: Seq[Long]): Unit = {
      val tmp = java.nio.file.Paths.get(Scratch.dir("graft_late_w_"))
      rowsUs.toDF("us").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part), stageDir.resolve(name))
    }
    val H = 3600L * 1000000 // one hour in micros
    // Two sequential AvailableNow drains over ONE checkpoint: the
    // watermark commits to the checkpoint between drains, so drain 2
    // genuinely runs with drain 1's watermark — a deterministic
    // micro-batch boundary (a single drain can batch all files together).
    // The sink must be RECOVERABLE for the second start() to resume from
    // the checkpoint — a file (parquet) sink is; the memory sink is not.
    val ckpt = Scratch.dir("graft_late_ck_")
    val outDir = Scratch.dir("graft_late_out_")
    def drain(): Map[Long, Long] = {
      val q = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("us", org.apache.spark.sql.types.LongType))))
        .parquet(stageDir.toString)
        .withColumn("ts", expr("timestamp_micros(us)"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("ws"), col("n"))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = s.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.map(_._1).distinct.size == rows.size,
        s"a window finalized twice (late data leaked into state): $rows")
      rows.toMap
    }
    // drain 1: two events in window [1:00,2:00) and one at 5:00 that
    // pushes the watermark (1h delay) to 4:00, finalizing window 1
    writeBatch("b1.parquet", Seq(1 * H, 1 * H + 30 * 60 * 1000000L, 5 * H))
    val got1 = drain()
    assert(got1.get(1 * H).contains(2L), s"drain 1 must finalize window 1: $got1")
    // drain 2: a LATE row at 1:15 (window already finalized -> dropped),
    // an on-time row at 4:30, and a 9:00 row that advances the watermark
    // to 8:00, finalizing windows 4 and 5
    writeBatch("b2.parquet", Seq(1 * H + 15 * 60 * 1000000L, 4 * H + 30 * 60 * 1000000L, 9 * H))
    val got = drain()
    // the late 1:15 row must NOT be in window 1's finalized count
    assert(got.get(1 * H).contains(2L), s"window 1 wrong (late row kept?): $got")
    // the on-time 4:30 row must be kept and finalized
    assert(got.get(4 * H).contains(1L), s"window 4 missing: $got")
    assert(got.get(5 * H).contains(1L), s"window 5 missing: $got")
    // the 9:00 row's window never finalizes in append mode
    assert(!got.contains(9 * H), s"unfinalized window emitted: $got")
  }

  test("driver entry() smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("scalable dense ids == single-partition row_number") {
    val a15 = operators.Relational.a15RowNumber(spark, sf).collect().map(_.toString)
    val a17 = operators.ScaleOps.a17ScalableRowNumber(spark, sf).collect().map(_.toString)
    assert(a17.toSeq == a15.toSeq)
  }

  test("stream-stream interval join replay == batch interval join pairs") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"),
        floor(col("value") * 100).cast("long").as("p_cents"))
    val batchPairs = clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_us") > col("click_us") &&
        col("p_us") <= col("click_us") + 3600L * 1000000L)
      .select(col("user_id"), col("click_id"), col("click_us"),
        col("p_us"), col("p_cents"))
      .orderBy(col("user_id"), col("click_id"), col("p_us"))
      .collect().map(_.toString)
    val streamed = EventStream.streamingAttributionJoin(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batchPairs.toSeq)
  }

  test("stream-stream LEFT OUTER join == batch outer pairs on the closed region") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    // the closed region: clicks old enough that the final watermark has
    // passed click_ts + 1h, so the streaming side has provably decided
    // matched-vs-unmatched. The global watermark is the MIN across both
    // input streams (the purchase stream's max event usually trails the
    // click stream's), floored to ms — minus a 1 ms guard for the floor.
    val maxSideUs = ev.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type")).agg(max(unix_micros(col("ts"))).as("m"))
      .collect().map(_.getLong(1)).min
    val closedUs = (maxSideUs / 1000L) * 1000L - 2L * 3600L * 1000000L - 1000L
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
        col("event_id").as("click_id"))
      .filter(col("click_us") < closedUs)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"))
    val batchOuter = clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_us") > col("click_us") &&
        col("p_us") <= col("click_us") + 3600L * 1000000L, "left")
      .select(col("user_id"), col("click_id"), col("click_us"), col("p_us"))
      .orderBy(col("user_id"), col("click_id"), col("p_us"))
      .collect().map(_.toString)
    val streamed = EventStream.streamingUnattributedClicks(spark, sf)
      .filter(col("click_us") < closedUs)
      .orderBy(col("user_id"), col("click_id"), col("p_us"))
      .collect().map(_.toString)
    assert(streamed.nonEmpty)
    // unmatched clicks must actually appear as null-purchase rows
    assert(streamed.exists(_.endsWith(",null]")), "no outer rows emitted")
    assert(streamed.toSeq == batchOuter.toSeq)
  }

  test("stream-static enrichment join replay == batch join") {
    import org.apache.spark.sql.functions._
    import graft.util.Exact._
    val streamed = EventStream.streamingStaticJoin(spark, sf).collect().map(_.toString)
    val batch = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment")),
            col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .orderBy(col("c_mktsegment")).collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("foreachBatch streaming upsert: 3-batch incremental merge == batch latest-per-user") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // stage the events as 3 files so maxFilesPerTrigger=1 drives three
    // REAL micro-batches through the merge; the raw read preserves the
    // source ts encoding, which eventsStream re-probes on the chunk dir
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val stage = Scratch.dir("graft_upsert_src_")
    (0 until 3).foreach { i =>
      raw.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/chunk$i")
    }
    val flat = java.nio.file.Paths.get(Scratch.dir("graft_upsert_flat_"))
    (0 until 3).foreach { i =>
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$stage/chunk$i"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, flat.resolve(s"chunk$i.parquet"))
    }
    val target = s"${Scratch.dir("graft_upsert_tgt_")}/state"
    val got = EventStream.streamingUpsertSink(spark, flat.toString, target)
      .collect().map(_.toString)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val want = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("user_id"))
      .collect().map(_.toString)
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }

  test("bounded-state streaming dedup: one row per key, keys == batch distinct") {
    import org.apache.spark.sql.functions._
    val got = EventStream.streamingDedupBounded(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
    // exactly one survivor per key
    assert(got.map(_._1).distinct.length == got.length)
    // the surviving key set is the batch distinct key set
    val batchKeys = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.map(_._1).toSet == batchKeys)
    // every survivor is a real event of its key (the WHICH-row choice is
    // arrival order within the batch — deliberately not asserted)
    val byKey = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id")).collect()
      .groupBy(r => (r.getLong(0), r.getString(1)))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(got.forall { case (k, id) => byKey(k).contains(id) })
  }

  test("distributed prefix sum == single-partition window cumsum") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val scalable = operators.ScaleOps.prefixSum(docs, Seq("doc_id"), "n_tok", "cum")
      .orderBy(col("doc_id")).collect().map(_.toString)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val window = docs.withColumn("cum", sum(col("n_tok")).over(w))
      .orderBy(col("doc_id")).collect().map(_.toString)
    assert(scalable.nonEmpty && scalable.toSeq == window.toSeq)
  }

  test("eventsStream starts on an EMPTY source directory (files arrive later)") {
    // the encoding probe must not fail stream construction with
    // 'Unable to infer schema' before any file exists
    val dir = util.Scratch.dir("empty_stream_src_")
    val s = streaming.EventStream.eventsStream(spark, dir)
    assert(s.isStreaming && s.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // and an explicit encoding option pins the schema without probing
    val pinned = streaming.EventStream.eventsStream(spark, dir,
      Map("graft.tsEncoding" -> "nanos"))
    assert(pinned.isStreaming && pinned.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("m02 metadata aggregation never reads the text payload column... beyond length") {
    val df = operators.Multimodal.m02MetadataOnly(spark, sf)
    df.collect()
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!scan.contains("source"), s"scan reads more than needed: $scan")
  }

  test("st15 transformWithState ledger: final streamed images == batch per-user ledger") {
    import org.apache.spark.sql.functions._
    // the batch ground truth at the per-(type, user) grain
    val batch = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
        max(col("cents")).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val streamed = EventStream.streamingTwsLedger(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // cell-identical: every key present, every ledger record equal —
    // a cross-batch fold error (lost state, double-count on restart of
    // a key) shows up as a cell diff, not just a total drift
    assert(streamed.size == batch.size,
      s"key sets differ: ${streamed.size} streamed vs ${batch.size} batch")
    batch.foreach { case (k, v) =>
      assert(streamed.get(k).contains(v), s"ledger differs at $k: " +
        s"streamed=${streamed.get(k)} batch=$v")
    }
    // and the rolled-up contract row set matches the registered query
    val contract = EventStream.st15StatefulLedger(spark, sf)
      .collect().map(_.toString).toSeq
    assert(contract.nonEmpty && contract.length == 5)
  }
}
