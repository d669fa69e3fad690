package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream
import graft.util.{Lake, Scratch}

/** Crash-recovery for the stateful streaming pair (VERDICT r7 #4): kill
  * the query mid-stream, restart from the checkpoint, and assert the
  * exactly-once output equals the batch dual. Replay-equivalence
  * (EventStreamSpec) proves the state machines; THIS suite proves the
  * property a 100 TB pipeline actually relies on — that the state store
  * + source offsets in the checkpoint survive an ungraceful stop with
  * neither loss nor double-apply.
  */
class StreamRecoverySpec extends AnyFunSuite {
  import SparkTestSession._

  test("st12 CDC apply: kill mid-stream, restart from checkpoint, exactly-once == batch") {
    cdcKillRecover()
  }

  test("st12 CDC apply: the same kill-recovery cycle on the RocksDB state store") {
    // the provider a real cluster deploys for large state: same state
    // machine, different on-disk format + changelog — the recovery
    // guarantees must be provider-independent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try cdcKillRecover()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def cdcKillRecover(): Unit = {
    val s = spark
    // 8 small files so the kill deterministically lands between commits
    val stage = EventStream.stageCdcLog(spark, sf, nFiles = 8)
    val out = Scratch.dir("graft_cdcrec_out_")
    val ckpt = Scratch.dir("graft_cdcrec_ck_")
    // foreachBatch + overwrite-per-batchId: the idempotent sink shape —
    // a batch replayed after the kill overwrites its own output instead
    // of appending a duplicate (update-mode stateful output cannot use
    // the append-only FileSink directly)
    def start(drain: Boolean) = {
      val w = EventStream.cdcUpdates(spark, stage).toDF().writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch=$id")
        }
      (if (drain) w.trigger(Trigger.AvailableNow()) else w).start()
    }
    val q1 = start(drain = false)
    // wait for >= 2 committed batches, then KILL — stop() interrupts the
    // stream-execution thread, abandoning any in-flight micro-batch
    // before its commit. The committed count is read AFTER the stop
    // (post-mortem from the same query handle): reading it between the
    // poll and the stop would race further commits into the gap.
    val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
    while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
           System.nanoTime < deadline) Thread.sleep(25)
    q1.stop()
    q1.awaitTermination()
    val committedBeforeKill = q1.recentProgress.count(_.numInputRows > 0)
    assert(committedBeforeKill >= 2, "never reached 2 committed batches")
    // a box fast enough to drain all 8 files inside one poll interval
    // can't exercise mid-stream recovery this run — cancel, don't fail
    assume(committedBeforeKill < 8,
      "all batches finished before the kill - nothing mid-stream to recover")
    // restart from the SAME checkpoint and drain the rest
    val q2 = start(drain = true)
    q2.awaitTermination()
    // final entity image: each user's last cumulative update (n_ops is
    // strictly increasing per user), tombstoned users dropped
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_ops").desc)
    val got = s.read.parquet(out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("live"))
      .select(col("user_id"), col("n_ops"), col("last_us"), col("last_cents"))
      .orderBy(col("user_id")).collect().map(_.toString).toSeq
    val want = EventStream.st12CdcApply(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty)
    // n_ops counts every op exactly once: a batch double-applied across
    // the kill inflates it, a lost one deflates it — equality IS the
    // exactly-once assertion
    assert(got == want, s"first diff: ${got.zipAll(want, "<none>", "<none>")
      .find { case (a, b) => a != b }}")
  }

  test("st08 first-touch: kill mid-stream, restart from checkpoint == batch closed region") {
    val s = spark
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // stage the log as 6 TIME-ORDERED slices with explicit strictly
    // increasing mtimes: FileStreamSource batches in mtime order, so the
    // 0-second watermark never drops an in-order slice, keeping the
    // batch dual exact (a hash split would make later files late-drop)
    val base = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
    val cuts = base.stat.approxQuantile("us",
      Array(1.0 / 6, 2.0 / 6, 3.0 / 6, 4.0 / 6, 5.0 / 6), 0.001)
    val bounds = (Seq(Long.MinValue) ++ cuts.map(_.toLong) :+ Long.MaxValue)
      .sliding(2).toSeq
    val stage = Paths.get(Scratch.dir("graft_ftrec_src_"))
    bounds.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val tmp = Paths.get(Scratch.dir("graft_ftrec_w_"))
      base.filter(col("us") > lo && col("us") <= hi)
        .select("user_id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val target = stage.resolve(f"slice_$i%02d.parquet")
      Files.move(Paths.get(part), target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(1000000L + i * 60000L))
    }
    val out = Scratch.dir("graft_ftrec_out_")
    val ckpt = Scratch.dir("graft_ftrec_ck_")
    val schema = s.read.parquet(stage.resolve("slice_00.parquet").toString).schema
    def start(drain: Boolean) = {
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      // append-mode stateful output goes straight to the recoverable
      // parquet FileSink — emit-on-timeout rows are final by contract
      val w = EventStream.firstTouchUpdates(spark, src).toDF().writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
      (if (drain) w.trigger(Trigger.AvailableNow()) else w).start()
    }
    val q1 = start(drain = false)
    val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
    while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
           System.nanoTime < deadline) Thread.sleep(25)
    q1.stop()
    q1.awaitTermination()
    // post-mortem count (see the st12 helper for the race rationale)
    val committedBeforeKill = q1.recentProgress.count(_.numInputRows > 0)
    assert(committedBeforeKill >= 2, "never reached 2 committed batches")
    assume(committedBeforeKill < 6,
      "all batches finished before the kill - nothing mid-stream to recover")
    val q2 = start(drain = true)
    q2.awaitTermination()
    val got = s.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("first_us")))
    // exactly-once: one final first-touch per user, no duplicate emits
    // across the kill (FileSink replays are deduplicated by its log)
    assert(got.map(_._1).distinct.length == got.length,
      "a user emitted twice across the restart")
    // batch dual on the watermark-closed region (the EventStreamSpec
    // contract: timeout fires iff wm_ms is STRICTLY past
    // floor(first/1000) — equality would over-commit at ms resolution)
    val maxUs = base.agg(max(col("us"))).head().getLong(0)
    val expected = EventStream.st08NewUsersPerHour(spark, sf) // warm table cache
    val firsts = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("first_us"))
      .collect().filter(r => r.getLong(1) / 1000L < maxUs / 1000L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.columns.nonEmpty)
    assert(got.toSet == firsts,
      s"missing: ${(firsts -- got.toSet).take(3)} extra: ${(got.toSet -- firsts).take(3)}")
  }

  test("st15 transformWithState: kill mid-stream, restart from checkpoint == batch ledger") {
    val s = spark
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    // the TWS API runs only on RocksDB — which also makes this the
    // suite's recovery proof for the provider+API pair a large cluster
    // would actually deploy for this operator
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // 8 slices so the kill deterministically lands between commits
      val stage = EventStream.stageTwsSlices(spark, sf, slices = 8)
      val out = Scratch.dir("graft_twsrec_out_")
      val ckpt = Scratch.dir("graft_twsrec_ck_")
      def start(drain: Boolean) = {
        val w = EventStream.twsLedgerUpdates(spark, stage).toDF().writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, id: Long) =>
            df.write.mode("overwrite").parquet(s"$out/batch=$id")
          }
        (if (drain) w.trigger(Trigger.AvailableNow()) else w).start()
      }
      val q1 = start(drain = false)
      val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
      while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
             System.nanoTime < deadline) Thread.sleep(25)
      q1.stop()
      q1.awaitTermination()
      val committedBeforeKill = q1.recentProgress.count(_.numInputRows > 0)
      assert(committedBeforeKill >= 2, "never reached 2 committed batches")
      assume(committedBeforeKill < 8,
        "all batches finished before the kill - nothing mid-stream to recover")
      val q2 = start(drain = true)
      q2.awaitTermination()
      // final image per key = the emission with the key's max n (the
      // ledger count is strictly increasing per refresh)
      val w = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("n").desc)
      val got = s.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("event_type"), col("user_id"), col("n"),
          col("cents"), col("max_cents"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = Tables.events(spark, sf).filter(col("value").isNotNull)
        .select(col("event_type"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          max(col("cents")).as("mx"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // n counts every event exactly once: a RocksDB version not rolled
      // back across the kill would double-fold the replayed batch and
      // inflate n; a lost one deflates it — cell equality IS the proof
      assert(got.size == want.size,
        s"key sets differ across recovery: ${got.size} vs ${want.size}")
      want.foreach { case (k, v) =>
        assert(got.get(k).contains(v), s"ledger differs at $k after recovery")
      }
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("st16 replay safety: a replayed batch never deletes files a published manifest references") {
    // The exact claim the attempt-numbered recovery path makes
    // (EventStream.st16Commit): a replay of an already-committed batch id
    // (driver died after publishing, checkpoint lost the offset commit)
    // writes to a FRESH attempt directory and atomically re-points the
    // manifest — it never unlinks the superseded attempt's files, so a
    // reader that resolved the earlier manifest keeps reading valid data.
    val table = Scratch.dir("graft_dualreplay_tbl_")
    val b0 = Tables.events(spark, sf)
      .filter(col("event_id") < 50)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    EventStream.st16Commit(table, b0, 0L)
    val before = Lake.read(table, 0L)
    assert(before.nonEmpty && before.forall(_.contains("b0-a0/")),
      s"first commit must land at attempt 0: $before")
    // every line of a two-table manifest is tagged: no untagged paths
    assert(Lake.paths(table, before).isEmpty && Lake.paths(table, before, "raw").nonEmpty)
    // simulate the recovery replay of the SAME batch id
    EventStream.st16Commit(table, b0, 0L)
    val after = Lake.read(table, 0L)
    // (1) every file the superseded manifest referenced still exists
    before.foreach { l =>
      val p = l.split("\\|")(1)
      assert(Files.exists(Paths.get(s"$table/$p")),
        s"replay deleted $p out from under a reader of the superseded manifest")
    }
    // (2) the published manifest resolves WHOLLY to the new attempt
    assert(after.nonEmpty && after.forall(_.contains("b0-a1/")),
      s"manifest after replay must reference only attempt 1: $after")
    after.foreach { l =>
      val p = l.split("\\|")(1)
      assert(Files.exists(Paths.get(s"$table/$p")), s"missing $p")
    }
    // (3) both attempts carry identical data (replay idempotence)
    def side(v: Seq[String], s: String): Seq[String] =
      spark.read.parquet(v.filter(_.startsWith(s + "|"))
          .map(l => s"$table/${l.split("\\|")(1)}"): _*)
        .orderBy(col("event_id")).collect().map(_.toString).toSeq
    assert(side(before, "raw") == side(after, "raw"),
      "replayed raw data diverges from the superseded attempt")
  }

  test("st16 dual sink: kill mid-stream; EVERY published snapshot is cross-table consistent") {
    val stage = EventStream.st16Stage(spark, sf, nFiles = 8)
    val table = Scratch.dir("graft_dualrec_tbl_")
    val ckpt = Scratch.dir("graft_dualrec_ck_")
    def start(drain: Boolean) = {
      val w = spark.readStream
        .schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, bid: Long) =>
          EventStream.st16Commit(table, b, bid); ()
        }
      (if (drain) w.trigger(Trigger.AvailableNow()) else w).start()
    }
    val q1 = start(drain = false)
    val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
    while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
           System.nanoTime < deadline) Thread.sleep(25)
    q1.stop()
    q1.awaitTermination()
    val committedBeforeKill = q1.recentProgress.count(_.numInputRows > 0)
    assert(committedBeforeKill >= 2, "never reached 2 committed batches")
    assume(committedBeforeKill < 8,
      "all batches finished before the kill - nothing mid-stream to recover")
    val q2 = start(drain = true)
    q2.awaitTermination()
    def side(v: Long, tag: String) =
      spark.read.parquet(Lake.paths(table, Lake.read(table, v), tag): _*)
    // (1) the cross-table invariant held at EVERY published version —
    // including any version rewritten by a replayed batch across the
    // kill: raw re-aggregation == stored summary, per type, per snapshot
    val versions = Lake.versions(table).sorted
    assert(versions.size >= 8, s"expected >=8 snapshots, got $versions")
    versions.foreach { v =>
      val raw = side(v, "raw")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("c"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val sm = side(v, "sum")
        .groupBy(col("event_type"))
        .agg(sum(col("n_events")).as("n"), coalesce(sum(col("sum_cents")), lit(0L)).as("c"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(raw == sm, s"snapshot v$v: raw and summary diverge - atomicity broken")
    }
    // (2) exactly-once across the kill: the final snapshot equals the
    // batch ground truth of the staged corpus
    val fin = side(versions.max, "raw")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("c"))
      .orderBy(col("event_type")).collect().map(_.toString).toSeq
    val want = spark.read.parquet(stage)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("cents")), lit(0L)).as("c"))
      .orderBy(col("event_type")).collect().map(_.toString).toSeq
    assert(fin == want, "final snapshot != batch ground truth across the kill")
  }
}
