package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryDef, Tables}
import graft.util.Exact._
import graft.util.{Lake, Overlap, Scratch}

/** Structured Streaming surface over the `events` table. The reference
  * has no streams (SURVEY §2.5 — "Real-time insights" means interactive
  * dashboard), so this is the engine's forward-looking streaming path:
  * the same windowed aggregations exposed twice —
  *
  *  - as BATCH queries (below) so the driver's DuckDB oracle checks the
  *    window semantics;
  *  - as a true `readStream → withWatermark → window → writeStream`
  *    pipeline (see [[streamingTumblingCounts]] and EventStreamSpec),
  *    which must produce byte-identical results to the batch plan when
  *    the source is replayed with Trigger.AvailableNow.
  *
  * Windows are emitted as epoch micros of the window start — timestamps
  * cross the oracle boundary as integers (see Joins.j06).
  */
object EventStream {

  /** Streaming source over events parquet files whose `ts` encoding
    * varies by driver round (TIMESTAMP(NANOS) → raw int64 under the
    * legacy nanosAsLong flag, vs TIMESTAMP(MICROS) → TIMESTAMP_NTZ; see
    * [[graft.Tables.events]]). The file stream source needs an explicit
    * schema, so probe the files ONCE with the batch reader (footer
    * metadata only) and build the matching schema; the returned stream
    * always carries `ts` as a session-TZ TimestampType column, so
    * downstream watermarks/windows are encoding-independent.
    */
  def eventsStream(spark: SparkSession, srcDir: String,
                   options: Map[String, String] = Map.empty): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // `graft.tsEncoding` = nanos|micros pins the encoding explicitly;
    // otherwise probe the existing files — and if the directory is
    // still EMPTY (files arrive after the stream starts, a shape the
    // file source supports), fall back to micros/NTZ rather than
    // failing stream construction with 'Unable to infer schema'.
    val tsIsLong = options.get("graft.tsEncoding") match {
      case Some(enc) => enc == "nanos"
      case None =>
        try spark.read.parquet(srcDir).schema("ts").dataType == LongType
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            // nothing to probe yet — the fallback is an ASSUMPTION, not
            // an observation. Say so loudly: if the first files to land
            // are nanos-encoded, the micros/NTZ schema is wrong and the
            // caller must pin graft.tsEncoding=nanos.
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"eventsStream: $srcDir has no parquet files yet; assuming " +
                "ts=TIMESTAMP(MICROS)/NTZ. If arriving files encode ts as " +
                "INT64 nanos, set option graft.tsEncoding=nanos (or =micros " +
                "to silence this warning).")
            false
        }
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", if (tsIsLong) LongType else TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = spark.readStream.schema(schema).options(options).parquet(srcDir)
    if (tsIsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** st01 — tumbling 1-hour windows: count + exact sum per type. */
  def st01Tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
              col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start_us"), col("event_type"))

  private val st01Sql =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin

  /** st02 — sliding windows (2h length, 1h slide): every event lands in
    * two windows; the oracle reproduces that with a 2-element unnest.
    */
  def st02Sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
              col("event_type"), col("n"))
      .orderBy(col("window_start_us"), col("event_type"))

  private val st02Sql =
    """SELECT epoch_us(ws) AS window_start_us, event_type, COUNT(*) AS n
      |FROM (
      |  SELECT event_type,
      |    unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR, date_trunc('hour', ts)]) AS ws
      |  FROM events)
      |GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin

  /** st03 — streaming-dedup semantics as a batch plan: first event per
    * (user_id, event_type) in event-time order — what
    * `dropDuplicates(["user_id","event_type"])` yields on a replayed
    * stream with monotonically increasing event_id arrival order.
    */
  def st03FirstPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val st03Sql =
    """SELECT user_id, event_type, first_event_id
      |FROM (
      |  SELECT user_id, event_type, event_id AS first_event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** The genuine streaming pipeline: parquet file source → watermark →
    * tumbling window agg, drained with Trigger.AvailableNow into an
    * in-memory table. Returns the drained result for comparison against
    * [[st01Tumbling]]. Used by EventStreamSpec; a production deployment
    * would swap the sink for kafka/delta and keep the plan identical.
    */
  def streamingTumblingCounts(spark: SparkSession, dir: String,
                              queryName: String = "st_tumbling"): DataFrame = {
    val src = eventsStream(spark, Scratch.linked("graft_stream_", dir, "events.parquet"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
              col("event_type"), col("n"), col("sum_value"))
    Lake.drain(src.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete"))
    spark.table(queryName)
      .orderBy(col("window_start_us"), col("event_type"))
  }

  /** Stream-static enrichment join: the streaming side (events) joins a
    * STATIC dimension (customer) per micro-batch — no state store, the
    * static side is just re-planned (and broadcast, it being the small
    * side) each batch. This is how a 100 TB ingest enriches against
    * reference data without a stateful stream-stream join. Aggregates
    * per segment so the replay is compact and exactly comparable to the
    * batch plan (EventStreamSpec asserts equality).
    */
  def streamingStaticJoin(spark: SparkSession, dir: String,
                          queryName: String = "st_enrich"): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val src = eventsStream(spark, Scratch.linked("graft_enrich_", dir, "events.parquet"))
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
    Lake.drain(src.writeStream
      .format("memory").queryName(queryName).outputMode("complete"))
    spark.table(queryName).orderBy(col("c_mktsegment"))
  }

  /** Streaming CDC upsert sink via foreachBatch: every micro-batch
    * compacts to its latest row per user (ts, event_id ordering) and
    * MERGEs into a parquet target with the same union + latest-wins
    * window as j12_upsert. The write lands in a temp dir first and is
    * renamed over the target, so a crashed batch never leaves a torn
    * table and a REPLAYED batch converges to the same state
    * (idempotent merge — upserting the same rows twice is a no-op by
    * construction). This is the file-format-level shape of what a
    * transactional table format does with a commit log; swap the
    * rename for a Delta/Iceberg MERGE on a real lake.
    *
    * `srcDir` may hold many files; pair with maxFilesPerTrigger to
    * exercise true multi-batch incremental behavior (EventStreamSpec
    * stages 3 chunks and asserts the final table equals the batch
    * latest-per-user over everything).
    */
  def streamingUpsertSink(spark: SparkSession, srcDir: String,
                          target: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    Lake.drain(eventsStream(spark, srcDir, Map("maxFilesPerTrigger" -> "1"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val latestInBatch = batch
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        val targetPath = new org.apache.hadoop.fs.Path(target)
        val fs = targetPath.getFileSystem(sp.sparkContext.hadoopConfiguration)
        val merged =
          if (fs.exists(targetPath))
            sp.read.parquet(target).unionByName(latestInBatch)
              .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
          else latestInBatch
        // swap via retire-then-promote, checking every FS result: rename
        // returns false (not an exception) on HDFS-style failures, and a
        // discarded false after the old table is deleted would silently
        // destroy all previously merged state. Retiring the old table to
        // a side name first also means a crash mid-swap leaves either
        // the old or the new table present — never neither.
        val tmp = target + "_staging"
        merged.write.mode("overwrite").parquet(tmp)
        val retired = new org.apache.hadoop.fs.Path(target + "_retired")
        if (fs.exists(retired) && !fs.delete(retired, true))
          sys.error(s"upsert sink: cannot clear $retired")
        val hadOld = fs.exists(targetPath)
        if (hadOld && !fs.rename(targetPath, retired))
          sys.error(s"upsert sink: cannot retire $targetPath")
        if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), targetPath)) {
          if (hadOld) fs.rename(retired, targetPath) // roll back
          sys.error(s"upsert sink: cannot promote $tmp")
        }
        if (hadOld) fs.delete(retired, true)
        ()
      })
    spark.read.parquet(target).orderBy(col("user_id"))
  }

  /** Bounded-state streaming dedup — the production ingest-dedup path.
    * `dropDuplicates` on a stream keeps EVERY key's state forever;
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its event time + delay, so state is bounded by the
    * dedup horizon instead of the key cardinality — the only shape that
    * survives an unbounded 100 TB ingest. Within a batch the kept row
    * per key is the first ENCOUNTERED (partition order, not event-time
    * order), so the spec asserts key-set + membership, not a specific
    * event id.
    */
  def streamingDedupBounded(spark: SparkSession, dir: String,
                            queryName: String = "st_dedup_bounded"): DataFrame = {
    val src = eventsStream(spark, Scratch.linked("graft_dedup_", dir, "events.parquet"))
      .withColumn("tsc", col("ts"))
      .withWatermark("tsc", "24 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"))
    Lake.drain(src.writeStream
      .format("memory").queryName(queryName).outputMode("append"))
    spark.table(queryName).orderBy(col("user_id"), col("event_type"))
  }

  /** st04 — session windows (6h inactivity gap) per user: Spark's
    * `session_window` runs identically in batch and streaming; the
    * oracle rebuilds sessions relationally (lag → gap flag → cumulative
    * session id). Emits session start + event count + exact value sum.
    */
  def st04SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "6 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
              col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start_us"))

  private val st04Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts, "value",
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 6 HOUR OR
      |              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts, "value",
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  /** Custom-state streaming: per-user running stats via
    * `mapGroupsWithState`. The state accumulates the count and the exact
    * value sum in CENTS (int64) — double addition is arrival-order
    * dependent, integer cents are not, so the final state equals the
    * batch aggregate bit-for-bit on replay (asserted in
    * EventStreamSpec). Update mode: every micro-batch emits the current
    * state per touched user.
    */
  final case class UserState(n: Long, sumCents: Long)
  final case class UserUpdate(user_id: Long, n_events: Long, sum_value: Double)

  def statefulUserStats(spark: SparkSession, dir: String,
                        queryName: String = "st_user_state"): DataFrame = {
    import spark.implicits._
    val updates = eventsStream(spark, Scratch.linked("graft_state_", dir, "events.parquet"))
      .selectExpr("user_id", "CAST(round(value * 100) AS BIGINT) AS cents")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserUpdate](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val (dn, dc) = rows.foldLeft((0L, 0L)) {
            case ((n, c), (_, cents)) => (n + 1, c + cents)
          }
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          val next = UserState(prev.n + dn, prev.sumCents + dc)
          state.update(next)
          UserUpdate(uid, next.n, next.sumCents / 100.0)
      }
    Lake.drain(updates.toDF().writeStream
      .format("memory").queryName(queryName).outputMode("update"))
    // keep each user's LAST update = final state
    val t = spark.table(queryName)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    t.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Custom sessionization via `flatMapGroupsWithState` — the hand-rolled
    * equivalent of [[st04SessionWindow]] for when session semantics
    * outgrow `session_window` (e.g. per-session early emits, dynamic
    * gaps). Event-time timeout closes a user's final session once the
    * watermark passes lastTs + gap; earlier sessions close inline when a
    * later event arrives more than `gap` after them. Sums are int64
    * cents, so emitted values equal the batch aggregate bit-for-bit
    * (EventStreamSpec asserts the closed-session set).
    *
    * A session still open when the stream drains (its last event within
    * `gap` of the final watermark) is NOT emitted — that is the correct
    * append-mode contract, and the spec accounts for it.
    */
  final case class SessionState(startUs: Long, lastUs: Long, n: Long, sumCents: Long)
  final case class SessionOut(user_id: Long, session_start_us: Long,
                              n_events: Long, sum_value: Double)

  def flatSessionize(spark: SparkSession, dir: String,
                     gapHours: Int = 6,
                     queryName: String = "st_flat_sessions"): DataFrame = {
    import spark.implicits._
    val gapUs = gapHours * 3600L * 1000000L
    // the watermarked column (`tsc`) must SURVIVE the projection feeding
    // the stateful operator — EventTimeTimeout resolves its event-time
    // attribute from the child plan, and dropping it fails analysis
    val sessions = eventsStream(spark, Scratch.linked("graft_sess_", dir, "events.parquet"))
      .withColumn("tsc", col("ts"))
      .withWatermark("tsc", "0 seconds")
      .selectExpr("user_id", "tsc", "unix_micros(tsc) AS us",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state) =>
          def emit(s: SessionState) =
            SessionOut(uid, s.startUs, s.n, s.sumCents / 100.0)
          if (state.hasTimedOut) {
            // watermark passed lastUs + gap: the open session is final
            val out = state.getOption.toList.flatten.map(emit)
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e._3, e._4))
            var open = state.getOption.toList.flatten.headOption
            val closed = List.newBuilder[SessionState]
            sorted.foreach { case (_, _, us, cents) =>
              open match {
                // STRICT inequality: session_window merges only on strict
                // overlap of [t, t+gap), so an event exactly `gap` after
                // the previous one starts a NEW session
                case Some(s) if us - s.lastUs < gapUs =>
                  open = Some(SessionState(s.startUs, us, s.n + 1, s.sumCents + cents))
                case Some(s) =>
                  closed += s
                  open = Some(SessionState(us, us, 1, cents))
                case None =>
                  open = Some(SessionState(us, us, 1, cents))
              }
            }
            open.foreach { s =>
              state.update(List(s))
              // the watermark is tracked in FLOOR(ms); timeout fires when
              // wm_ms > ts_ms, so ts_ms = floor(end/1000) - 1 makes the
              // session close exactly when wm_ms >= floor((lastUs+gap)/1000)
              // — the ms-granular image of session_window's `wm >= end`
              state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000L - 1)
            }
            closed.result().map(emit).iterator
          }
      }
    Lake.drain(sessions.toDF().writeStream
      .format("memory").queryName(queryName).outputMode("append"))
    spark.table(queryName)
      .orderBy(col("user_id"), col("session_start_us"))
  }

  /** st08 — new users per hour: each user counts once, in the hour of
    * their event-time-first event. The batch contract is the a28
    * first-appearance identity (per-user min → tiny hour aggregate);
    * the streaming dual is [[streamingFirstTouch]] — a keyed
    * first-touch state machine — and EventStreamSpec asserts they agree
    * on the watermark-closed region. This is THE distinct-user growth
    * metric shape: state per user is one timestamp, never a set.
    */
  def st08NewUsersPerHour(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .groupBy(date_trunc("hour", col("first_ts")).as("h"))
      .agg(count(lit(1)).as("new_users"))
      .select(unix_micros(col("h")).as("window_start_us"), col("new_users"))
      .orderBy(col("window_start_us"))

  private val st08Sql =
    """WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1)
      |SELECT epoch_us(date_trunc('hour', first_ts)) AS window_start_us,
      |  COUNT(*) AS new_users
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  final case class FirstTouchOut(user_id: Long, first_us: Long)
  final case class FirstTouchState(minUs: Long, emitted: Boolean)

  /** Streaming first-touch: per-user min event time, emitted exactly
    * once — when the watermark passes the candidate minimum, at which
    * point no accepted future event can lower it (any event older than
    * the watermark is dropped at the source). State per user is ONE
    * long; eviction on emit keeps total state bounded by the number of
    * users still inside the watermark horizon, not by event volume.
    * Users whose minimum is still inside the horizon when the stream
    * drains are correctly withheld (append-mode contract); the spec
    * compares against the batch contract on the closed region only.
    */
  /** The first-touch state machine over any streaming events frame
    * (with `user_id` and `ts`) — shared by [[streamingFirstTouch]] and
    * StreamRecoverySpec (which drives it through a checkpointed parquet
    * sink across a mid-stream kill). The emitted record is the user's
    * event-time min, final once the watermark passes it.
    *
    * State per user is one long + an `emitted` bit KEPT AS A TOMBSTONE
    * after the emit — bounded by distinct users, the floor any
    * distinct-user metric carries. The earlier emit-and-EVICT form was
    * a latent multi-batch bug this suite's time-sliced replay exposed:
    * a user whose history spans micro-batches would, after eviction,
    * re-create state from a later event and emit a SECOND (higher)
    * "first" touch — and re-setting its timeout below the advanced
    * watermark throws. With the tombstone, post-emit events are no-ops
    * (emission requires wm_ms STRICTLY past the min's millisecond, and
    * accepted events are ≥ the wm's ms — so nothing admissible can
    * lower a finalized answer, even same-millisecond stragglers with
    * smaller microseconds, which at wm == floor(min/1000) WOULD still
    * be accepted; that boundary case is why finalization at equality
    * would over-commit).
    */
  private[graft] def firstTouchUpdates(spark: SparkSession,
      events: DataFrame): org.apache.spark.sql.Dataset[FirstTouchOut] = {
    import spark.implicits._
    events
      .withColumn("tsc", col("ts"))
      .withWatermark("tsc", "0 seconds")
      .selectExpr("user_id", "tsc", "unix_micros(tsc) AS us")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FirstTouchState, FirstTouchOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state) =>
          if (state.hasTimedOut) {
            // wm passed the candidate min: final — emit once, keep the
            // tombstone (no new timeout: tombstones never fire again)
            val s = state.get
            state.update(FirstTouchState(s.minUs, emitted = true))
            Iterator.single(FirstTouchOut(uid, s.minUs))
          } else if (state.getOption.exists(_.emitted)) {
            // already answered: accepted events cannot lower the min
            Iterator.empty
          } else {
            val batchMin = rows.map(_._3).min
            val newMin = state.getOption.fold(batchMin)(s => math.min(s.minUs, batchMin))
            // the candidate is final only when wm_ms is STRICTLY past
            // floor(min/1000): the ms-resolution watermark still admits
            // same-millisecond events with SMALLER microseconds at
            // equality, so finalizing at == would over-commit (timeout
            // ts = min/1000 fires at wm_ms >= min/1000 + 1). If the wm
            // has already passed — a user whose pending state meets a
            // later batch — emit inline instead of setting a timeout in
            // the past (which throws)
            if (state.getCurrentWatermarkMs() > newMin / 1000L) {
              state.update(FirstTouchState(newMin, emitted = true))
              Iterator.single(FirstTouchOut(uid, newMin))
            } else {
              state.update(FirstTouchState(newMin, emitted = false))
              state.setTimeoutTimestamp(newMin / 1000L)
              Iterator.empty
            }
          }
      }
  }

  def streamingFirstTouch(spark: SparkSession, dir: String,
                          queryName: String = "st_first_touch"): DataFrame = {
    val firsts = firstTouchUpdates(spark,
      eventsStream(spark, Scratch.linked("graft_ft_", dir, "events.parquet")))
    Lake.drain(firsts.toDF().writeStream
      .format("memory").queryName(queryName).outputMode("append"))
    spark.table(queryName).orderBy(col("user_id"))
  }

  /** st05 — click→purchase attribution: every purchase a user makes
    * within (click, click + 1 h] is attributed to that click. The
    * contract query is the BATCH interval join (one shuffle on user_id;
    * the range predicate evaluates post-join per user group); the
    * streaming dual — a real stream-stream inner join with watermarks
    * on BOTH sides, state bounded by the 1 h interval — is
    * [[streamingAttributionJoin]], asserted pair-identical to this plan
    * by EventStreamSpec.
    */
  def st05AttributionJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"),
        floor(col("value") * 100).cast("long").as("p_cents"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_us") > col("click_us") &&
        col("p_us") <= col("click_us") + 3600L * 1000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_attributed"),
           countDistinct(col("click_id")).as("n_converting_clicks"),
           sum(col("p_cents")).as("attributed_cents"),
           min(col("p_us") - col("click_us")).as("min_delay_us"))
      .orderBy(col("user_id"))
  }

  private val st05Sql =
    """WITH c AS (
      |  SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, epoch_us(ts) AS p_us,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS p_cents
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, COUNT(*) AS n_attributed,
      |  COUNT(DISTINCT c.click_id) AS n_converting_clicks,
      |  CAST(SUM(p.p_cents) AS BIGINT) AS attributed_cents,
      |  MIN(p.p_us - c.click_us) AS min_delay_us
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.p_us > c.click_us AND p.p_us <= c.click_us + CAST(3600000000 AS BIGINT)
      |GROUP BY c.user_id
      |ORDER BY c.user_id""".stripMargin

  /** The streaming dual of [[st05AttributionJoin]]: a stream-stream
    * INNER join. Both sides carry watermarks and the join condition
    * bounds event time in both directions, so the state store holds at
    * most ~1 h + watermark of either side — the canonical bounded-state
    * stream-stream join shape. Emits raw attributed PAIRS in append
    * mode (aggregation happens downstream/batch); EventStreamSpec
    * asserts the pair set equals the batch plan's.
    */
  def streamingAttributionJoin(spark: SparkSession, dir: String,
                               queryName: String = "st_attrib"): DataFrame = {
    val stageDir = Scratch.linked("graft_stream_", dir, "events.parquet")
    def src() = eventsStream(spark, stageDir)
      .withColumn("tsc", col("ts"))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id"), col("tsc").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("tsc").as("p_ts"),
        floor(col("value") * 100).cast("long").as("p_cents"))
      .withWatermark("p_ts", "1 hour")
    val pairs = clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_ts") > col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("p_ts")).as("p_us"), col("p_cents"))
    Lake.drain(pairs.writeStream
      .format("memory").queryName(queryName).outputMode("append"))
    spark.table(queryName)
      .orderBy(col("user_id"), col("click_id"), col("p_us"))
  }

  /** Exact-integer document quality gate shared by the st06 batch
    * contract and its streaming twin: length bounds plus a lexical-
    * diversity floor (distinct words >= 30% of words, in integer math so
    * every engine agrees on the boundary rows).
    */
  private def gated(docs: DataFrame): DataFrame = docs
    .withColumn("ws", split(trim(col("text")), "\\s+"))
    .withColumn("verdict",
      when(col("n_chars") >= 100 && col("n_chars") <= 5000 &&
        size(array_distinct(col("ws"))) * 10 >= size(col("ws")) * 3,
        lit("pass")).otherwise(lit("quarantine")))

  /** st06 (batch contract) — per-source pass/quarantine accounting for
    * the ingest quality gate. The streaming twin
    * [[streamingQualityGate]] applies the SAME gate per micro-batch and
    * fans out to two parquet sinks (accepted corpus vs quarantine for
    * human/model review) inside one foreachBatch — the standard
    * split-sink ingest topology; EventStreamSpec asserts the drained
    * sinks reproduce this batch result exactly.
    */
  def st06QualityGate(spark: SparkSession, dir: String): DataFrame =
    gated(graft.Tables.documents(spark, dir))
      .groupBy(col("source"), col("verdict"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("verdict"))

  private val st06Sql =
    """WITH g AS (
      |  SELECT source,
      |    CASE WHEN n_chars >= 100 AND n_chars <= 5000
      |           AND len(list_distinct(string_split_regex(trim(text), '\s+'))) * 10
      |               >= len(string_split_regex(trim(text), '\s+')) * 3
      |         THEN 'pass' ELSE 'quarantine' END AS verdict
      |  FROM documents)
      |SELECT source, verdict, COUNT(*) AS n
      |FROM g GROUP BY source, verdict
      |ORDER BY source, verdict""".stripMargin

  /** Streaming twin of st06: documents arrive as a file stream, each
    * micro-batch is gated and appended to a pass sink and a quarantine
    * sink (two writes inside ONE foreachBatch — atomic per batch, no
    * second stream). Returns the per-source accounting read back from
    * the two sinks.
    */
  def streamingQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val stageDir = Scratch.linked("graft_gate_", dir, "documents.parquet")
    val out = Scratch.dir("graft_gate_out_")
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    Lake.drain(gated(spark.readStream.schema(docsSchema).parquet(stageDir))
      .select(col("doc_id"), col("source"), col("verdict"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.filter(col("verdict") === "pass")
          .write.mode("append").parquet(s"$out/pass")
        batch.filter(col("verdict") === "quarantine")
          .write.mode("append").parquet(s"$out/quarantine")
        ()
      })
    // a sink directory only exists if some batch wrote that verdict —
    // an all-pass corpus must yield the correct accounting, not a
    // PATH_NOT_FOUND from the empty quarantine side
    val readable = Seq(s"$out/pass", s"$out/quarantine").filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    readable.map(spark.read.parquet(_))
      .reduce(_.unionByName(_))
      .groupBy(col("source"), col("verdict"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("verdict"))
  }

  /** st07 — conversion-funnel drop-off: every click LEFT OUTER interval-
    * joined to the purchases it could have driven; clicks with no
    * purchase within (click, click+1h] count as unattributed. The
    * contract query is the batch plan (one shuffle on user_id, the same
    * exchange the interval join and the aggregate share); the streaming
    * dual — a watermarked stream-stream LEFT OUTER join, where unmatched
    * clicks emit with nulls only once the watermark proves no purchase
    * can still arrive — is [[streamingUnattributedClicks]], asserted
    * equal to this plan on the watermark-closed region by
    * EventStreamSpec.
    */
  def st07UnattributedClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_us") > col("click_us") &&
        col("p_us") <= col("click_us") + 3600L * 1000000L, "left")
      .groupBy(col("user_id"))
      .agg(countDistinct(col("click_id")).as("n_clicks"),
           countDistinct(when(col("p_user").isNull, col("click_id")))
             .as("n_unattributed"))
      .orderBy(col("user_id"))
  }

  private val st07Sql =
    """WITH c AS (
      |  SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id AS p_user, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id,
      |  CAST(COUNT(DISTINCT c.click_id) AS BIGINT) AS n_clicks,
      |  CAST(COUNT(DISTINCT CASE WHEN p.p_user IS NULL THEN c.click_id END) AS BIGINT)
      |    AS n_unattributed
      |FROM c LEFT JOIN p ON c.user_id = p.p_user
      |  AND p.p_us > c.click_us AND p.p_us <= c.click_us + CAST(3600000000 AS BIGINT)
      |GROUP BY c.user_id
      |ORDER BY c.user_id""".stripMargin

  /** The streaming dual of [[st07UnattributedClicks]]: a stream-stream
    * LEFT OUTER join with watermarks on both sides. Matched pairs emit
    * as they join; an unmatched click emits (with null purchase columns)
    * only when the watermark passes click_ts + 1 h — the state store
    * can then prove no qualifying purchase will arrive. Returns the raw
    * outer-join rows in append mode. Clicks newer than
    * max(event time) − (1 h + watermark) are still open when a finite
    * replay drains, so callers compare against batch on the CLOSED
    * region only (the flatMapGroupsWithState convention).
    */
  def streamingUnattributedClicks(spark: SparkSession, dir: String,
                                  queryName: String = "st_unattrib"): DataFrame = {
    val stageDir = Scratch.linked("graft_stream_", dir, "events.parquet")
    def src() = eventsStream(spark, stageDir)
      .withColumn("tsc", col("ts"))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id"), col("tsc").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("tsc").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_ts") > col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"), "leftOuter")
      .select(col("user_id"), col("click_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("p_ts")).as("p_us"))
    Lake.drain(joined.writeStream
      .format("memory").queryName(queryName).outputMode("append"))
    spark.table(queryName)
      .orderBy(col("user_id"), col("click_id"), col("p_us"))
  }

  /** st09 — watermark-lateness audit: BEFORE picking a streaming
    * watermark, replay history in (simulated) arrival order and count
    * what each candidate delay would drop. Arrival = event time + a
    * deterministic bounded jitter (≤24 h, the a36 multiplicative hash —
    * the driver's synthetic events arrive exactly in event-time order,
    * so realistic disorder has to be planted); lateness of a row is
    * how far the per-type running event-time maximum has already moved
    * past it at its arrival position — precisely the quantity Spark's
    * watermark compares against. The output is the drop-rate curve
    * over candidate watermarks {0, 1h, 6h, 24h}: the number an SRE
    * reads to trade state size against data loss.
    *
    * Scale shape: one window exchange on event_type (running max over
    * arrival order), then the 4-way candidate fan-out explodes
    * MAP-SIDE and the final groupBy reuses the same partitioning — the
    * w20/w21 single-exchange contract.
    */
  def st09LatenessAudit(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    // default running frame; (arr, event_id) has no ties, so RANGE vs
    // ROWS is immaterial and both engines agree
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("arr"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("arr", expr(
        s"us + ((event_id % $P) * 2654435761 % $P * 401) % 86400000000"))
      .withColumn("runmax", max(col("us")).over(wRun))
      .select(col("event_type"), (col("runmax") - col("us")).as("late_us"),
        explode(expr("array(CAST(0 AS BIGINT), 3600000000, 21600000000, " +
          "86400000000)")).as("w_us"))
      .groupBy(col("event_type"), col("w_us"))
      .agg(sum(when(col("late_us") > col("w_us"), 1L).otherwise(0L)).as("n_late"),
           count(lit(1)).as("n_total"))
      .withColumn("late_ppm", expr("(1000000 * n_late) div n_total"))
      .orderBy(col("event_type"), col("w_us"))
  }

  private val st09Sql =
    """WITH a AS (
      |  SELECT event_type, event_id, epoch_us(ts) us,
      |    epoch_us(ts) + ((event_id % 2147483647) * 2654435761 % 2147483647 * 401) % 86400000000 arr
      |  FROM events),
      |r AS (
      |  SELECT event_type, us,
      |    MAX(us) OVER (PARTITION BY event_type ORDER BY arr, event_id
      |                  ROWS UNBOUNDED PRECEDING) runmax
      |  FROM a),
      |x AS (SELECT event_type, runmax - us AS late_us,
      |        unnest([CAST(0 AS BIGINT), 3600000000, 21600000000, 86400000000]) w_us
      |      FROM r)
      |SELECT event_type, w_us,
      |  CAST(SUM(CASE WHEN late_us > w_us THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  COUNT(*) AS n_total,
      |  (1000000 * CAST(SUM(CASE WHEN late_us > w_us THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS late_ppm
      |FROM x GROUP BY event_type, w_us
      |ORDER BY event_type, w_us""".stripMargin

  /** st10 — exactly-once accounting under at-least-once delivery: every
    * 7th event is redelivered (the deterministic stand-in for a source
    * that retries on ack timeout), and the pipeline must converge to the
    * original totals. Batch semantics here: union + dropDuplicates on
    * the event id (one shuffle on a high-cardinality key — no skew), with
    * both the delivered and deduplicated ledgers emitted so the contract
    * row PROVES duplicates existed and were removed. The streaming dual
    * is [[streamingRedeliveryDedup]]: the same dedup as
    * `dropDuplicatesWithinWatermark` with watermark-bounded state (state
    * = ids inside the lateness horizon, not the full history — the only
    * dedup shape that survives an unbounded stream), asserted equal to
    * this batch result by EventStreamSpec across multiple micro-batches.
    */
  def st10RedeliveryDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val atLeastOnce = base.unionAll(base.filter(col("event_id") % 7 === 0))
    val delivered = atLeastOnce.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_delivered"))
    val unique = atLeastOnce.dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"), sum(col("cents")).as("sum_cents"))
    delivered.join(unique, Seq("event_type")).orderBy(col("event_type"))
  }

  private val st10Sql =
    """WITH base AS (
      |  SELECT event_id, event_type, CAST(round("value" * 100) AS BIGINT) cents
      |  FROM events),
      |ao AS (SELECT * FROM base
      |       UNION ALL SELECT * FROM base WHERE event_id % 7 = 0),
      |d AS (SELECT event_type, COUNT(*) n_delivered FROM ao GROUP BY 1),
      |u AS (SELECT event_type, COUNT(*) n_unique,
      |        CAST(SUM(cents) AS BIGINT) sum_cents
      |      FROM (SELECT DISTINCT * FROM ao) GROUP BY 1)
      |SELECT d.event_type, d.n_delivered, u.n_unique, u.sum_cents
      |FROM d JOIN u USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** Streaming dual of [[st10RedeliveryDedup]]: stages the corpus PLUS
    * the redelivered subset as separate files, replays them through the
    * file source one file per trigger (so duplicates genuinely arrive in
    * a LATER micro-batch than their originals and the dedup must come
    * from the state store, not intra-batch distinct), and deduplicates
    * with `dropDuplicatesWithinWatermark` — state bounded by the
    * watermark horizon. Returns the per-type aggregate of the appended
    * (first-occurrence) rows for comparison against the batch contract.
    */
  def streamingRedeliveryDedup(spark: SparkSession, dir: String,
                               queryName: String = "st_redeliver"): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    // one flat dir of data files for the file source, original first
    val flat = Scratch.dir("graft_redeliver_src_")
    Scratch.oneFile(base, s"$flat/0_original.parquet", 1000000L)
    Scratch.oneFile(base.filter(col("event_id") % 7 === 0),
      s"$flat/1_redelivered.parquet", 1060000L)
    val src = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(flat)
      .withWatermark("ts", "48 hours")
      .dropDuplicatesWithinWatermark("event_id")
    Lake.drain(src.writeStream
      .format("memory").queryName(queryName).outputMode("append"))
    spark.table(queryName)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("event_type"))
  }

  /** st11 — stream-static dimension enrichment: each event keys into a
    * small static dimension (nation, via user_id mod 25) and the
    * per-dimension ledger aggregates counts + exact cents. This is THE
    * bread-and-butter streaming shape — an unbounded fact stream
    * decorated by a bounded, slowly-changing dimension — and in Spark
    * it is a stream-static join: the static side broadcasts, needs no
    * watermark and holds no state, so the only stateful operator is the
    * aggregate. Batch semantics here; the streaming dual is
    * [[streamingStaticEnrich]], asserted equal by EventStreamSpec.
    */
  def st11StaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    Tables.events(spark, dir)
      .select(pmod(col("user_id"), lit(25L)).as("nk"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .join(broadcast(dim), col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("n_name"))
  }

  private val st11Sql =
    """WITH e AS (
      |  SELECT user_id % 25 nk, CAST(round("value" * 100) AS BIGINT) cents
      |  FROM events)
      |SELECT n.n_name, COUNT(*) AS n_events,
      |  CAST(SUM(e.cents) AS BIGINT) AS sum_cents
      |FROM e JOIN nation n ON e.nk = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  /** Streaming dual of [[st11StaticEnrich]]: the events file stream
    * joined to the STATIC nation DataFrame (no watermark, no state on
    * the join — the planner broadcasts the bounded side into every
    * micro-batch), then the running per-nation aggregate in complete
    * mode. Multiple micro-batches (maxFilesPerTrigger=1 over a 4-way
    * split) prove the aggregate accumulates across batches.
    */
  def streamingStaticEnrich(spark: SparkSession, dir: String,
                            queryName: String = "st_static_enrich"): DataFrame = {
    val stageDir = Scratch.dir("graft_enrich_")
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .repartition(4).write.mode("overwrite").parquet(stageDir)
    val dim = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val src = spark.readStream
      .schema(spark.read.parquet(stageDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
      .select(pmod(col("user_id"), lit(25L)).as("nk"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .join(broadcast(dim), col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    Lake.drain(src.writeStream
      .format("memory").queryName(queryName).outputMode("complete"))
    spark.table(queryName).orderBy(col("n_name"))
  }

  /** st12 — CDC apply: materialize an entity table from a change log.
    * The event log is read as a CDC stream over user profiles — 'signup'
    * and 'purchase' upsert the profile's value, 'error' is the tombstone
    * — and the result is each LIVE user's latest state. Semantics are
    * last-writer-wins by EVENT TIME (ts, event_id), not arrival order:
    * that is the only deterministic contract an out-of-order log admits,
    * and it is what the streaming dual enforces from its state store.
    *
    * Batch form: one window rank per user (shuffle on the
    * high-cardinality user key, no skew), rn=1, tombstones dropped. The
    * streaming dual is [[streamingCdcApply]] — `mapGroupsWithState`
    * holding ONE fixed-size record per user (ts/id/live/cents, never a
    * history), the state shape that survives an unbounded log — asserted
    * equal to this batch result by EventStreamSpec across out-of-order
    * multi-batch replay.
    */
  def st12CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val ops = Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    ops
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("n_ops"), col("us").as("last_us"),
        col("cents").as("last_cents"))
      .orderBy(col("user_id"))
  }

  private val st12Sql =
    """WITH ops AS (
      |  SELECT user_id, epoch_us(ts) us, event_id, event_type,
      |    CAST(round("value" * 100) AS BIGINT) cents
      |  FROM events WHERE event_type IN ('signup', 'purchase', 'error')),
      |r AS (
      |  SELECT user_id, us, event_type, cents,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) rn,
      |    COUNT(*) OVER (PARTITION BY user_id) n_ops
      |  FROM ops)
      |SELECT user_id, CAST(n_ops AS BIGINT) AS n_ops, us AS last_us,
      |  cents AS last_cents
      |FROM r WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  final case class CdcState(nOps: Long, lastUs: Long, lastId: Long,
                            live: Boolean, cents: Long)
  final case class CdcUpdate(user_id: Long, n_ops: Long, last_us: Long,
                             live: Boolean, last_cents: Long)

  /** Streaming dual of [[st12CdcApply]]: the change log replays through
    * the file source one file per trigger over an event-time-SHUFFLED
    * 4-way split (so later micro-batches genuinely carry earlier ops),
    * and `mapGroupsWithState` applies last-writer-wins by (us, event_id)
    * from a single fixed-size state record per user. The memory sink in
    * update mode receives one cumulative update per touched user per
    * batch; the final image is each user's last update (max n_ops, which
    * is strictly increasing per user).
    */
  /** Stage the CDC change log as an `nFiles`-way event-id hash split —
    * arrival order decorrelated from event time, so later micro-batches
    * genuinely carry earlier ops. Shared by [[streamingCdcApply]] and
    * the crash-recovery spec (which wants more, smaller files so a
    * mid-stream kill deterministically lands between commits).
    */
  private[graft] def stageCdcLog(spark: SparkSession, dir: String,
                                 nFiles: Int = 4): String = {
    val stageDir = Scratch.dir("graft_cdc_")
    Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
        col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .repartition(nFiles, col("event_id"))
      .write.mode("overwrite").parquet(stageDir)
    stageDir
  }

  /** The last-writer-wins CDC state machine as a one-file-per-trigger
    * stream over a staged log — shared by [[streamingCdcApply]] and the
    * crash-recovery spec. ONE fixed-size state record per user; n_ops
    * counts every applied op exactly once, which makes it a sharp
    * exactly-once detector across checkpoint recovery (a replayed batch
    * would inflate it, a lost one would deflate it).
    */
  private[graft] def cdcUpdates(spark: SparkSession, stageDir: String)
      : org.apache.spark.sql.Dataset[CdcUpdate] = {
    import spark.implicits._
    spark.readStream
      .schema(spark.read.parquet(stageDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[CdcState, CdcUpdate](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var s = state.getOption.getOrElse(CdcState(0L, Long.MinValue, Long.MinValue, false, 0L))
          rows.foreach { case (_, us, id, typ, cents) =>
            val newer = us > s.lastUs || (us == s.lastUs && id > s.lastId)
            s =
              if (newer) CdcState(s.nOps + 1, us, id, typ != "error", cents)
              else s.copy(nOps = s.nOps + 1)
          }
          state.update(s)
          CdcUpdate(uid, s.nOps, s.lastUs, s.live, s.cents)
      }
  }

  def streamingCdcApply(spark: SparkSession, dir: String,
                        queryName: String = "st_cdc_apply"): DataFrame = {
    val updates = cdcUpdates(spark, stageCdcLog(spark, dir))
    Lake.drain(updates.toDF().writeStream
      .format("memory").queryName(queryName).outputMode("update"))
    val t = spark.table(queryName)
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_ops").desc)
    t.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("live"))
      .select(col("user_id"), col("n_ops"), col("last_us"), col("last_cents"))
      .orderBy(col("user_id"))
  }

  /** Stages the events' (event_id, event_type, cents) as `nFiles`
    * event-id hash slices, the input of the lake sinks st14 and st16. */
  private[graft] def st16Stage(spark: SparkSession, dir: String,
                               nFiles: Int): String = {
    val stage = Scratch.dir("graft_lake_src_")
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .repartition(nFiles, col("event_id"))
      .write.mode("overwrite").parquet(stage)
    stage
  }

  /** Streams 4 staged slices of `dir`'s events, one per micro-batch, into
    * a fresh table that `commit` publishes each batch to; returns the
    * table directory. */
  private[graft] def lakeRun(spark: SparkSession, dir: String,
                             commit: (String, DataFrame, Long) => Unit): String = {
    val stage = st16Stage(spark, dir, 4)
    val table = Scratch.dir("graft_lake_tbl_")
    Lake.drain(spark.readStream.schema(spark.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
      .writeStream
      .foreachBatch { (b: DataFrame, bid: Long) => commit(table, b, bid) })
    table
  }

  /** st14 — exactly-once lake commit from a stream, the write side of
    * [[graft.operators.ScaleDiag.l07TimeTravel]]'s snapshot reads. Each
    * micro-batch writes a fresh attempt directory `data/b<batchId>-a<n>`
    * (a replayed batch rewrites the same rows next to the superseded
    * attempt) and publishes version <batchId> through [[graft.util.Lake]],
    * whose scaladoc holds the commit protocol and why a replay is
    * idempotent; Round8OpsSpec re-runs the last commit to check it. This is how Structured
    * Streaming achieves exactly-once onto Iceberg/Delta-style tables
    * without any sink-side dedup state (contrast st13, whose state is
    * the point).
    *
    * Scale shape: commit cost is one metadata file per batch,
    * independent of data volume; the final contract aggregate is an
    * ordinary partial+final sum over the snapshot's file list.
    */
  private[graft] def st14Commit(table: String, batch: DataFrame, bid: Long): Unit = {
    Lake.publish(table, bid,
      Lake.prior(table, bid) ++ Lake.append(batch, table, Lake.attempt(table, s"data/b$bid")))
  }

  def st14ManifestSink(spark: SparkSession, dir: String): DataFrame = {
    val table = lakeRun(spark, dir, st14Commit)
    val versions = Lake.versions(table)
    spark.read.parquet(Lake.paths(table, Lake.read(table, versions.max)): _*)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .withColumn("n_snapshots", lit(versions.size.toLong))
      .orderBy(col("event_type"))
  }

  private val st14Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) n_events,
      |  CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) sum_cents,
      |  CAST(4 AS BIGINT) n_snapshots
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** One dual-table commit: batch bid writes its raw rows and its
    * per-type summary to a fresh attempt directory `b<bid>-a<n>`, then
    * publishes ONE manifest listing both tables' files in the `raw|` and
    * `sum|` sections ([[graft.util.Lake]] holds the protocol). A replay
    * of the batch writes the next attempt, so the files an earlier
    * `manifest-v<bid>` names are never deleted under a reader; the
    * superseded attempt's files become orphans for the l05-style vacuum.
    */
  private[graft] def st16Commit(table: String, batch: DataFrame, bid: Long): Unit = {
    val at = Lake.attempt(table, s"b$bid")
    // the two staged writes are independent (the manifest flip below is
    // the only commit point; see graft.util.Overlap)
    val (rawFiles, sumFiles) = Overlap(batch.sparkSession) { o =>
      val raw = o.fork(Lake.append(batch, table, s"$at/raw"))
      val summary = Lake.append(batch.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
        .coalesce(1), table, s"$at/sum")
      (raw.join(), summary)
    }
    Lake.publish(table, bid,
      Lake.prior(table, bid) ++ rawFiles.map("raw|" + _) ++ sumFiles.map("sum|" + _))
  }

  /** st16 — ATOMIC dual-table commit from a stream: one micro-batch
    * updates a raw table AND its per-type summary under a SINGLE
    * manifest flip ([[graft.util.Lake]]), so no reader can ever observe
    * the raw table at batch N with the summary at batch N−1 — the
    * streaming form of [[graft.operators.ScaleDiag.l12AtomicMultiTable]]'s
    * transaction, and the property every medallion (bronze+silver)
    * pipeline needs when downstream joins both layers. [[st14ManifestSink]]
    * owns the single-table exactly-once sink; this op owns CROSS-TABLE
    * snapshot consistency: the contract reads both sides through the
    * final manifest and emits their per-type agreement alongside the
    * rollup. StreamRecoverySpec kills the stream between commits,
    * restarts it, and asserts the invariant held at EVERY published
    * version, not just the last.
    *
    * Scale shape: per-batch appends + an O(files) manifest write per
    * commit; the read is manifest-pruned like every lakehouse scan.
    */
  def st16AtomicDualSink(spark: SparkSession, dir: String): DataFrame = {
    val table = lakeRun(spark, dir, st16Commit)
    val versions = Lake.versions(table)
    val lines = Lake.read(table, versions.max)
    val raw = spark.read.parquet(Lake.paths(table, lines, "raw"): _*)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("raw_cents"))
    val sum2 = spark.read.parquet(Lake.paths(table, lines, "sum"): _*)
      .groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("sum_n"), sum(col("sum_cents")).as("summary_cents"))
    raw.join(sum2, Seq("event_type"))
      .select(col("event_type"), col("n_events"),
        coalesce(col("raw_cents"), lit(0L)).as("raw_cents"),
        coalesce(col("summary_cents"), lit(0L)).as("summary_cents"),
        (col("n_events") === col("sum_n") &&
          coalesce(col("raw_cents"), lit(0L)) ===
            coalesce(col("summary_cents"), lit(0L))).as("consistent"),
        lit(versions.size.toLong).as("n_snapshots"))
      .orderBy(col("event_type"))
  }

  private val st16Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) n_events,
      |  CAST(COALESCE(SUM(CAST(round("value" * 100) AS BIGINT)), 0) AS BIGINT) raw_cents,
      |  CAST(COALESCE(SUM(CAST(round("value" * 100) AS BIGINT)), 0) AS BIGINT) summary_cents,
      |  TRUE AS consistent, CAST(4 AS BIGINT) n_snapshots
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** st15 — per-entity stateful ledger through Spark 4's
    * `transformWithState` tier, the arbitrary-stateful API that
    * supersedes mapGroupsWithState (typed ValueState/ListState/MapState
    * handles, timers, TTL, RocksDB-backed). The batch contract below is
    * the ledger's ground truth: per (event_type, user) running
    * (n, Σcents, max) — folded to a per-type rollup whose bit_xor of
    * per-user md5 images pins every individual ledger cell, not just
    * the totals. [[streamingTwsLedger]] is the streaming dual: a
    * [[SpendLedgerProcessor]] holding ONE ValueState[Ledger] per key,
    * drained across mtime-ordered micro-batches on the RocksDB store
    * (transformWithState requires it), asserted cell-identical to the
    * batch ledger in EventStreamSpec.
    *
    * Scale shape (batch): one partial+final hash aggregate to the
    * (type, user) ledger, one bounded rollup. Streaming: state is one
    * fixed-size record per live (type, user) key in RocksDB — the
    * layout that spills to disk instead of OOMing executors when the
    * key space outgrows memory at 100 TB.
    */
  def st15StatefulLedger(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
        max(col("cents")).as("mx"))
      .withColumn("img", expr(
        "CAST(conv(substring(md5(concat('lg:', event_type, ':', " +
          "CAST(user_id AS STRING), ':', CAST(n AS STRING), ':', " +
          "CAST(sc AS STRING), ':', CAST(mx AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
        sum(col("sc")).as("sum_cents"), max(col("mx")).as("max_single"),
        expr("bit_xor(img)").as("ledger_checksum"))
      .orderBy(col("event_type"))

  private val st15Sql =
    """WITH l AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) n,
      |    CAST(SUM(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) sc,
      |    CAST(MAX(CAST(round("value" * 100) AS BIGINT)) AS BIGINT) mx
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1, 2),
      |i AS (
      |  SELECT event_type, n, sc, mx,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 16),
      |        i -> CAST(strpos('0123456789abcdef', substr(md5(
      |               concat('lg:', event_type, ':', CAST(user_id AS VARCHAR),
      |                 ':', CAST(n AS VARCHAR), ':', CAST(sc AS VARCHAR),
      |                 ':', CAST(mx AS VARCHAR))
      |             ), CAST(i AS INTEGER), 1)) - 1 AS BIGINT))),
      |      (a, b) -> a * 16 + b) img
      |  FROM l)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) n_users,
      |  CAST(SUM(n) AS BIGINT) n_events, CAST(SUM(sc) AS BIGINT) sum_cents,
      |  CAST(MAX(mx) AS BIGINT) max_single,
      |  CAST(bit_xor(img) AS BIGINT) ledger_checksum
      |FROM i GROUP BY 1 ORDER BY event_type""".stripMargin

  final case class Ledger(n: Long, cents: Long, maxCents: Long)
  final case class LedgerOut(event_type: String, user_id: Long,
                             n: Long, cents: Long, max_cents: Long)

  /** The transformWithState processor behind [[streamingTwsLedger]]:
    * one ValueState[Ledger] per (event_type, user) key, folded over
    * each micro-batch's rows, re-emitted (update semantics) with every
    * refresh. No timers — the ledger is a pure running state; TTL NONE
    * because the batch dual has no horizon either.
    */
  final class SpendLedgerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, Long), (String, Long, Long), LedgerOut] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[Ledger] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[Ledger]("ledger",
        org.apache.spark.sql.Encoders.product[Ledger],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: (String, Long),
        rows: Iterator[(String, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[LedgerOut] = {
      val prev = if (state.exists()) state.get() else Ledger(0L, 0L, Long.MinValue)
      val upd = rows.foldLeft(prev) { (l, r) =>
        Ledger(l.n + 1, l.cents + r._3, math.max(l.maxCents, r._3))
      }
      state.update(upd)
      Iterator.single(LedgerOut(key._1, key._2, upd.n, upd.cents, upd.maxCents))
    }
  }

  /** Streaming dual of [[st15StatefulLedger]]: stages the corpus as
    * mtime-ordered slices, folds them through [[SpendLedgerProcessor]]
    * one file per trigger on the RocksDB state store, and returns the
    * LAST emitted image per (event_type, user) — which EventStreamSpec
    * asserts cell-identical to the batch ledger. Update-mode memory
    * sink: every refresh is appended, the final image is the row with
    * the key's max n.
    */
  /** Stages the (event_type, user_id, cents) frame as `slices`
    * mtime-ordered time slices for the file stream source — the
    * StreamRecoverySpec convention: time slicing makes user histories
    * genuinely span micro-batches so the ledger fold exercises
    * cross-batch state, not intra-batch math.
    */
  private[graft] def stageTwsSlices(spark: SparkSession, dir: String,
                                    slices: Int): String = {
    val us = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(unix_micros(col("ts")).as("us"),
        col("event_type"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val tcuts = us.stat.approxQuantile("us",
      (1 until slices).map(_.toDouble / slices).toArray, 0.001)
    val bounds = (Seq(Long.MinValue) ++ tcuts.map(_.toLong) :+ Long.MaxValue)
      .sliding(2).toSeq
    val stage = Scratch.dir("graft_tws_src_")
    bounds.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      Scratch.oneFile(us.filter(col("us") > lo && col("us") <= hi)
        .select("event_type", "user_id", "cents"),
        f"$stage/slice_$i%02d.parquet", 1000000L + i * 60000L)
    }
    stage
  }

  /** The transformWithState dataflow over a staged slice dir: one file
    * per trigger → [[SpendLedgerProcessor]] keyed by (event_type, user).
    * Callers must run it on the RocksDB state store provider (the API
    * requires it) — see [[streamingTwsLedger]] / StreamRecoverySpec.
    */
  private[graft] def twsLedgerUpdates(spark: SparkSession, stageDir: String)
      : org.apache.spark.sql.Dataset[LedgerOut] = {
    import spark.implicits._
    val schema = spark.read
      .parquet(s"$stageDir/slice_00.parquet").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
      .as[(String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new SpendLedgerProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  def streamingTwsLedger(spark: SparkSession, dir: String,
                         queryName: String = "st_tws_ledger",
                         slices: Int = 4): DataFrame = {
    val stage = stageTwsSlices(spark, dir, slices)
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      Lake.drain(twsLedgerUpdates(spark, stage).toDF().writeStream
        .format("memory").queryName(queryName).outputMode("update"))
      val w = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("n").desc)
      spark.table(queryName)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("event_type"), col("user_id"), col("n"),
          col("cents"), col("max_cents"))
    } finally {
      prior match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("st16_atomic_dual_sink",
      "streaming dual-table atomic commit: raw + summary under one manifest flip, cross-table snapshot consistency",
      st16AtomicDualSink, Some(st16Sql)),
    QueryDef("st15_stateful_ledger",
      "per-(type,user) running ledger: batch ground truth of the transformWithState dual",
      st15StatefulLedger, Some(st15Sql)),
    QueryDef("st14_manifest_sink",
      "exactly-once streaming lake commit: per-batch manifest flip, snapshot read-back",
      st14ManifestSink, Some(st14Sql)),
    QueryDef("st12_cdc_apply",
      "CDC apply: last-writer-wins entity image from an out-of-order change log",
      st12CdcApply, Some(st12Sql)),
    QueryDef("st11_static_enrich",
      "stream-static dimension enrichment ledger (broadcast dim, exact cents)",
      st11StaticEnrich, Some(st11Sql)),
    QueryDef("st10_redelivery_dedup",
      "exactly-once totals under at-least-once redelivery (id dedup ledger)",
      st10RedeliveryDedup, Some(st10Sql)),
    QueryDef("st09_lateness_audit",
      "watermark drop-rate curve from replayed arrival disorder",
      st09LatenessAudit, Some(st09Sql)),
    QueryDef("st01_tumbling_counts", "tumbling 1h window count+sum", st01Tumbling, Some(st01Sql)),
    QueryDef("st07_unattributed_clicks",
      "funnel drop-off: LEFT OUTER interval join + distinct accounting",
      st07UnattributedClicks, Some(st07Sql)),
    QueryDef("st02_sliding_counts", "sliding 2h/1h window counts", st02Sliding, Some(st02Sql)),
    QueryDef("st03_first_per_key", "streaming-dedup first event per key", st03FirstPerKey, Some(st03Sql)),
    QueryDef("st04_session_window", "session windows (6h gap) per user", st04SessionWindow, Some(st04Sql)),
    QueryDef("st08_new_users", "new users per hour (first-touch identity)",
      st08NewUsersPerHour, Some(st08Sql)),
    QueryDef("st05_attribution_join", "click->purchase interval join (1h)",
      st05AttributionJoin, Some(st05Sql)),
    QueryDef("st06_quality_gate", "ingest quality gate: pass/quarantine accounting",
      st06QualityGate, Some(st06Sql))
  )
}
