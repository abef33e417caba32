package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators: the same
  * `window()` expression as `EventOps.hourlyEventCounts` (so semantics
  * verified against the DuckDB oracle in batch carry over unchanged),
  * plus explicit-state sessionization via `flatMapGroupsWithState` —
  * the Spark-native replacement for hand-rolled streaming state.
  *
  * Scale design: state is partitioned by the group key (event_type /
  * user_id) across executors and checkpointed incrementally; the
  * watermark bounds state size — late events beyond it are dropped, so
  * state never grows with stream length, only with key cardinality.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(startUs: Long, lastUs: Long, n: Long)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

  /** Exact microseconds from a Timestamp — the batch twins' unix_micros
    * rule. Timestamp.getTime only carries millis; the sub-ms component
    * lives in getNanos, so both must be spliced or session/funnel/step
    * boundaries drift from the batch operators at micro precision.
    * ONE definition serves sessionize, funnel, and transitions — a
    * precision fix here cannot leave one operator on old arithmetic. */
  private def toUs(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** File-source stream over a directory of events parquet: the
    * production shape (files land in a directory, Spark discovers and
    * processes them incrementally, `maxFilesPerTrigger` bounds batch
    * size). A file stream needs a user-supplied schema BEFORE the
    * query starts, so the `ts` encoding is detected with one batch
    * footer read of the directory and the stream schema branches the
    * same way as the batch loader (`Tables.events`):
    *  - TIMESTAMP(NANOS) fixtures are only readable as a long
    *    (`spark.sql.legacy.parquet.nanosAsLong`) — exact `div 1000`
    *    to micros;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current fixtures)
    *    reads as TIMESTAMP_NTZ — cast to TimestampType, which
    *    reinterprets the naive micros in the (pinned-UTC) session
    *    zone, i.e. the identical microsecond count.
    * One dispatch per stream START, not per batch — the footer read
    * costs one driver-side metadata fetch. */
  def readEventsStream(spark: org.apache.spark.sql.SparkSession, dir: String,
                       maxFilesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.types._
    val tsType = graft.sources.Tables.parquet(spark, dir).schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
    tsType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Streaming exact ingest-dedup: drop re-delivered events by id with
    * watermark-BOUNDED state (`dropDuplicatesWithinWatermark`), the
    * streaming twin of `DedupOps.dedupExact` for at-least-once feeds.
    * Plain `dropDuplicates` would keep every id ever seen — state grows
    * with stream length; bounding by the event-time watermark keeps
    * state proportional to the (re)delivery window instead, which is
    * what survives a year-long run at 100 TB. */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .where(col("ts").isNotNull && col("event_id").isNotNull)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Tumbling 1-hour counts per event type with a 2-hour watermark —
    * identical aggregation expression to the batch
    * `EventOps.hourlyEventCounts`. Works on both streaming and batch
    * DataFrames (the watermark is a no-op in batch). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .where(col("ts").isNotNull && col("event_type").isNotNull)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** Watermarked stream-stream interval join — windowed click→view
    * attribution, the streaming twin of the oracle-verified
    * `EventOps.attributionWindow` (identical window constant, identical
    * output columns). Both sides derive from ONE input stream (a
    * stream-stream self-join); each carries its own event-time
    * watermark, and the join condition bounds view_ts to
    * [click_ts − window, click_ts], so BOTH state stores are
    * watermark-bounded: views retained `watermark + window`, clicks
    * `watermark` — state is proportional to the delivery-lag window,
    * never the stream length. Inner-join matches emit as soon as both
    * sides arrive (no watermark wait on the append path). */
  def attributionStream(events: DataFrame,
                        watermark: String = "2 hours"): DataFrame = {
    val winSec = graft.operators.EventOps.AttributionWindowSec
    // an upstream stateful operator (e.g. [[dedupEvents]] in the
    // at-least-once composition) already carries a watermark on ts;
    // re-defining one downstream is an analysis error, and the renamed
    // event-time columns inherit the existing watermark — so only
    // watermark a bare stream
    val hasWm = events.queryExecution.analyzed.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
    }.isDefined
    def wm(df: DataFrame, c: String): DataFrame =
      if (hasWm) df else df.withWatermark(c, watermark)
    val views = wm(events
      .where(col("ts").isNotNull && col("user_id").isNotNull &&
             col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts")), "view_ts")
    val clicks = wm(events
      .where(col("ts").isNotNull && col("user_id").isNotNull &&
             col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts")), "click_ts")
    views.join(clicks,
        expr(s"""v_user = c_user
                 AND view_ts <= click_ts
                 AND click_ts <= view_ts + interval $winSec seconds"""))
      .select(col("click_id"), col("view_id"), col("c_user").as("user_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("gap_us"))
  }

  /** Gap-based sessionization with explicit per-user state: emits a
    * session when the gap since the last event exceeds the gap (or on
    * event-time timeout past the watermark). Batch twin:
    * `EventOps.sessionize` — same gap rule, and the same KNOB: when no
    * explicit gap is passed, the session conf
    * (`spark.graft.session.gapMinutes`) is read exactly like the batch
    * operator, so a conf-driven gap change can never silently diverge
    * the streaming twin from the batch operator it reproduces. */
  def sessionize(events: Dataset[Event], gapMinutes: Option[Int] = None): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMin = gapMinutes.getOrElse(graft.GraftConf.sessionGapMinutes(events.sparkSession))
    val gapUs = gapMin.toLong * 60L * 1000000L

    // exact microseconds, matching the batch twin's unix_micros rule:
    // Timestamp.getTime only carries millis — the sub-ms component lives
    // in getNanos, so both directions must splice it explicitly or
    // session boundaries drift from EventOps.sessionize at micro
    // precision.
    def toTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(Session(userId, toTs(s.startUs), toTs(s.lastUs), s.n))
      } else {
        val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
        var closed = List.newBuilder[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val us = toUs(e.ts)
          cur match {
            case Some(s) if us - s.lastUs <= gapUs =>
              cur = Some(s.copy(lastUs = us, n = s.n + 1))
            case Some(s) =>
              closed += Session(userId, toTs(s.startUs), toTs(s.lastUs), s.n)
              cur = Some(SessionState(us, us, 1))
            case None =>
              cur = Some(SessionState(us, us, 1))
          }
        }
        cur.foreach { s =>
          val wm = state.getCurrentWatermarkMs()
          val timeoutMs = s.lastUs / 1000L + gapMin.toLong * 60000L
          if (wm > 0 && timeoutMs <= wm) {
            // the watermark has already passed this session's gap
            // horizon — close it NOW. This arises on any replay whose
            // files are not globally time-ordered (a later micro-batch
            // carries a user whose newest event predates the watermark
            // set by an earlier batch); setTimeoutTimestamp would throw
            // on a past timestamp, and the timeout would have fired
            // immediately anyway.
            closed += Session(userId, toTs(s.startUs), toTs(s.lastUs), s.n)
            state.remove()
          } else {
            state.update(s)
            // register even while the watermark is still 0 (the very
            // first batch): a user seen ONLY before the watermark first
            // advances would otherwise never get a timeout — state held
            // forever and the session never flushed. The only
            // registration constraint is timeout > current watermark,
            // which the branch above guarantees.
            state.setTimeoutTimestamp(timeoutMs)
          }
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** One within-session consecutive-event step for one user. */
  case class Step(user_id: Long, from_type: String, to_type: String)

  /** Streaming within-session transition steps — the online half of
    * `EventOps.sessionTransitions`: per-user state is ONE (last-event
    * time, last type) pair (state size = users × ~24 bytes), and each
    * arriving event within the session gap of its predecessor emits a
    * (from → to) step row; a periodic batch aggregation turns the step
    * stream into the transition matrix. Steps bridge micro-batches
    * (the state carries the previous event across triggers), so an
    * in-order feed reproduces the batch operator's counts exactly —
    * spec-pinned. Gap rule is the sessionizer's exact-µs arithmetic AND
    * its knob: with no explicit gap, `spark.graft.session.gapMinutes`
    * is read like the batch operator, so the twins cannot diverge under
    * a conf-driven gap change.
    *
    * State carries a TTL at the gap horizon (event-time timeout at
    * lastUs + gap): once the watermark passes it, no non-late event can
    * be within the gap of the stored pair — the step rule would emit
    * nothing from it — so dropping the state is LOSSLESS and state size
    * becomes ∝ users ACTIVE within (gap + watermark delay), not every
    * user ever seen. This is the difference between ~24 bytes × daily
    * actives and ~24 bytes × all-time users on a year-long run. A bare
    * input stream gets a 1-hour watermark (an upstream watermark, e.g.
    * from [[dedupEvents]], is inherited instead); late events beyond it
    * are dropped by the engine, which the in-order contract already
    * assumes. */
  def transitions(events: Dataset[Event], gapMinutes: Option[Int] = None): Dataset[Step] = {
    import events.sparkSession.implicits._
    val gapMin = gapMinutes.getOrElse(graft.GraftConf.sessionGapMinutes(events.sparkSession))
    val gapUs = gapMin.toLong * 60L * 1000000L
    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[(Long, String)]): Iterator[Step] = {
      if (state.hasTimedOut) {
        // gap horizon passed: no future non-late event can pair with
        // the stored (lastUs, type) — dropping it emits nothing, same
        // as the gap-exceeded branch below
        state.remove()
        Iterator.empty
      } else {
        var last = state.getOption
        val out = List.newBuilder[Step]
        rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
          val us = toUs(e.ts)
          last match {
            case Some((lastUs, lastType)) if us - lastUs <= gapUs =>
              out += Step(userId, lastType, e.event_type)
            case _ =>
          }
          last = Some((us, e.event_type))
        }
        last.foreach { l =>
          val wm = state.getCurrentWatermarkMs()
          val timeoutMs = l._1 / 1000L + gapMin.toLong * 60000L
          if (wm > 0 && timeoutMs <= wm) state.remove()
          else { state.update(l); state.setTimeoutTimestamp(timeoutMs) }
        }
        out.result().iterator
      }
    }
    val hasWm = events.queryExecution.analyzed.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
    }.isDefined
    val src = if (hasWm) events else events.withWatermark("ts", "1 hour")
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** One newly-reached funnel stage for one user. */
  case class FunnelHit(user_id: Long, stage: Int, event_type: String, ts: Timestamp)

  /** Streaming funnel tracking — the real-time twin of
    * `EventOps.funnelStages`: per-user state is just the earliest
    * qualifying time of each stage (stages.length optional longs —
    * state size is users × 8·|stages| bytes, independent of stream
    * length), and a
    * [[FunnelHit]] row is emitted the moment a user first reaches a
    * stage, each stage at most once per user. Stage i qualifies only
    * STRICTLY after stage i-1's recorded time — the batch operator's
    * ordering rule.
    *
    * Equivalence contract: for an in-order feed (the file-source /
    * replay shape), per-stage distinct users equal the batch funnel
    * exactly (spec-pinned). An out-of-order feed can only UNDER-count
    * transiently — a stage is never emitted for a user who has not
    * genuinely reached it, because qualification only ever compares
    * against an earlier-or-equal recorded time.
    *
    * By default there is no timeout: a funnel is CUMULATIVE over
    * arbitrary time, so unlike [[transitions]] (whose gap-horizon TTL
    * is provably lossless) expiring state CHANGES results. Production
    * picks that trade explicitly via `completionHorizonMinutes`: a
    * user's funnel attempt must then complete within the horizon of
    * its stage-1 time — once the watermark passes that horizon the
    * attempt's state is dropped, a later return starts a FRESH attempt
    * (stages may re-emit, one hit per stage per attempt), and state
    * size becomes ∝ users with an attempt open inside the horizon
    * rather than every user ever seen. Users whose events never match
    * a stage store no state in either mode. */
  def funnel(events: Dataset[Event],
             stages: Seq[String] = graft.operators.EventOps.FunnelStages,
             completionHorizonMinutes: Option[Long] = None): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    require(stages.nonEmpty, "funnel needs at least one stage")
    // explicit param wins; otherwise the session conf
    // (spark.graft.funnel.horizonMinutes) — same precedence rule as the
    // sessionize gap knob
    val horizon = completionHorizonMinutes
      .orElse(graft.GraftConf.funnelHorizonMinutes(events.sparkSession))
    require(horizon.forall(_ > 0), "completion horizon must be positive")
    // state is sized to the stage list (stages.length optional longs),
    // not a hardcoded arity — a 5-stage funnel must not ArrayIndexOOB
    val nStages = stages.length
    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[Seq[Option[Long]]]): Iterator[FunnelHit] = {
      if (state.hasTimedOut) {
        // completion horizon passed: the attempt is abandoned
        state.remove()
        Iterator.empty
      } else {
        val t = state.getOption.getOrElse(Seq.fill[Option[Long]](nStages)(None))
          .padTo(nStages, None).toArray
        val out = List.newBuilder[FunnelHit]
        rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id)).foreach { e =>
          val i = stages.indexOf(e.event_type)
          if (i >= 0) {
            val us = toUs(e.ts)
            val qualifies =
              if (i == 0) t(0).isEmpty
              else t(i).isEmpty && t(i - 1).exists(us > _)
            if (qualifies) {
              t(i) = Some(us)
              out += FunnelHit(userId, i + 1, e.event_type, e.ts)
            }
          }
        }
        // an all-None array is behaviorally identical to no state
        // (stage-1 qualification is exactly t(0).isEmpty) — storing it
        // would grow state with users who never match any stage
        if (t.exists(_.isDefined)) {
          state.update(t.toSeq)
          horizon.foreach { h =>
            t(0).foreach { t0 =>
              val wm = state.getCurrentWatermarkMs()
              val timeoutMs = t0 / 1000L + h * 60000L
              if (wm > 0 && timeoutMs <= wm) state.remove()
              else state.setTimeoutTimestamp(timeoutMs)
            }
          }
        } else if (state.exists) state.remove()
        out.result().iterator
      }
    }
    val src = horizon match {
      case None => events
      case Some(_) =>
        val hasWm = events.queryExecution.analyzed.collectFirst {
          case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
        }.isDefined
        if (hasWm) events else events.withWatermark("ts", "1 hour")
    }
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        if (horizon.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(update)
  }
}
