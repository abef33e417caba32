package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Events-axis companion to [[ScaleEvidence]]: measures the quantities
  * the events/streaming scale claims are made OF, at a given fixture
  * scale. Run across sf0.1 / sf1 the printed rows turn the
  * "single exchange" and "watermark-bounded state" arguments into
  * observed growth exponents:
  *
  *  - Batch sessionize / attribution: output rows AND total shuffle
  *    bytes written (Spark task metrics, summed over the job's stages)
  *    — the "one exchange, work linear in events" claim (EventOps).
  *  - Streaming sessionize (`flatMapGroupsWithState`): peak state rows
  *    and state memory from the query's progress — the claim is state
  *    ∝ DISTINCT USERS (key cardinality), not stream length.
  *  - Streaming attribution (watermarked stream-stream interval self-
  *    join): state rows after the run — bounded by the delivery-lag
  *    window, not the stream (evicted as the watermark passes).
  *
  * Prints ONE JSON line per run.
  *
  * Second arg = maxFilesPerTrigger (default 4). A multi-part fixture
  * replayed a few files at a time is NOT globally time-ordered, so the
  * streamed numbers also exercise the late-drop path (watermark
  * semantics under an out-of-order replay); pass the fixture's file
  * count to replay as ONE batch for the clean streamed≈batch point.
  *
  *   scripts/run_main.sh graft.tools.EventScaleEvidence /root/testdata/sf0.1
  *   scripts/run_main.sh graft.tools.EventScaleEvidence scale/sf1 16
  */
object EventScaleEvidence {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val filesPerTrigger = if (args.length > 1) args(1).toInt else 4
    val spark = graft.GraftSession.local()
    import spark.implicits._

    // shuffle-bytes accounting: task metrics summed per completed stage.
    // The listener bus is async — poll until the counter stops moving.
    val shuffleWrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def settle(): Long = {
      var prev = -1L
      var cur = shuffleWrite.get()
      var spins = 0
      while (cur != prev && spins < 20) {
        prev = cur; Thread.sleep(200); cur = shuffleWrite.get(); spins += 1
      }
      cur
    }
    def measured(action: => Long): (Long, Long) = {
      settle(); shuffleWrite.set(0L)
      val rows = action
      (rows, settle())
    }

    val events = graft.sources.Tables.events(spark, sfDir)
    val nEvents = events.count()
    val nUsers = events.select(countDistinct(col("user_id"))).as[Long].head()

    val (nSessions, sessShuffle) =
      measured(graft.operators.EventOps.sessionize(spark, sfDir).count())
    val (nPairs, attrShuffle) =
      measured(graft.operators.EventOps.attributionWindow(spark, sfDir).count())

    // streaming runs: stream the fixture's own parquet (a GenScale
    // table is already a directory of parts → several micro-batches; a
    // driver fixture is one file → one batch), then read state size
    // from the last progress of each stateful operator.
    val streamDir = {
      val p = java.nio.file.Paths.get(s"$sfDir/events.parquet")
      if (java.nio.file.Files.isDirectory(p)) p.toString
      else { // single-file fixture: stage into a directory source
        val d = java.nio.file.Files.createTempDirectory("graft_evscale")
        java.nio.file.Files.copy(p, d.resolve("events.parquet"))
        d.toString
      }
    }
    def src = EventStream.readEventsStream(spark, streamDir, filesPerTrigger)
      .where(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStream.Event]

    def stateOf(df: org.apache.spark.sql.DataFrame, name: String): (Long, Long, Long) = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val sos = q.lastProgress.stateOperators
      (spark.table(name).count(),
        sos.map(_.numRowsTotal).sum,
        sos.map(_.memoryUsedBytes).sum)
    }

    val (sessOut, sessStateRows, sessStateBytes) =
      stateOf(EventStream.sessionize(src).toDF(), "evscale_sessions")
    val (attrOut, attrStateRows, attrStateBytes) =
      stateOf(EventStream.attributionStream(
        EventStream.readEventsStream(spark, streamDir, filesPerTrigger)),
        "evscale_attr")
    // transitions carries a gap-horizon TTL: after the replay's final
    // watermark, only users active within (gap + watermark delay) of
    // the stream's end still hold state — measured directly here
    val (transOut, transStateRows, transStateBytes) =
      stateOf(EventStream.transitions(src).toDF(), "evscale_trans")

    println(
      s"""{"sf":"$sfDir","files_per_trigger":$filesPerTrigger,""" +
        s""""n_events":$nEvents,"n_users":$nUsers,""" +
        s""""batch_sessions":$nSessions,"sessionize_shuffle_bytes":$sessShuffle,""" +
        s""""batch_attr_pairs":$nPairs,"attribution_shuffle_bytes":$attrShuffle,""" +
        s""""stream_sessions_emitted":$sessOut,"stream_session_state_rows":$sessStateRows,""" +
        s""""stream_session_state_bytes":$sessStateBytes,""" +
        s""""stream_attr_pairs":$attrOut,"stream_attr_state_rows":$attrStateRows,""" +
        s""""stream_attr_state_bytes":$attrStateBytes,""" +
        s""""stream_trans_steps":$transOut,"stream_trans_state_rows":$transStateRows,""" +
        s""""stream_trans_state_bytes":$transStateBytes}""")
    spark.stop()
  }
}
