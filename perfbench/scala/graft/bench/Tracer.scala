package graft.bench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark's public listener APIs say about each operation,
  * from outside the engine: one record per job (its call site, which
  * names the graft source file that triggered it), one per completed
  * stage (task counts and aggregated task metrics) and one per
  * finished query execution (Catalyst phase intervals).
  *
  * Jobs carry the benchmark's operation index through the
  * [[Tracer.OpKey]] local property, which Spark copies onto every job
  * the operation's thread submits, including broadcast and adaptive
  * re-planning jobs. Records stay in memory and are written out once
  * the measured window ends. Time spent inside the callbacks is
  * accumulated so the run can report its own tracing overhead.
  */
class Tracer extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val jobs = new JList[JMap[String, Any]]()
  private val stages = new JList[JMap[String, Any]]()
  private val queries = new JList[JMap[String, Any]]()
  private val jobById = new java.util.HashMap[Int, JMap[String, Any]]()
  private val opByStage = new java.util.HashMap[Int, Any]()
  private val jobByStage = new java.util.HashMap[Int, Int]()
  private val failedByStage = new java.util.HashMap[Int, Int]()
  private val callbackNs = new AtomicLong()
  @volatile var lastEventNs: Long = System.nanoTime()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    lock.synchronized(body)
    val t1 = System.nanoTime()
    lastEventNs = t1
    callbackNs.addAndGet(t1 - t0)
  }

  def jobsOpen: Int = lock.synchronized {
    var n = 0
    jobs.forEach(j => if (!j.containsKey("end_ms")) n += 1)
    n
  }

  /** Copies of every record so far, taken under the callbacks' lock. */
  def dump(): JMap[String, Any] = lock.synchronized {
    val out = new JMap[String, Any]()
    out.put("jobs", new JList[JMap[String, Any]](jobs))
    out.put("stages", new JList[JMap[String, Any]](stages))
    out.put("queries", new JList[JMap[String, Any]](queries))
    out.put("callback_s", callbackNs.get / 1e9)
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val op = props.map(_.getProperty(Tracer.OpKey)).orNull
    val result = if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId)
    val j = new JMap[String, Any]()
    j.put("job", e.jobId)
    j.put("op", op)
    j.put("callsite", props.flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(if (result == null) "" else result.name))
    j.put("description", props.map(_.getProperty("spark.job.description")).orNull)
    j.put("start_ms", e.time)
    jobs.add(j)
    jobById.put(e.jobId, j)
    e.stageIds.foreach { s => opByStage.put(s, op); jobByStage.putIfAbsent(s, e.jobId) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobById.get(e.jobId)).foreach { j =>
      j.put("end_ms", e.time)
      j.put("ok", e.jobResult == JobSucceeded)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (e.reason != Success)
      failedByStage.merge(e.stageId, 1, (a: Int, b: Int) => a + b)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val s = new JMap[String, Any]()
    s.put("stage", si.stageId)
    s.put("op", opByStage.get(si.stageId))
    s.put("job", jobByStage.get(si.stageId))
    s.put("tasks", si.numTasks)
    s.put("tasks_failed", failedByStage.getOrDefault(si.stageId, 0))
    s.put("submit_ms", si.submissionTime.getOrElse(0L))
    s.put("done_ms", si.completionTime.getOrElse(0L))
    val m = si.taskMetrics
    if (m != null) {
      s.put("run_ms", m.executorRunTime)
      s.put("cpu_ns", m.executorCpuTime)
      s.put("gc_ms", m.jvmGCTime)
      s.put("in_bytes", m.inputMetrics.bytesRead)
      s.put("in_rows", m.inputMetrics.recordsRead)
      s.put("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      s.put("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      s.put("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    stages.add(s)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(queries.add(Tracer.phases(funcName, qe)))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    timed(queries.add(Tracer.phases(funcName, qe)))
}

object Tracer {
  val OpKey = "graft.bench.op"

  /** Catalyst phase intervals of one finished query execution. */
  def phases(funcName: String, qe: QueryExecution): JMap[String, Any] = {
    val q = new JMap[String, Any]()
    q.put("func", funcName)
    qe.tracker.phases.foreach { case (name, p) =>
      val iv = new JList[Any]()
      iv.add(p.startTimeMs)
      iv.add(p.endTimeMs)
      q.put(name, iv)
    }
    q
  }
}
