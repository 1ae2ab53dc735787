package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one operation (a catalog entry
  * execution, a `Tables` probe, a micro-batch) share `op`; `parent` is
  * the id of the enclosing span within that operation, -1 for the root.
  * Times are epoch microseconds.
  */
final case class Span(op: Long, id: Int, parent: Int, name: String,
    startUs: Long, endUs: Long, attrs: Seq[(String, Double)] = Nil) {
  def json: String = Json.obj(Seq(
    "op" -> op.toString, "id" -> id.toString, "parent" -> parent.toString,
    "name" -> Json.str(name), "start_us" -> startUs.toString, "end_us" -> endUs.toString,
    "attrs" -> Json.obj(attrs.map { case (k, v) => k -> Json.num(v) })))
}

object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Task metrics summed over a set of tasks. */
final class TaskAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var fetchWaitMs = 0L; var spillDisk = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1; runMs += m.executorRunTime; cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime; inputBytes += m.inputMetrics.bytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime; spillDisk += m.diskBytesSpilled
  }
  def addAll(o: TaskAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spillDisk += o.spillDisk
  }
  def attrs: Seq[(String, Double)] = Seq[(String, Double)](
    "tasks" -> tasks.toDouble, "run_ms" -> runMs.toDouble, "cpu_ms" -> cpuNs / 1e6,
    "gc_ms" -> gcMs.toDouble, "input_bytes" -> inputBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble, "shuffle_read_bytes" -> shuffleRead.toDouble,
    "fetch_wait_ms" -> fetchWaitMs.toDouble, "spill_disk_bytes" -> spillDisk.toDouble)
}

/** `name` is the call site Spark gives the job's result stage, e.g.
  * `parquet at Tables.scala:17` for a parquet footer (schema) read.
  */
final case class JobRec(jobId: Int, key: String, name: String, submitMs: Long, stageIds: Seq[Int]) {
  var endMs: Long = submitMs
}
final case class StageRec(stageId: Int, submitMs: Long, endMs: Long, numTasks: Int, tasks: TaskAgg)

/** The traced run's listeners. Jobs are keyed by the `pb:<key>` job tag
  * the harness sets around each phase of an operation, or by the
  * micro-batch id Spark puts on every streaming job; query executions are
  * charged to the operation that is current when they are delivered,
  * which is exact because the harness drains the listener bus after
  * every operation.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: String = ""
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageAggs = mutable.Map.empty[Int, TaskAgg]
  private val stages = mutable.Map.empty[Int, StageRec]
  // key -> (analysis, optimization, planning) ms
  private val catalyst = mutable.Map.empty[String, Array[Double]]

  private def keyOf(props: java.util.Properties): String = {
    if (props == null) return ""
    val tags = Option(props.getProperty("spark.job.tags")).toSeq.flatMap(_.split(","))
    tags.find(_.startsWith("pb:")).map(_.stripPrefix("pb:"))
      .orElse(Option(props.getProperty("streaming.sql.batchId")).map(b =>
        s"batch:${props.getProperty("sql.streaming.queryId")}:$b"))
      .getOrElse("")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobRec(e.jobId, keyOf(e.properties), name, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (e.taskMetrics != null)
      stageAggs.getOrElseUpdate(e.stageId, new TaskAgg).add(e.taskMetrics)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    val agg = stageAggs.getOrElseUpdate(i.stageId, new TaskAgg)
    stages(i.stageId) = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks, agg)
  }

  private def phases(qe: QueryExecution): Unit = lock.synchronized {
    val p = qe.tracker.phases
    val acc = catalyst.getOrElseUpdate(current, Array(0.0, 0.0, 0.0))
    Seq("analysis", "optimization", "planning").zipWithIndex.foreach { case (n, i) =>
      p.get(n).foreach(s => acc(i) += s.durationMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Everything recorded under `key`: its jobs with their stages, and the
    * Catalyst phase times. Removes them, so memory stays bounded by one
    * operation's worth of events.
    */
  def take(key: String): (Seq[(JobRec, Seq[StageRec])], Array[Double]) = lock.synchronized {
    val js = jobs.values.filter(_.key == key).toSeq.sortBy(_.jobId)
    val out = js.map { j =>
      jobs.remove(j.jobId)
      val ss = j.stageIds.flatMap { s => stageAggs.remove(s); stages.remove(s) }
      j -> ss
    }
    (out, catalyst.remove(key).getOrElse(Array(0.0, 0.0, 0.0)))
  }

  /** Spans for `jobs` under `parent`, ids allocated from `next`. */
  def jobSpans(op: Long, parent: Int, jobsWithStages: Seq[(JobRec, Seq[StageRec])],
      next: () => Int): Seq[Span] =
    jobsWithStages.flatMap { case (j, ss) =>
      val jid = next()
      val agg = new TaskAgg; ss.foreach(s => agg.addAll(s.tasks))
      Span(op, jid, parent, s"job:${j.jobId}:${j.name}", j.submitMs * 1000, j.endMs * 1000,
        ("stages" -> ss.size.toDouble) +: agg.attrs) +:
        ss.map(s => Span(op, next(), jid, s"stage:${s.stageId}", s.submitMs * 1000,
          s.endMs * 1000, ("num_tasks" -> s.numTasks.toDouble) +: s.tasks.attrs))
    }
}
