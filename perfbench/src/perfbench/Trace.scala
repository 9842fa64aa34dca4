package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed region of the driver thread. Times are epoch milliseconds
  * with sub-millisecond digits, the clock the Spark listener bus uses;
  * `cpuS` is the process CPU spent while the span was open.
  */
final case class Span(id: Int, name: String, parent: Int, op: String,
    start: Double, var end: Double = Double.NaN, var cpuS: Double = 0.0)

/** Spark jobs, stages and tasks as the listener bus reports them. */
final case class JobRec(id: Int, submitMs: Long, stages: Seq[Int])

final class StageRec {
  var tasks, runMs, cpuNs, gcMs, delayMs, inRecords = 0L
  var shWrite, shRead, spill, peakExec = 0L
}

/** Span recorder plus a listener that keeps raw job/stage records; jobs are
  * attributed to the innermost span whose window holds their submit time.
  * Ops run serially, so jobs started from helper threads inside an op
  * (e.g. `Profile`'s Futures) land on the op that started them. Spans stay
  * in memory and are written out at exit.
  */
final class Trace extends SparkListener {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans  = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  val jobs   = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.HashMap.empty[Int, StageRec]

  /** Per-query Catalyst phase times (s), stamped with when they were read. */
  val catalystRecs = ArrayBuffer.empty[(Double, Double, Double, Double)]

  def catalyst(df: org.apache.spark.sql.DataFrame): Unit = {
    val ph = df.queryExecution.tracker.phases
    def s(k: String) = ph.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    catalystRecs += ((nowMs, s("analysis"), s("optimization"), s("planning")))
  }

  /** Forget listener records (stage ids of skipped stages would otherwise
    * pull in tasks from an earlier pass).
    */
  def reset(): Unit = synchronized { jobs.clear(); stages.clear() }

  def span[T](name: String, op: String)(f: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op, nowMs)
    spans += s
    stack = s :: stack
    val c0 = Main.cpuS
    try f finally { s.end = nowMs; s.cpuS = Main.cpuS - c0; stack = stack.tail }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(js.jobId, js.time, js.stageIds)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(te.stageId, new StageRec)
      val info = te.taskInfo
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.inRecords += m.inputMetrics.recordsRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
    }
  }

  /** Innermost span open at `ms`, among `within`. */
  private def owner(ms: Double, within: Seq[Span]): Option[Span] =
    within.filter(s => math.floor(s.start) <= ms && ms <= s.end).maxByOption(_.start)

  /** Jobs submitted inside [fromMs, toMs], each with its owning span. */
  def jobsIn(fromMs: Double, toMs: Double): Seq[(JobRec, Option[Span])] = synchronized {
    val sp = spans.filter(s => s.end >= fromMs && s.start <= toMs).toSeq
    jobs.filter(j => j.submitMs >= fromMs - 1 && j.submitMs <= toMs + 1).toSeq
      .map(j => (j, owner(j.submitMs.toDouble, sp)))
  }

  def stage(id: Int): StageRec = synchronized(stages.getOrElse(id, new StageRec))

  /** Spans as JSON lines: name, start, end, parent, op id. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id": ${s.id}, "name": "${s.name}", "op": "${s.op}", """ +
        f""""parent": ${s.parent}, "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f}""")
    } finally w.close()
  }
}
