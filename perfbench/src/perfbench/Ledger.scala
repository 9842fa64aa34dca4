package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer ledger of one traced pass, from the spans and listener
  * records that fall inside the pass window. Jobs owned by a `check` span
  * (output verification) are left out. `ops.build_cpu_s` is the process
  * CPU while build spans were open: driver-side plan construction plus
  * the eager jobs a build starts (local mode runs them in-process).
  */
object Ledger {
  def pass(tr: Trace, spark: SparkSession, fromMs: Double, toMs: Double,
      wallS: Double, nOps: Int, cores: Int): Map[String, Double] = {
    val jobs = tr.jobsIn(fromMs, toMs).filterNot(_._2.exists(_.name == "check"))
    val st       = jobs.flatMap(_._1.stages).distinct.map(tr.stage).filter(_.tasks > 0)
    val spans    = tr.spans.filter(s => s.start >= fromMs && s.end <= toMs)
    def spanS(n: String) = spans.filter(_.name == n).map(s => s.end - s.start).sum / 1000
    val cat      = tr.catalystRecs.filter(r => r._1 >= fromMs && r._1 <= toMs)
    val runS     = st.map(_.runMs).sum / 1000.0
    Map(
      "Tables.input_rows"      -> st.map(_.inRecords).sum.toDouble,
      "ops.build_s"            -> spanS("build"),
      "ops.build_jobs"         -> jobs.count(_._2.exists(_.name == "build")).toDouble,
      "ops.build_cpu_s"        -> spans.filter(_.name == "build").map(_.cpuS).sum,
      "catalyst.analysis_s"    -> cat.map(_._2).sum,
      "catalyst.optimization_s" -> cat.map(_._3).sum,
      "catalyst.planning_s"    -> cat.map(_._4).sum,
      "sched.jobs"             -> jobs.size.toDouble,
      "sched.stages"           -> st.size.toDouble,
      "sched.tasks"            -> st.map(_.tasks).sum.toDouble,
      "sched.delay_s"          -> st.map(_.delayMs).sum / 1000.0,
      "sched.jobs_per_query"   -> jobs.size.toDouble / math.max(1, nOps),
      "exec.run_s"             -> runS,
      "exec.cpu_s"             -> st.map(_.cpuNs).sum / 1e9,
      "exec.gc_s"              -> st.map(_.gcMs).sum / 1000.0,
      "exec.core_util"         -> runS / (wallS * cores),
      "shuffle.write_mb"       -> st.map(_.shWrite).sum / 1e6,
      "shuffle.read_mb"        -> st.map(_.shRead).sum / 1e6,
      "mem.spill_mb"           -> st.map(_.spill).sum / 1e6,
      "mem.peak_exec_mb"       -> (st.map(_.peakExec) :+ 0L).max / 1e6,
      "memo.frames"            -> Main.memoFrames(spark).toDouble,
      "memo.storage_mb"        -> Main.storageMb(spark))
  }

  private def walk(path: String): Seq[java.io.File] = {
    def go(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go) else Seq(f)
    go(new java.io.File(path))
  }
  private def data(path: String) =
    walk(path).filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  def dirMb(path: String): Double = data(path).map(_.length).sum / 1e6
  def files(path: String): Int = data(path).size
}
