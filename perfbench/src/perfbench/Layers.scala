package perfbench

import scala.collection.mutable

/** Per-layer figures of the traced run, from spans, attributed jobs and
  * the workload's counters. Every name is reported on every workload (0
  * where the workload never enters the layer), so the traced output has
  * one fixed shape. */
object Layers {
  def summary(w: Trace.Window, ctx: Main.Ctx): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val jobs = w.jobList
    def secs(ms: Double) = ms / 1000.0
    def sum(js: Seq[Trace.Job])(f: Trace.Job => Long) = js.map(f).sum.toDouble
    def busy(ss: Seq[Trace.Span]) = secs(ss.map(w.dur).sum)
    def self(ss: Seq[Trace.Span]) = secs(ss.map(w.selfMs).sum)
    def c(name: String) = ctx.counters.getOrElse(name, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    m("spark.jobs") = jobs.size.toDouble
    m("spark.stages") = sum(jobs)(_.stages)
    m("spark.tasks") = sum(jobs)(_.tasks)
    m("spark.task_s") = secs(sum(jobs)(_.runMs))
    m("spark.gc_s") = secs(sum(jobs)(_.gcMs))
    m("spark.driver_gap_s") = secs(w.allJobsGapMs)
    m("spark.shuffle_write_bytes") = sum(jobs)(_.shuffleWrite)
    m("spark.input_bytes") = sum(jobs)(_.inputBytes)
    m("spark.output_bytes") = sum(jobs)(_.outputBytes)

    val io = w.named("io")
    m("io.calls") = io.size.toDouble
    m("io.busy_s") = busy(io)
    m("io.self_s") = self(io)

    val tr = w.named("transform")
    m("transform.calls") = tr.size.toDouble
    m("transform.busy_s") = busy(tr)
    m("transform.jobs") = w.jobsUnder(tr).size.toDouble
    m("transform.rows_out") = sum(w.jobsUnder(tr))(_.recordsOut)
    m("transform.self_s") = self(tr)

    val q = w.named("queries")
    val qPlan = w.named("queries", "plan")
    val qJobs = w.jobsUnder(q)
    m("queries.plan_s") = busy(qPlan)
    m("queries.plan_jobs") = w.jobsUnder(qPlan).size.toDouble
    m("queries.exec_s") = busy(w.named("queries", "exec"))
    m("queries.jobs") = qJobs.size.toDouble
    m("queries.tasks") = sum(qJobs)(_.tasks)
    m("queries.task_s") = secs(sum(qJobs)(_.runMs))
    m("queries.self_s") = self(q)

    val pub = w.named("operators.Publish")
    m("operators.Publish.calls") = pub.size.toDouble
    m("operators.Publish.busy_s") = busy(pub)
    m("operators.Publish.jobs") = w.jobsUnder(pub).size.toDouble
    m("operators.Publish.driver_gap_s") = secs(w.gapMs(pub))
    m("operators.Publish.rows_staged") = c("rows_staged")
    m("operators.Publish.rows_appended") = c("rows_appended")
    m("operators.Publish.append_ratio") =
      ratio(c("rows_appended"), c("rows_staged"))
    m("operators.Publish.self_s") = self(pub)

    val dv = w.named("operators.DeleteVectors")
    m("operators.DeleteVectors.calls") = dv.size.toDouble
    m("operators.DeleteVectors.busy_s") = busy(dv)
    m("operators.DeleteVectors.jobs") = w.jobsUnder(dv).size.toDouble
    m("operators.DeleteVectors.driver_gap_s") = secs(w.gapMs(dv))
    m("operators.DeleteVectors.rows_marked") = c("rows_marked")
    m("operators.DeleteVectors.self_s") = self(dv)

    val mg = w.named("operators.Merge")
    m("operators.Merge.calls") = mg.size.toDouble
    m("operators.Merge.busy_s") = busy(mg)
    m("operators.Merge.jobs") = w.jobsUnder(mg).size.toDouble
    m("operators.Merge.files_touched_ratio") =
      ratio(c("merge_files_touched"), c("merge_files_before"))
    m("operators.Merge.self_s") = self(mg)

    val cp = w.named("operators.Compact")
    m("operators.Compact.busy_s") = busy(cp)
    m("operators.Compact.files_in") = c("compact_files_in")
    m("operators.Compact.files_out") = c("compact_files_out")
    m("operators.Compact.bytes_rewritten") = sum(w.jobsUnder(cp))(_.outputBytes)
    m("operators.Compact.self_s") = self(cp)

    m("operators.CommitLog.commits") = c("commits")
    m("operators.CommitLog.commits_per_write") = ratio(c("commits"), c("writes"))

    val gds = w.named("sources.GraftDataSource")
    val reads = gds.filter(_.part != "write")
    val readJobs = w.jobsUnder(reads)
    m("sources.GraftDataSource.plan_s") =
      busy(w.named("sources.GraftDataSource", "plan"))
    m("sources.GraftDataSource.exec_s") =
      busy(w.named("sources.GraftDataSource", "exec"))
    m("sources.GraftDataSource.write_s") =
      busy(w.named("sources.GraftDataSource", "write"))
    m("sources.GraftDataSource.jobs") = w.jobsUnder(gds).size.toDouble
    m("sources.GraftDataSource.input_bytes") = sum(readJobs)(_.inputBytes)
    m("sources.GraftDataSource.files_read") =
      CountingFileSystem.filesOpenedIn(reads.flatMap(w.subtree).map(_.id))
        .toDouble
    m("sources.GraftDataSource.self_s") = self(gds)

    val prog = w.progressList
    def meanMs(ks: String*) =
      if (prog.isEmpty) 0.0
      else prog.map(p => ks.map(p.durations.getOrElse(_, 0L)).sum)
        .sum.toDouble / prog.size
    val st = w.named("sources.stream")
    m("sources.stream.windows") = prog.size.toDouble
    m("sources.stream.rows_per_window") =
      ratio(prog.map(_.rows).sum.toDouble, prog.size.toDouble)
    m("sources.stream.latest_offset_ms") = meanMs("latestOffset", "getOffset")
    m("sources.stream.get_batch_ms") = meanMs("getBatch")
    m("sources.stream.query_planning_ms") = meanMs("queryPlanning")
    m("sources.stream.add_batch_ms") = meanMs("addBatch")
    m("sources.stream.wal_commit_ms") = meanMs("walCommit")
    m("sources.stream.self_s") = self(st)

    val ops = w.named("op")
    m("bench.self_s") = self(ops)
    m("bench.uncovered_s") = secs(w.wallMs) - busy(w.topLevel)
    m
  }
}
