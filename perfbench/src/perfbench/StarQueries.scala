package perfbench

import graft.SparkEntry

/** `star_queries`: the read-only star family over one generated table
  * set, in rounds of a fixed order. Each call is timed in two parts:
  * building and planning the frame (forcing the executed plan), then
  * executing it. Every result is hashed and compared with the hash of
  * DuckDB running the program's own oracle SQL on the same files. */
final class StarQueries(ctx: Main.Ctx) extends Main.Workload {
  private val Queries = Seq("q09_star_join", "q40_line_dim", "q41_stop_dim",
    "q42_vehicle_dim", "q43_weather_dim", "q44_delay_fact", "q45_star_rollup")
  private val s = ctx.spark
  private val dir = s"${ctx.data}/star"
  private val entries = SparkEntry.queries

  private def run(name: String, timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    val res = ctx.op(name) {
      val df = Trace.span("queries", "plan") {
        val df = entries(name)(s, dir)
        df.queryExecution.executedPlan
        df
      }
      val t1 = System.nanoTime()
      val rows = Trace.span("queries", "exec")(df.collect())
      val t2 = System.nanoTime()
      (df.columns.toSeq, rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    res.foreach { case (cols, rows, plan, exec) =>
      if (timed) {
        ctx.sample("plan", plan)
        ctx.sample("exec", exec)
        ctx.sample("query", plan + exec)
      }
      val want = ctx.expect.get(name).asText
      val got = Canon.hash(cols, rows)
      if (got != want) ctx.fail(s"$name: result hash $got, DuckDB $want")
    }
  }

  def setup(root: String): Unit = Queries.foreach(run(_, timed = false))

  /** One round of every query, in order. */
  def step(): Boolean = { Queries.foreach(run(_, timed = true)); true }

  def verify(): Unit = ()
}

