package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Per-layer figures shared by the workloads, read from the tracer. */
object Layers {

  /** The `session.*` metrics, per operation, over the given op spans. */
  def session(ctx: Ctx, ops: Seq[Span]): Unit = {
    val t = ctx.tracer
    val r = ctx.result
    val n = math.max(1, ops.length).toDouble
    val opIds = ops.map(_.id).toSet
    def under(name: String): Seq[Span] =
      t.named(s => s.name == name && opIds.contains(s.parent))
    val execs = under("exec")
    val execNs = if (execs.nonEmpty) execs.map(_.durNs).sum else ops.map(_.durNs).sum
    val c = t.totals(ops)
    r.layer("session.build_s", under("build").map(_.durNs).sum / 1e9 / n, "s")
    r.layer("session.plan_s", under("plan").map(_.durNs).sum / 1e9 / n, "s")
    r.layer("session.exec_s", execNs / 1e9 / n, "s")
    r.layer("session.jobs", c.jobs / n, "count")
    r.layer("session.jobs_at_build", t.totals(under("build")).jobs / n, "count")
    r.layer("session.stages", c.stages / n, "count")
    r.layer("session.tasks", c.tasks / n, "count")
    r.layer("session.single_task_stages", c.singleTaskStages / n, "count")
    r.layer("session.task_s", c.taskMs / 1e3 / n, "s")
    r.layer("session.core_busy", c.taskMs / 1e3 / (execNs / 1e9 * ctx.cores), "ratio")
    r.layer("session.gc_s", c.gcMs / 1e3 / n, "s")
    r.layer("session.shuffle_write_bytes", c.shuffleWrite / n, "bytes")
    r.layer("session.shuffle_read_bytes", c.shuffleRead / n, "bytes")
    r.layer("session.spill_bytes", c.spill / n, "bytes")
    r.layer("session.input_bytes", c.input / n, "bytes")
    r.layer("session.output_bytes", c.output / n, "bytes")
  }

  /** Measured top-level spans (operations) whose name satisfies `p`. */
  def ops(ctx: Ctx, p: String => Boolean): Seq[Span] =
    ctx.tracer.named(s => s.parent == 0 && s.op > ctx.tracer.measuredFrom && p(s.name))

  /** Median duration in seconds of the top-level spans named `name`. */
  def medianS(ctx: Ctx, name: String): Double = {
    val ds = ops(ctx, _ == name).map(_.durNs / 1e9)
    if (ds.isEmpty) 0.0 else Stats.median(ds)
  }

  /** Writes a frame to the `noop` sink: runs it fully, keeps nothing. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Files the scans of an executed frame read (the scan's `numFiles`). */
  def filesRead(df: DataFrame): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
  }

  /** Wall time of `body`, in seconds. */
  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}
