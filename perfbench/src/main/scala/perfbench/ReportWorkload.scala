package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, lit, round}

import graft.{Ingest, Report}
import graft.operators.Qan
import graft.sources.Warehouse
import graft.streaming.StreamingRollup

/**
 * `qan_reports`: a closed loop of `Report.run(...).collect()` over a
 * warehouse and stored partials that set-up builds from a seeded four-week
 * log with the calls the engine's report spec uses, appended as one
 * stamped batch. A round runs every event-level mode and every rollup-fed twin
 * once, in an order shuffled by the seed; half of them windowed with
 * `-since`/`-until` to the two weeks around the planted shift. One
 * operation is one report.
 */
final class ReportWorkload extends Workload {
  val Spec = LogSpec(days = 28, eventsPerDay = 1000, files = 8, digests = 300)
  val EventModes = Seq("profile", "sparkline", "load", "apdex", "percentiles",
    "compare", "anomaly", "drift", "ks", "pareto", "histogram", "cusum",
    "seasonal", "digest")
  val RollupModes = Seq("sparkline", "apdex", "percentiles", "anomaly",
    "pareto", "cusum", "digest")
  val RollupTable = "perfbench_cusum_rollup"

  private var log: GeneratedLog = _
  private var dirs: Seq[Path] = Nil
  private var warehouse, partials, sketch: String = _
  private var planted: String = _
  private var tieFlips = 0L

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    dirs.foreach(ctx.delete)
    log = ctx.tracer.span("setup.generate")(SlowLogGen.generate(ctx.seed, Spec, ctx.fresh("log")))
    val (wh, dg, sk) = (ctx.fresh("wh"), ctx.fresh("partials"), ctx.fresh("sketch"))
    dirs = Seq(log.dir, wh, dg, sk)
    ctx.tracer.span("setup.ingest")(
      Ingest.run(spark, Ingest.Config(slowLogPath = log.dir.toString, dsn = s"parquet:$wh")))
    warehouse = s"parquet:$wh"
    partials = dg.resolve("dg").toString
    sketch = sk.resolve("sk").toString
    val wide = Report.wideFor(spark, Report.Config(source = warehouse))
    def appendDigest(b: DataFrame, id: Long): Unit = {
      val (core, users, schemas, examples) = Qan.digestPartials(b)
      Seq("" -> core, "_users" -> users, "_schemas" -> schemas, "_examples" -> examples)
        .foreach { case (suffix, df) =>
          df.withColumn("batch_id", lit(id)).write.mode("append").parquet(partials + suffix)
        }
    }
    def appendSketch(b: DataFrame, id: Long): Unit =
      Qan.latencySketch(b).withColumn("batch_id", lit(id))
        .write.mode("append").parquet(sketch)
    Warehouse.dropWithLocation(spark, RollupTable)
    val day = expr("unix_micros(ts) div 86400000000")
    val units = round(col("query_time") * 1e6).cast("long")
    ctx.tracer.span("setup.digest_partials")(appendDigest(wide, 0L))
    ctx.tracer.span("setup.latency_sketch")(appendSketch(wide, 0L))
    ctx.tracer.span("setup.rollup")(
      StreamingRollup.appendBatch(wide, 0L, day, col("digest"), units, RollupTable))
    planted = wide.filter(col("query").contains(log.regressTable))
      .select("digest").distinct().collect().map(_.getString(0)).toSeq match {
      case Seq(d) => d
      case ds => throw new IllegalStateException(s"planted digest not unique: $ds")
    }
  }

  private def config(mode: String, rollup: Boolean, windowed: Boolean): Report.Config = {
    val source =
      if (!rollup) warehouse
      else if (mode == "percentiles") s"rollup:$sketch"
      else if (mode == "cusum") s"rollup:$RollupTable"
      else s"rollup:$partials"
    val c = Report.Config(source = source, report = mode,
      splitAt = Some(log.shiftDay.toString), digestId = Some(planted))
    if (windowed) c.copy(since = Some(log.shiftDay.minusDays(7).toString),
      until = Some(log.shiftDay.plusDays(7).toString))
    else c
  }

  private def name(mode: String, rollup: Boolean) =
    if (rollup) s"report.rollup_$mode" else s"report.$mode"

  /** Runs one report; returns its column names and rows. */
  private def report(ctx: Ctx, mode: String, rollup: Boolean,
                     windowed: Boolean): (Seq[String], Seq[Seq[Any]]) =
    ctx.tracer.frameOp(name(mode, rollup))(
      Report.run(ctx.spark, config(mode, rollup, windowed))) { df =>
      (df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
    }

  /** A mode is windowed when its position in [[EventModes]] is even, its
    * rollup twin with it; the rollup digest page cannot be windowed, so
    * the digest pair never is. Half the round's reports are windowed. */
  private def windowed(m: String): Boolean =
    m != "digest" && EventModes.indexOf(m) % 2 == 0

  /** One round: every event-level report and every rollup twin once, in
    * an order shuffled by the seed. */
  private def playRound(ctx: Ctx, rnd: Int, timed: Boolean): Unit = {
    val all = EventModes.map(_ -> false) ++ RollupModes.map(_ -> true)
    val out = mutable.Map.empty[(String, Boolean), (Seq[String], Seq[Seq[Any]])]
    new scala.util.Random(ctx.seed * 1000 + rnd).shuffle(all).foreach { case k @ (m, rollup) =>
      out(k) =
        if (timed) ctx.timed(name(m, rollup), 1)(report(ctx, m, rollup, windowed(m)))
        else report(ctx, m, rollup, windowed(m))
    }
    val res = ctx.result
    RollupModes.foreach { m =>
      val (cols, event) = out((m, false))
      // the event-level sparkline presents raw totals; its twin rounds them
      val cmp = if (m == "sparkline") Checks.roundCols(event,
        Seq(cols.indexOf("total_time"), cols.indexOf("total_time_scaled")), 4) else event
      val (problems, flips) = Checks.twin(m, out((m, true))._2, cmp)
      res.fail(problems)
      if (timed) tieFlips += flips
    }
    val lastDay = log.shiftDay.toEpochDay - 1
    Seq(false, true).foreach { rollup =>
      val (cols, rows) = out(("cusum", rollup))
      val (d, f) = (cols.indexOf("day"), cols.indexOf("is_changepoint"))
      res.fail(Checks.cusum(rows.map(row =>
        (row(d).asInstanceOf[Long], row(f).asInstanceOf[Boolean])), lastDay))
    }
    val (cCols, cRows) = out(("compare", false))
    res.fail(Checks.compare(cRows.map(_(cCols.indexOf("digest")).asInstanceOf[String]), planted))
  }

  def warmUp(ctx: Ctx): Unit = playRound(ctx, -1, timed = false)

  def run(ctx: Ctx): Unit = {
    // a round lasts about five seconds: at least two, so each report
    // kind's median rests on more than one sample
    ctx.measure(minRounds = 2)(i => playRound(ctx, i, timed = true))
    val lat = ctx.opLatencies
    ctx.result.head("report_p50_s", Stats.median(lat), "s")
    ctx.result.head("report_p90_s", Stats.quantile(lat, 0.9), "s")
    ctx.result.head("report_samples", lat.length, "count")
    ctx.result.head("report_twin_tie_flips", tieFlips, "count")
  }

  def layers(ctx: Ctx): Unit = {
    val r = ctx.result
    Layers.session(ctx, Layers.ops(ctx, _.startsWith("report.")))
    EventModes.foreach(m => r.layer(s"report.${m}_s", Layers.medianS(ctx, s"report.$m"), "s"))
    RollupModes.foreach(m =>
      r.layer(s"report.rollup_${m}_s", Layers.medianS(ctx, s"report.rollup_$m"), "s"))
    val open = (0 until 5).map(_ => Layers.secs(ctx.tracer.span("sources.warehouse_open")(
      Warehouse.read(ctx.spark, warehouse.stripPrefix("parquet:")))))
    r.layer("sources.warehouse_open_s", Stats.median(open), "s")
    Seq(true -> "windowed", false -> "full").foreach { case (w, label) =>
      val df = Report.run(ctx.spark, config("profile", rollup = false, windowed = w))
      df.collect()
      r.layer(s"sources.files_read_$label", Layers.filesRead(df), "count")
    }
  }
}
