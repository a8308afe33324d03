package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run reports: the end-to-end metrics (untraced runs), the
  * per-layer metrics (traced runs), named headline figures for people,
  * and every output problem found. */
final class Result {
  var attempted = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val headline = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(ps: Seq[String]): Unit = problems ++= ps
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def head(name: String, v: Double, unit: String): Unit = headline(name) = (v, unit)
}

/** Everything a workload needs: the session, the tracer, its private
  * work directory and the measurement clock. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Int, val work: Path, val result: Result) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  private val items = mutable.Map.empty[String, Double]
  private var counter = 0

  /** A fresh, not yet existing path under the work directory. */
  def fresh(name: String): Path = { counter += 1; work.resolve(s"$name-$counter") }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Times `body` as one measured operation of the given kind that
    * completes `work` items. */
  def timed[A](kind: String, work: Double)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = try body catch { case e: Exception =>
      result.fail(Seq(s"operation failed: $e")); throw e }
    latencies += kind -> (System.nanoTime() - t0) / 1e9
    items(kind) = work
    result.attempted += 1
    a
  }

  /** The measured loop: `round` for the run's `seconds`, at least
    * `minRounds` and at most `maxRounds` times. */
  def measure(minRounds: Int, maxRounds: Int = Int.MaxValue)(round: Int => Unit): Unit = {
    tracer.measuredFrom = tracer.opCount
    val t0 = System.nanoTime()
    var i = 0
    while (i < maxRounds && (i < minRounds || System.nanoTime() - t0 < seconds * 1e9)) {
      round(i); i += 1
    }
  }

  def opLatencies: Seq[Double] = latencies.map(_._2).toSeq

  /** Median wall time of each kind of operation. */
  def kindMedians: Map[String, Double] =
    latencies.toSeq.groupBy(_._1).map { case (k, ls) => k -> Stats.median(ls.map(_._2)) }

  /** Geometric mean of the kinds' median wall times: every kind weighs
    * the same, short or long. */
  def opGeomean: Double = Stats.geomean(kindMedians.values.toSeq)

  /** Work rate of a median round: every kind's items over the sum of the
    * kinds' medians. */
  def itemsPerS: Double = {
    val med = kindMedians
    med.keys.toSeq.map(items).sum / med.values.sum
  }
}

trait Workload {
  /** Generates inputs and builds what the operations read, into fresh
    * directories; called several times so set-up time has a median. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed rounds until the JIT has compiled the hot paths and the
    * operation times have levelled off. */
  def warmUp(ctx: Ctx): Unit
  /** The measured loop; calls [[Ctx.timed]] once per operation. */
  def run(ctx: Ctx): Unit
  /** Per-layer metrics, read from the tracer after a traced run. */
  def layers(ctx: Ctx): Unit
}

/**
 * Benchmark entry point, launched by `perfbench/run.py`:
 * {{{
 *   perfbench.Main --workload <ingest|qan_reports|curate|board> --seed N
 *     --seconds S --trace 0|1 --work <dir> --result <file> [--spans <file>]
 * }}}
 * Writes the result as JSON to `--result`; the spans of a traced run go
 * to `--spans`.
 */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = Paths.get(a("work"))
    val trace = a("trace") == "1"
    val workload: Workload = a("workload") match {
      case "ingest" => new IngestWorkload
      case "qan_reports" => new ReportWorkload
      case "curate" => new CurateWorkload
      case "board" => new BoardWorkload
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = new Result
    try {
      val ctx = new Ctx(spark, new Tracer(spark, trace), a("seed").toLong,
        a("seconds").toInt, work, result)
      val setups = (0 until SetupReps).map { rep =>
        val s = System.nanoTime()
        workload.setup(ctx, rep)
        (System.nanoTime() - s) / 1e9
      }
      val w0 = System.nanoTime()
      workload.warmUp(ctx)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(setups) + warmS
      val heapAfterSetup = liveHeapMb()
      workload.run(ctx)
      val heap = math.max(heapAfterSetup, liveHeapMb())
      result.endToEnd("setup_s") = (setupS, "s")
      result.endToEnd("op_s") = (ctx.opGeomean, "s")
      result.endToEnd("items_per_s") = (ctx.itemsPerS, "items/s")
      result.endToEnd("peak_heap_mb") = (heap, "MB")
      result.head("setup_s", setupS, "s")
      result.head("setup_session_s", sessionS, "s")
      result.head("setup_inputs_s", Stats.median(setups), "s")
      result.head("setup_warmup_s", warmS, "s")
      result.head("peak_heap_mb", heap, "MB")
      result.head("failed_ratio", result.problems.length.toDouble / math.max(1L, result.attempted), "ratio")
      if (trace) {
        ctx.tracer.settle()
        workload.layers(ctx)
        result.headline.foreach { case (k, (v, u)) => result.layer(s"workload.$k", v, u) }
        result.layer("trace.op_s", ctx.opGeomean, "s")
        result.layer("trace.spans", ctx.tracer.all.length, "count")
        a.get("spans").foreach(p => ctx.tracer.write(Paths.get(p)))
      }
    } catch {
      case e: Throwable =>
        result.fail(Seq(s"run aborted: $e"))
        e.printStackTrace()
    } finally {
      writeResult(Paths.get(a("result")), result)
      spark.stop()
    }
  }

  /** Heap in use after full collections: the live set, in MB. The pauses
    * let Spark's context cleaner drop the blocks of frames a collection
    * found unreachable, so a later collection frees them too. */
  private def liveHeapMb(): Double = {
    val heap = ManagementFactory.getMemoryMXBean
    (0 until 2).map { _ =>
      System.gc()
      Thread.sleep(100)
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def writeResult(path: Path, r: Result): Unit = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString("{", ",", "}")
    val json = s"""{"attempted":${r.attempted},"problems":[${r.problems.map(Json.str).mkString(",")}],""" +
      s""""end_to_end":${obj(r.endToEnd)},"per_layer":${obj(r.layers)},"headline":${obj(r.headline)}}"""
    Files.write(path, json.getBytes(StandardCharsets.UTF_8))
  }
}
