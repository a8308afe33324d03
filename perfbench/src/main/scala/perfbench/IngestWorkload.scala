package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, round, sum}
import org.apache.spark.sql.streaming.Trigger

import graft.Ingest
import graft.slowlog.{Fingerprint, SlowLogParser, SlowLogSource, SlowLogTable}
import graft.sources.Warehouse

/**
 * `ingest`: a rotated slow-log directory through `Ingest.run` into a fresh
 * `parquet:` warehouse, then drained again through `Ingest.runTail` with
 * `Trigger.AvailableNow` into a fresh warehouse and checkpoint. One
 * operation is that pair; its items are the events ingested.
 */
final class IngestWorkload extends Workload {
  val Spec = LogSpec(days = 12, eventsPerDay = 2000, files = 8, digests = 300)
  private var log: GeneratedLog = _
  private val batchS = mutable.ArrayBuffer.empty[Double]
  private val tailS = mutable.ArrayBuffer.empty[Double]
  private var bytesWritten = 0L
  private var filesWritten = 0L

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (log != null) ctx.delete(log.dir)
    log = SlowLogGen.generate(ctx.seed, Spec, ctx.fresh("log"))
  }

  private def config(wh: Path) = Ingest.Config(slowLogPath = log.dir.toString,
    dsn = s"parquet:$wh")

  private def batch(ctx: Ctx, wh: Path): Unit = ctx.tracer.operation("ingest.batch") {
    ctx.tracer.span("exec")(Ingest.run(ctx.spark, config(wh)))
  }

  private def tail(ctx: Ctx, wh: Path, cp: Path): Unit = ctx.tracer.operation("ingest.tail") {
    ctx.tracer.span("exec") {
      Ingest.runTail(ctx.spark, config(wh).copy(tail = true, checkpoint = Some(cp.toString)),
        Some(Trigger.AvailableNow())).awaitTermination()
    }
  }

  /** Reads a warehouse back and checks it against the generator's totals. */
  private def check(ctx: Ctx, wh: Path): Unit = {
    val row = Warehouse.read(ctx.spark, wh.toString)
      .agg(org.apache.spark.sql.functions.count("*"),
        sum(round(col("query_time") * 1e6).cast("long")))
      .head()
    ctx.result.fail(Checks.ingest(row.getLong(0), log.events,
      if (row.isNullAt(1)) 0L else row.getLong(1), log.totalUs))
  }

  private def parquetFiles(wh: Path): Seq[Path] = {
    val s = Files.walk(wh)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  def warmUp(ctx: Ctx): Unit = (0 until 2).foreach { _ =>
    val (wh, wt, cp) = (ctx.fresh("wh"), ctx.fresh("wt"), ctx.fresh("cp"))
    batch(ctx, wh)
    tail(ctx, wt, cp)
    Seq(wh, wt, cp).foreach(ctx.delete)
  }

  def run(ctx: Ctx): Unit = {
    ctx.tracer.settle()
    ctx.tracer.takeStreaming() // drop the warm-up drains' progress
    // an operation lasts about a second: five of them for a steady median
    ctx.measure(minRounds = 5) { _ =>
      val (wh, wt, cp) = (ctx.fresh("wh"), ctx.fresh("wt"), ctx.fresh("cp"))
      ctx.timed("ingest", 2.0 * log.events) {
        batchS += Layers.secs(batch(ctx, wh))
        tailS += Layers.secs(tail(ctx, wt, cp))
      }
      check(ctx, wh)
      check(ctx, wt)
      val files = parquetFiles(wh)
      filesWritten = files.length
      bytesWritten = files.map(Files.size).sum
      Seq(wh, wt, cp).foreach(ctx.delete)
    }
    val r = ctx.result
    r.head("ingest_eps", log.events / Stats.median(batchS.toSeq), "events/s")
    r.head("tail_eps", log.events / Stats.median(tailS.toSeq), "events/s")
    r.head("storage_ratio", bytesWritten.toDouble / log.bytes, "bytes/byte")
  }

  def layers(ctx: Ctx): Unit = {
    val r = ctx.result
    val spark = ctx.spark
    val t = ctx.tracer
    Layers.session(ctx, Layers.ops(ctx, _.startsWith("ingest.")))
    val streaming = t.takeStreaming()
    val drains = math.max(1, tailS.length).toDouble
    r.layer("streaming.batches", streaming.batches / drains, "count")
    r.layer("streaming.trigger_s", streaming.triggerMs / 1e3 / drains, "s")
    r.layer("streaming.add_batch_s", streaming.addBatchMs / 1e3 / drains, "s")
    r.layer("streaming.planning_s", streaming.planningMs / 1e3 / drains, "s")

    // single-thread parse and fingerprint, without Spark
    val texts = {
      val s = Files.list(log.dir)
      try s.iterator().asScala.toList.sorted.map(Files.readString) finally s.close()
    }
    val parseNs = mutable.ArrayBuffer.empty[Double]
    val fpNs = mutable.ArrayBuffer.empty[Double]
    var parsed = 0L
    (0 until 3).foreach { _ =>
      val t0 = System.nanoTime()
      val events = t.span("slowlog.parse")(texts.flatMap(SlowLogParser.parseString(_)))
      parseNs += (System.nanoTime() - t0).toDouble / events.length
      parsed = events.length
      val queries = events.map(_.query)
      val t1 = System.nanoTime()
      t.span("slowlog.fingerprint")(queries.foreach(Fingerprint.fingerprint))
      fpNs += (System.nanoTime() - t1).toDouble / queries.length
    }
    r.layer("slowlog.parse_ns_per_event", Stats.median(parseNs.toSeq), "ns")
    r.layer("slowlog.fingerprint_ns_per_query", Stats.median(fpNs.toSeq), "ns")
    r.layer("slowlog.event_yield", parsed.toDouble / log.events, "ratio")

    // distributed scan, flatten and sink, each into the noop sink
    val carry, scan, flat = mutable.ArrayBuffer.empty[Double]
    (0 until 3).foreach { _ =>
      t.operation("slowlog.layers") {
        var raw: org.apache.spark.sql.DataFrame = null
        carry += Layers.secs(t.span("slowlog.carry_scan") {
          raw = SlowLogSource.readRaw(spark, log.dir.toString)
        })
        scan += Layers.secs(t.span("slowlog.scan")(Layers.noop(raw)))
        flat += Layers.secs(t.span("slowlog.flatten")(
          Layers.noop(SlowLogTable.flatten(SlowLogSource.readRaw(spark, log.dir.toString)
            .drop("file")))))
      }
    }
    r.layer("slowlog.carry_scan_s", Stats.median(carry.toSeq), "s")
    r.layer("slowlog.scan_s", Stats.median(scan.toSeq), "s")
    r.layer("slowlog.flatten_s", Stats.median(flat.toSeq) - Stats.median(scan.toSeq) -
      Stats.median(carry.toSeq), "s")
    r.layer("sources.warehouse_write_s",
      Stats.median(batchS.toSeq) - Stats.median(flat.toSeq), "s")
    r.layer("sources.files_written", filesWritten, "count")
    r.layer("sources.bytes_written", bytesWritten, "bytes")
  }
}
