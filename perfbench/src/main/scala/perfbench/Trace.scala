package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `op` groups the spans of one operation. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
                      startNs: Long, var endNs: Long = 0L) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span (its own jobs, not its children's). */
final class Counters {
  var jobs, stages, tasks, singleTaskStages = 0L
  var taskMs, gcMs, shuffleWrite, shuffleRead, spill, input, output = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    singleTaskStages += o.singleTaskStages; taskMs += o.taskMs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    input += o.input; output += o.output
  }
}

/** Totals of `StreamingQueryProgress.durationMs` over the progress events
  * seen since the last [[Tracer.takeStreaming]]. */
final case class StreamingTotals(batches: Long, triggerMs: Long,
                                 addBatchMs: Long, planningMs: Long)

/**
 * Spans around the harness's calls into each layer, kept in memory and
 * written once at the end. When enabled, each span tags the Spark jobs
 * its body submits (`SparkContext.addJobTag`), and a listener attributes
 * every job's stages to the innermost tagged span. When disabled, [[span]]
 * only runs its body: untraced runs carry no listener and no tags.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opSeq = 0L
  /** Operations up to this id ran before measurement (set-up, warm-up). */
  var measuredFrom = 0L
  private val lock = new Object
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val progress = mutable.ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]
  private val TagPrefix = "perfbench-span-"

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(',').toSeq).getOrElse(Nil)
        val id = tags.filter(_.startsWith(TagPrefix))
          .map(_.stripPrefix(TagPrefix).toInt).maxOption.getOrElse(0)
        lock.synchronized {
          counters(id).jobs += 1
          e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = id)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val m = info.taskMetrics
        lock.synchronized {
          val c = counters(stageSpan.getOrElse(info.stageId, 0))
          c.stages += 1
          c.tasks += info.numTasks
          if (info.numTasks == 1) c.singleTaskStages += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.input += m.inputMetrics.bytesRead
            c.output += m.outputMetrics.bytesWritten
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        lock.synchronized { progress += e.progress.durationMs }
    })
  }

  private def counters(id: Int): Counters = bySpan.getOrElseUpdate(id, new Counters)

  def opCount: Long = opSeq

  /** Starts a new operation: its spans share one op id. */
  def operation[A](name: String)(body: => A): A = {
    opSeq += 1
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.length + 1, stack.headOption.map(_.id).getOrElse(0),
        name, opSeq, System.nanoTime())
      spans += s
      stack = s :: stack
      val tag = TagPrefix + s.id
      sc.addJobTag(tag)
      try body
      finally {
        sc.removeJobTag(tag)
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** A DataFrame operation split into build (the public call that returns
    * the frame), plan (physical planning) and exec (the action). */
  def frameOp[A](name: String)(build: => DataFrame)(action: DataFrame => A): A =
    operation(name) {
      val df = span("build")(build)
      span("plan")(df.queryExecution.executedPlan)
      span("exec")(action(df))
    }

  /** Delivers queued listener events; call before reading counters. */
  def settle(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  def named(p: Span => Boolean): Seq[Span] = spans.filter(p).toSeq

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Counters of the given spans and every span under them. */
  def totals(ss: Seq[Span]): Counters = {
    val kids = children
    def subtree(s: Span): Seq[Span] =
      s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val ids = ss.flatMap(subtree).map(_.id).toSet
    val c = new Counters
    lock.synchronized(ids.foreach(id => bySpan.get(id).foreach(c.add)))
    c
  }

  /** Duration minus the part of it that child spans cover. */
  def selfNs(s: Span, kids: Map[Int, Seq[Span]] = children): Long = {
    val iv = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    s.durNs - covered
  }

  /** Streaming progress totals since the previous call. */
  def takeStreaming(): StreamingTotals = lock.synchronized {
    def get(m: java.util.Map[String, java.lang.Long], k: String): Long =
      Option(m.get(k)).map(_.longValue).getOrElse(0L)
    val t = StreamingTotals(progress.length,
      progress.map(get(_, "triggerExecution")).sum,
      progress.map(get(_, "addBatch")).sum,
      progress.map(get(_, "queryPlanning")).sum)
    progress.clear()
    t
  }

  /** Writes every span, with its self time and own counters, as JSON lines. */
  def write(path: Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val kids = children
    val lines = spans.map { s =>
      val c = lock.synchronized(bySpan.getOrElse(s.id, new Counters))
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},"self_ns":${selfNs(s, kids)},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""single_task_stages":${c.singleTaskStages},"task_ms":${c.taskMs},""" +
        s""""gc_ms":${c.gcMs},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"spill_bytes":${c.spill},""" +
        s""""input_bytes":${c.input},"output_bytes":${c.output}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
