package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.slowlog.SlowLogParser

/** The slow-log generator is a pure function of its seed, and what it plants
  * is what the engine's parser reads back. */
class GenSpec extends AnyFunSuite {
  private val spec = LogSpec(days = 4, eventsPerDay = 300, files = 5, digests = 40)

  private def gen(seed: Long): (GeneratedLog, Seq[Array[Byte]]) = {
    val dir = Files.createTempDirectory("perfbench-gen")
    val log = SlowLogGen.generate(seed, spec, dir)
    val files = Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
    (log, files.map(Files.readAllBytes))
  }

  test("the same seed gives byte-identical files; another seed other bytes, same shape") {
    val (a, fa) = gen(7)
    val (b, fb) = gen(7)
    val (c, fc) = gen(8)
    assert(fa.length == spec.files && fa.map(_.toSeq) == fb.map(_.toSeq))
    assert(a.events == b.events && a.totalUs == b.totalUs)
    assert(fc.length == spec.files && fa.map(_.toSeq) != fc.map(_.toSeq))
    assert(math.abs(c.events - a.events).toDouble / a.events < 0.1)
  }

  test("the parser reads back every generated event and its total query time") {
    val (log, files) = gen(3)
    val events = files.flatMap(f => SlowLogParser.parseString(new String(f, "UTF-8")))
    assert(events.length == log.events)
    val us = events.map(e => math.round(e.timeMetrics("Query_time") * 1e6)).sum
    assert(us == log.totalUs)
    assert(events.exists(_.admin) && events.exists(_.query.contains("\n")))
    assert(events.count(_.query.contains(log.regressTable)) > 0)
  }
}
