package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check passes the right answer and fires on a corrupted one. */
class ChecksSpec extends AnyFunSuite {

  test("ingest: a dropped event or a changed query time fails") {
    assert(Checks.ingest(100, 100, 5000, 5000).isEmpty)
    assert(Checks.ingest(99, 100, 5000, 5000).exists(_.contains("event_yield")))
    assert(Checks.ingest(100, 100, 4999, 5000).exists(_.contains("query time")))
  }

  test("twin: a rollup report must equal its event-level twin row for row") {
    val rows = Seq(Seq[Any]("d1", 3L, 0.25), Seq[Any]("d2", 1L, 0.5))
    assert(Checks.twin("apdex", rows, rows) == (Nil, 0))
    assert(Checks.twin("apdex", rows.reverse, rows)._1.nonEmpty)
    assert(Checks.twin("apdex", rows.take(1), rows)._1.nonEmpty)
    assert(Checks.twin("apdex", Seq(Seq[Any]("d1", 3L, 0.2500001), rows(1)), rows)._1.nonEmpty)
    assert(Checks.twin("apdex", Seq(Seq[Any]("d1", 4L, 0.25), rows(1)), rows)._1.nonEmpty)
  }

  test("twin: a half-way tie read one 4-dp unit low is counted, other gaps fail") {
    val rollup = (1 to 40).map(i => Seq[Any](s"d$i", 1.9781))
    val flipped = rollup.updated(0, Seq[Any]("d1", 1.978))
    assert(Checks.twin("sparkline", rollup, flipped) == (Nil, 1))
    // one unit HIGH on the event side is no tie flip
    assert(Checks.twin("sparkline", rollup, rollup.updated(0, Seq[Any]("d1", 1.9782)))._1.nonEmpty)
    assert(Checks.twin("sparkline", rollup, rollup.updated(0, Seq[Any]("d1", 1.9779)))._1.nonEmpty)
    // systematic one-unit gaps are a defect, not ties
    assert(Checks.twin("sparkline", rollup, rollup.map(r => Seq[Any](r(0), 1.978)))._1.nonEmpty)
  }

  test("twin: the sparkline compare rounds event-level totals to 4 dp") {
    val event = Seq(Seq[Any]("b", "d", 1L, 1L, 0.123449999, 0.12345))
    val rollup = Seq(Seq[Any]("b", "d", 1L, 1L, 0.1234, 0.1235))
    assert(Checks.twin("sparkline", rollup, Checks.roundCols(event, Seq(4, 5), 4)) == (Nil, 0))
    assert(Checks.twin("sparkline", rollup, event)._1.nonEmpty)
  }

  test("cusum: exactly the day before the planted shift is flagged") {
    val rows = Seq(10L -> false, 11L -> true, 12L -> false)
    assert(Checks.cusum(rows, 11L).isEmpty)
    assert(Checks.cusum(rows, 12L).nonEmpty)
    assert(Checks.cusum(rows.map(r => r._1 -> true), 11L).nonEmpty)
    assert(Checks.cusum(rows.map(r => r._1 -> false), 11L).nonEmpty)
  }

  test("compare: the planted digest must rank first") {
    assert(Checks.compare(Seq("A", "B"), "A").isEmpty)
    assert(Checks.compare(Seq("B", "A"), "A").nonEmpty)
    assert(Checks.compare(Nil, "A").nonEmpty)
  }

  test("curate: rising counts, a domain over the cap and duplicate kept texts fail") {
    val good = Seq("a.com" -> Seq(9L, 9L, 8L, 8L, 7L, 6L, 3L), "b.org" -> Seq(2L, 0L, 0L, 0L, 0L, 0L, 0L))
    val kept = Seq("x", "y", "z")
    assert(Checks.curate(good, kept, cap = 3).isEmpty)
    val rising = Seq("a.com" -> Seq(9L, 9L, 8L, 9L, 7L, 6L, 3L))
    assert(Checks.curate(rising, kept, cap = 3).exists(_.contains("rise")))
    assert(Checks.curate(good, kept, cap = 2).exists(_.contains("cap")))
    assert(Checks.curate(good, Seq("x", "x", "z"), cap = 3).exists(_.contains("share one text")))
    assert(Checks.curate(good, kept.take(2), cap = 3).exists(_.contains("output holds")))
  }
}
