package perfbench

/**
 * Output checks. Each returns the problems it found; an empty list is a
 * pass. They take plain values (rows as `Seq[Any]`) so the benchmark's
 * tests can feed them corrupted answers without a Spark session.
 */
object Checks {

  /** Ingest: every generated event lands in the warehouse, and the
    * warehouse's total query time equals the generator's, in integer µs. */
  def ingest(eventsOut: Long, eventsIn: Long, totalUsOut: Long,
             totalUsIn: Long): Seq[String] =
    (if (eventsOut != eventsIn)
      Seq(s"event_yield ${eventsOut.toDouble / eventsIn} ($eventsOut of $eventsIn events)")
    else Nil) ++
      (if (totalUsOut != totalUsIn)
        Seq(s"total query time $totalUsOut us, generated $totalUsIn us")
      else Nil)

  /** A rollup-fed report equals its event-level twin row for row.
    *
    * One difference is counted, not failed: a presented 4-dp total that
    * reads exactly 0.0001 lower on the event-level side. The rollup sums
    * integer microseconds and rounds an exact value; the event-level side
    * rounds a double sum, which can land just below a half-way tie
    * (x.xxxx5) that the exact sum sits on. Returns the problems and the
    * number of such tie flips; flips on more than a fifth of the compared
    * double cells fail too (a rate limit of 10 puts one rate-scaled total
    * in ten on a tie). */
  def twin(mode: String, rollup: Seq[Seq[Any]], event: Seq[Seq[Any]]): (Seq[String], Int) = {
    if (rollup.length != event.length || rollup.zip(event).exists(p => p._1.length != p._2.length))
      return (Seq(s"rollup $mode returned ${rollup.length} rows, event-level ${event.length}"), 0)
    var flips, doubles = 0
    var first: Option[String] = None
    rollup.zip(event).zipWithIndex.foreach { case ((r, e), i) =>
      r.zip(e).foreach {
        case (a: Double, b: Double) =>
          doubles += 1
          if (a != b) {
            if (math.abs(a - b - 1e-4) < 1e-9) flips += 1
            else if (first.isEmpty) first = Some(s"row $i: $r vs $e")
          }
        case (a, b) => if (a != b && first.isEmpty) first = Some(s"row $i: $r vs $e")
      }
    }
    val problems = first.map(f => s"rollup $mode differs from its event-level twin at $f").toSeq ++
      (if (flips > math.max(1, doubles / 5))
        Seq(s"rollup $mode: $flips of $doubles totals differ by one 4-dp unit") else Nil)
    (problems, flips)
  }

  /** The event-level sparkline presents raw double totals; the rollup twin
    * rounds once at the presentation edge, so the twin compare rounds the
    * event-level totals the same way (4 dp) before comparing. */
  def roundCols(rows: Seq[Seq[Any]], idx: Seq[Int], dp: Int): Seq[Seq[Any]] =
    rows.map(_.zipWithIndex.map {
      case (d: Double, i) if idx.contains(i) =>
        BigDecimal(d).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
      case (v, _) => v
    })

  /** CUSUM flags exactly one day: the last day before the planted shift. */
  def cusum(rows: Seq[(Long, Boolean)], lastDayBeforeShift: Long): Seq[String] = {
    val flagged = rows.filter(_._2).map(_._1)
    if (flagged != Seq(lastDayBeforeShift))
      Seq(s"cusum flagged days ${flagged.mkString(",")}, planted shift after day $lastDayBeforeShift")
    else Nil
  }

  /** `compare` ranks the planted regressing digest first. */
  def compare(digestsInOrder: Seq[String], planted: String): Seq[String] =
    if (digestsInOrder.headOption.contains(planted)) Nil
    else Seq(s"compare ranked ${digestsInOrder.headOption.orNull} first, planted $planted")

  /** Curate scorecard: counts never increase from `n_raw` to `n_kept`,
    * no domain keeps more than the cap, and no two kept texts are equal. */
  def curate(scorecard: Seq[(String, Seq[Long])], keptTexts: Seq[String],
             cap: Int): Seq[String] = {
    val rising = scorecard.collect {
      case (dom, counts) if counts.sliding(2).exists(p => p.length == 2 && p(1) > p(0)) =>
        s"scorecard counts rise along the stages for $dom: ${counts.mkString(",")}"
    }
    val overCap = scorecard.collect {
      case (dom, counts) if counts.last > cap => s"$dom keeps ${counts.last} > cap $cap"
    }
    val dups = keptTexts.groupBy(identity).collect { case (t, g) if g.length > 1 =>
      s"${g.length} kept documents share one text (${t.take(40)}...)" }
    val total = scorecard.map(_._2.last).sum
    val count = if (total != keptTexts.length)
      Seq(s"scorecard keeps $total documents, output holds ${keptTexts.length}") else Nil
    rising ++ overCap ++ dups.toSeq ++ count
  }
}
