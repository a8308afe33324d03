package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Shape of a generated slow-log directory. */
final case class LogSpec(days: Int, eventsPerDay: Int, files: Int,
                         digests: Int, start: LocalDate = LocalDate.of(2024, 3, 4))

/** A generated log and the ground truth the output checks compare with.
  * `shiftDay` is both the `-splitAt` day and the planted level-shift day;
  * `regressTable` is the table only the regressing digest's queries use. */
final case class GeneratedLog(dir: Path, events: Long, totalUs: Long,
                              bytes: Long, start: LocalDate, days: Int,
                              shiftDay: LocalDate, regressTable: String) {
  def end: LocalDate = start.plusDays(days)
}

/**
 * Seeded MySQL/Percona slow-log generator. Traits that parse cost depends
 * on vary: Zipf-skewed digests, a long tail of query lengths (multi-line
 * statements, long IN lists, multi-row INSERTs), a share of Percona
 * extended headers, `use db` and rate-limit lines that carry across
 * events, admin commands, ISO and legacy `# Time:` formats, many days and
 * more files than cores. Planted QAN signals: from `shiftDay` on, every
 * query runs 2x slower (a level shift) and one digest 10x slower (the
 * regression); a few hours carry bursts of one slow digest.
 */
object SlowLogGen {
  private val Words = Array("alpha", "beta", "gamma", "delta", "omega",
    "north", "south", "paid", "open", "closed", "x", "y")

  private def template(k: Int, regress: Int, r: SplittableRandom): String = {
    val t = if (k == regress) "regress_target" else s"t_$k"
    def n = r.nextInt(1, 1000000)
    def w = Words(r.nextInt(Words.length))
    // long-tail list length: most short, a few hundreds long
    def listLen = math.min(600, (2.0 / math.pow(r.nextDouble() + 1e-9, 0.7)).toInt)
    (if (k == regress) 0 else k % 6) match {
      case 0 => s"SELECT c1, c2, c3 FROM $t WHERE id = $n"
      case 1 => s"SELECT * FROM $t WHERE user_id IN (" +
        Iterator.fill(listLen)(n).mkString(", ") + s") AND state = '$w'"
      case 2 => s"SELECT a.x, b.y, count(*) AS c\nFROM $t a\n  JOIN u_$k b ON a.id = b.aid\n" +
        s"WHERE a.created > '2024-01-0${r.nextInt(1, 10)}' AND b.kind = '$w'\n" +
        s"GROUP BY a.x, b.y\nORDER BY c DESC\nLIMIT ${r.nextInt(1, 100)}"
      case 3 => s"UPDATE $t SET v = $n, note = '$w' WHERE id = $n"
      case 4 => s"INSERT INTO $t (a, b) VALUES " +
        Iterator.fill(math.min(listLen, 200))(s"($n, '$w')").mkString(", ")
      case _ => s"DELETE FROM $t WHERE ts < '2024-02-0${r.nextInt(1, 10)}' AND id BETWEEN $n AND $n"
    }
  }

  def generate(seed: Long, spec: LogSpec, dir: Path): GeneratedLog = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val zipf = new Zipf(spec.digests, 1.1)
    val regress = 1 // the second most frequent digest
    val baseMu = Array.tabulate(spec.digests)(_ =>
      math.log(0.0005) + r.nextDouble() * (math.log(0.2) - math.log(0.0005)))
    // the regression must stand out from the 2x level shift every digest
    // gets: the regressing digest is as slow as the slowest one
    baseMu(regress) = baseMu.max
    val shiftIdx = spec.days / 2
    // Bursts hit ordinary digests only, to keep clear of an engine defect:
    // `Report -report seasonal` squares hourly loads in integer µs and
    // aborts on its magnitude guard (m·Σs² >= 4.4e18) once one hour of
    // one day carries about 400 s of load in a four-week series. A burst
    // on the regressing digest after the shift (40 events at 2x·10x·5x
    // its latency, about 800 s in one hour) does that: it aborted seed 2
    // of the qan_reports log when bursts were drawn from every digest.
    // Once the guard is fixed, draw the burst digest from all of them
    // again (`r.nextInt(spec.digests)`) so the benchmark stresses it.
    val bursts = Seq.fill(3)((r.nextInt(spec.days), r.nextInt(24),
      r.nextInt(2, spec.digests)))
    // diurnal profile: busier during the day
    val hourW = Array.tabulate(24)(h => 1.0 + 0.8 * math.sin((h - 6) * math.Pi / 12))
    val hourTot = hourW.sum

    final case class Ev(epochSec: Long, micros: Int, digest: Int, slow: Double)
    val events = Iterator.range(0, spec.days).flatMap { d =>
      val dayStart = spec.start.plusDays(d).atStartOfDay(ZoneOffset.UTC).toEpochSecond
      val n = (spec.eventsPerDay * (0.9 + 0.2 * r.nextDouble())).toInt
      Iterator.range(0, 24).flatMap { h =>
        val nh = math.round(n * hourW(h) / hourTot).toInt
        val burst = bursts.filter(b => b._1 == d && b._2 == h)
          .flatMap(b => Seq.fill(40)((b._3, 5.0)))
        val normal = Seq.fill(nh)((zipf.sample(r), 1.0))
        (normal ++ burst).map { case (dg, slow) =>
          Ev(dayStart + h * 3600 + r.nextInt(3600), r.nextInt(1000000), dg, slow)
        }.sortBy(e => (e.epochSec, e.micros))
      }
    }.toVector

    Files.createDirectories(dir)
    val perFile = (events.length + spec.files - 1) / spec.files
    var totalUs = 0L
    var bytes = 0L
    events.grouped(perFile).zipWithIndex.foreach { case (chunk, fi) =>
      val sb = new StringBuilder(chunk.length * 400)
      sb.append("/usr/sbin/mysqld, Version: 8.0.36-28 (Percona Server). started with:\n")
      sb.append("Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock\n")
      sb.append("Time                 Id Command    Argument\n")
      chunk.foreach { e =>
        val day = (e.epochSec / 86400 - spec.start.toEpochDay).toInt
        val shift = if (day >= shiftIdx) 2.0 else 1.0
        val regr = if (day >= shiftIdx && e.digest == regress) 10.0 else 1.0
        val sec = math.exp(baseMu(e.digest) + 0.5 * nextGaussian(r)) * shift * regr * e.slow
        val us = math.max(1L, math.round(sec * 1e6))
        totalUs += us
        val ldt = java.time.LocalDateTime.ofEpochSecond(e.epochSec, 0, ZoneOffset.UTC)
        val (yy, mo, dd) = (ldt.getYear, ldt.getMonthValue, ldt.getDayOfMonth)
        val (hh, mi, ss) = (ldt.getHour, ldt.getMinute, ldt.getSecond)
        if (r.nextDouble() < 0.15) // legacy header: YYMMDD H:MM:SS
          sb.append(f"# Time: ${yy % 100}%02d$mo%02d$dd%02d $hh%2d:$mi%02d:$ss%02d\n")
        else
          sb.append(f"# Time: $yy%04d-$mo%02d-$dd%02dT$hh%02d:$mi%02d:$ss%02d.${e.micros}%06dZ\n")
        val u = r.nextInt(12)
        sb.append(s"# User@Host: app$u[app$u] @ web${u % 5} [10.0.${u % 5}.${r.nextInt(1, 250)}]  Id: ${r.nextInt(1, 90000)}\n")
        sb.append(f"# Query_time: ${us / 1000000}%d.${us % 1000000}%06d  Lock_time: 0.0000${r.nextInt(10, 99)}%d" +
          s" Rows_sent: ${r.nextInt(0, 500)}  Rows_examined: ${r.nextInt(0, 200000)}\n")
        if (r.nextDouble() < 0.3) {
          sb.append(s"# Thread_id: ${r.nextInt(1, 90000)}  Schema: db${r.nextInt(8)}  QC_hit: No\n")
          if (r.nextDouble() < 0.1)
            sb.append("# Log_slow_rate_type: query  Log_slow_rate_limit: 10\n")
          sb.append(s"# Full_scan: ${yn(r)}  Full_join: ${yn(r)}  Tmp_table: ${yn(r)}  Tmp_table_on_disk: No\n")
          sb.append(s"# Filesort: ${yn(r)}  Filesort_on_disk: No  Merge_passes: ${r.nextInt(3)}\n")
          sb.append(s"# InnoDB_IO_r_ops: ${r.nextInt(500)}  InnoDB_IO_r_bytes: ${r.nextInt(1 << 20)}  InnoDB_IO_r_wait: 0.00${r.nextInt(1000, 9999)}\n")
          sb.append(s"# InnoDB_rec_lock_wait: 0.000000  InnoDB_queue_wait: 0.000000  InnoDB_pages_distinct: ${r.nextInt(1, 200)}\n")
        }
        if (r.nextDouble() < 0.1) sb.append(s"use db${r.nextInt(8)};\n")
        if (r.nextDouble() < 0.7) sb.append(s"SET timestamp=${e.epochSec};\n")
        if (r.nextDouble() < 0.02) sb.append("# administrator command: Quit;\n")
        else sb.append(template(e.digest, regress, r)).append(";\n")
      }
      val b = sb.toString.getBytes(StandardCharsets.UTF_8)
      bytes += b.length
      Files.write(dir.resolve(f"mysql-slow.log.$fi%04d"), b)
    }
    GeneratedLog(dir, events.length.toLong, totalUs, bytes, spec.start,
      spec.days, spec.start.plusDays(shiftIdx), "regress_target")
  }

  private def yn(r: SplittableRandom): String = if (r.nextBoolean()) "Yes" else "No"

  private def nextGaussian(r: SplittableRandom): Double = {
    // Box-Muller on SplittableRandom, which has no gaussian of its own
    val u1 = r.nextDouble() + 1e-12
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}

/** Seeded word soup: a Zipf vocabulary with the quality score's stopwords
  * among the most frequent words, as in natural prose. */
final class WordSoup(r: SplittableRandom, vocab: Int) {
  private val stop = Array("the", "a", "of", "and", "is", "in", "to", "it")
  private val syll = Array("ka", "lo", "mi", "ren", "ta", "vo", "shi", "pa",
    "dor", "el", "na", "qu", "ix", "be", "su", "tor")
  private val words: Array[String] = stop ++ Iterator.from(0).map { i =>
    var x = i + 17; val sb = new StringBuilder
    while (sb.length < 3 || x > 0) { sb.append(syll(x % syll.length)); x /= syll.length }
    sb.toString
  }.take(vocab).toArray
  private val zipf = new Zipf(words.length, 1.0)
  def text(n: Int): String = Iterator.fill(n)(words(zipf.sample(r))).mkString(" ")
}

/** A generated curation corpus and the planted defects' counts. */
final case class GeneratedCorpus(path: String, docs: Long, blocked: String, cap: Int)

/**
 * Seeded web corpus for `Curate`: base word-soup documents grown by
 * per-replica token salting (each replica's tokens carry a `_<rep>`
 * suffix, so replicas are not duplicates of each other), a `url` column
 * over Zipf-sized domains (the head domains exceed the cap), and planted
 * URL duplicates, exact-text duplicates, near-duplicates well above the
 * 0.6 Jaccard threshold, low-quality documents and a blocklisted domain.
 */
object CorpusGen {
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("url", StringType)))

  def generate(spark: SparkSession, seed: Long, baseDocs: Int,
               replicas: Int, path: String): GeneratedCorpus = {
    val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    val soup = new WordSoup(r, 3000)
    val (kinds, tlds) = (Seq("site", "news", "blog", "shop"), Seq("com", "org", "net"))
    val domains = Array.tabulate(150)(k => s"${kinds(k % 4)}$k.${tlds(k % 3)}")
    val blocked = "spam-farm.com"
    val domZipf = new Zipf(domains.length, 1.1)
    val langs = Array("en", "de", "fr", "es", "zh")
    val base = Vector.tabulate(baseDocs)(_ => soup.text(r.nextInt(40, 120)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val urls = scala.collection.mutable.ArrayBuffer.empty[String]
    // documents whose text is not itself a planted copy: copies are made
    // of these only, so duplicate clusters are stars of one original and
    // its copies, and the clustering's iteration count does not depend on
    // how long a chain of copies of copies the seed happens to draw
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rows = Vector.newBuilder[Row]
    for (rep <- 0 until replicas; b <- 0 until baseDocs) {
      val id = texts.length.toLong
      var text = if (rep == 0) base(b)
        else base(b).split(' ').map(w => s"${w}_$rep").mkString(" ")
      val dom = if (r.nextDouble() < 0.02) blocked else domains(domZipf.sample(r))
      var url = s"https://www.$dom/p/${id * 7919 % 100003}/$id.html"
      var original = true
      if (id > 10) {
        val v = r.nextDouble()
        val other = originals(r.nextInt(originals.length))
        original = v < 0.05 || v >= 0.18
        if (v < 0.05) // URL twin of an earlier document: scheme/host case and a fragment differ
          url = urls(other).replace("https://www.", "HTTPS://WWW.") + "#top"
        else if (v < 0.10) // exact-text duplicate under its own URL
          text = texts(other)
        else if (v < 0.15) { // near-duplicate: one or two words replaced
          val ws = texts(other).split(' ')
          Iterator.fill(1 + r.nextInt(2))(r.nextInt(ws.length)).foreach(i => ws(i) = "zz" + i)
          text = ws.mkString(" ")
        } else if (v < 0.18) // low quality: short, punctuation-heavy, no stopwords
          text = Iterator.fill(r.nextInt(5, 15))("$$$ BUY!!! now,,, ###").mkString(" ")
      }
      if (original) originals += id.toInt
      texts += text
      urls += url
      rows += Row(id, text, langs(r.nextInt(langs.length)), url)
    }
    val built = rows.result()
    spark.createDataFrame(spark.sparkContext.parallelize(built, 4), Schema)
      .write.mode("overwrite").parquet(path)
    GeneratedCorpus(path, built.length.toLong, blocked, 15)
  }
}

/**
 * Seeded tables for the board sample, in the column layout the engine's
 * board entries read: a TPC-H-like star (region, nation, customer, orders,
 * lineitem), a word-soup `documents` table with planted near-duplicates,
 * and unit-norm 64-d `embeddings` around ten label centroids, half of
 * them tight and half diffuse so density clustering finds cores, borders
 * and noise.
 */
object BoardGen {
  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def generate(spark: SparkSession, seed: Long, orders: Int, docs: Int,
               vectors: Int, dir: String): Unit = {
    val r = new SplittableRandom(seed * 0x632BE59BD9B4E019L + 3)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)
    def cents(lo: Int, hi: Int): Double = r.nextInt(lo, hi) / 100.0
    val epoch0 = LocalDate.of(1995, 1, 1).toEpochDay

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customers = math.max(10, orders / 10)
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(-99999, 999999), segs(r.nextInt(segs.length)))))
    val (flags, lineStatus, orderStatus) = (Seq("A", "N", "R"), Seq("F", "O"), Seq("F", "O", "P"))
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    def ts(day: Long) = java.sql.Timestamp.valueOf(LocalDate.ofEpochDay(day).atStartOfDay())
    val lines = Vector.newBuilder[Row]
    val orderRows = (0 until orders).map { o =>
      val day = epoch0 + r.nextInt(2400)
      (1 to r.nextInt(1, 8)).foreach { ln =>
        val qty = r.nextInt(1, 51).toDouble
        lines += Row(o.toLong, r.nextInt(1, 2001).toLong, r.nextInt(1, 101).toLong, ln, qty,
          math.round(qty * r.nextInt(90000, 210000)) / 100.0, cents(0, 11), cents(0, 9),
          flags(r.nextInt(3)), lineStatus(r.nextInt(2)),
          ts(day + r.nextInt(1, 122)))
      }
      Row(o.toLong, r.nextInt(customers).toLong, orderStatus(r.nextInt(3)),
        cents(100000, 50000000), ts(day), prios(r.nextInt(prios.length)))
    }
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))), orderRows)
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))), lines.result())

    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until docs).foreach { i =>
      texts += (if (i > 10 && r.nextDouble() < 0.08) { // planted near-duplicate
        val ws = texts(r.nextInt(i)).split(' ')
        ws(r.nextInt(ws.length)) = "dup"
        ws.mkString(" ")
      } else Iterator.fill(r.nextInt(8, 100))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    }
    val langs = Array("en", "zh", "fr", "es", "de")
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(r.nextInt(5)), s"src${r.nextInt(20)}", t.length.toLong) }.toSeq)

    def gauss(): Double = {
      val u1 = r.nextDouble() + 1e-12
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centroids = Array.fill(10)(unit(Array.fill(64)(gauss())))
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until vectors).map { i =>
        val label = r.nextInt(10)
        val spread = if (r.nextBoolean()) 0.12 else 0.3
        val v = unit(centroids(label).map(_ + spread * gauss()))
        Row(i.toLong, v.map(_.toFloat).toSeq, label)
      })
  }
}
