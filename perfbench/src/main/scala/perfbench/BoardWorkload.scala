package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/**
 * `board`: a fixed sample of 16 `SparkEntry` board entries over seeded
 * tables, run once each in a fresh session, in an order shuffled by the
 * seed. One operation is one entry.
 */
final class BoardWorkload extends Workload {
  val Sample = Seq("q03_agg_pricing", "q05_join_multi", "q40_minhash_dedup",
    "q40b_minhash_probe", "q75_simhash_neardup", "q75b_neardup_probe",
    "q123_prefix_jaccard", "q214_ivfpq_recall", "q214b_ivfpq_probe",
    "q118_pagerank", "q209_two_hop", "q220_cc_augment", "q236_dbscan",
    "q200_diverse_search", "q186_bpe_tokens", "q194_mad_outliers")
  private val entries = SparkEntry.queries ++ SparkEntry.benchExtra
  private var dataDir: Path = _

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (dataDir != null) ctx.delete(dataDir)
    dataDir = ctx.fresh("tables")
    BoardGen.generate(ctx.spark, ctx.seed, orders = 15000, docs = 5000, vectors = 2000,
      dir = dataDir.toString)
  }

  private def entry(ctx: Ctx, name: String): (Seq[Row], StructType) =
    ctx.tracer.frameOp(s"entry.$name")(entries(name)(ctx.spark, dataDir.toString)) { df =>
      (df.collect().toSeq, df.schema)
    }

  /** None: board entries run once per session for their users (the oracle
    * dump and the bench board start a JVM per pass), so the measured pass
    * is each entry's first run, planning and code generation included. */
  def warmUp(ctx: Ctx): Unit = ()

  /** One pass, which is also the checked run: its rows go to `board-check/`
    * for the DuckDB oracle compare in `check_board.py`. */
  def run(ctx: Ctx): Unit = {
    ctx.measure(minRounds = 1, maxRounds = 1) { pass =>
      val order = new scala.util.Random(ctx.seed * 1000 + pass).shuffle(Sample)
      var passS = 0.0
      order.foreach { n =>
        val t0 = System.nanoTime()
        val (rows, schema) = ctx.timed(n, 1)(entry(ctx, n))
        passS += (System.nanoTime() - t0) / 1e9
        ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(ctx.work.resolve(s"board-check/$n").toString)
      }
      ctx.result.head("board_s", passS, "s")
    }
    ctx.result.head("entry_geomean_s", ctx.opGeomean, "s")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Sample.contains(k) }
    Files.write(ctx.work.resolve("board-check/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    Files.write(ctx.work.resolve("board-check/tables"),
      dataDir.toString.getBytes(StandardCharsets.UTF_8))
  }

  def layers(ctx: Ctx): Unit = {
    val r = ctx.result
    val all = Layers.ops(ctx, _.startsWith("entry."))
    Layers.session(ctx, all)
    Sample.foreach { n =>
      val ops = all.filter(_.name == s"entry.$n")
      r.layer(s"entry.${n}_s", ctx.kindMedians(n), "s")
      r.layer(s"entry.$n.jobs", ctx.tracer.totals(ops).jobs.toDouble / math.max(1, ops.length), "count")
    }
  }
}
