package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Curate
import graft.operators.{Dedup, TextAnalysis, Url}

/**
 * `curate`: `Curate.run` on a seeded corpus with a `url` column, then the
 * scorecard collected. One operation is that pair; its items are the input
 * documents.
 */
final class CurateWorkload extends Workload {
  val BaseDocs = 1000
  val Replicas = 3
  val Stages = Seq("n_raw", "n_allowed", "n_quality", "n_url_uniq",
    "n_exact_uniq", "n_near_uniq", "n_kept")
  private var corpus: GeneratedCorpus = _
  private var corpusDir: Path = _

  def setup(ctx: Ctx, rep: Int): Unit = {
    if (corpusDir != null) ctx.delete(corpusDir)
    corpusDir = ctx.fresh("corpus")
    corpus = CorpusGen.generate(ctx.spark, ctx.seed, BaseDocs, Replicas, corpusDir.toString)
  }

  private def config(out: Path) = Curate.Config(in = corpus.path, out = out.toString,
    urlCol = Some("url"), cap = corpus.cap, minQuality = Some(0.35),
    blocklist = Seq(corpus.blocked))

  private def curate(ctx: Ctx, out: Path): Seq[(String, Seq[Long])] =
    ctx.tracer.frameOp("curate")(Curate.run(ctx.spark, config(out))) { card =>
      card.select("reg_domain", Stages: _*).collect().toSeq
        .map(r => (r.getString(0), (1 to Stages.length).map(r.getLong)))
    }

  private def check(ctx: Ctx, out: Path, card: Seq[(String, Seq[Long])]): Unit = {
    val kept = ctx.spark.read.parquet(out.toString).select("text").collect().map(_.getString(0))
    ctx.result.fail(Checks.curate(card, kept.toSeq, corpus.cap))
  }

  def warmUp(ctx: Ctx): Unit = {
    val out = ctx.fresh("curated")
    check(ctx, out, curate(ctx, out))
    ctx.delete(out)
  }

  def run(ctx: Ctx): Unit = {
    // an operation lasts about three seconds: at least three of them, so
    // the median is not the mean of two
    ctx.measure(minRounds = 3) { _ =>
      val out = ctx.fresh("curated")
      val card = ctx.timed("curate", corpus.docs)(curate(ctx, out))
      check(ctx, out, card)
      ctx.delete(out)
    }
    ctx.result.head("curate_docs_per_s", corpus.docs / Stats.median(ctx.opLatencies), "docs/s")
  }

  /** The operators `Curate` composes, each timed alone on the same corpus. */
  def layers(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val r = ctx.result
    val runs = Layers.ops(ctx, _ == "curate")
    Layers.session(ctx, runs)
    val stageOps = mutable.ArrayBuffer.empty[Span]
    def stage(name: String)(body: => Unit): Double = Layers.secs {
      t.operation(name)(body)
      stageOps += t.named(s => s.parent == 0 && s.name == name).last
    }
    val raw = spark.read.parquet(corpus.path)
    val canon = raw.withColumn("url_canon", Url.canonicalizeUrlExt(col("url")))
    val parts = Url.urlParts(canon, col("url_canon")).localCheckpoint()
    r.layer("operators.url.parse_s", stage("operators.url.parse")(
      Layers.noop(Url.urlParts(canon, col("url_canon")))), "s")
    r.layer("operators.text.quality_s", stage("operators.text.quality")(
      Layers.noop(parts.filter(TextAnalysis.qualityScore(col("text")) >= 0.35))), "s")
    r.layer("operators.url.cap_s", stage("operators.url.cap")(
      Layers.noop(Url.perDomainCap(parts, "doc_id", corpus.cap))), "s")
    var pairs: DataFrame = null
    r.layer("operators.dedup.pairs_s", stage("operators.dedup.pairs") {
      pairs = Dedup.jaccardPairsAuto(raw, "doc_id", "text", n = 3, threshold = 0.6)
        .localCheckpoint()
    }, "s")
    r.layer("operators.dedup.pairs_out", pairs.count().toDouble, "count")
    r.layer("operators.dedup.clusters_s", stage("operators.dedup.clusters")(
      Layers.noop(Dedup.dedupClusters(pairs, "da", "db"))), "s")
    t.settle()
    r.layer("operators.dedup.cluster_jobs", t.totals(stageOps.takeRight(1).toSeq).jobs, "count")
    val runTaskMs = t.totals(runs).taskMs.toDouble / math.max(1, runs.length)
    r.layer("curate.rework", runTaskMs / math.max(1L, t.totals(stageOps.toSeq).taskMs), "ratio")
  }
}
