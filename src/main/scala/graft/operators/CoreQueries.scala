package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Core relational query surface (SURVEY.md §2.3, q01–q24).
 *
 * Each entry is a declarative DataFrame program — the logical plan is handed
 * to Catalyst, which provides predicate pushdown, column pruning, join
 * selection (broadcast hints added where the dimension side is known-small),
 * and whole-stage codegen. Determinism rules (SURVEY.md §2.3 hash-match
 * rules): every query ends in a total order with a unique tiebreaker, every
 * float aggregate is rounded, and integer widths are aligned with the DuckDB
 * oracle (Spark INT results cast to LONG where DuckDB yields BIGINT).
 */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /**
   * The `events` table has shipped in two physical layouts across testdata
   * generations: TIMESTAMP(NANOS) parquet (arrives as LongType under
   * `spark.sql.legacy.parquet.nanosAsLong=true`, set in the session
   * builders — see [[graft.GraftSession]]) and plain TIMESTAMP(MICROS)
   * (arrives as timestamp / timestamp_ntz). Dispatch on the READ schema,
   * not an assumed one, and normalize both to the same two columns:
   * a microsecond TimestampType `ts` (NTZ cast is an identity under the
   * pinned UTC session) plus the raw nanos as `ts_ns`, so window ordering
   * and gap arithmetic match the oracle's `epoch_us`/`epoch` expressions
   * regardless of which layout the driver generated.
   */
  private[operators] def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case TimestampType | TimestampNTZType =>
        raw
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        // Any other type is schema corruption; casting it would flow nulls
        // into every window/gap query downstream instead of failing here.
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected TIMESTAMP(NANOS)-as-long, timestamp, or timestamp_ntz")
    }
  }

  /** Sum of a double array column (sequential fold — deterministic order). */
  private def sumArr(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  /**
   * Cosine similarity between two float-array columns — delegates to the
   * native codegen'd [[graft.functions.CosineSimExpr]] via
   * [[Similarity.cosine]] (bit-identical to the original HOF
   * formulation, 2.4× faster; see the Similarity scaladoc).
   */
  private[graft] def cosineSim(a: Column, b: Column): Column =
    Similarity.cosine(a, b)

  /** The q01–q24 entries, each builder beside its DuckDB oracle SQL
    * (verbatim from SURVEY.md §2.3, validated there). */
  val queries: Seq[QuerySpec] = QuerySpec.unique(Seq(
    QuerySpec("q01_scan_project", (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("rev"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, round(l_extendedprice*(1-l_discount),4) AS rev FROM lineitem ORDER BY l_orderkey, l_linenumber")),

    QuerySpec("q02_filter", (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1996-01-01").cast("timestamp") &&
                col("l_discount").between(0.05, 0.07) &&
                col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01' AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24 ORDER BY l_orderkey, l_linenumber")),

    QuerySpec("q03_agg_pricing", (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) sum_qty, round(sum(l_extendedprice),4) sum_price, round(avg(l_discount),6) avg_disc, count(*) cnt FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),

    QuerySpec("q04_join_dim", (s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 4).as("total"))
        .orderBy("c_mktsegment"),
      Some("SELECT c_mktsegment, count(*) cnt, round(sum(o_totalprice),4) total FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    QuerySpec("q05_join_multi", (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name")),
      Some("SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),4) revenue FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey WHERE r_name='ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name")),

    QuerySpec("q06_semi_join", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 100000),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice > 100000) ORDER BY c_custkey")),

    QuerySpec("q07_anti_join", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey) ORDER BY c_custkey")),

    QuerySpec("q08_topk", (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),

    QuerySpec("q09_window_rank", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }, Some("SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn")),

    QuerySpec("q10_window_running", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          round(sum("value").over(w), 4).as("running"))
        .orderBy("user_id", "event_id")
    }, Some("SELECT user_id, event_id, round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) running FROM events ORDER BY user_id, event_id")),

    QuerySpec("q11_time_bucket", (s, d) =>
      events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sv"))
        .orderBy("bucket", "event_type"),
      Some("SELECT date_trunc('hour', ts) bucket, event_type, count(*) cnt, round(sum(value),4) sv FROM events GROUP BY 1,2 ORDER BY 1,2")),

    QuerySpec("q12_distinct", (s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("u"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(DISTINCT user_id) u FROM events GROUP BY event_type ORDER BY event_type")),

    QuerySpec("q13_rollup", (s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first),
      Some("SELECT l_returnflag, l_linestatus, count(*) cnt FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),

    QuerySpec("q14_set_ops", (s, d) =>
      t(s, d, "customer").select("c_custkey")
        .intersect(t(s, d, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders ORDER BY c_custkey")),

    QuerySpec("q15_string_fns", (s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("ub"),
          substring(col("p_name"), 1, 5).as("pfx"),
          length(col("p_type")).cast("long").as("lt"))
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, upper(p_brand) ub, substr(p_name,1,5) pfx, length(p_type) lt FROM part ORDER BY p_partkey")),

    QuerySpec("q16_date_fns", (s, d) =>
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
                 month(col("o_orderdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("y", "m"),
      Some("SELECT extract(year FROM o_orderdate) y, extract(month FROM o_orderdate) m, count(*) cnt FROM orders GROUP BY 1,2 ORDER BY 1,2")),

    QuerySpec("q17_json", (s, d) =>
      events(s, d)
        .select((get_json_object(col("props"), "$.k").cast("int") % 10).as("kmod"))
        .groupBy("kmod")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("kmod"),
      Some("SELECT CAST(json_extract(props,'$.k') AS INTEGER) % 10 kmod, count(*) cnt FROM events GROUP BY 1 ORDER BY 1")),

    QuerySpec("q18_case_math", (s, d) =>
      t(s, d, "customer")
        .select(
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "low")
            .otherwise("high").as("bucket"),
          col("c_acctbal"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"), round(sum(abs(col("c_acctbal"))), 4).as("s"))
        .orderBy("bucket"),
      Some("SELECT CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bucket, count(*) cnt, round(sum(abs(c_acctbal)),4) s FROM customer GROUP BY 1 ORDER BY 1")),

    QuerySpec("q19_array_stats", (s, d) =>
      t(s, d, "embeddings")
        .groupBy("label")
        .agg(count(lit(1)).as("cnt"),
          round(avg(element_at(col("embedding"), 1)), 6).as("avg_first"),
          min(size(col("embedding"))).cast("long").as("dim"))
        .orderBy("label"),
      Some("SELECT label, count(*) cnt, round(avg(embedding[1]),6) avg_first, min(len(embedding)) dim FROM embeddings GROUP BY label ORDER BY label")),

    QuerySpec("q20_cosine_topk", (s, d) => {
      val emb  = t(s, d, "embeddings")
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe_emb"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(cosineSim(col("probe_emb"), col("embedding")), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
      // cosine computed in DOUBLE on both sides with the same sequential fold
      // (list_cosine_similarity would return FLOAT32 and hash-mismatch).
      Some("SELECT e2.vec_id, round(list_sum(list_apply(list_zip(e1.embedding, e2.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (sqrt(list_sum(list_apply(e1.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_apply(e2.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 4) sim FROM embeddings e1 CROSS JOIN embeddings e2 WHERE e1.vec_id=0 AND e2.vec_id<>0 ORDER BY sim DESC, e2.vec_id LIMIT 10")),

    // distinct over xxhash64(text), not text: the exchange ships 8-byte
    // keys instead of document bodies (round-1 scale-killer fix); equal
    // to the oracle up to a ~N²/2⁶⁵ collision probability.
    QuerySpec("q21_dedup", (s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(xxhash64(col("text"))).as("n_uniq"))
        .orderBy("lang"),
      Some("SELECT lang, count(*) n_docs, count(DISTINCT text) n_uniq FROM documents GROUP BY lang ORDER BY lang")),

    QuerySpec("q22_text_stats", (s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(
          round(avg("n_chars"), 4).as("avg_chars"),
          round(avg(length(col("text"))), 4).as("avg_len"),
          (sum(length(col("text")) - length(translate(col("text"), " ", ""))) +
            count(lit(1))).as("n_words"))
        .orderBy("lang"),
      Some("SELECT lang, round(avg(n_chars),4) avg_chars, round(avg(length(text)),4) avg_len, CAST(sum(length(text)-length(replace(text,' ','')))+count(*) AS BIGINT) n_words FROM documents GROUP BY lang ORDER BY lang")),

    QuerySpec("q23_quantile", (s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(round(percentile(col("value"), lit(0.95)), 4).as("p95"))
        .orderBy("event_type"),
      Some("SELECT event_type, round(quantile_cont(value, 0.95),4) p95 FROM events GROUP BY event_type ORDER BY event_type")),

    QuerySpec("q24_sessionize", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val prevNs = lag(col("ts_ns"), 1).over(w)
      events(s, d)
        .select(col("user_id"),
          when(prevNs.isNull ||
               (col("ts_ns") - prevNs).cast("double") / 1e9 > 1800, 1)
            .otherwise(0).as("new_s"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("new_s").as("_ns"))
        .filter(col("_ns") > 0)
        .select("user_id", "n_sessions")
        .orderBy("user_id")
    }, Some("SELECT user_id, count(*) n_sessions FROM (SELECT user_id, CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END new_s FROM events) t GROUP BY user_id HAVING sum(new_s) > 0 ORDER BY user_id"))
  ))
}
