"""Catalog extensions round 2c: bigram language-model scoring, correlated
scalar-subquery decorrelation, multi-join market-share analytics, robust
(median/MAD) outlier detection, per-source language-mix entropy, and
span(chunk)-level cross-document dedup signals.

Same conventions as queries/relational.py: every computed column aliased
identically in Spark and DuckDB, doubles rounded in both engines where the
accumulation order can differ, deterministic tie-breaks on every top-k.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ominimo_dynamic_data_pipeline_spark.functions.sketches import CountMinSketch
from ominimo_dynamic_data_pipeline_spark.llm.text import tokens
from ominimo_dynamic_data_pipeline_spark.queries.llm import SQL_TOKS
from ominimo_dynamic_data_pipeline_spark.llm.similarity import duck_round_expr
from ominimo_dynamic_data_pipeline_spark.queries.tables import (
    exact_str_double,
    load_table,
)
from ominimo_dynamic_data_pipeline_spark.session import persist_intermediate

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# q80 — bigram language-model quality score (add-one smoothing): the next
# step up from q73's unigram proxy and the classic cheap stand-in for
# model-based perplexity filtering.  Bigrams come from zipping two slices of
# the token array (no posexplode + window shuffle); corpus bigram counts are
# one shuffle on (w1, w2), context counts reduce from the already-aggregated
# bigram counts (not from raw instances), vocabulary size is a broadcast
# scalar.  Scoring joins shuffle on the bigram key, then one aggregate on
# doc_id.  Rounded(5): the per-doc mean is an order-dependent double sum.
# --------------------------------------------------------------------------
@query(
    "q80_bigram_logprob",
    f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKS} AS tk FROM documents),
    bg AS (
        SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
        FROM tk WHERE len(tk) >= 2),
    cbg AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    cctx AS (SELECT w1, SUM(c) AS ctx FROM cbg GROUP BY w1),
    vocab AS (
        SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT unnest(tk) AS w FROM tk))
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(-LN((cbg.c + 1.0) / (cctx.ctx + vocab.v))), 5)
               AS avg_neg_logp
    FROM bg b
    JOIN cbg USING (w1, w2)
    JOIN cctx USING (w1)
    CROSS JOIN vocab
    GROUP BY b.doc_id
    """,
)
def q80_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tk_all = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    tk = tk_all.filter(F.size("tk") >= 2)
    pairs = F.arrays_zip(
        F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("w1"),
        F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("w2"),
    )
    bg = tk.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    cbg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    cctx = cbg.groupBy("w1").agg(F.sum("c").alias("ctx"))
    # vocabulary over ALL documents (the oracle's vocab CTE reads the
    # unfiltered token frame — a word appearing only in 1-token docs still
    # counts toward V)
    vocab = (
        tk_all.select(F.explode("tk").alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    scored = (
        bg.join(cbg, ["w1", "w2"])
        .join(cctx, "w1")
        .crossJoin(F.broadcast(vocab))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        duck_round_expr(
            F.avg(-F.log((F.col("c") + 1.0) / (F.col("ctx") + F.col("v")))), 5
        ).alias("avg_neg_logp"),
    )


# --------------------------------------------------------------------------
# q81 — correlated scalar subquery through the SQL front end: parts priced
# >5% above their brand's average.  Catalyst decorrelates the subquery into
# ONE aggregate + join (not a per-row subplan); the DuckDB twin runs the
# identical SQL text.  Exercises the engine's second (SQL) front end the way
# q39 does for GROUPING SETS.
# --------------------------------------------------------------------------
_Q81_SQL = """
    SELECT p_partkey, p_brand, retail, ROUND(brand_avg, 4) AS brand_avg
    FROM (
        SELECT p.p_partkey, p.p_brand,
               ROUND(p.p_retailprice, 2) AS retail,
               p.p_retailprice AS rp,
               (SELECT AVG(p2.p_retailprice) FROM {part} p2
                WHERE p2.p_brand = p.p_brand) AS brand_avg
        FROM {part} p)
    WHERE rp > 1.05 * brand_avg
"""


@query("q81_above_brand_avg", _Q81_SQL.format(part="part"))
def q81_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_v81")
    # The correlated-subquery decorrelation is the feature under test, so
    # the SQL text stays shared with the oracle — but the final double
    # ROUNDs move out to duck_round_expr (Spark's SQL ROUND is BigDecimal
    # HALF_UP; DuckDB's is multiply-then-half-away — boundary doubles
    # diverge), applied on top of the raw columns the subquery produces.
    raw = spark.sql(
        """
        SELECT p_partkey, p_brand, rp, brand_avg
        FROM (
            SELECT p.p_partkey, p.p_brand,
                   p.p_retailprice AS rp,
                   (SELECT AVG(p2.p_retailprice) FROM part_v81 p2
                    WHERE p2.p_brand = p.p_brand) AS brand_avg
            FROM part_v81 p)
        WHERE rp > 1.05 * brand_avg
        """
    )
    return raw.select(
        "p_partkey",
        "p_brand",
        duck_round_expr(F.col("rp"), 2).alias("retail"),
        duck_round_expr(F.col("brand_avg"), 4).alias("brand_avg"),
    )


# --------------------------------------------------------------------------
# q82 — nation market share of regional revenue per order year (TPC-H
# Q8-flavored).  Join shape at scale: lineitem⋈orders shuffles on orderkey,
# orders⋈customer shuffles on custkey, nation/region broadcast; the share
# divides each (region, nation, year) revenue by the (region, year) total
# via a window over the already-aggregated frame (25 x |years| rows — no
# second scan).  Revenue rounded(2), share rounded(6).
# --------------------------------------------------------------------------
@query(
    "q82_market_share",
    """
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               EXTRACT(year FROM o.o_orderdate) AS order_year,
               -- exact DECIMAL accumulation: a raw double SUM is
               -- order-dependent and the sf1 sweep caught 5 groups
               -- whose last-ulp difference crossed the round(2)
               -- boundary; decimal round + strtod route as in q89/q01
               SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(18,6))) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name, EXTRACT(year FROM o.o_orderdate))
    SELECT region, nation, CAST(order_year AS BIGINT) AS order_year,
           CAST(CAST(ROUND(revenue, 2) AS VARCHAR) AS DOUBLE) AS revenue,
           ROUND(CAST(CAST(revenue AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(revenue) OVER (
                       PARTITION BY region, order_year) AS VARCHAR)
                    AS DOUBLE), 6) AS share
    FROM rev
    """,
)
def q82_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            # exact decimal accumulation (see the oracle comment): the
            # raw double SUM diverged by 1 ulp from DuckDB on 5 sf1
            # groups, crossing the round(2) boundary
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("region", "order_year")
    return rev.select(
        "region",
        "nation",
        "order_year",
        F.col("revenue").cast("decimal(38,2)").cast("double").alias(
            "revenue"
        ),
        duck_round_expr(
            F.col("revenue").cast("double")
            / F.sum("revenue").over(w).cast("double"),
            6,
        ).alias("share"),
    )


# --------------------------------------------------------------------------
# q83 — robust per-source outlier report on documents.n_chars: median and
# MAD (median absolute deviation), outliers = |x - med| > 3 * 1.4826 * MAD.
# Median/MAD resist the heavy tails that break mean/stddev z-scores on web
# corpora.  Exact interpolated percentiles (Spark `percentile` == DuckDB
# `quantile_cont`), two grouped aggregations with the tiny per-source stats
# broadcast back — never a full re-sort.  Output is one row per source.
# 100 TB note: exact `percentile` buffers each group's values in the agg
# state, so a source with billions of docs swaps to `approx_percentile`
# (t-digest, mergeable, bounded memory) — same plan shape, which is why
# this query is written as two grouped aggs rather than a sort.
# --------------------------------------------------------------------------
@query(
    "q83_robust_outliers",
    """
    WITH med AS (
        SELECT source, quantile_cont(n_chars, 0.5) AS med
        FROM documents GROUP BY source),
    dev AS (
        SELECT d.source, d.n_chars, m.med,
               ABS(d.n_chars - m.med) AS adev
        FROM documents d JOIN med m USING (source)),
    mad AS (SELECT source, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY source)
    SELECT dev.source,
           COUNT(*) AS n_docs,
           ROUND(MIN(dev.med), 4) AS med_chars,
           ROUND(MIN(mad.mad), 4) AS mad_chars,
           CAST(SUM(CASE WHEN dev.adev > 3 * 1.4826 * mad.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (source)
    GROUP BY dev.source
    """,
)
def q83_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    med = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    dev = d.join(F.broadcast(med), "source").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad = dev.groupBy("source").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            duck_round_expr(F.min("med"), 4).alias("med_chars"),
            duck_round_expr(F.min("mad"), 4).alias("mad_chars"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# q84 — per-source language-mix report: Shannon entropy of the language
# distribution plus the dominant language (deterministic tie-break: highest
# count, then lexicographically LAST language — max of a (cnt, lang)
# struct).  Mixed-language sources are curation red flags.  Two hash
# aggregates on tiny keys; the window runs over the 50x5 aggregated frame.
# --------------------------------------------------------------------------
@query(
    "q84_source_lang_entropy",
    """
    WITH cl AS (
        SELECT source, lang, COUNT(*) AS cnt
        FROM documents GROUP BY source, lang),
    tot AS (SELECT source, SUM(cnt) AS n_docs FROM cl GROUP BY source),
    ranked AS (
        SELECT source, lang, cnt,
               row_number() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, lang DESC) AS rn
        FROM cl)
    SELECT c.source,
           CAST(MIN(t.n_docs) AS BIGINT) AS n_docs,
           COUNT(*) AS n_langs,
           ROUND(-SUM((c.cnt * 1.0 / t.n_docs)
                      * LN(c.cnt * 1.0 / t.n_docs)), 6) AS lang_entropy,
           MIN(r.lang) AS dominant_lang
    FROM cl c
    JOIN tot t USING (source)
    JOIN ranked r ON r.source = c.source AND r.rn = 1
    GROUP BY c.source
    """,
)
def q84_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "lang")
    cl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source")
    p = F.col("cnt") / F.sum("cnt").over(w)
    tagged = cl.select(
        "source",
        "lang",
        "cnt",
        F.sum("cnt").over(w).alias("n_docs"),
        (-p * F.log(p)).alias("term"),
        F.struct(F.col("cnt"), F.col("lang")).alias("ranked"),
    )
    return tagged.groupBy("source").agg(
        F.min("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        duck_round_expr(F.sum("term"), 6).alias("lang_entropy"),
        F.max("ranked").getField("lang").alias("dominant_lang"),
    )


# --------------------------------------------------------------------------
# q85 — span-level duplicate detection (Lee et al. 2021's substring dedup,
# chunk granularity): each document is cut into non-overlapping 16-token
# chunks; a chunk found verbatim in >= 2 distinct documents is a duplicated
# span, and each doc reports its duplicated-span fraction — the "rewrite or
# drop" signal of corpus curation.  The duplicate test is a WINDOW over the
# chunk key — "appears in >= 2 distinct docs" is exactly min(doc_id) !=
# max(doc_id), which window-computes in one exchange where a
# countDistinct-then-join-back would scan and chunk the corpus text TWICE
# (both join inputs re-derive the explode; no exchange reuse).  Total: one
# text scan, one Generate, exchanges on chunk then doc_id.  At 100 TB the
# window key would be xxhash64(chunk) — fixed width, same plan shape.
# Skew caveat: WindowExec holds one chunk's rows in a single (spillable)
# task, so a boilerplate chunk repeated across millions of docs makes a
# straggler; for such corpora flip to groupBy(chunk) partial aggs +
# join-back (skew-safe, at the cost of the second chunking pass) or shed
# degenerate chunks first with a max-frequency cap, as the LSH stages do
# via max_bucket_size.
# --------------------------------------------------------------------------
_CHUNK = 16


@query(
    "q85_chunk_dedup",
    f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKS} AS tk FROM documents),
    ch AS (
        SELECT doc_id,
               unnest([list_aggregate(tk[i:i + {_CHUNK} - 1], 'string_agg', ' ')
                       for i in range(1, len(tk) + 1, {_CHUNK})]) AS chunk
        FROM tk WHERE len(tk) > 0),
    flagged AS (
        SELECT doc_id,
               CASE WHEN MIN(doc_id) OVER (PARTITION BY chunk)
                         <> MAX(doc_id) OVER (PARTITION BY chunk)
                    THEN 1 ELSE 0 END AS dup
        FROM ch)
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(dup) AS BIGINT) AS dup_chunks,
           ROUND(SUM(dup) * 1.0 / COUNT(*), 6) AS dup_frac
    FROM flagged
    GROUP BY doc_id
    """,
)
def q85_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") > 0
    )
    starts = F.sequence(
        F.lit(0), F.floor((F.size("tk") - 1) / F.lit(_CHUNK)).cast("int")
    )
    chunks = F.transform(
        starts,
        lambda i: F.concat_ws(
            " ", F.slice(F.col("tk"), i * _CHUNK + 1, _CHUNK)
        ),
    )
    ch = tk.select("doc_id", F.explode(chunks).alias("chunk"))
    w = Window.partitionBy("chunk")
    dup = (
        F.min("doc_id").over(w) != F.max("doc_id").over(w)
    ).cast("int")
    return (
        ch.select("doc_id", dup.alias("dup"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("dup").alias("dup_chunks"),
            duck_round_expr(F.sum("dup") / F.count(F.lit(1)), 6).alias("dup_frac"),
        )
    )


# --------------------------------------------------------------------------
# q86 — semi-structured access through the VARIANT type (Spark 4): props
# parses ONCE into the binary variant encoding, then typed variant_get
# extraction feeds a width-10 histogram per event type.  At scale this is
# the ingest-pattern for JSON columns — parse at the scan boundary, store
# variant, never re-parse strings per query (q16 is the legacy
# get_json_object twin).  One hash aggregate on a (type, bucket) key.
# --------------------------------------------------------------------------
@query(
    "q86_variant_histogram",
    """
    SELECT event_type,
           CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS BIGINT)
                      / 10.0) AS BIGINT) AS k_bucket,
           COUNT(*) AS n_events,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max
    FROM events
    GROUP BY event_type, k_bucket
    """,
)
def q86_variant_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.variant_get(F.col("v"), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy(
            "event_type", F.floor(F.col("k") / 10).alias("k_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


# --------------------------------------------------------------------------
# q87 — SQL pipe syntax (Spark 4.1 `|>` operators) through the SQL front
# end: returnflag revenue profile written as a linear FROM -> WHERE ->
# AGGREGATE pipeline.  Pipe syntax lowers to the identical Catalyst plan as
# the nested-SELECT form — the DuckDB twin is that standard-SQL rewrite, so
# the oracle doubles as a semantics check of the lowering.  Also exercises
# named parameters (:cutoff binds as a literal, injection-safe).
# --------------------------------------------------------------------------
@query(
    "q87_pipe_revenue_by_returnflag",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(AVG(l_discount), 6) AS avg_discount
    FROM lineitem
    WHERE l_shipdate <= '1998-09-02'
    GROUP BY l_returnflag
    """,
)
def q87_pipe_revenue_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_v87"
    )
    # Pipe syntax is the feature under test; the final double ROUNDs move
    # out of the SQL text to duck_round_expr so the hash matches DuckDB's
    # ROUND on boundary doubles too (Spark SQL ROUND is BigDecimal
    # HALF_UP; DuckDB's is multiply-then-half-away-from-zero).
    raw = spark.sql(
        """
        FROM lineitem_v87
        |> WHERE l_shipdate <= :cutoff
        |> AGGREGATE COUNT(*) AS n_items,
                     SUM(l_extendedprice * (1 - l_discount)) AS revenue_raw,
                     AVG(l_discount) AS avg_discount_raw
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n_items, revenue_raw, avg_discount_raw
        """,
        args={"cutoff": "1998-09-02"},
    )
    return raw.select(
        "l_returnflag",
        "n_items",
        duck_round_expr(F.col("revenue_raw"), 2).alias("revenue"),
        duck_round_expr(F.col("avg_discount_raw"), 6).alias("avg_discount"),
    )


# --------------------------------------------------------------------------
# q88 — recursive CTE (Spark 4.x WITH RECURSIVE) calendar spine: generate
# every month between the corpus's min and max order date, then left-join
# monthly order counts so EMPTY months appear as zeros — the gap-free
# time-series frame a plain GROUP BY cannot produce.
#
# The recursion must be TABLE-FREE (an integer counter, bounds applied
# after): referencing the bounds CTE inside the recursive member re-scans
# the fact table EVERY iteration because CTEs are not materialized —
# measured 10.7 s vs 2.1 s at sf0.1 for the same 80-month result.  The
# heavy side stays one hash aggregate on the fact table.  (The
# non-recursive production shape for a spine is
# explode(sequence(lo, hi, interval 1 month)); the rCTE form is the SQL
# feature under test.)  The counter runs to 480 (40 years of months) so a
# wider date range than today's testdata cannot silently truncate the
# spine; the oracle recurses unbounded, so any overflow past the cap
# would fail parity loudly rather than pass.  DuckDB twin recurses over
# months natively — its CTE materialization makes that the idiomatic
# form there.
# --------------------------------------------------------------------------
@query(
    "q88_month_spine",
    """
    WITH RECURSIVE spine(m) AS (
        SELECT date_trunc('month', MIN(o_orderdate)) FROM orders
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM spine
        WHERE m < (SELECT date_trunc('month', MAX(o_orderdate)) FROM orders)),
    monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n
        FROM orders GROUP BY 1)
    SELECT strftime(spine.m, '%Y-%m') AS month,
           COALESCE(monthly.n, 0) AS n_orders
    FROM spine LEFT JOIN monthly USING (m)
    """,
)
def q88_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v88")
    return spark.sql(
        """
        WITH RECURSIVE nums(n) MAX RECURSION LEVEL 500 AS (
            SELECT 0 UNION ALL SELECT n + 1 FROM nums WHERE n < 480),
        bounds AS (
            SELECT date_trunc('MONTH', MIN(o_orderdate)) AS lo,
                   date_trunc('MONTH', MAX(o_orderdate)) AS hi
            FROM orders_v88),
        spine AS (
            SELECT add_months(lo, n) AS m FROM nums CROSS JOIN bounds
            WHERE add_months(lo, n) <= hi),
        monthly AS (
            SELECT date_trunc('MONTH', o_orderdate) AS m, COUNT(*) AS n
            FROM orders_v88 GROUP BY 1)
        SELECT date_format(spine.m, 'yyyy-MM') AS month,
               COALESCE(monthly.n, 0) AS n_orders
        FROM spine LEFT JOIN monthly USING (m)
        """
    )


# --------------------------------------------------------------------------
# q89 — product-line profit by supplier nation and year (TPC-H Q9 shape):
# a 5-table star join where Catalyst must order lineitem⋈orders (shuffle on
# orderkey) and lineitem⋈supplier/part/nation (part filtered BEFORE the
# join so the semi-reduction prunes fact rows early; supplier/nation/part
# all broadcast at these dim sizes).  The plan to want at 100 TB: one
# shuffle join on the fact key, every dimension broadcast, the p_name
# filter pushed into the part scan.  Profit accumulates in DECIMAL(18,6)
# (exact, order-independent — a plain double SUM hash-mismatches the
# oracle on rounding-boundary groups) and surfaces as rounded double.
# --------------------------------------------------------------------------
@query(
    "q89_product_nation_profit",
    """
    SELECT n.n_name AS nation,
           EXTRACT(year FROM o.o_orderdate) AS order_year,
           COUNT(*) AS n_items,
           -- round in DECIMAL space, then the VARCHAR->DOUBLE route.
           -- The sf1 sweep found a TRUE half-case group (exact sum
           -- ...711.075000): rounding the BINARY double (DuckDB ROUND,
           -- sees ...0749999...) gives .07 while Spark's round() goes
           -- through BigDecimal.valueOf's decimal-string semantics and
           -- gives .08.  DECIMAL ROUND is exact half-away-from-zero in
           -- DuckDB and Spark's decimal cast is HALF_UP — identical on
           -- every value; the final cast uses strtod (correctly rounded)
           CAST(CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS VARCHAR) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    """,
)
def q89_product_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # round in DECIMAL space (HALF_UP cast == DuckDB's decimal
            # ROUND half-away-from-zero for positive sums), then surface
            # as double — see the oracle comment for the sf1 half-case
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            )
            .cast("decimal(38,2)")
            .cast("double")
            .alias("profit"),
        )
    )


# --------------------------------------------------------------------------
# q94 — SemDeDup semantic dedup end product (Abbas et al. 2023): the
# embedding corpus surviving IVF-cluster -> in-cluster cosine >= 0.95 ->
# greedy keep-lowest-id removal.  The planted-duplicate behavior stays
# pinned in tests/test_llm.py.
#
# Oracle: q44's centroid-literal CTE block (same trainer config: 16
# lists, 5 iters, 2048-row lowest-id sample -> identical centroid
# matrix) re-derives the cluster assignment bit-for-bit; the in-cluster
# pair search compares the RAW cosine fold against the threshold —
# bit-identical to the engine's Arrow kernel, whose dimension-ordered
# accumulation equals the sequential list_reduce fold — and the greedy
# survivor set is the anti-join on the victims' id_b side, exactly
# dedup_corpus.  Degrades to rows-only if the comparison-scale parquet
# is absent.
# --------------------------------------------------------------------------
_SEMDEDUP_THRESHOLD = 0.95
# Cap mean IVF cluster size so the in-cluster pair search stays ~n x 256:
# with the former fixed 16 lists, sum(|cluster|^2) grew quadratically and
# q94 hit 235 s at sf10 (the second-decade measurement that exposed it).
# At sf0.01 (1600 vectors) the rule floors at the same 16 lists, so the
# oracle centroids are unchanged there.
_SEMDEDUP_TARGET = 256


def _semantic_dedup_sql(dim: int = 64) -> str | None:
    from ominimo_dynamic_data_pipeline_spark.llm import similarity as S
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        _FOLD,
        _IVF_ITERS,
        _IVF_LISTS,
        _ORACLE_SF_DIR,
        _ivf_ctes,
    )

    cents = S.train_centroids_from_parquet(
        f"{_ORACLE_SF_DIR}/embeddings.parquet",
        k_lists=_IVF_LISTS, iters=_IVF_ITERS,
        target_cluster_size=_SEMDEDUP_TARGET,
    )
    if cents is None:
        return None
    return f"""
    WITH {_ivf_ctes(cents, dim)},
    pairs AS (
        SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
        FROM assigned ca JOIN assigned cb
          ON ca.c_list = cb.c_list AND ca.vec_id < cb.vec_id
        WHERE list_reduce([CAST(0.0 AS DOUBLE)] ||
                  [ca.v[i] * cb.v[i] for i in range(1, {dim} + 1)],
                  {_FOLD}) / (ca.nrm * cb.nrm) >= {_SEMDEDUP_THRESHOLD}
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT id_b FROM pairs)
    """


@query("q94_semantic_dedup", _semantic_dedup_sql())
def q94_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.llm import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.semantic_dedup(
        e, threshold=_SEMDEDUP_THRESHOLD, k_lists=16, cache_key=sf_dir,
        target_cluster_size=_SEMDEDUP_TARGET,
    ).select("vec_id", "label")


# --------------------------------------------------------------------------
# q95 — rolling z-score anomaly detection over the event stream: per
# (event_type, day) counts, 7-day trailing mean/stddev (excluding the
# current day), |z| >= 2 flags — the standard pipeline-health monitor.
# Pure window math, exactly mirrored in the oracle.
# --------------------------------------------------------------------------
@query(
    "q95_event_anomalies",
    """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    scored AS (
        SELECT event_type, day, n_events,
               AVG(n_events) OVER w AS mean7,
               STDDEV_SAMP(n_events) OVER w AS std7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, n_events,
           ROUND(mean7, 6) AS mean7,
           ROUND((n_events - mean7) / std7, 6) AS zscore,
           CASE WHEN ABS((n_events - mean7) / std7) >= 2
                THEN TRUE ELSE FALSE END AS is_anomaly
    FROM scored
    WHERE std7 IS NOT NULL AND std7 > 0
    """,
)
def q95_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    scored = daily.select(
        "event_type",
        "day",
        "n_events",
        F.avg("n_events").over(w).alias("mean7"),
        F.stddev_samp("n_events").over(w).alias("std7"),
    )
    z = (F.col("n_events") - F.col("mean7")) / F.col("std7")
    return (
        scored.filter(F.col("std7").isNotNull() & (F.col("std7") > 0))
        .select(
            "event_type",
            "day",
            "n_events",
            duck_round_expr("mean7", 6).alias("mean7"),
            duck_round_expr(z, 6).alias("zscore"),
            (F.abs(z) >= 2).alias("is_anomaly"),
        )
    )


# --------------------------------------------------------------------------
# q96 — deterministic weighted Bernoulli sampling: doc kept iff its
# hash-uniform u < rate * n_tokens / max_tokens (longer docs
# proportionally likelier — importance sampling by a quality weight).
# Every arithmetic step (md5-derived u, integer-ratio weights, one
# multiply, one compare) is correctly-rounded IEEE, so membership is
# bit-identical across engines — unlike exp/ln-keyed weighted reservoir
# sampling, whose libm calls are implementation-defined.
# --------------------------------------------------------------------------
_WS_SEED, _WS_RATE, _WS_MOD = 97, 0.5, 1_048_576


@query(
    "q96_weighted_sample",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               LEN(list_filter(string_split(
                   regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
                   t -> t <> '')) AS n_tokens
        FROM documents
    ),
    mx AS (SELECT MAX(n_tokens) AS max_tokens FROM toks),
    keyed AS (
        SELECT t.doc_id, t.lang, t.source, t.n_tokens,
               (CAST(('0x' || substr(md5('{_WS_SEED}:' || CAST(t.doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % {_WS_MOD}) * 1.0 / {_WS_MOD} AS u,
               {_WS_RATE} * t.n_tokens / mx.max_tokens AS p
        FROM toks t CROSS JOIN mx
    )
    SELECT doc_id, lang, source, n_tokens, ROUND(p, 6) AS keep_p
    FROM keyed WHERE u < p
    """,
)
def q96_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import md5_long
    from ominimo_dynamic_data_pipeline_spark.llm.text import tokens

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(
        "doc_id", "lang", "source",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    mx = toks.agg(F.max("n_tokens").alias("max_tokens"))
    u = (
        md5_long(F.col("doc_id").cast("string"), seed=_WS_SEED) % _WS_MOD
    ) * F.lit(1.0) / F.lit(_WS_MOD)
    p = F.lit(_WS_RATE) * F.col("n_tokens") / F.col("max_tokens")
    return (
        toks.crossJoin(F.broadcast(mx))
        .filter(u < p)
        .select(
            "doc_id", "lang", "source", "n_tokens",
            duck_round_expr(p, 6).alias("keep_p"),
        )
    )


# --------------------------------------------------------------------------
# q132 — temperature-based mixture rebalancing (the multilingual
# alpha-sampling of mT5/LLaMA pretraining mixes): languages are sampled
# with probability proportional to n^alpha, flattening the English head
# and boosting tail languages.  Rates are computed DRIVER-side from one
# bounded (lang, count) census by llm/sampling.py
# temperature_mixture_rates — the SAME Python function the oracle
# builder renders as SQL CASE literals, so engine and oracle agree
# bit-for-bit without cross-engine pow calls (the IVF-centroid
# discipline).  Membership is then a pure md5-uniform projection riding
# the scan: no join, no shuffle (beyond the tiny census).
# --------------------------------------------------------------------------
_TM_SEED, _TM_MOD, _TM_ALPHA, _TM_BUDGET = 131, 1_048_576, 0.5, 300


def _q132_oracle() -> str | None:
    import duckdb

    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        temperature_mixture_rates,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.llm import _ORACLE_SF_DIR

    try:
        # Import-time data dependence must degrade, not detonate: an
        # environment without the oracle fixtures (fresh clone, other
        # SF dir, empty/all-NULL table) gets a rows-only q132 instead
        # of a broken catalog — the train_centroids_from_parquet
        # pattern.  The rates call sits INSIDE the try because an
        # empty counts dict raises too.
        counts = dict(
            duckdb.connect()
            .execute(
                "SELECT lang, COUNT(*) FROM "
                f"'{_ORACLE_SF_DIR}/documents.parquet' "
                "WHERE lang IS NOT NULL GROUP BY lang"
            )
            .fetchall()
        )
        rates = temperature_mixture_rates(counts, _TM_ALPHA, _TM_BUDGET)
    except Exception:
        return None
    case = " ".join(
        f"WHEN lang = '{g}' THEN {rates[g]!r}" for g in sorted(rates)
    )
    return f"""
    SELECT doc_id, lang, ROUND(keep_p, 6) AS keep_p FROM (
        SELECT doc_id, lang, CASE {case} END AS keep_p,
               (CAST(('0x' || substr(md5('{_TM_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % {_TM_MOD}) * 1.0 / {_TM_MOD} AS u
        FROM documents)
    WHERE u < keep_p
    """


@query("q132_temperature_mixture", _q132_oracle())
def q132_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        temperature_mixture_sample,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = temperature_mixture_sample(
        d, id_col="doc_id", group_col="lang",
        alpha=_TM_ALPHA, budget=_TM_BUDGET, seed=_TM_SEED, mod=_TM_MOD,
    )
    return out.select(
        "doc_id", "lang", duck_round_expr("keep_p", 6).alias("keep_p")
    )


# --------------------------------------------------------------------------
# q97 — co-purchase pair mining (market-basket shape): parts appearing in
# the same order become a pair; pairs counted corpus-wide, support >= 3.
# Reuses expand_member_pairs, so per-order cost is |basket|^2 row by row
# (baskets are bounded by order size), never a self-join of lineitem.
# The pair derivation is shared with q108 (its PageRank edges) in BOTH
# engines: _copurchase_pairs / _COPURCHASE_SQL_CTES are the single
# source of truth for basket normalization and the support threshold.
# --------------------------------------------------------------------------
_COPURCHASE_SUPPORT = 3
# Pair-count RLE bucketing: pairs with the same part_a are counted inside
# ONE collect_list row, split into pmod(xxhash64(part_b), SALT) buckets so
# a hot part (a part in millions of baskets at 100 TB) never builds one
# giant array.  Counts stay exact because a given (part_a, part_b) always
# lands in the same bucket.  16 buckets bound the worst row at ~1/16 of a
# hot part's co-occurrence list while adding only ~4 bytes/record of
# exchange overhead on miniature data.
_COPURCHASE_SALT = 16
# Broadcast the infrequent-part tail for the anti-join only while it fits
# comfortably under the executor broadcast budget (4M longs ~= 32 MB).
_APRIORI_BROADCAST_MAX = 4_000_000


def _apriori_prefilter(li: DataFrame, support: int) -> DataFrame:
    """Drop parts that provably cannot appear in any frequent pair.

    Apriori property: a pair co-purchased in >= ``support`` orders needs
    EACH member in >= ``support`` distinct orders, and the raw lineitem
    row count per part upper-bounds that order count — so parts with raw
    count < support are pair-free and pruning them before the basket
    build is output-preserving.  Sigma(|basket|^2) then shrinks by the
    rare-part tail.

    ADAPTIVE: a census (one combine-friendly groupBy over the two scan
    columns) runs first; when nothing prunes the function returns the
    input UNCHANGED so the query plan carries no join at all.  That is
    the measured outcome on the synthetic TPC-H-ish testdata at every
    generated scale (sf0.1/sf10/sf100: 100.00% of parts appear in >= 3
    orders — see docs/SCALE.md), where the prefilter would only add a
    scan; on real skewed corpora (catalog long tails) it prunes the
    quadratic expansion instead.
    """
    # Persist the CENSUS itself (one row per part — tiny next to
    # lineitem): the count below materializes it, and BOTH prune
    # branches then derive from the cached frame, so neither re-runs
    # the groupBy at execution time.  (Previously the semi branch
    # joined an unpersisted `freq` — recomputing the census — while a
    # persisted `infrequent` frame backed nothing in the returned
    # plan.)
    freq = persist_intermediate(
        li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("_n"))
    )
    n_infrequent = freq.filter(F.col("_n") < support).count()
    if n_infrequent == 0:
        freq.unpersist()
        return li
    if n_infrequent <= _APRIORI_BROADCAST_MAX:
        # small tail: broadcast anti-join, no lineitem exchange
        return li.join(
            F.broadcast(freq.filter(F.col("_n") < support).select("l_partkey")),
            on="l_partkey",
            how="left_anti",
        )
    # huge tail = huge pruning: a lineitem exchange pays for itself
    return li.join(
        freq.filter(F.col("_n") >= support).select("l_partkey"),
        on="l_partkey",
        how="left_semi",
    )


def _copurchase_sql_ctes(support: int = _COPURCHASE_SUPPORT) -> str:
    # `pairs` is AS MATERIALIZED: DuckDB INLINES plain CTEs, so a
    # consumer that references pairs (or anything derived from it) more
    # than once re-evaluates the whole basket build per reference — the
    # q108 oracle's weights/r0..r3 chain multiplied this ~2^iters times
    # and spilled 58+ GB of DuckDB temp at sf1 (round-9 sweep ENOSPC),
    # the exact oracle-side twin of the Spark lineage replay fixed the
    # same round.  Materialization pins one evaluation.
    return f"""
    baskets AS (
        SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
        FROM lineitem GROUP BY l_orderkey
    ),
    pairs AS MATERIALIZED (
        SELECT p1 AS part_a, p2 AS part_b, COUNT(*) AS n_orders
        FROM baskets, UNNEST(parts) AS t1(p1), UNNEST(parts) AS t2(p2)
        WHERE p1 < p2
        GROUP BY p1, p2 HAVING COUNT(*) >= {support}
    )"""


_COPURCHASE_SQL_CTES = _copurchase_sql_ctes()


def _copurchase_pairs(
    spark: SparkSession,
    sf_dir: str,
    support: int = _COPURCHASE_SUPPORT,
    prefilter: bool = True,
    rle_counting: bool = False,
) -> DataFrame:
    """(part_a, part_b, n_orders) for part pairs co-purchased in >=
    ``support`` orders — q97's output and the q108/q112 edge source.

    Two scale levers, both output-preserving (hash-identical against the
    DuckDB oracle at sf0.01/sf0.1 in all four on/off combinations):

    - ``prefilter`` (DEFAULT ON): adaptive apriori part pruning before
      the basket build (:func:`_apriori_prefilter`).  On this synthetic
      data the census finds nothing to prune and the whole branch costs
      ~1% (sf100: 223.8 s vs 221.5 s without) — cheap insurance that on
      a real skewed corpus removes the rare-part tail from the quadratic
      expansion entirely.
    - ``rle_counting`` (measured and REJECTED as the default, kept for
      skew/IO-bound deployments): group by
      ``(part_a, pmod(xxhash64(part_b), salt))`` collecting ``part_b``
      lists and run-length-count them JVM-side with array HOFs, instead
      of ``groupBy(part_a, part_b).count()``.  The theory — pairs are
      nearly unique (sf1 census: 12.0M pair rows, 11.96M distinct, 20 at
      support >= 3), so partial-count combining removes nothing and the
      exchange carries ~40 bytes/pair that list-collection amortizes to
      ~8 — is byte-true but LOSES on this CPU-saturated 32-thread
      harness where the exchange rides page cache: sf30 100.1 s vs
      82.3 s, sf100 516.7 s vs 379.6 s (round-9 probes, pre-split-fix
      posture).  The collect_list buffers + per-element HOF evaluation
      cost more CPU than the saved bytes buy back; a
      bandwidth-constrained real cluster may trade the other way.
    """
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        expand_member_pairs,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    if prefilter:
        li = _apriori_prefilter(li, support)
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias(
            "parts"
        )
    ).filter(F.size("parts") > 1)
    pairs = expand_member_pairs(baskets, "parts")
    if not rle_counting:
        return (
            pairs.groupBy(
                F.col("a").alias("part_a"), F.col("b").alias("part_b")
            )
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .filter(F.col("n_orders") >= support)
        )
    grouped = pairs.groupBy(
        F.col("a").alias("part_a"),
        F.pmod(F.xxhash64("b"), F.lit(_COPURCHASE_SALT)).alias("_bkt"),
    ).agg(F.array_sort(F.collect_list("b")).alias("_bs"))
    # run starts: positions whose value differs from the previous one
    # (0-based positions into the sorted array; element_at is 1-based)
    starts = F.filter(
        F.sequence(F.lit(0), F.size("_bs") - 1),
        lambda i: (i == F.lit(0))
        | (F.element_at("_bs", i + 1) != F.element_at("_bs", i)),
    )
    # each run ends where the next one starts; the last at size(_bs)
    ends = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(F.size("_bs")),
    )
    runs = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            F.element_at("_bs", s + 1).alias("part_b"),
            (e - s).cast("long").alias("n_orders"),
        ),
    )
    frequent = F.filter(runs, lambda r: r["n_orders"] >= F.lit(support))
    return grouped.select(
        "part_a", F.explode(frequent).alias("_r")
    ).select(
        "part_a",
        F.col("_r.part_b").alias("part_b"),
        F.col("_r.n_orders").alias("n_orders"),
    )


@query(
    "q97_copurchase_pairs",
    f"""
    WITH {_COPURCHASE_SQL_CTES}
    SELECT part_a, part_b, n_orders FROM pairs
    """,
)
def q97_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _copurchase_pairs(spark, sf_dir)


# --------------------------------------------------------------------------
# q98 — cohort retention matrix: customers grouped by first-order month,
# counted at each month offset at which they order again — the classic
# retention triangle, exercised on orders.
# --------------------------------------------------------------------------
@query(
    "q98_cohort_retention",
    """
    WITH firsts AS (
        SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    activity AS (
        SELECT DISTINCT o.o_custkey, f.cohort,
               datediff('month', f.cohort,
                        date_trunc('month', o.o_orderdate)) AS month_offset
        FROM orders o JOIN firsts f USING (o_custkey)
    )
    SELECT cohort, month_offset,
           COUNT(*) AS n_customers
    FROM activity GROUP BY cohort, month_offset
    """,
)
def q98_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohort as a window-min over o_custkey instead of the aggregate +
    # fact-to-firsts self-join: ONE wide exchange for the whole triangle.
    # The per-customer distinct that follows groups on a superset of the
    # window's partition key, so it reuses the same partitioning with no
    # further shuffle (plan: window -> hash agg, no exchange between) —
    # measured 6.8 s -> ~1 s at sf1 vs the join shape, whose
    # agg/join/distinct chain shuffled the fact table three times.
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    activity = (
        o.select(
            "o_custkey",
            F.date_trunc("month", F.min("o_orderdate").over(w)).alias(
                "cohort"
            ),
            F.date_trunc("month", F.col("o_orderdate")).alias("omonth"),
        )
        .select(
            "o_custkey",
            "cohort",
            F.months_between(F.col("omonth"), F.col("cohort"))
            .cast("bigint")
            .alias("month_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort", "month_offset").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# --------------------------------------------------------------------------
# q99 — SCD-2 history merge (the classic type-2 slowly-changing dimension
# the catalog lacked; q72 is the SCD-1 overwrite-merge): the per-customer
# order-priority change log becomes effective-dated versions.  Steps: pick
# one deterministic change per (key, date) with max_by (one aggregation,
# map-side partial); collapse consecutive runs of the same value (lag —
# a new version opens only on CHANGE); effective_to = lead(effective_from),
# open interval NULL, is_current, version number.  The run-collapse lag
# and the lead/version windows share one (o_custkey)-partitioned sort, so
# the whole history build is two shuffles total: the (key, date)
# aggregation and one window exchange on the key — the shape that holds
# on a 1000-executor snapshot table.
# --------------------------------------------------------------------------
@query(
    "q99_scd2_priority_history",
    """
    WITH changes AS (
        SELECT o_custkey, o_orderdate AS eff_from,
               arg_max(o_orderpriority, o_orderkey) AS priority
        FROM orders GROUP BY o_custkey, o_orderdate
    ),
    runs AS (
        SELECT o_custkey, eff_from, priority,
               LAG(priority) OVER (PARTITION BY o_custkey
                                   ORDER BY eff_from) AS prev_priority
        FROM changes
    ),
    versions AS (
        SELECT o_custkey, eff_from, priority FROM runs
        WHERE prev_priority IS NULL OR prev_priority <> priority
    )
    SELECT o_custkey, priority,
           eff_from AS effective_from,
           LEAD(eff_from) OVER w AS effective_to,
           (LEAD(eff_from) OVER w IS NULL) AS is_current,
           ROW_NUMBER() OVER w AS version
    FROM versions
    WINDOW w AS (PARTITION BY o_custkey ORDER BY eff_from)
    """,
)
def q99_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    changes = o.groupBy(
        "o_custkey", F.col("o_orderdate").alias("eff_from")
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("priority"))
    wk = Window.partitionBy("o_custkey").orderBy("eff_from")
    versions = (
        changes.withColumn("prev_priority", F.lag("priority").over(wk))
        .filter(
            F.col("prev_priority").isNull()
            | (F.col("prev_priority") != F.col("priority"))
        )
        .drop("prev_priority")
    )
    return versions.select(
        "o_custkey",
        "priority",
        F.col("eff_from").alias("effective_from"),
        F.lead("eff_from").over(wk).alias("effective_to"),
        F.lead("eff_from").over(wk).isNull().alias("is_current"),
        F.row_number().over(wk).cast("bigint").alias("version"),
    )


# --------------------------------------------------------------------------
# q100 — approximate percentiles with a hash-verified accuracy contract
# (the q40 pattern applied to quantile sketches): exact percentiles are
# the scale-limited baseline (per-group value collection), and the
# boolean columns assert that approx_percentile's answer lands inside
# the exact [p - eps, p + eps] VALUE envelope implied by its deterministic
# rank guarantee (Greenwald-Khanna: rank error <= n/accuracy).  The
# oracle computes the same exact columns and expects TRUE — so the
# sketch's error contract itself is hash-verified.  At 100 TB the exact
# columns are dropped and the sketch (mergeable, bounded-memory partial
# aggregation) is the only viable path — that contract being checked
# here is exactly what licenses the swap.
# --------------------------------------------------------------------------
_Q100_ACC = 1000  # rank error <= n/1000


@query(
    "q100_approx_percentiles",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS exact_p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS exact_p95,
           TRUE AS p50_within_tol,
           TRUE AS p95_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q100_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    eps = 1.0 / _Q100_ACC
    # ONE exact-percentile aggregate evaluated at all six probe points
    # (lo/point/hi for each p) and ONE two-point sketch: the array form
    # buffers + sorts the per-group values once instead of once per
    # probe, which cut this query 5.5 s -> sub-second at sf0.1 (six
    # independent percentile aggregates each held a full copy of the
    # group's values).
    probes = [
        max(0.0, 0.50 - 2 * eps), 0.50, min(1.0, 0.50 + 2 * eps),
        max(0.0, 0.95 - 2 * eps), 0.95, min(1.0, 0.95 + 2 * eps),
    ]
    agg = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.percentile(
            "l_extendedprice", F.array(*[F.lit(p) for p in probes])
        ).alias("_ex"),
        F.approx_percentile(
            "l_extendedprice",
            F.array(F.lit(0.50), F.lit(0.95)),
            F.lit(_Q100_ACC),
        ).alias("_ap"),
    )
    ex, ap = F.col("_ex"), F.col("_ap")
    return agg.select(
        "l_returnflag",
        "n_rows",
        duck_round_expr(ex[1], 6).alias("exact_p50"),
        duck_round_expr(ex[4], 6).alias("exact_p95"),
        ((ap[0] >= ex[0]) & (ap[0] <= ex[2])).alias("p50_within_tol"),
        ((ap[1] >= ex[3]) & (ap[1] <= ex[5])).alias("p95_within_tol"),
    )


# --------------------------------------------------------------------------
# q108 — PageRank over the co-purchase graph, EXACT-INTEGER arithmetic:
# the iterative-graph-algorithm shape (each iteration = one edges⋈ranks
# join + one aggregation on the destination key — Pregel-lite on stock
# DataFrames; q57's connected components covers the
# converge-with-checkpoint variant, this covers fixed-iteration
# scoring).  All rank math is BIGINT: r0 = 10^9 per node, contributions
# r div outdeg, damping as (85 * S) div 100 + 15*10^7 — floor division
# and integer sums are order-independent and identical in every engine,
# so a 3-iteration unrolled DuckDB twin hash-verifies the distributed
# run exactly (double-based PageRank could never be compared exactly:
# per-node sums would depend on partitioning order).  Scale bound:
# sum(S) per iteration = N * 10^9, so 85 * S fits bigint far past sf100.
# --------------------------------------------------------------------------
_Q108_SCALE = 10**9
_Q108_BASE = (15 * _Q108_SCALE) // 100
_Q108_ITERS = 3


def _q108_oracle() -> str:
    its = []
    for t in range(1, _Q108_ITERS + 1):
        its.append(
            f"""
    s{t} AS (
        SELECT w.dst AS node, SUM(r.r // w.deg) AS s
        FROM weights w JOIN r{t - 1} r ON w.src = r.node
        GROUP BY w.dst
    ),
    r{t} AS MATERIALIZED (
        SELECT n.node,
               {_Q108_BASE} + (85 * COALESCE(s.s, 0)) // 100 AS r
        FROM r{t - 1} n LEFT JOIN s{t} s USING (node)
    )"""
        )
    return (
        # weights and every r_t are referenced 2-3x; MATERIALIZED stops
        # DuckDB's CTE inlining from re-evaluating the chain per
        # reference (see _copurchase_sql_ctes)
        f"""WITH {_COPURCHASE_SQL_CTES},
    edges AS (
        SELECT part_a AS src, part_b AS dst FROM pairs
        UNION ALL
        SELECT part_b AS src, part_a AS dst FROM pairs
    ),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    weights AS MATERIALIZED (SELECT e.src, e.dst, o.deg FROM edges e JOIN outdeg o USING (src)),
    r0 AS MATERIALIZED (SELECT src AS node, CAST({_Q108_SCALE} AS BIGINT) AS r FROM outdeg),"""
        + ",".join(its)
        + f"""
    SELECT node AS part, CAST(r AS BIGINT) AS pagerank FROM r{_Q108_ITERS}"""
    )


@query("q108_pagerank_parts", _q108_oracle())
def q108_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _copurchase_pairs(spark, sf_dir).select("part_a", "part_b")
    edges = pairs.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).union(
        pairs.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # (src, dst, deg) is THE loop invariant every iteration joins against:
    # localCheckpoint materializes it once — iterations never replay the
    # basket->pair expansion lineage and never repeat the edges⋈outdeg
    # join (the q57 connected-components pattern; sf1 10.7 s -> ~5 s)
    weights = edges.join(outdeg, "src").localCheckpoint()
    # r0 derives from the MATERIALIZED weights, not from outdeg — outdeg's
    # lineage is the whole basket->pair pipeline, and the rank chain
    # references r twice per iteration (join input + node list), so an
    # un-materialized r0 re-instantiates that pipeline ~2^iters times in
    # the final plan (the round-8 sf100 soak's q108 = 832 s vs q97's 351 s
    # was exactly this replay, visible as repeated lineitem scans in
    # explain()).  distinct(src) over weights reuses its partitioning.
    r = weights.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(_Q108_SCALE).cast("bigint").alias("r")
    ).localCheckpoint()
    for _ in range(_Q108_ITERS):
        contrib = weights.join(r, weights.src == F.col("node")).select(
            F.col("dst").alias("node"), F.expr("r div deg").alias("c")
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # per-iteration checkpoint (the GraphX/Pregel discipline): rank
        # frames are |nodes| rows — tiny next to the edge data — and
        # truncating here keeps iteration t's plan from inlining
        # iteration t-1's twice
        r = (
            r.select("node")
            .join(sums, "node", "left")
            .select(
                "node",
                (
                    F.lit(_Q108_BASE).cast("bigint")
                    + F.expr("(85 * coalesce(s, 0)) div 100")
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return r.select(
        F.col("node").alias("part"), F.col("r").cast("bigint").alias("pagerank")
    )

# --------------------------------------------------------------------------
# q112 — triangle counting on the co-purchase graph (degree-ordered
# node-iterator): the third classic distributed-graph shape next to q57's
# converging label propagation and q108's fixed-iteration PageRank.
# Every edge is ORIENTED from its lower-(degree, id) endpoint to the
# higher one, so each triangle is counted exactly once at its minimum
# vertex and — the scale property — every wedge list is bounded by the
# ORIENTED out-degree, O(sqrt(|E|)) for any graph, never the raw degree
# of a hub part.  Shape: one wedge self-join on the source key + one
# closing join on the (v, w) edge key; the tiny per-part degree table
# broadcasts.  Support drops to 2 for this query (the shared
# support-3 co-purchase graph is triangle-free at test scale); the
# threshold is mirrored via the shared CTE builder.
# --------------------------------------------------------------------------
_Q112_SUPPORT, _Q112_TOP = 2, 20


@query(
    "q112_triangle_parts",
    f"""
    WITH {_copurchase_sql_ctes(_Q112_SUPPORT)},
    deg AS (
        SELECT part, COUNT(*) AS deg FROM (
            SELECT part_a AS part FROM pairs
            UNION ALL SELECT part_b FROM pairs
        ) GROUP BY part
    ),
    directed AS (
        SELECT CASE WHEN da.deg < db.deg
                      OR (da.deg = db.deg AND p.part_a < p.part_b)
                    THEN p.part_a ELSE p.part_b END AS u,
               CASE WHEN da.deg < db.deg
                      OR (da.deg = db.deg AND p.part_a < p.part_b)
                    THEN p.part_b ELSE p.part_a END AS v
        FROM pairs p
        JOIN deg da ON da.part = p.part_a
        JOIN deg db ON db.part = p.part_b
    ),
    tri AS (
        SELECT d1.u AS a, d1.v AS b, d2.v AS c
        FROM directed d1
        JOIN directed d2 ON d2.u = d1.u AND d2.v <> d1.v
        JOIN directed d3 ON d3.u = d1.v AND d3.v = d2.v
    ),
    participation AS (
        SELECT unnest([a, b, c]) AS part FROM tri
    ),
    counted AS (
        SELECT part, COUNT(*) AS n_triangles
        FROM participation GROUP BY part
    )
    SELECT part, n_triangles, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            ORDER BY n_triangles DESC, part) AS BIGINT) AS rank
        FROM counted
    ) WHERE rank <= {_Q112_TOP}
    """,
)
def q112_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the pair derivation ONCE: `deg` and the orientation
    # join both consume it, and without this the basket->pair expansion
    # (the expensive part of the query at scale) runs twice
    pairs = _copurchase_pairs(spark, sf_dir, support=_Q112_SUPPORT).select(
        "part_a", "part_b"
    ).localCheckpoint()
    deg = (
        pairs.select(F.col("part_a").alias("part"))
        .union(pairs.select(F.col("part_b").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("part_a") < F.col("part_b"))
    )
    # the wedge + closing joins reuse this frame three times: materialize
    # once (the q108 loop-invariant pattern) so the basket->pair expansion
    # never replays
    directed = (
        pairs.join(
            F.broadcast(deg.withColumnsRenamed({"part": "part_a", "deg": "da"})),
            "part_a",
        )
        .join(
            F.broadcast(deg.withColumnsRenamed({"part": "part_b", "deg": "db"})),
            "part_b",
        )
        .select(
            F.when(lower, F.col("part_a")).otherwise(F.col("part_b")).alias("u"),
            F.when(lower, F.col("part_b")).otherwise(F.col("part_a")).alias("v"),
        )
        .localCheckpoint()
    )
    d1, d2 = directed.alias("d1"), directed.alias("d2")
    wedges = d1.join(
        d2,
        (F.col("d1.u") == F.col("d2.u")) & (F.col("d1.v") != F.col("d2.v")),
    ).select(
        F.col("d1.u").alias("a"), F.col("d1.v").alias("b"), F.col("d2.v").alias("c")
    )
    tri = wedges.join(
        directed.withColumnsRenamed({"u": "b", "v": "c"}), ["b", "c"]
    )
    from pyspark.sql.window import Window

    counted = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    # top-K first (TakeOrderedAndProject: per-partition K-row heaps, no
    # full sort), THEN rank the K survivors — the per-part count table
    # grows with |parts|, so the old rank-everything-then-filter window
    # single-tasked unbounded input; this window sorts exactly K rows
    w = Window.orderBy(F.desc("n_triangles"), F.asc("part"))
    return (
        counted.orderBy(F.desc("n_triangles"), F.asc("part"))
        .limit(_Q112_TOP)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("part", "n_triangles", "rank")
    )

# --------------------------------------------------------------------------
# q114 — peak concurrent open orders (interval sweep line): each order is
# "open" from o_orderdate until its last line ships; the busiest days are
# the classic interval-overlap aggregation (concurrent sessions/policies/
# jobs).  Scale shape: the fact tables reduce FIRST — one groupBy for the
# per-order close date, one +1/-1 delta explode, one groupBy on the date
# key — and only then does the running sum scan the ~|distinct dates|
# aggregated spine in a single ordered window (the q88 rule: global
# windows only ever run on date-bounded frames, never on facts).  All
# arithmetic is integer-exact.
# --------------------------------------------------------------------------
_Q114_TOP = 20


@query(
    "q114_peak_open_orders",
    f"""
    WITH spans AS (
        SELECT o.o_orderdate AS start_d,
               MAX(l.l_shipdate) AS end_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT start_d AS d, 1 AS delta FROM spans
        UNION ALL
        SELECT end_d + INTERVAL 1 DAY AS d, -1 AS delta FROM spans
    ),
    daily AS (
        SELECT CAST(d AS DATE) AS d, SUM(delta) AS net FROM deltas GROUP BY d
    ),
    running AS (
        SELECT d, CAST(SUM(net) OVER (
            ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS open_orders
        FROM daily
    )
    SELECT d, open_orders, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            ORDER BY open_orders DESC, d) AS BIGINT) AS rank
        FROM running
    ) WHERE rank <= {_Q114_TOP}
    """,
)
def q114_peak_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("end_d"))
        .select(F.col("o_orderdate").alias("start_d"), "end_d")
    )
    deltas = spans.select(
        F.col("start_d").alias("d"), F.lit(1).alias("delta")
    ).union(
        spans.select(
            F.date_add("end_d", 1).alias("d"), F.lit(-1).alias("delta")
        )
    )
    daily = deltas.groupBy("d").agg(F.sum("delta").alias("net"))
    running = daily.withColumn(
        "open_orders",
        F.sum("net")
        .over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint"),
    )
    # the prefix-sum window above is CALENDAR-bounded (one row per day —
    # a century is ~36.5k rows, whatever the data volume); the top-K is
    # limit-first so the rank window sorts exactly K rows
    w = Window.orderBy(F.desc("open_orders"), F.asc("d"))
    return (
        running.orderBy(F.desc("open_orders"), F.asc("d"))
        .limit(_Q114_TOP)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("d", "open_orders", "rank")
    )

# --------------------------------------------------------------------------
# q117 — population-stability-index (PSI) drift monitor: the standard
# production check that a feature's distribution hasn't shifted between a
# reference window and the current window — here the per-event-type value
# distribution, first half of the month vs the second.  Scale shape: one
# groupBy on (event_type, period, bucket) reduces the facts, everything
# after runs on the tiny (types x 10 buckets) frame; add-one smoothing
# keeps empty buckets finite.  PSI = sum (p_cur - p_ref) * ln(p_cur /
# p_ref); the per-type sum runs over <= 10 doubles -> rounded(6) in both
# engines.  Buckets are fixed-width (value div 50), the production
# choice at 100 TB: bucket edges must come from config or the reference
# snapshot, never a data-dependent quantile scan of the current window.
# --------------------------------------------------------------------------
_Q117_SPLIT = "2024-01-16"
_Q117_BUCKETS = 10
_Q117_WIDTH = 50.0


@query(
    "q117_psi_value_drift",
    f"""
    WITH bucketed AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '{_Q117_SPLIT}' THEN 'ref' ELSE 'cur'
               END AS period,
               LEAST(CAST(FLOOR(value / {_Q117_WIDTH}) AS INT),
                     {_Q117_BUCKETS - 1}) AS bucket,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type, period, bucket
    ),
    totals AS (
        SELECT event_type, period, SUM(n) AS total
        FROM bucketed GROUP BY event_type, period
    ),
    grid AS (
        SELECT t.event_type, p.period, g.bucket, tt.total,
               COALESCE(b.n, 0) AS n
        FROM (SELECT DISTINCT event_type FROM bucketed) t
        CROSS JOIN (SELECT unnest(range({_Q117_BUCKETS})) AS bucket) g
        CROSS JOIN (SELECT 'ref' AS period UNION ALL SELECT 'cur') p
        JOIN totals tt ON tt.event_type = t.event_type AND tt.period = p.period
        LEFT JOIN bucketed b ON b.event_type = t.event_type
                            AND b.period = p.period AND b.bucket = g.bucket
    ),
    probs AS (
        SELECT event_type, bucket,
               MAX(CASE WHEN period = 'ref'
                        THEN (n + 1.0) / (total + {_Q117_BUCKETS}) END) AS p_ref,
               MAX(CASE WHEN period = 'cur'
                        THEN (n + 1.0) / (total + {_Q117_BUCKETS}) END) AS p_cur
        FROM grid GROUP BY event_type, bucket
    ),
    psi AS (
        SELECT event_type,
               ROUND(SUM((p_cur - p_ref) * LN(p_cur / p_ref)), 6) AS psi
        FROM probs GROUP BY event_type
    )
    SELECT s.event_type, s.psi,
           CAST(r.total AS BIGINT) AS n_ref,
           CAST(c.total AS BIGINT) AS n_cur
    FROM psi s
    JOIN totals r ON r.event_type = s.event_type AND r.period = 'ref'
    JOIN totals c ON c.event_type = s.event_type AND c.period = 'cur'
    """,
)
def q117_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucketed = (
        e.select(
            "event_type",
            F.when(
                F.col("ts") < F.lit(_Q117_SPLIT).cast("timestamp"), F.lit("ref")
            )
            .otherwise(F.lit("cur"))
            .alias("period"),
            F.least(
                F.floor(F.col("value") / _Q117_WIDTH).cast("int"),
                F.lit(_Q117_BUCKETS - 1),
            ).alias("bucket"),
        )
        .groupBy("event_type", "period", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = bucketed.groupBy("event_type", "period").agg(
        F.sum("n").alias("total")
    )
    # dense (type x period x bucket) grid so empty buckets smooth to 1/(N+B)
    grid = (
        bucketed.select("event_type").distinct()
        .crossJoin(spark.range(_Q117_BUCKETS).select(F.col("id").cast("int").alias("bucket")))
        .crossJoin(
            spark.createDataFrame([("ref",), ("cur",)], schema="period string")
        )
        .join(totals, ["event_type", "period"])
        .join(bucketed, ["event_type", "period", "bucket"], "left")
        .fillna(0, subset=["n"])
    )
    probs = grid.groupBy("event_type", "bucket").agg(
        F.max(
            F.when(
                F.col("period") == "ref",
                (F.col("n") + 1.0) / (F.col("total") + _Q117_BUCKETS),
            )
        ).alias("p_ref"),
        F.max(
            F.when(
                F.col("period") == "cur",
                (F.col("n") + 1.0) / (F.col("total") + _Q117_BUCKETS),
            )
        ).alias("p_cur"),
    )
    ref_tot = totals.filter(F.col("period") == "ref").select(
        "event_type", F.col("total").alias("n_ref")
    )
    cur_tot = totals.filter(F.col("period") == "cur").select(
        "event_type", F.col("total").alias("n_cur")
    )
    return (
        probs.groupBy("event_type")
        .agg(
            duck_round_expr(
                F.sum(
                    (F.col("p_cur") - F.col("p_ref"))
                    * F.log(F.col("p_cur") / F.col("p_ref"))
                ),
                6,
            ).alias("psi")
        )
        .join(F.broadcast(ref_tot), "event_type")
        .join(F.broadcast(cur_tot), "event_type")
        .select(
            "event_type", "psi",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
        )
    )

# --------------------------------------------------------------------------
# q120 — MERGEABLE distinct-count sketches (Apache DataSketches HLL via
# Spark 4): per-event-type user sketches built in one pass, then UNIONED
# into a global estimate — the shard-then-merge pattern that replaces
# exact global countDistinct at 100 TB (per-partition sketches persist
# with the data; refreshing a day re-sketches one shard and re-unions,
# never rescans the corpus — q40's single-shot HLL can't do that).  The
# estimates are engine-private, so the oracle pins the CONTRACT (the
# q100 technique): exact per-type and global distincts hash-verified,
# plus booleans asserting every estimate lands within the configured
# rel-error tolerance (lgK=12 -> ~1.6% sigma; 5% ~ 3 sigma).
# --------------------------------------------------------------------------
_Q120_TOL = 0.05


@query(
    "q120_hll_sketch_union",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '_all' AS event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events
    """,
)
def q120_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    glob = per_type.agg(
        F.hll_union_agg("sk").alias("sk"),
    ).crossJoin(
        F.broadcast(e.agg(F.countDistinct("user_id").alias("exact_users")))
    ).select(F.lit("_all").alias("event_type"), "sk", "exact_users")
    tol = (
        F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
        <= _Q120_TOL * F.col("exact_users")
    ).alias("within_tol")
    return per_type.select("event_type", "sk", "exact_users").union(
        glob
    ).select("event_type", "exact_users", tol)


# --------------------------------------------------------------------------
# q121 — MERGEABLE quantile sketches (DataSketches KLL): per-returnflag
# price sketches merged into a global sketch whose quantiles must land
# within KLL's rank-error bound of the exact global percentiles — the
# distributed-percentile pattern at 100 TB (shards sketch independently;
# the coordinator merges fixed-size summaries; q100's approx_percentile
# is one-shot and can't pre-aggregate per shard).  k=200 -> ~1.65% rank
# error (99% confidence); the contract asserts the sketch quantile sits
# between the exact quantiles at rank +/- 2*eps, all hash-verified
# booleans over exact anchors.
# --------------------------------------------------------------------------
_Q121_K = 200
_Q121_EPS = 0.0165 * 2


def _q121_probes() -> list[float]:
    out = []
    for p in (0.5, 0.95):
        out += [max(0.0, p - _Q121_EPS), p, min(1.0, p + _Q121_EPS)]
    return out


@query(
    "q121_kll_quantile_merge",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS exact_p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS exact_p95,
           TRUE AS p50_within_rank_err,
           TRUE AS p95_within_rank_err
    FROM lineitem
    """,
)
def q121_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("price")
    )
    shards = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("price", F.lit(_Q121_K)).alias("sk")
    )
    # kll_sketch_merge_double is a binary scalar merge; fold the shard
    # list with the first sketch as the accumulator seed (shard count =
    # |returnflag| = 3, a driver-size list)
    lst = F.collect_list("sk")
    merged = shards.agg(lst.alias("sks")).select(
        F.aggregate(
            F.slice(F.col("sks"), 2, F.greatest(F.size("sks") - 1, F.lit(0))),
            F.element_at(F.col("sks"), 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("sk")
    )
    probes = _q121_probes()
    exact = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.percentile("price", F.array(*[F.lit(p) for p in probes])).alias("ex"),
    )
    ex = F.col("ex")
    return merged.crossJoin(F.broadcast(exact)).select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        duck_round_expr(ex[1], 6).alias("exact_p50"),
        duck_round_expr(ex[4], 6).alias("exact_p95"),
        (
            (F.kll_sketch_get_quantile_double("sk", F.lit(0.5)) >= ex[0])
            & (F.kll_sketch_get_quantile_double("sk", F.lit(0.5)) <= ex[2])
        ).alias("p50_within_rank_err"),
        (
            (F.kll_sketch_get_quantile_double("sk", F.lit(0.95)) >= ex[3])
            & (F.kll_sketch_get_quantile_double("sk", F.lit(0.95)) <= ex[5])
        ).alias("p95_within_rank_err"),
    )

# --------------------------------------------------------------------------
# q122 — count-min frequency sketch contract (the third mergeable-sketch
# family next to q120's HLL and q121's KLL): one count_min_sketch
# aggregate over the event stream estimates per-user frequencies in
# sub-linear space; the top heavy hitters' estimates must satisfy the
# CM guarantee exact <= est <= exact + eps * N.  The sketch is KB-sized
# and mergeable (map-side partial sketches combine associatively — the
# same shard-then-merge shape as q120/q121); only the bounded sketch
# and the 5 verified ids reach the driver (the IVF-sample precedent).
# Spark exposes no SQL-side point query, so the driver decodes the
# collected sketch bytes with the pure-Python functions/sketches.py
# reader (Spark's public CountMinSketchImpl wire format + long-item
# hash) — no Py4J _jvm bridge, so the query runs identically under
# Spark Connect (round-6 verdict item #3; the decoder is pinned
# against the JVM readback in tests/test_stat.py).  Oracle: exact
# anchors + TRUE contract booleans (q100).
# --------------------------------------------------------------------------
_Q122_EPS, _Q122_CONF, _Q122_SEED, _Q122_TOP = 0.005, 0.99, 42, 5


@query(
    "q122_countmin_heavy_hitters",
    f"""
    WITH counts AS (
        SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
    )
    SELECT user_id, exact_n, rank, TRUE AS within_eps FROM (
        SELECT user_id, exact_n,
               CAST(ROW_NUMBER() OVER (ORDER BY exact_n DESC, user_id)
                    AS BIGINT) AS rank
        FROM counts
    ) WHERE rank <= {_Q122_TOP}
    """,
)
def q122_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id")
    agg = e.agg(
        F.count_min_sketch("user_id", _Q122_EPS, _Q122_CONF, _Q122_SEED).alias(
            "sk"
        ),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    # Pure-Python readback of Spark's public CountMinSketch wire format
    # (functions/sketches.py) — runtime-independent (classic or
    # Connect), no Py4J.  The driver-side createDataFrame below is
    # intentional: the collected payload is one KB-sized sketch +
    # _Q122_TOP verified ids, and the point of the query is the
    # driver-checked CM error contract.
    cms = CountMinSketch.from_bytes(bytes(agg["sk"]))
    # exact top-K via orderBy().limit() — TakeOrderedAndProject keeps a
    # K-row heap per partition and merges on the driver, vs the previous
    # unpartitioned row_number() window that sorted the FULL per-user
    # count table in one task (the round-7 verdict's q122 finding).
    # collect() on the sorted-limited frame preserves order, so rank is
    # the enumeration index.
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(_Q122_TOP)
        .collect()
    )
    bound = _Q122_EPS * agg["n"]
    rows = [
        (
            r["user_id"],
            r["exact_n"],
            rank,
            r["exact_n"] <= cms.estimate(int(r["user_id"])) <= r["exact_n"] + bound,
        )
        for rank, r in enumerate(top, start=1)
    ]
    return spark.createDataFrame(
        rows, schema="user_id bigint, exact_n bigint, rank bigint, within_eps boolean"
    )

# --------------------------------------------------------------------------
# q126 — session path analysis: the event-type transition matrix over
# q34's gap-sessionized streams (which page/action follows which), the
# product-analytics primitive behind Markov attribution and next-action
# models.  Scale shape: sessionization is the same lag/cumsum window as
# q34 (one shuffle on user_id); transitions zip each session's ordered
# event list against its tail (collect_list bounded by session length,
# no self-join); counts reduce with map-side combine.  Deterministic
# event order: (ts, event_id) — ts alone ties at identical timestamps.
# --------------------------------------------------------------------------
@query(
    "q126_session_transitions",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL '5 minutes'
                      OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    ),
    paths AS (
        SELECT user_id, session_id,
               list(event_type ORDER BY ts, event_id) AS path
        FROM sessioned GROUP BY user_id, session_id
    ),
    transitions AS (
        SELECT unnest(path[1:len(path)-1]) AS from_type,
               unnest(path[2:len(path)]) AS to_type
        FROM paths WHERE len(path) >= 2
    )
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM transitions GROUP BY from_type, to_type
    """,
)
def q126_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap compare in exact integer MICROS (unix_micros), matching the
    # oracle's INTERVAL comparison on sub-second timestamps bit-for-bit
    # (a seconds-truncating cast would disagree on gaps like 300.2 s)
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            > 300 * 1_000_000,
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("ordered")
        )
        .select(F.expr("transform(ordered, x -> x.event_type)").alias("path"))
        .filter(F.size("path") >= 2)
    )
    transitions = paths.select(
        F.explode(
            F.arrays_zip(
                F.slice("path", 1, F.size("path") - 1).alias("from_type"),
                F.expr("slice(path, 2, size(path) - 1)").alias("to_type"),
            )
        ).alias("t")
    )
    return transitions.groupBy(
        F.col("t.from_type").alias("from_type"),
        F.col("t.to_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))


# --------------------------------------------------------------------------
# q157 — CUSUM changepoint per order-priority series (operators/
# features.py cusum_changepoint): daily order counts per priority,
# cumulative sum of deviations from the series mean, peak |S| = the most
# likely single change point (Page 1954) — the distribution-shift
# monitor PSI (q117) cannot give a DATE for.  Exactness: S is carried
# as the scaled integer n*prefix - i*total, so the argmax, tie-breaks
# (earliest date), and the reported peak are exact integer arithmetic
# in both engines; cusum_peak = that integer / n (bit-identical
# doubles).  Scale shape: one hash aggregate to daily grain, then two
# windows over ONE (priority, date) exchange, output one row per
# series.  The per-series window buffer holds days, not orders.
# --------------------------------------------------------------------------
@query(
    "q157_cusum_changepoints",
    """
    WITH daily AS (
        SELECT o_orderpriority AS priority, o_orderdate AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2),
    staged AS (
        SELECT priority, d,
               COUNT(*) OVER (PARTITION BY priority)
                 * SUM(x) OVER (PARTITION BY priority ORDER BY d
                                ROWS UNBOUNDED PRECEDING)
               - ROW_NUMBER() OVER (PARTITION BY priority ORDER BY d)
                 * SUM(x) OVER (PARTITION BY priority) AS s_scaled,
               CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT)
                   AS n_points
        FROM daily)
    SELECT priority, d AS changepoint,
           CAST(s_scaled AS DOUBLE) / n_points AS cusum_peak,
           n_points,
           CAST(CASE WHEN s_scaled > 0 THEN 1
                     WHEN s_scaled < 0 THEN -1 ELSE 0 END AS BIGINT)
               AS direction
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY priority ORDER BY ABS(s_scaled) DESC, d) AS pick
        FROM staged)
    WHERE pick = 1
    """,
)
def q157_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        cusum_changepoint,
    )

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    return cusum_changepoint(
        daily, group_col="priority", time_col="d", value_col="x"
    )


# --------------------------------------------------------------------------
# q161 — per-group OLS regression (price on quantity per return flag):
# slope/intercept from the five classical moments, all five accumulated
# as EXACT DECIMALs (n, Sx, Sy, Sxy, Sxx — the inputs are 2-decimal
# money and integer-valued quantities, so the sums are exact and
# order-independent; a double regr_slope() would drift per partition
# order).  The slope's numerator/denominator overflow 2^53 above
# sf0.01, and DECIMAL->DOUBLE conversion is NOT identically rounded
# across engines (measured: 1-ulp slope divergence at sf0.1) — so both
# operands route through their EXACT decimal string, which every
# engine parses with correctly-rounded strtod: identical doubles, then
# one identical division; sy/sx take the same string route so the
# intercept cannot regress the same way once those sums pass 2^53.  One hash aggregate, map-side partials,
# three output rows.  At 100 TB this is the same shape as q01: moments
# are algebraic aggregates, so the shuffle carries five numbers per
# group.
# --------------------------------------------------------------------------
@query(
    "q161_price_quantity_ols",
    """
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
               SUM(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
               / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
               AS slope,
           (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
            - (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
               / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
              * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
               / n AS intercept
    FROM m
    """,
)
def q161_price_quantity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    num = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("string")
        .cast("double")
    )
    den = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("string")
        .cast("double")
    )
    slope = num / den
    sy_d = F.col("sy").cast("string").cast("double")
    sx_d = F.col("sx").cast("string").cast("double")
    return m.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        ((sy_d - slope * sx_d) / F.col("n")).alias("intercept"),
    )


# --------------------------------------------------------------------------
# q162 — corpus concentration audit: Gini coefficient + top-source share
# of the document mix across sources — the one-number diagnostic for
# "is one crawl domain dominating the training mix" that motivates
# q143's quota cap (Gini 0 = perfectly even mix, ->1 = one source owns
# the corpus).  Exactness: with per-source counts c_(1..n) sorted
# ascending, Gini = 2*sum(i*c_i)/(n*total) - (n+1)/n — every term an
# exact integer before two deterministic double divisions; ties in c
# cannot change the sum (equal values commute under the rank weights).
# Scale shape: one hash aggregate to source grain (bounded output),
# then a single-partition window over the bounded source list — the
# same census posture as q159's group index.  One output row.
# --------------------------------------------------------------------------
@query(
    "q162_source_gini",
    """
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source),
    ranked AS (
        SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, source) AS BIGINT)
                   AS i
        FROM counts)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(c) AS BIGINT) AS total_docs,
           CAST(2 * SUM(i * c) AS DOUBLE)
               / CAST(COUNT(*) * SUM(c) AS DOUBLE)
               - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS gini,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
    FROM ranked
    """,
)
def q162_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # Gini needs EVERY source's rank (not a top-K), so use the two-phase
    # distributed rank — |sources| is a census today, but nothing in the
    # formula requires funnelling it through one window task
    from ominimo_dynamic_data_pipeline_spark.operators.scale import (
        distributed_row_number,
    )

    ranked_full, _ = distributed_row_number(
        counts, [F.asc("c"), F.asc("source")], rn_col="i"
    )
    ranked = ranked_full.select("c", "i")
    n = F.count(F.lit(1))
    total = F.sum("c")
    return ranked.agg(
        n.cast("bigint").alias("n_sources"),
        total.cast("bigint").alias("total_docs"),
        (
            (2 * F.sum(F.col("i") * F.col("c"))).cast("double")
            / (n * total).cast("double")
            - (n + 1).cast("double") / n.cast("double")
        ).alias("gini"),
        (F.max("c").cast("double") / total.cast("double")).alias("top_share"),
    )


# --------------------------------------------------------------------------
# q166 — exponentially-weighted moving average per series (the smoothing
# primitive behind drift monitors and trend baselines): ewma_i =
# 0.3*x_i + 0.7*ewma_{i-1}, seeded at the first observation.  The
# recurrence is inherently sequential per series, so the Spark shape is
# an ORDERED ARRAY FOLD (collect the bounded daily series, array_sort,
# F.aggregate building the running-value array, zip back out) — the
# pure-Catalyst escape for recursive smoothing that q160's pandas path
# does NOT need: series length (days) bounds the array, never row
# count.  The DuckDB twin computes the identical recurrence by
# recursive CTE; both engines evaluate literally 0.3*x + 0.7*prev in
# observation order, so every double is bit-identical (alpha and
# 1-alpha are both LITERALS — deriving 0.7 as 1-0.3 would be fine
# today but couples the parity to float subtraction; keep it literal).
# The oracle wraps both in CAST(... AS DOUBLE): DuckDB parses a bare
# 0.3 as DECIMAL(2,1) and would run the recurrence in mixed
# decimal/double arithmetic (measured: diverges by the 19th step).
# --------------------------------------------------------------------------
@query(
    "q166_ewma_daily_orders",
    """
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority AS priority, o_orderdate AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2),
    idx AS (
        SELECT priority, d, x,
               ROW_NUMBER() OVER (PARTITION BY priority ORDER BY d) AS i
        FROM daily),
    ew(priority, i, d, x, ewma) AS (
        SELECT priority, i, d, x, CAST(x AS DOUBLE) FROM idx WHERE i = 1
        UNION ALL
        SELECT n.priority, n.i, n.d, n.x,
               CAST(0.3 AS DOUBLE) * n.x + CAST(0.7 AS DOUBLE) * e.ewma
        FROM ew e JOIN idx n ON n.priority = e.priority AND n.i = e.i + 1)
    SELECT priority, d, x, ewma FROM ew
    """,
)
def q166_ewma_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    series = daily.groupBy("priority").agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    fold = F.aggregate(
        F.col("s"),
        F.array().cast("array<double>"),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, e["x"].cast("double")).otherwise(
                    F.lit(0.3) * e["x"] + F.lit(0.7) * F.element_at(acc, -1)
                )
            ),
        ),
    )
    zipped = series.select(
        "priority",
        F.posexplode(F.arrays_zip(F.col("s"), fold.alias("e"))).alias(
            "pos", "z"
        ),
    )
    return zipped.select(
        "priority",
        F.col("z.s.d").alias("d"),
        F.col("z.s.x").alias("x"),
        F.col("z.e").alias("ewma"),
    )


# --------------------------------------------------------------------------
# q169 — BENFORD first-digit audit over l_extendedprice: the classic
# forensic data-quality screen (synthetic or tampered financial columns
# diverge from log10(1+1/d)).  Cross-engine exactness is the whole
# design: the first digit comes from integer cents (ROUND(x*100) is
# never a .5 tie because the doubles encode exact 2-decimal values, so
# every rounding mode agrees) cast through VARCHAR — never from
# log10/pow, whose libm boundaries differ between JVM and C (the q163
# literal-table precedent).  Expected fractions are one shared literal
# table (repr(math.log10(1+1/d)), bit-identical under strtod in both
# engines), obs_frac is a single double division of identical integers,
# and the chi-square term is the identical ((o-e)*(o-e))/e expression
# tree.  At 100 TB: one map-side-combined groupBy on 9 keys, a 1-row
# broadcast total, zero wide shuffles of data rows.
# --------------------------------------------------------------------------
_Q169_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}


def _q169_sql() -> str:
    values = ", ".join(
        f"({d}, CAST({lit} AS DOUBLE))" for d, lit in _Q169_BENFORD.items()
    )
    return f"""
    WITH c AS (
        SELECT cents FROM (
            SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
            FROM lineitem WHERE l_extendedprice > 0
        ) WHERE cents >= 1
    ),
    counts AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM c GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
    e(digit, exp_frac) AS (VALUES {values})
    SELECT counts.digit, counts.n,
           CAST(counts.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS obs_frac,
           e.exp_frac,
           ((CAST(counts.n AS DOUBLE) / CAST(t.total AS DOUBLE) - e.exp_frac)
            * (CAST(counts.n AS DOUBLE) / CAST(t.total AS DOUBLE) - e.exp_frac))
           / e.exp_frac AS chi2_term
    FROM counts CROSS JOIN t JOIN e ON e.digit = counts.digit
    ORDER BY counts.digit
    """


@query("q169_benford_price_audit", _q169_sql())
def q169_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # cents == 0 (prices under half a cent) has no leading 1-9 digit;
    # both engines drop such rows BEFORE counting so the chi-square
    # denominator agrees too.
    cents = (
        li.filter(F.col("l_extendedprice") > 0)
        .select(
            duck_round_expr(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("cents")
        )
        .filter(F.col("cents") >= 1)
    )
    counts = (
        cents.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    exp_frac = F.lit(None).cast("double")
    for d, lit in _Q169_BENFORD.items():
        exp_frac = F.when(F.col("digit") == d, F.lit(float(lit))).otherwise(
            exp_frac
        )
    obs = F.col("n").cast("double") / F.col("total").cast("double")
    # Grand total via an empty-partition window over the 9-row counts
    # frame: one scan of lineitem total (a second agg subtree would
    # re-scan), and the single-partition window input is 9 rows.
    withexp = counts.withColumn(
        "total", F.sum("n").over(Window.partitionBy()).cast("bigint")
    ).withColumn("exp_frac", exp_frac)
    e = F.col("exp_frac")
    return withexp.select(
        "digit",
        "n",
        obs.alias("obs_frac"),
        "exp_frac",
        (((obs - e) * (obs - e)) / e).alias("chi2_term"),
    ).orderBy("digit")


# --------------------------------------------------------------------------
# q171 — Spearman rank correlation (n_chars vs token count per lang):
# the monotonic-association diagnostic analysts reach for when Pearson
# (q48) is skew-distorted — and a window+moments composition Spark has
# no builtin for.  Exactness route: tied ranks use the DOUBLED average
# rank Dx = 2*min_rank + ties - 1, an exact INTEGER (halves never
# materialize; doubling both vectors leaves the correlation invariant),
# so the five moments are exact DECIMAL sums and the q161 precedent
# applies — covariance/variance numerators route through their exact
# decimal string into correctly-rounded strtod doubles, then ONE
# division by a product of IEEE-exact sqrts.  Per-lang windows keep the
# rank sort parallel across groups (no global sort); at 100 TB widen
# the bigint rank products to DECIMAL before summing if a single lang
# exceeds ~3e9 docs.  Degenerate zero-variance groups yield NULL
# identically in both engines (non-ANSI Spark and DuckDB both return
# NULL for double division by zero).
# --------------------------------------------------------------------------
@query(
    "q171_rank_correlation",
    f"""
    WITH base AS (
        SELECT lang, n_chars AS x, CAST(len({SQL_TOKS}) AS BIGINT) AS y
        FROM documents
    ),
    r AS (
        SELECT lang,
               CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY x)
                    + COUNT(*) OVER (PARTITION BY lang, x) - 1 AS BIGINT)
                   AS dx,
               CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY y)
                    + COUNT(*) OVER (PARTITION BY lang, y) - 1 AS BIGINT)
                   AS dy
        FROM base
    ),
    m AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(dx AS DECIMAL(18,0))) AS sx,
               SUM(CAST(dy AS DECIMAL(18,0))) AS sy,
               SUM(CAST(dx * dy AS DECIMAL(18,0))) AS sxy,
               SUM(CAST(dx * dx AS DECIMAL(18,0))) AS sxx,
               SUM(CAST(dy * dy AS DECIMAL(18,0))) AS syy
        FROM r GROUP BY lang
    )
    SELECT lang, n,
           CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
           / (SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
              * SQRT(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
               AS spearman_rho
    FROM m
    """,
)
def q171_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        F.col("n_chars").alias("x"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("y"),
    )

    def drank(col: str):
        return (
            2 * F.rank().over(Window.partitionBy("lang").orderBy(col))
            + F.count(F.lit(1)).over(Window.partitionBy("lang", col))
            - 1
        ).cast("bigint")

    r = base.select(
        "lang", drank("x").alias("dx"), drank("y").alias("dy")
    )
    dx, dy = F.col("dx"), F.col("dy")
    dec = "decimal(18,0)"
    m = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dx.cast(dec)).alias("sx"),
        F.sum(dy.cast(dec)).alias("sy"),
        F.sum((dx * dy).cast(dec)).alias("sxy"),
        F.sum((dx * dx).cast(dec)).alias("sxx"),
        F.sum((dy * dy).cast(dec)).alias("syy"),
    )
    n = F.col("n")
    as_d = exact_str_double
    num = as_d(n * F.col("sxy") - F.col("sx") * F.col("sy"))
    vx = as_d(n * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = as_d(n * F.col("syy") - F.col("sy") * F.col("sy"))
    return m.select(
        "lang",
        "n",
        (num / (F.sqrt(vx) * F.sqrt(vy))).alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# q174 — per-user inter-arrival cadence by event type: median/p90/p99
# of the gap between a user's consecutive events of each type, plus the
# exact mean — the arrival-process profile capacity planning and
# bot-detection both start from.  Gaps are exact integer MICROSECONDS
# (unix_micros vs epoch_us, the q15 twin pair) over a
# (event_type, user_id) window — partitioning by user keeps the sort
# parallel at 100 TB where a per-type-only window would single-thread
# each type's full history.  Percentiles follow the q47 convention
# (shared linear-interpolation definition, ROUND 6 absorbing last-ulp
# interpolation noise); the mean is one division of exact bigints.  At
# 100 TB swap the exact percentile for approx_percentile per q47's
# contract note.
# --------------------------------------------------------------------------
@query(
    "q174_event_cadence",
    """
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY event_type, user_id
                   ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(CAST(SUM(gap_us) AS VARCHAR) AS DOUBLE)
               / CAST(COUNT(gap_us) AS DOUBLE)
               / CAST(1000000 AS DOUBLE) AS mean_gap_s,
           ROUND(quantile_cont(gap_us / CAST(1000000 AS DOUBLE), 0.50), 6)
               AS p50_s,
           ROUND(quantile_cont(gap_us / CAST(1000000 AS DOUBLE), 0.90), 6)
               AS p90_s,
           ROUND(quantile_cont(gap_us / CAST(1000000 AS DOUBLE), 0.99), 6)
               AS p99_s
    FROM g
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def q174_event_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    # Percentiles interpolate in SECONDS, not micros: the engines'
    # interpolation formulas differ in the last ulp, and at 1e11-micros
    # magnitudes that ulp (~1e-4) survives a 6-decimal round (measured:
    # p90 off by 6e-5).  At ~1e5-second magnitudes the ulp is ~1e-11 and
    # the round absorbs it — the same magnitude regime q47 relies on.
    # Each micros int is double-exact and the /1e6 is one correctly-
    # rounded division, identical in both engines.
    gap_s = F.col("gap_us") / F.lit(1000000).cast("double")
    pcts = F.percentile(
        gap_s, F.array(*[F.lit(p) for p in (0.50, 0.90, 0.99)])
    )
    return g.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        # The micros sum passes 2^53 well before sf0.1 (string-routed,
        # the q161 precedent) and would WRAP a 64-bit long at the 100 TB
        # posture — so it accumulates in DECIMAL, like the oracle's
        # HUGEINT sum.
        (
            exact_str_double(F.sum(F.col("gap_us").cast("decimal(19,0)")))
            / F.count("gap_us").cast("double")
            / F.lit(1000000).cast("double")
        ).alias("mean_gap_s"),
        pcts.alias("pcts"),
    ).select(
        "event_type",
        "n_gaps",
        "mean_gap_s",
        duck_round_expr(F.col("pcts")[0], 6).alias("p50_s"),
        duck_round_expr(F.col("pcts")[1], 6).alias("p90_s"),
        duck_round_expr(F.col("pcts")[2], 6).alias("p99_s"),
    )


# --------------------------------------------------------------------------
# q177 — signup-cohort CONVERSION LATENCY: per signup week, how many
# users converted to a first purchase and how fast (median/p90 days,
# exact mean) — the product-analytics companion to q98's retention
# grid, and the composition a feature store materializes for LTV
# labels.  First-signup and first-qualifying-purchase are min-aggs
# (map-side partials); the gap stays exact integer MICROS until the
# single VARCHAR-routed division chain (the sum passes 2^53, the q174
# rule), and percentiles interpolate in DAYS where last-ulp engine
# differences die under the 6-decimal round (q47 regime).
# Non-converters stay in the cohort row (rate denominator) and drop
# out of the latency stats as NULLs identically in both engines.
# --------------------------------------------------------------------------
@query(
    "q177_cohort_conversion_latency",
    """
    WITH su AS (
        SELECT user_id, MIN(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    fp AS (
        SELECT su.user_id, su.signup_ts,
               MIN(CASE WHEN p.ts >= su.signup_ts THEN p.ts END)
                   AS first_purchase_ts
        FROM su LEFT JOIN events p
          ON p.user_id = su.user_id AND p.event_type = 'purchase'
        GROUP BY su.user_id, su.signup_ts
    ),
    g AS (
        SELECT STRFTIME(date_trunc('week', signup_ts), '%Y-%m-%d')
                   AS cohort_week,
               epoch_us(first_purchase_ts) - epoch_us(signup_ts) AS gap_us
        FROM fp
    )
    SELECT cohort_week,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(COUNT(gap_us) AS BIGINT) AS n_converted,
           CAST(COUNT(gap_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS conversion_rate,
           CAST(CAST(SUM(gap_us) AS VARCHAR) AS DOUBLE)
               / CAST(COUNT(gap_us) AS DOUBLE)
               / CAST(86400000000 AS DOUBLE) AS mean_days,
           ROUND(quantile_cont(gap_us / CAST(86400000000 AS DOUBLE), 0.50), 6)
               AS p50_days,
           ROUND(quantile_cont(gap_us / CAST(86400000000 AS DOUBLE), 0.90), 6)
               AS p90_days
    FROM g GROUP BY cohort_week
    """,
)
def q177_cohort_conversion_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pu = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    fp = (
        su.join(pu, "user_id", "left")
        .groupBy("user_id", "signup_ts")
        .agg(
            F.min(
                F.when(F.col("ts") >= F.col("signup_ts"), F.col("ts"))
            ).alias("first_purchase_ts")
        )
    )
    gap_us = F.unix_micros("first_purchase_ts") - F.unix_micros("signup_ts")
    g = fp.select(
        F.date_format(F.date_trunc("week", "signup_ts"), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        gap_us.alias("gap_us"),
    )
    day_us = F.lit(86400000000).cast("double")
    gap_days = F.col("gap_us") / day_us
    pcts = F.percentile(gap_days, F.array(F.lit(0.50), F.lit(0.90)))
    return g.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_signups"),
        F.count("gap_us").cast("bigint").alias("n_converted"),
        (
            F.count("gap_us").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("conversion_rate"),
        (
            exact_str_double(F.sum(F.col("gap_us").cast("decimal(19,0)")))
            / F.count("gap_us").cast("double")
            / day_us
        ).alias("mean_days"),
        pcts.alias("pcts"),
    ).select(
        "cohort_week",
        "n_signups",
        "n_converted",
        "conversion_rate",
        "mean_days",
        duck_round_expr(F.col("pcts")[0], 6).alias("p50_days"),
        duck_round_expr(F.col("pcts")[1], 6).alias("p90_days"),
    )


# --------------------------------------------------------------------------
# q179 — market-concentration audit: per-nation supplier revenue HHI
# (Herfindahl–Hirschman index, the antitrust-standard Σ share² that
# complements q162's Gini) plus the top-supplier share.  Exactness:
# per-row revenue is DECIMAL(18,2)*(1-DECIMAL(18,2)) — exact 4-dp money
# — summed exactly per supplier; the square happens on the supplier
# aggregate DOWN-CAST to DECIMAL(19,4) so the product type widens to
# exactly both engines' 38-digit multiply budget (DuckDB rejects
# 38x38 and overflows an 18x18 target at this revenue scale); the
# final HHI routes Σr² and R through their exact decimal strings into
# strtod doubles (both exceed 2^53 at scale) and evaluates the
# identical a/(b*b) tree.  At 100 TB: two map-side-combined aggregates
# and a broadcast supplier→nation dimension join.
# --------------------------------------------------------------------------
@query(
    "q179_market_concentration",
    """
    WITH r AS (
        SELECT s_nationkey AS nk, l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               SUM(rev) AS tot,
               SUM(CAST(rev AS DECIMAL(19,4))
                   * CAST(rev AS DECIMAL(19,4))) AS sumsq,
               MAX(rev) AS mx
        FROM r GROUP BY nk
    )
    SELECT n.n_name AS nation, n_suppliers,
           CAST(CAST(sumsq AS VARCHAR) AS DOUBLE)
               / (CAST(CAST(tot AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(tot AS VARCHAR) AS DOUBLE)) AS hhi,
           CAST(CAST(mx AS VARCHAR) AS DOUBLE)
               / CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS top_share
    FROM m JOIN nation n ON n.n_nationkey = m.nk
    """,
)
def q179_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    r = (
        li.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("nk"), "l_suppkey")
        .agg(F.sum(rev).alias("rev"))
    )
    rd = F.col("rev").cast("decimal(19,4)")
    m = r.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("rev").alias("tot"),
        F.sum(rd * rd).alias("sumsq"),
        F.max("rev").alias("mx"),
    )
    as_d = exact_str_double
    return (
        m.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            m.nk == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            (as_d("sumsq") / (as_d("tot") * as_d("tot"))).alias("hhi"),
            (as_d("mx") / as_d("tot")).alias("top_share"),
        )
    )


# --------------------------------------------------------------------------
# q180 — RFM SEGMENTATION: users bucketed into recency / frequency /
# monetary terciles (NTILE(3), identical definition in both engines,
# deterministic (metric, user_id) orderings), then per-segment counts
# and exact means — the standard audience-segmentation rollup, and the
# label-generation shape for churn models.  Monetary sums quantize
# event values to exact integer CENTS first (the corpus is 2-decimal;
# a double sum would be partition-order dependent); recency is exact
# integer micros from each user's last event to the corpus max (a
# 1-row broadcast), floored to whole days.  At 100 TB: one per-user
# aggregate, three tiny global NTILE windows over |users| rows — if
# users outgrow a single window partition, swap NTILE for
# percent_rank-over-approx-quantile cuts (q125's contract note).
# --------------------------------------------------------------------------
@query(
    "q180_rfm_segments",
    """
    WITH u AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents,
               MAX(ts) AS last_ts
        FROM events GROUP BY user_id
    ),
    mx AS (SELECT MAX(ts) AS corpus_max FROM events),
    f AS (
        SELECT user_id, freq, cents,
               CAST((epoch_us(corpus_max) - epoch_us(last_ts))
                    // 86400000000 AS BIGINT) AS recency_days
        FROM u CROSS JOIN mx
    ),
    b AS (
        SELECT user_id, freq, cents, recency_days,
               NTILE(3) OVER (ORDER BY recency_days, user_id) AS r_bucket,
               NTILE(3) OVER (ORDER BY freq DESC, user_id) AS f_bucket,
               NTILE(3) OVER (ORDER BY cents DESC, user_id) AS m_bucket
        FROM f
    )
    SELECT r_bucket, f_bucket, m_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS avg_monetary,
           CAST(CAST(SUM(freq) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_frequency,
           CAST(CAST(SUM(recency_days) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_recency_days
    FROM b GROUP BY r_bucket, f_bucket, m_bucket
    """,
)
def q180_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        rfm_segments,
    )

    ev = load_table(spark, sf_dir, "events")
    return rfm_segments(
        ev, user_col="user_id", ts_col="ts", value_col="value", n_buckets=3
    )


# --------------------------------------------------------------------------
# q181 — BURSTINESS (Fano factor) per event type: variance-to-mean of
# per-minute arrival counts over the corpus's full minute span — ~1 for
# a Poisson process, >>1 for bursty/bot traffic; the q95 anomaly
# screen's aggregate twin.  Zero-minutes are handled WITHOUT a grid
# explode: a minute with no events contributes nothing to either
# moment, so Fano = (N*Σx² - T²) / (N*T) needs only the nonzero
# per-minute counts plus the span length N from a 1-row broadcast —
# the algebraic-moments trick that keeps the shuffle at |nonzero
# minutes| rows.  Every moment is an exact integer (minute ids via
# integral `div`, never a double path; the combination runs in
# DECIMAL(19,0) products since t*t passes 2^63 at scale); the two
# final operands route through decimal strings into one identical
# division.
# --------------------------------------------------------------------------
@query(
    "q181_event_burstiness",
    """
    WITH m AS (
        SELECT event_type, epoch_us(ts) // 60000000 AS minute,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT (MAX(epoch_us(ts)) // 60000000)
               - (MIN(epoch_us(ts)) // 60000000) + 1 AS n_minutes
        FROM events
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(x) AS BIGINT) AS t,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(COUNT(*) AS BIGINT) AS nonzero_minutes
        FROM m GROUP BY event_type
    )
    SELECT event_type,
           CAST(span.n_minutes AS BIGINT) AS n_minutes,
           t AS n_events,
           nonzero_minutes,
           CAST(CAST(t AS VARCHAR) AS DOUBLE)
               / CAST(CAST(span.n_minutes AS VARCHAR) AS DOUBLE)
               AS mean_per_min,
           CAST(CAST(CAST(span.n_minutes AS DECIMAL(19,0))
                          * CAST(sxx AS DECIMAL(19,0))
                          - CAST(t AS DECIMAL(19,0))
                            * CAST(t AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(CAST(span.n_minutes AS DECIMAL(19,0))
                           * CAST(t AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE)
               AS fano
    FROM agg CROSS JOIN span
    """,
)
def q181_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 60000000").alias("minute"),
    ).groupBy("event_type", "minute").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    span = ev.agg(
        (
            F.expr("max(unix_micros(ts)) div 60000000")
            - F.expr("min(unix_micros(ts)) div 60000000")
            + F.lit(1)
        ).alias("n_minutes")
    )
    agg = m.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("t"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.count(F.lit(1)).cast("bigint").alias("nonzero_minutes"),
    )
    as_d = exact_str_double
    # t*t passes 2^63 long before 100 TB (t ~ 1e12 per type), so the
    # moment combination runs in DECIMAL(19,0) products like q182.
    dec = "decimal(19,0)"
    nm = F.col("n_minutes")
    nmd, td, sxxd = nm.cast(dec), F.col("t").cast(dec), F.col("sxx").cast(dec)
    return agg.crossJoin(F.broadcast(span)).select(
        "event_type",
        nm.cast("bigint").alias("n_minutes"),
        F.col("t").alias("n_events"),
        "nonzero_minutes",
        (as_d(F.col("t")) / as_d(nm)).alias("mean_per_min"),
        (as_d(nmd * sxxd - td * td) / as_d(nmd * td)).alias("fano"),
    )


# --------------------------------------------------------------------------
# q187 — PARETO FRONTIER (skyline) per brand: parts not dominated by any
# same-brand part on (retailprice lower-better, size higher-better) — the
# multi-objective shortlist query behind supplier selection and config
# tuning (Börzsönyi et al., "The Skyline Operator", ICDE 2001).  The 2-D
# case needs no pairwise join: within each brand, a part is on the
# frontier iff no strictly-cheaper part has >= its size and no
# same-or-cheaper part has > its size — two running MAX(size) window
# frames over the price order, ONE exchange + sort per brand vs the
# quadratic NOT EXISTS.  Prices compare as exact integer CENTS (the q169
# route: 2-decimal doubles scale to integers exactly after ROUND), so
# tie semantics are identical across engines; identical (price, size)
# twins do NOT dominate each other (no strict inequality) and both stay
# on the frontier.  The oracle deliberately runs the INDEPENDENT
# quadratic NOT EXISTS formulation — a different algorithm reaching the
# same set.  Output doubles are raw parquet values (no arithmetic).
# --------------------------------------------------------------------------
@query(
    "q187_pareto_frontier_parts",
    """
    SELECT a.p_brand, a.p_partkey, a.p_retailprice, a.p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_brand = a.p_brand
          AND CAST(ROUND(b.p_retailprice * 100) AS BIGINT)
              <= CAST(ROUND(a.p_retailprice * 100) AS BIGINT)
          AND b.p_size >= a.p_size
          AND (CAST(ROUND(b.p_retailprice * 100) AS BIGINT)
                   < CAST(ROUND(a.p_retailprice * 100) AS BIGINT)
               OR b.p_size > a.p_size)
    )
    """,
)
def q187_pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        pareto_frontier,
    )

    p = load_table(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        "p_size",
        duck_round_expr(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    return pareto_frontier(
        p, minimize_col="cents", maximize_col="p_size", by=("p_brand",)
    ).select("p_brand", "p_partkey", "p_retailprice", "p_size")


# --------------------------------------------------------------------------
# q192 — TIME-DECAY touch attribution: every click/view in the 7 days
# before a same-user purchase earns that purchase's value decayed by
# 0.5 per whole day of lag — the marketing-attribution model between
# q61's all-touch window and last-touch.  The decay is EXACT integer
# arithmetic, not pow(): lag buckets to whole days by integral div, and
# the weight 0.5^k is carried as the integer numerator 2^(6-k) over the
# common denominator 64 (a 7-entry CASE literal, the Benford-table
# precedent) — credited value accumulates as v_cents * 2^(6-k) in
# DECIMAL(38,0) and surfaces through ONE decimal-string division by
# 6400 (64ths of cents -> currency).  Strict < 7d bound keeps k in
# 0..6 in both engines.  Scale shape: user-keyed equi-join with a range
# residual (the q61 shape) — at 100 TB the purchase side is the small
# fraction and the join shuffles on user_id only.
# --------------------------------------------------------------------------
_Q192_WEEK_US = 7 * 24 * 3600 * 1_000_000


@query(
    "q192_time_decay_attribution",
    f"""
    WITH p AS (
        SELECT user_id, epoch_us(ts) AS p_us,
               CAST(ROUND(value * 100) AS BIGINT) AS v_cents
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT user_id, epoch_us(ts) AS t_us, event_type
        FROM events WHERE event_type IN ('click', 'view')
    ),
    pairs AS (
        SELECT t.event_type,
               p.v_cents * (CASE (p.p_us - t.t_us) // 86400000000
                            WHEN 0 THEN 64 WHEN 1 THEN 32 WHEN 2 THEN 16
                            WHEN 3 THEN 8 WHEN 4 THEN 4 WHEN 5 THEN 2
                            WHEN 6 THEN 1 END) AS credited_64
        FROM p JOIN t ON t.user_id = p.user_id
                     AND t.t_us < p.p_us
                     AND p.p_us - t.t_us < {_Q192_WEEK_US}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(CAST(SUM(credited_64) AS VARCHAR) AS DOUBLE) / 6400.0
               AS credited_value
    FROM pairs GROUP BY event_type
    """,
)
def q192_time_decay_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        time_decay_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    out = time_decay_attribution(
        ev,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        value_col="value",
        conversion_type="purchase",
        touch_types=("click", "view"),
        horizon_days=7,
    )
    return out.select(
        F.col("touch_type").alias("event_type"),
        "n_touches",
        "credited_value",
    )


# --------------------------------------------------------------------------
# q193 — WINSORIZED robust balance stats per market segment: clip
# account balances at the rank-picked p05/p95 (percentile_DISC by
# construction — the threshold IS a data value at rank ceil(p*n) in
# the cents order, computed in EXACT integer ppm arithmetic so no
# double ceil(0.07*100)=8-style off-by-one can diverge) and report
# the clipped mean — the
# outlier-robust feature-prep step next to q83's MAD screen.  All
# arithmetic exact: integer cents, DECIMAL accumulation, one
# decimal-string division per mean.  Scale shape: ONE exchange on the
# segment key feeds the rank window, the in-partition threshold
# broadcast (two conditional MAX frames), and the final rollup.  At
# very high per-group cardinality swap the rank pick for the KLL
# sketch (q121/q125 contract note).
# --------------------------------------------------------------------------
@query(
    "q193_winsorized_balances",
    """
    WITH c AS (
        SELECT c_mktsegment, c_custkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY cents, c_custkey) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM c
    ),
    thresholds AS (
        SELECT *,
               MAX(CASE WHEN rn = GREATEST(1, (50000 * n + 999999) // 1000000)
                        THEN cents END)
                   OVER (PARTITION BY c_mktsegment) AS lo,
               MAX(CASE WHEN rn = (950000 * n + 999999) // 1000000
                        THEN cents END)
                   OVER (PARTITION BY c_mktsegment) AS hi
        FROM ranked
    )
    SELECT c_mktsegment,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(MAX(lo) AS BIGINT) AS lo_cents,
           CAST(MAX(hi) AS BIGINT) AS hi_cents,
           CAST(SUM(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(SUM(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           CAST(CAST(SUM(LEAST(GREATEST(cents, lo), hi)) AS VARCHAR)
                    AS DOUBLE)
               / CAST(MAX(n) AS DOUBLE) / 100.0 AS winsorized_mean
    FROM thresholds GROUP BY c_mktsegment
    """,
)
def q193_winsorized_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        winsorized_stats,
    )

    c = load_table(spark, sf_dir, "customer")
    out = winsorized_stats(
        c, group_col="c_mktsegment", value_col="c_acctbal",
        lower=0.05, upper=0.95, scale=100,
    )
    return out.select(
        "c_mktsegment",
        F.col("n_rows").alias("n_customers"),
        F.col("lo_units").alias("lo_cents"),
        F.col("hi_units").alias("hi_cents"),
        "n_clipped_low",
        "n_clipped_high",
        "winsorized_mean",
    )


# --------------------------------------------------------------------------
# q194 — INCREMENTAL SNAPSHOT DIFF: classify every customer's
# per-key aggregate state between two as-of cutoffs (orders before
# 1997-01-01 vs before 1998-01-01) as added / changed / unchanged /
# removed and account for the revenue delta — the audit a maintained
# incremental materialization runs after each merge (q72 is the
# row-level SCD-1 merge; this is the classified state diff).  Exact
# arithmetic throughout: revenue in integer cents summed in DECIMAL,
# deltas as exact BIGINT differences, classification on exact
# (count, cents) equality.  Scale shape: both snapshots partial-agg
# down to one row per customer BEFORE the full-outer join, so the
# join carries |customers| rows regardless of order volume; the final
# rollup is a 4-value key.  'removed' is structurally possible
# (deletes in a real CDC feed) and empty on this append-only data —
# asserted by the oracle agreeing on the 3 non-empty classes.
# --------------------------------------------------------------------------
@query(
    "q194_snapshot_diff",
    """
    WITH old AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_custkey
    ),
    new AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    ),
    diff AS (
        SELECT CASE WHEN o.o_custkey IS NULL THEN 'added'
                    WHEN n.o_custkey IS NULL THEN 'removed'
                    WHEN o.n_orders = n.n_orders AND o.cents = n.cents
                         THEN 'unchanged'
                    ELSE 'changed' END AS change_type,
               COALESCE(n.n_orders, 0) - COALESCE(o.n_orders, 0)
                   AS d_orders,
               COALESCE(n.cents, 0) - COALESCE(o.cents, 0) AS d_cents
        FROM old o FULL OUTER JOIN new n ON o.o_custkey = n.o_custkey
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(d_orders) AS BIGINT) AS delta_orders,
           CAST(CAST(SUM(CAST(d_cents AS DECIMAL(19,0))) AS VARCHAR)
                AS DOUBLE) / 100.0 AS delta_revenue
    FROM diff GROUP BY change_type
    """,
)
def q194_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents_row = duck_round_expr(F.col("o_totalprice") * 100).cast("bigint")

    def snap(cutoff: str) -> DataFrame:
        return (
            o.where(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(cents_row).cast("bigint").alias("cents"),
            )
        )

    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        snapshot_diff,
    )

    classified = snapshot_diff(
        snap("1997-01-01"),
        snap("1998-01-01"),
        key_cols=("o_custkey",),
        compare_cols=("n_orders", "cents"),
    )
    diff = classified.select(
        "change_type",
        (
            F.coalesce(F.col("n_orders_new"), F.lit(0))
            - F.coalesce(F.col("n_orders_old"), F.lit(0))
        ).alias("d_orders"),
        (
            F.coalesce(F.col("cents_new"), F.lit(0))
            - F.coalesce(F.col("cents_old"), F.lit(0))
        ).alias("d_cents"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("d_orders").cast("bigint").alias("delta_orders"),
        (
            exact_str_double(F.sum(F.col("d_cents").cast("decimal(19,0)")))
            / F.lit(100.0)
        ).alias("delta_revenue"),
    )
