"""Dataset-level feature & quality operators for the declarative pipeline.

The round-4 catalog proved these shapes as queries (q120-q125); this module
is the REUSABLE form a metadata-driven pipeline user reaches through
``operators/registry.py`` steps — the same functions back the catalog
queries, so oracle parity covers the operator bodies too.

Scale notes (all designed for the 100 TB posture):

* ``sketch_profile`` — mergeable DataSketches aggregates (HLL distinct
  counts, KLL quantiles): per-partition partial sketches combine
  associatively, so the shuffle carries KB-sized summaries, never values.
  ``keep_sketches`` persists the binary sketches themselves alongside the
  estimates — the shard-then-merge pattern where per-day sketches are
  stored with the data and re-unioned instead of rescanned.
* ``gap_fill_linear`` — facts reduce to one row per (partition, tick)
  BEFORE the spine join; the spine is generated per partition from its own
  min/max (a sequence explode, no calendar table); interpolation is two
  ignore-nulls window passes over the bounded spine, never the facts.
* ``equi_depth_bin`` — ONE exact-percentile aggregate produces the
  boundary array; binning is a pure-Catalyst fold over the broadcast
  boundaries (no range join, no per-bin pass).  At 100 TB swap the
  boundary agg for the KLL sketch (same downstream projection).
* ``dataset_checks`` — all single-frame invariants (row count, key
  uniqueness, completeness, freshness) fold into ONE aggregate pass;
  each referential-integrity check is one anti-join reduced to a count.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sketch_profile(
    df: DataFrame,
    group_by: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
    quantile_col: str | None = None,
    quantiles: Sequence[float] = (0.5,),
    keep_sketches: bool = False,
) -> DataFrame:
    """Per-group mergeable sketch statistics in ONE aggregate pass.

    For every ``distinct_cols`` entry: an HLL distinct-count estimate
    (``<col>_distinct_est``, bigint) built via ``hll_sketch_agg`` — the
    q120 shape.  For ``quantile_col``: KLL quantile estimates
    (``<col>_p<pct>`` doubles) via ``kll_sketch_agg_double`` — the q121
    shape.  With ``keep_sketches`` the binary sketch columns
    (``<col>_hll`` / ``<col>_kll``) survive for later ``hll_union_agg`` /
    ``kll_sketch_merge_double`` re-aggregation across runs."""
    aggs: list[Column] = []
    for c in distinct_cols:
        aggs.append(F.hll_sketch_agg(c).alias(f"{c}_hll"))
    if quantile_col is not None:
        aggs.append(
            F.kll_sketch_agg_double(
                F.col(quantile_col).cast("double")
            ).alias(f"{quantile_col}_kll")
        )
    if not aggs:
        raise ValueError(
            "sketch_profile needs distinct_cols and/or quantile_col"
        )
    grouped = df.groupBy(*group_by).agg(*aggs) if group_by else df.agg(*aggs)
    out_cols: list[Column] = [F.col(c) for c in group_by]
    for c in distinct_cols:
        out_cols.append(
            F.hll_sketch_estimate(f"{c}_hll")
            .cast("bigint")
            .alias(f"{c}_distinct_est")
        )
    if quantile_col is not None:
        for q in quantiles:
            pct = str(q).replace("0.", "").replace(".", "_")
            out_cols.append(
                F.kll_sketch_get_quantile_double(
                    f"{quantile_col}_kll", F.lit(float(q))
                ).alias(f"{quantile_col}_p{pct}")
            )
    if keep_sketches:
        out_cols += [F.col(f"{c}_hll") for c in distinct_cols]
        if quantile_col is not None:
            out_cols.append(F.col(f"{quantile_col}_kll"))
    return grouped.select(*out_cols)


def gap_fill_linear(
    df: DataFrame,
    partition_cols: Sequence[str],
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Per-partition daily spine with linear interpolation of missing
    ticks (the q124 operator body).

    Input must already be reduced to one row per (partition, day); the
    spine spans each partition's own [min, max].  Output keeps the
    partition columns plus ``time_col`` (date), ``interpolated``
    (boolean) and ``value_col`` (double; original value on present days,
    prev + (next - prev) * elapsed_fraction on gaps — edges before the
    first / after the last present day cannot occur since the spine is
    bounded by them)."""
    parts = list(partition_cols)
    clash = {c for c in df.columns if c.startswith("_gf_")}
    if clash:
        raise ValueError(
            f"gap_fill_linear reserves the _gf_ column prefix; rename "
            f"{sorted(clash)} first"
        )
    facts = df.select(
        *parts,
        F.col(time_col).cast("date").alias("_gf_d"),
        F.col(value_col).alias("_gf_v"),
    )
    spine = (
        facts.groupBy(*parts)
        .agg(F.min("_gf_d").alias("_gf_lo"), F.max("_gf_d").alias("_gf_hi"))
        .select(*parts, F.explode(F.sequence("_gf_lo", "_gf_hi")).alias("_gf_d"))
    )
    joined = spine.join(facts, parts + ["_gf_d"], "left")
    wp = (
        Window.partitionBy(*parts)
        .orderBy("_gf_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(*parts)
        .orderBy("_gf_d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    present_d = F.when(F.col("_gf_v").isNotNull(), F.col("_gf_d"))
    staged = joined.select(
        *parts,
        "_gf_d",
        "_gf_v",
        F.last("_gf_v", ignorenulls=True).over(wp).alias("_gf_prev"),
        F.last(present_d, ignorenulls=True).over(wp).alias("_gf_prev_d"),
        F.first("_gf_v", ignorenulls=True).over(wn).alias("_gf_next"),
        F.first(present_d, ignorenulls=True).over(wn).alias("_gf_next_d"),
    )
    interp = F.col("_gf_prev").cast("double") + (
        F.col("_gf_next").cast("double") - F.col("_gf_prev").cast("double")
    ) * (
        F.datediff("_gf_d", "_gf_prev_d").cast("double")
        / F.datediff("_gf_next_d", "_gf_prev_d").cast("double")
    )
    return staged.select(
        *parts,
        F.col("_gf_d").alias(time_col),
        F.col("_gf_v").isNull().alias("interpolated"),
        F.when(F.col("_gf_v").isNotNull(), F.col("_gf_v").cast("double"))
        .otherwise(interp)
        .alias(value_col),
    )


def equi_depth_bin(
    df: DataFrame,
    value_col: str,
    bins: int = 10,
    output_col: str = "bin",
) -> DataFrame:
    """Attach an equi-depth bin id (0..bins-1) per row (the q125 operator
    body): interior boundaries p(1/bins)..p((bins-1)/bins) from ONE exact
    percentile aggregate, then bin = count of boundaries <= value via a
    pure-Catalyst fold over the broadcast boundary array."""
    if output_col in df.columns:
        raise ValueError(
            f"equi_depth_bin output column {output_col!r} already exists"
        )
    if "_edb_bs" in df.columns or "_edb_v" in df.columns:
        raise ValueError(
            "equi_depth_bin reserves helper columns _edb_bs/_edb_v; rename "
            "them first"
        )
    probes = [i / bins for i in range(1, bins)]
    staged = df.withColumn("_edb_v", F.col(value_col).cast("double"))
    bounds = staged.agg(
        F.percentile("_edb_v", F.array(*[F.lit(p) for p in probes])).alias(
            "_edb_bs"
        )
    )
    return (
        staged.join(F.broadcast(bounds))
        .withColumn(
            output_col,
            F.size(F.filter("_edb_bs", lambda x: x <= F.col("_edb_v")))
            .cast("int"),
        )
        .drop("_edb_bs", "_edb_v")
    )


_SIMPLE_CHECKS = {"row_count", "unique", "not_null", "freshness"}


def dataset_checks(
    df: DataFrame,
    checks: Sequence[Mapping[str, Any]],
    references: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """Cross-row data-quality invariants (the q123 operator body,
    generalized): returns one row per check with
    ``(check, target, metric, passed)``.

    Check types (``type`` key):

    * ``row_count`` — metric = rows; ``min_rows`` optional gate.
    * ``unique`` — ``cols``: metric = duplicate rows (count - distinct).
    * ``not_null`` — ``col``: metric = NULL count.
    * ``freshness`` — ``col``: metric = days since max(col) relative to
      ``as_of`` (an ISO date string, required so runs are deterministic);
      ``max_age_days`` optional gate.  An empty frame (or an all-NULL
      column) has NULL metric and FAILS the gate — no data is the
      stalest possible dataset, and a three-valued ``passed`` would let
      it slip past a ``WHERE NOT passed`` consumer.
    * ``ref_integrity`` — ``col`` + ``reference`` (a key in
      ``references``) + ``ref_col``: metric = orphan rows (anti-join).
      NULL foreign keys are NOT violations (SQL FK semantics — a NULL
      FK matches vacuously); add a ``not_null`` check on the same
      column to forbid them.

    All single-frame checks fold into ONE aggregate pass; each
    ref_integrity check adds one anti-join reduced to a count before the
    union — at 100 TB front the anti-join with the Bloom prefilter
    (operators/bloom.py) exactly as q123 documents."""
    agg_exprs: list[Column] = []
    rows: list[tuple[str, str, Column, Column]] = []  # built after agg
    specs: list[tuple[str, str, str, Any]] = []
    for i, ch in enumerate(checks):
        ctype = ch.get("type")
        if ctype == "row_count":
            agg_exprs.append(F.count(F.lit(1)).alias(f"_c{i}"))
            specs.append((ctype, "*", f"_c{i}", ch.get("min_rows")))
        elif ctype == "unique":
            cols = ch["cols"] if "cols" in ch else [ch["col"]]
            # NULL-safe composite key: concat_ws silently drops NULLs
            # (NULL would collide with ''), and countDistinct(*cols)
            # drops any row with a NULL component; coalesce to a
            # sentinel keeps NULL a distinct countable value
            key = F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                    for c in cols
                ],
            )
            agg_exprs.append(
                (F.count(F.lit(1)) - F.countDistinct(key)).alias(f"_c{i}")
            )
            specs.append((ctype, ",".join(cols), f"_c{i}", 0))
        elif ctype == "not_null":
            agg_exprs.append(
                F.count(F.when(F.col(ch["col"]).isNull(), 1)).alias(f"_c{i}")
            )
            specs.append((ctype, ch["col"], f"_c{i}", 0))
        elif ctype == "freshness":
            if "as_of" not in ch:
                raise ValueError(
                    "freshness check requires an explicit 'as_of' ISO date "
                    "(injectable clock; wall-clock would be nondeterministic)"
                )
            agg_exprs.append(
                F.datediff(
                    F.to_date(F.lit(ch["as_of"])), F.max(F.col(ch["col"]))
                )
                .cast("bigint")
                .alias(f"_c{i}")
            )
            specs.append((ctype, ch["col"], f"_c{i}", ch.get("max_age_days")))
        elif ctype == "ref_integrity":
            specs.append((ctype, ch["col"], f"_c{i}", ch))
        else:
            raise ValueError(f"unknown dq check type: {ctype!r}")
    out: DataFrame | None = None
    if agg_exprs:
        agg_row = df.agg(*agg_exprs)
        pieces = []
        for ctype, target, alias, gate in specs:
            if ctype == "ref_integrity":
                continue
            metric = F.col(alias).cast("bigint")
            if ctype == "row_count":
                passed = (
                    F.lit(True) if gate is None else metric >= F.lit(int(gate))
                )
            elif ctype == "freshness":
                # coalesce: empty/all-NULL input -> NULL metric must FAIL
                # the gate, not float through as a three-valued passed
                passed = (
                    F.lit(True)
                    if gate is None
                    else F.coalesce(metric <= F.lit(int(gate)), F.lit(False))
                )
            else:
                passed = metric <= F.lit(int(gate))
            pieces.append(
                F.struct(
                    F.lit(ctype).alias("check"),
                    F.lit(target).alias("target"),
                    metric.alias("metric"),
                    passed.alias("passed"),
                )
            )
        out = agg_row.select(
            F.explode(F.array(*pieces)).alias("r")
        ).select("r.check", "r.target", "r.metric", "r.passed")
    for ctype, target, alias, ch in specs:
        if ctype != "ref_integrity":
            continue
        refs = references or {}
        if ch["reference"] not in refs:
            raise ValueError(
                f"ref_integrity check needs reference frame "
                f"{ch['reference']!r}"
            )
        ref = refs[ch["reference"]]
        orphans = (
            # NULL FKs are not orphans (SQL FK semantics); without the
            # filter the anti-join can never match them and every NULL
            # row would count as a violation
            df.select(F.col(ch["col"]))
            .filter(F.col(ch["col"]).isNotNull())
            .join(
                ref.select(F.col(ch["ref_col"]).alias(ch["col"])),
                ch["col"],
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("metric"))
            .select(
                F.lit(ctype).alias("check"),
                F.lit(f"{ch['col']}->{ch['reference']}.{ch['ref_col']}").alias(
                    "target"
                ),
                "metric",
                (F.col("metric") == 0).alias("passed"),
            )
        )
        out = orphans if out is None else out.unionByName(orphans)
    if out is None:
        raise ValueError("dataset_checks needs at least one check")
    return out


def fs_weights(m: float, u: float) -> tuple[float, float]:
    """Fellegi-Sunter log2 likelihood-ratio weights for one comparison
    field: (agreement_weight, disagreement_weight) from the field's
    m-probability (P(agree | true match)) and u-probability
    (P(agree | non-match)).  Pure Python — the SAME values are rendered
    into the DuckDB oracle as literals, so both engines sum identical
    doubles (the temperature-rate / IVF-centroid discipline)."""
    import math

    if not (0.0 < u < 1.0 and 0.0 < m < 1.0):
        raise ValueError(f"m and u must be in (0, 1); got m={m}, u={u}")
    if m <= u:
        raise ValueError(f"m must exceed u for an informative field (m={m}, u={u})")
    return math.log2(m / u), math.log2((1 - m) / (1 - u))


def fellegi_sunter_score(
    fields: Sequence[tuple[Column, float, float]],
) -> Column:
    """Record-linkage match score (Fellegi & Sunter 1969): the sum over
    comparison fields of log2(m/u) when the field AGREES and
    log2((1-m)/(1-u)) when it disagrees; a NULL agreement (field missing
    on either side) contributes 0 — the unknown-field convention.

    Each element of ``fields`` is (agreement_boolean_column, m, u).
    Returns a double Column to attach to a BLOCKED candidate-pair frame
    (q118's shape) — scoring is a pure projection, so the expensive part
    stays the blocking, never the scorer."""
    total = F.lit(0.0)
    for agree, m, u in fields:
        wa, wd = fs_weights(m, u)
        total = total + (
            F.when(agree.isNull(), 0.0).when(agree, wa).otherwise(wd)
        )
    return total


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series CUSUM changepoint detection: for each group's
    time-ordered integer series, the cumulative sum of deviations from
    the series mean, S_i = sum_{j<=i}(x_j - mean), peaks in magnitude at
    the most likely single change point (Page 1954 / the standard
    binary-segmentation pivot).  Returns one row per group:
    ``changepoint`` (the time at the peak), ``cusum_peak`` (S there),
    ``n_points``, and ``direction`` (sign of the peak: -1 means the
    series ran BELOW its mean up to the changepoint, i.e. the level
    shifted UP after it; +1 the reverse).

    Exactness: S_i is computed as the SCALED integer
    n * prefix_i - i * total  (= n * S_i), so argmax, tie-breaks, and
    the reported peak are exact integer arithmetic in any engine —
    ``cusum_peak`` is that integer divided by n (bit-identical doubles).
    Ties on |S| break on earliest time.  ``value_col`` must be integral
    (cast upstream; counts and cent-scaled amounts both qualify) and
    (group, time) rows must be unique — pre-aggregate to one row per
    tick first, as the q157 catalog entry does.

    Scale shape: two windows over the SAME (group, time-order) exchange
    (prefix sum + row number, then the argmax row_number) — one shuffle
    total; series length per group bounds the window buffer, the
    output is one row per group.  No UDF, no collect.
    """
    for c in (group_col, time_col, value_col):
        if c not in df.columns:
            raise ValueError(f"cusum_changepoint: input lacks column {c!r}")
    dt = dict(df.dtypes)[value_col]
    if dt not in ("byte", "short", "int", "bigint", "long"):
        # the exactness guarantee rests on integer arithmetic; a silent
        # cast would TRUNCATE doubles/decimals and shift the argmax
        raise ValueError(
            f"cusum_changepoint: value_col must be integral (got {dt}); "
            f"cast upstream (counts, cent-scaled amounts)"
        )
    w_ord = (
        Window.partitionBy(group_col)
        .orderBy(F.col(time_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    # a NULL value would be COUNTED by row_number but SKIPPED by the
    # running SUM, corrupting every subsequent S_i — fail loudly per row
    x = F.when(
        F.col(value_col).isNull(),
        F.raise_error(
            F.lit(f"cusum_changepoint: NULL in value_col {value_col!r}")
        ).cast("bigint"),
    ).otherwise(F.col(value_col).cast("bigint"))
    staged = df.select(
        F.col(group_col),
        F.col(time_col),
        (
            F.count(F.lit(1)).over(w_all) * F.sum(x).over(w_ord)
            - F.row_number().over(
                Window.partitionBy(group_col).orderBy(F.col(time_col).asc())
            )
            * F.sum(x).over(w_all)
        ).alias("_s_scaled"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_points"),
    )
    pick = Window.partitionBy(group_col).orderBy(
        F.abs(F.col("_s_scaled")).desc(), F.col(time_col).asc()
    )
    return (
        staged.withColumn("_pick", F.row_number().over(pick))
        .filter(F.col("_pick") == 1)
        .select(
            group_col,
            F.col(time_col).alias("changepoint"),
            (F.col("_s_scaled") / F.col("n_points")).alias("cusum_peak"),
            "n_points",
            F.when(F.col("_s_scaled") > 0, F.lit(1))
            .when(F.col("_s_scaled") < 0, F.lit(-1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("direction"),
        )
    )


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_buckets: int = 3,
) -> DataFrame:
    """RFM (recency/frequency/monetary) segmentation rollup — the q180
    operator in reusable form.  Buckets have exact NTILE semantics with
    deterministic (metric, user) orderings, computed by the two-phase
    distributed NTILE (``operators/scale.distributed_ntile``: range
    exchange + bounded census + closed-form bucket), NOT a global
    window — the round-7 verdict's q180 finding: three
    ``Window.orderBy`` NTILEs funnel every user through one task, which
    contradicts the 100 TB posture for unbounded |users|.  Each bucket
    pass is a range shuffle over the per-user rollup (|users| rows, the
    already-aggregated frame — the raw events never sort).  Monetary
    quantizes to exact integer cents and recency to exact whole days
    before any sum; the segment-level sums accumulate in DECIMAL (a
    64-bit long wraps at the 100 TB posture) and convert via the exact
    decimal-string route.
    """
    from ominimo_dynamic_data_pipeline_spark.queries.tables import (
        exact_str_double,
    )

    cents_row = F.round(F.col(value_col) * 100, 0).cast("bigint")
    # TIMESTAMP_NTZ sources (the pipeline reader keeps them) must cast
    # to TIMESTAMP for unix_micros; under the session's pinned UTC the
    # cast is the wall-clock identity.
    ts_ts = F.col(ts_col).cast("timestamp")
    u = df.groupBy(user_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(cents_row).cast("bigint").alias("cents"),
        F.max(ts_ts).alias("last_ts"),
    )
    mx = df.agg(F.max(ts_ts).alias("corpus_max"))
    f = u.crossJoin(F.broadcast(mx)).select(
        user_col,
        "freq",
        "cents",
        F.floor(
            (F.unix_micros("corpus_max") - F.unix_micros("last_ts"))
            / F.lit(86400000000)
        )
        .cast("bigint")
        .alias("recency_days"),
    )
    from ominimo_dynamic_data_pipeline_spark.operators.scale import (
        distributed_ntile,
    )

    # The three NTILEs depend only on the shared per-user rollup, never
    # on each other, so they run as INDEPENDENT branches over the
    # persisted rollup and join back on the user key (round 13).  Each
    # branch sees a two-column projection (metric + tiebreak — its range
    # exchange, census and Arrow hop carry nothing else), and the three
    # branches are submitted from a small thread pool so each branch's
    # census/checkpoint jobs back-fill the others' stragglers (guide
    # §2.6 job overlap; the old CHAINED form serialized three
    # fixed-overhead passes: measured 3.0 -> 2.4 s at sf0.1,
    # bit-identical output).  Each NTILE stays bit-identical to
    # F.ntile(n).over(Window.orderBy(metric, user)) — pinned in tests.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        persist_tracked,
    )

    # one-generation tracked persist (the apriori_prefilter precedent):
    # the rollup backs a returned lazy frame, so it cannot unpersist
    # here; the registry bounds it to one generation per operator
    f = persist_tracked("rfm_segments", f)
    specs = [
        ("recency_days", F.asc("recency_days"), "r_bucket"),
        ("freq", F.desc("freq"), "f_bucket"),
        ("cents", F.desc("cents"), "m_bucket"),
    ]

    def branch(spec):
        metric, order, out_col = spec
        slim = f.select(user_col, metric)
        return distributed_ntile(
            slim, n_buckets, [order, F.asc(user_col)], out_col=out_col
        ).select(user_col, out_col)

    # one inheritable wrapper per branch: each copies the caller's job
    # group and tags into its own pool thread
    spark = f.sparkSession
    with ThreadPoolExecutor(max_workers=len(specs)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(branch), spec)
            for spec in specs
        ]
    buckets = [fut.result() for fut in futures]
    b = f
    for part in buckets:
        b = b.join(part, user_col)
    cnt_d = F.count(F.lit(1)).cast("double")
    dsum = lambda c: exact_str_double(  # noqa: E731
        F.sum(F.col(c).cast("decimal(19,0)"))
    )
    return b.groupBy("r_bucket", "f_bucket", "m_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (dsum("cents") / cnt_d / F.lit(100).cast("double")).alias(
            "avg_monetary"
        ),
        (dsum("freq") / cnt_d).alias("avg_frequency"),
        (dsum("recency_days") / cnt_d).alias("avg_recency_days"),
    )


def window_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    horizon_us: int,
) -> DataFrame:
    """Greedy-earliest ordered funnel (the q185 operator, generalized to
    N steps): per user, ``step_<i>_us`` is the MIN event time (exact
    integer micros) of step i at/after step i-1's time, with every step
    inside the INCLUSIVE ``horizon_us`` window anchored at the user's
    FIRST step-1 event.  First-anchor semantics, deliberately simpler
    than ClickHouse's windowFunnel: that algorithm re-anchors on later
    step-1 events and can find chains this one reports as level 1 (a
    user whose first view never converts but whose later view does).
    One exchange on ``user_col``;
    each step adds an unbounded-frame window MIN that reuses the
    partitioning (no sort).  Aggregate the returned per-user frame for
    funnel level counts."""
    if len(steps) < 2:
        raise ValueError(f"window_funnel: need >= 2 steps, got {list(steps)!r}")
    if len(set(steps)) != len(steps):
        raise ValueError(f"window_funnel: steps must be distinct: {list(steps)!r}")
    if not isinstance(horizon_us, int) or horizon_us <= 0:
        raise ValueError(
            f"window_funnel: horizon_us must be a positive int, got {horizon_us!r}"
        )
    missing = [c for c in (user_col, ts_col, type_col) if c not in df.columns]
    if missing:
        raise ValueError(f"window_funnel: input lacks columns {missing}")
    wu = Window.partitionBy(user_col)
    cur = df.select(
        user_col,
        F.col(type_col).alias("_ftype"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_fus"),
    )
    prev_name = None
    out_cols = []
    for i, step in enumerate(steps, 1):
        name = f"step_{i}_us"
        cond = F.col("_ftype") == step
        if prev_name is not None:
            cond = (
                cond
                & (F.col("_fus") >= F.col(prev_name))
                & (F.col("_fus") - F.col("step_1_us") <= horizon_us)
            )
        cur = cur.withColumn(name, F.min(F.when(cond, F.col("_fus"))).over(wu))
        out_cols.append(name)
        prev_name = name
    return cur.groupBy(user_col).agg(
        *[F.max(c).alias(c) for c in out_cols]
    )


def activity_streaks(
    df: DataFrame, entity_col: str, ts_col: str
) -> DataFrame:
    """Gaps-and-islands consecutive-day streaks per entity (the q186
    operator): island key = exact epoch-day ordinal minus the per-entity
    day ROW_NUMBER.  Returns one row per entity with ``n_active_days``,
    ``n_streaks``, ``longest_streak`` (all bigint).  The (entity, day)
    distinct is a partial-agg shuffle bounded by active entity-days;
    the window and both rollups share the entity partitioning."""
    missing = [c for c in (entity_col, ts_col) if c not in df.columns]
    if missing:
        raise ValueError(f"activity_streaks: input lacks columns {missing}")
    days = df.select(
        entity_col,
        F.col(ts_col).cast("timestamp").cast("date").alias("_day"),
    ).distinct()
    w = Window.partitionBy(entity_col).orderBy("_day")
    isl = days.withColumn(
        "_grp",
        F.datediff("_day", F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    st = isl.groupBy(entity_col, "_grp").agg(F.count(F.lit(1)).alias("_len"))
    return st.groupBy(entity_col).agg(
        F.sum("_len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("_len").cast("bigint").alias("longest_streak"),
    )


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def pareto_frontier(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """2-D skyline (the q187 operator; Börzsönyi et al., ICDE 2001):
    rows not dominated within their ``by`` group on (``minimize_col``
    lower-better, ``maximize_col`` higher-better).  Sort-sweep form —
    two running MAX frames over the minimize order, ONE exchange + sort
    per group instead of the quadratic pair scan.  ``minimize_col``
    MUST be integral (quantize floats to cents/micros first — float
    ties are exactly the cross-engine trap this contract blocks);
    identical (min, max) twins do not dominate each other and both
    survive.  Returns the input columns filtered to the frontier."""
    missing = [
        c for c in (minimize_col, maximize_col, *by) if c not in df.columns
    ]
    if missing:
        raise ValueError(f"pareto_frontier: input lacks columns {missing}")
    mtype = dict(df.dtypes)[minimize_col]
    if mtype not in _INTEGRAL_TYPES:
        raise ValueError(
            f"pareto_frontier: minimize_col '{minimize_col}' must be an "
            f"integral type for exact RANGE ties, got {mtype} — quantize "
            "(e.g. cents) first"
        )
    w_strict = (
        Window.partitionBy(*by)
        .orderBy(minimize_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_le = (
        Window.partitionBy(*by)
        .orderBy(minimize_col)
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    flagged = df.withColumn(
        "_max_strict", F.max(maximize_col).over(w_strict)
    ).withColumn("_max_le", F.max(maximize_col).over(w_le))
    return flagged.where(
        (
            F.col("_max_strict").isNull()
            | (F.col("_max_strict") < F.col(maximize_col))
        )
        & (F.col("_max_le") == F.col(maximize_col))
    ).drop("_max_strict", "_max_le")


def _deletions_sql(expr: str) -> str:
    """SQL for the array of every single-character deletion of ``expr``."""
    return (
        f"transform(sequence(1, length({expr})), i -> "
        f"concat(substring({expr}, 1, i - 1), "
        f"substring({expr}, i + 1, length({expr}) - i)))"
    )


def symspell_pairs(
    df: DataFrame, string_col: str, max_distance: int = 1
) -> DataFrame:
    """All DISTINCT-value pairs of ``string_col`` within Levenshtein
    distance ``max_distance`` (1 or 2) via SymSpell deletion-neighborhood
    blocking (the q188 operator; Garbe's SymSpell): any pair at distance
    <= d shares a member of D_d(x) = {x} + every deletion of up to d
    characters, so an equi-join on the variant key has recall 1.0 by
    construction — no pairwise scan, no heuristic block key.  False
    candidates (e.g. transpositions at d=1) die in the cheap Levenshtein
    verify; DISTINCT collapses pairs sharing several variants.  Scale:
    the index is |values| x O(len^d) rows — vocabulary-bound and linear
    in the dictionary, never in corpus rows; cap hot variant buckets the
    way the MinHash band join does if the value distribution is
    adversarial.  Returns (value_a, value_b, dist) with value_a <
    value_b."""
    if max_distance not in (1, 2):
        raise ValueError(
            f"symspell_pairs: max_distance must be 1 or 2, got {max_distance!r}"
        )
    if string_col not in df.columns:
        raise ValueError(f"symspell_pairs: input lacks column '{string_col}'")
    names = (
        df.select(F.col(string_col).alias("_val"))
        .where(F.col("_val").isNotNull())
        .distinct()
    )
    d1 = _deletions_sql("_val")
    if max_distance == 1:
        variants = f"array_distinct(concat(array(_val), {d1}))"
    else:
        variants = (
            f"array_distinct(concat(array(_val), {d1}, "
            f"flatten(transform({d1}, v -> {_deletions_sql('v')}))))"
        )
    ex = names.select("_val", F.explode(F.expr(variants)).alias("_v"))
    pairs = (
        ex.alias("a")
        .join(ex.alias("b"), "_v")
        .where(F.col("a._val") < F.col("b._val"))
        .select(
            F.col("a._val").alias("value_a"),
            F.col("b._val").alias("value_b"),
        )
        .distinct()
    )
    return pairs.withColumn(
        "dist", F.levenshtein("value_a", "value_b").cast("bigint")
    ).where(F.col("dist") <= max_distance)


def rolling_distinct(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing ``window_days``-day distinct-entity count per OBSERVED
    day (the q189 operator) — Spark has no COUNT(DISTINCT) OVER a moving
    frame, so each distinct (entity, day) is exploded to the
    ``window_days`` window-end days it contributes to (constant fanout,
    never data-dependent), deduped, and counted; a broadcast semi-join
    against the tiny observed-day dimension drops synthetic end days.
    Shuffle carries <= window_days x |active entity-days| rows.
    Returns (day DATE, n_distinct bigint)."""
    if not isinstance(window_days, int) or window_days < 1:
        raise ValueError(
            f"rolling_distinct: window_days must be a positive int, "
            f"got {window_days!r}"
        )
    missing = [c for c in (entity_col, ts_col) if c not in df.columns]
    if missing:
        raise ValueError(f"rolling_distinct: input lacks columns {missing}")
    # NULL entities are skipped — COUNT(DISTINCT x) semantics (and the
    # q189 oracle's moving COUNT(DISTINCT)), which a bare .distinct()
    # would otherwise count as one extra "entity" per covered day
    ud = (
        df.where(F.col(entity_col).isNotNull())
        .select(
            entity_col,
            F.col(ts_col).cast("timestamp").cast("date").alias("_day"),
        )
        .distinct()
    )
    obs = ud.select("_day").distinct()
    cov = (
        ud.select(
            entity_col,
            F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias(
                "_i"
            ),
            "_day",
        )
        .select(entity_col, F.date_add("_day", F.col("_i")).alias("_day"))
        .distinct()
    )
    return (
        cov.join(F.broadcast(obs), "_day")
        .groupBy("_day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
        .select(F.col("_day").alias("day"), "n_distinct")
    )


def twap(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_cols: Sequence[str] = (),
    value_scale: int = 1_000_000,
) -> DataFrame:
    """Step-hold time-weighted average of ``value_col`` per group (the
    q190 operator): each value holds until the group's next event and is
    weighted by its holding duration.  Exact cross-engine arithmetic:
    values quantize to integer units (``value_scale``), durations are
    integer micros, and value x duration products accumulate in
    DECIMAL(38,0) before ONE decimal-string division.  Groups whose
    held time is zero (single event / all-tied timestamps) are excluded.
    Pass ``tiebreak_cols`` (a unique key) whenever timestamps can tie —
    without a total order the holder among tied events is
    nondeterministic.  One exchange on ``group_col``; the LEAD window
    and the rollup share it."""
    if not isinstance(value_scale, int) or value_scale < 1:
        raise ValueError(
            f"twap: value_scale must be a positive int, got {value_scale!r}"
        )
    missing = [
        c
        for c in (group_col, ts_col, value_col, *tiebreak_cols)
        if c not in df.columns
    ]
    if missing:
        raise ValueError(f"twap: input lacks columns {missing}")
    from ominimo_dynamic_data_pipeline_spark.queries.tables import (
        exact_str_double,
    )

    e = df.select(
        group_col,
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.round(F.col(value_col) * value_scale)
        .cast("bigint")
        .alias("_v"),
        *tiebreak_cols,
    )
    w = Window.partitionBy(group_col).orderBy("_us", *tiebreak_cols)
    g = e.select(
        group_col,
        "_v",
        (F.lead("_us").over(w) - F.col("_us")).alias("_gap"),
    )
    dec = "decimal(19,0)"
    a = (
        g.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(
                    F.col("_gap").isNotNull(),
                    F.col("_v").cast(dec) * F.col("_gap").cast(dec),
                )
            ).alias("_num"),
            F.sum("_gap").cast("bigint").alias("span_us"),
        )
        .where(F.col("span_us") > 0)
    )
    return a.select(
        group_col,
        "n_events",
        "span_us",
        (
            exact_str_double(F.col("_num"))
            / exact_str_double(
                F.col("span_us").cast(dec) * F.lit(value_scale)
            )
        ).alias("twap"),
    )


def time_decay_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    value_col: str,
    conversion_type: str,
    touch_types: Sequence[str],
    horizon_days: int = 7,
) -> DataFrame:
    """Time-decay touch attribution (the q192 operator): every touch
    event in the ``horizon_days`` before a same-user conversion earns
    the conversion's value decayed by 0.5 per whole day of lag.  The
    decay is EXACT integer arithmetic, never pow(): lag buckets to
    whole days by integral division and the weight 0.5^k rides as the
    integer numerator 2^(H-1-k) over the common denominator 2^(H-1);
    credit accumulates in DECIMAL and surfaces through ONE
    decimal-string division.  Returns (touch type, n_touches,
    credited_value).  Scale shape: user-keyed equi-join with the range
    bound as residual; the conversion side is the small fraction."""
    if not isinstance(horizon_days, int) or not 1 <= horizon_days <= 62:
        raise ValueError(
            f"time_decay_attribution: horizon_days must be 1..62 "
            f"(bigint weight numerators), got {horizon_days!r}"
        )
    if not touch_types:
        raise ValueError("time_decay_attribution: touch_types is empty")
    if conversion_type in set(touch_types):
        raise ValueError(
            "time_decay_attribution: conversion_type cannot also be a "
            "touch type"
        )
    missing = [
        c
        for c in (user_col, ts_col, type_col, value_col)
        if c not in df.columns
    ]
    if missing:
        raise ValueError(
            f"time_decay_attribution: input lacks columns {missing}"
        )
    from ominimo_dynamic_data_pipeline_spark.queries.tables import (
        exact_str_double,
    )

    horizon_us = horizon_days * 86_400_000_000
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    conv = df.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("_u"),
        ts_us.alias("_cus"),
        F.round(F.col(value_col) * 100).cast("bigint").alias("_vc"),
    )
    touch = df.where(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col).alias("_u"),
        ts_us.alias("_tus"),
        F.col(type_col).alias("touch_type"),
    )
    k = F.floor((F.col("_cus") - F.col("_tus")) / F.lit(86_400_000_000))
    wnum = F.lit(None).cast("bigint")
    for kk in range(horizon_days):
        wnum = F.when(k == kk, F.lit(1 << (horizon_days - 1 - kk))).otherwise(
            wnum
        )
    denom = float((1 << (horizon_days - 1)) * 100)
    # the product runs in DECIMAL: cents x 2^(H-1) passes int64 for
    # horizons past ~46 days (2^61 numerators), and a bigint multiply
    # would wrap silently in non-ANSI mode
    credit = F.col("_vc").cast("decimal(19,0)") * wnum.cast("decimal(19,0)")
    pairs = (
        conv.join(touch, "_u")
        .where(
            (F.col("_tus") < F.col("_cus"))
            & (F.col("_cus") - F.col("_tus") < horizon_us)
        )
        .select("touch_type", credit.alias("_credit"))
    )
    return pairs.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        (
            exact_str_double(F.sum("_credit")) / F.lit(denom)
        ).alias("credited_value"),
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    scale: int = 100,
) -> DataFrame:
    """Winsorized robust mean per group (the q193 operator): clip at
    the rank-picked DISC thresholds — the threshold IS a data value at
    rank ceil(p*n) in the (value, tiebreak) total order, so there is
    no interpolation to diverge across engines — and report the
    clipped mean from exact integer units.  ONE exchange on the group
    key.  Swap the rank pick for the KLL sketch at very high per-group
    cardinality (q121/q125 contract note)."""
    if not (0.0 < lower < upper <= 1.0):
        raise ValueError(
            f"winsorized_stats: need 0 < lower < upper <= 1, got "
            f"({lower!r}, {upper!r})"
        )
    if not isinstance(scale, int) or scale < 1:
        raise ValueError(
            f"winsorized_stats: scale must be a positive int, got {scale!r}"
        )
    missing = [c for c in (group_col, value_col) if c not in df.columns]
    if missing:
        raise ValueError(f"winsorized_stats: input lacks columns {missing}")
    from ominimo_dynamic_data_pipeline_spark.queries.tables import (
        exact_str_double,
    )

    c = df.select(
        group_col,
        F.round(F.col(value_col) * scale).cast("bigint").alias("_units"),
    )
    seg = Window.partitionBy(group_col)
    ranked = c.select(
        group_col,
        "_units",
        F.row_number().over(seg.orderBy("_units")).alias("_rn"),
        F.count(F.lit(1)).over(seg).alias("_n"),
    )
    # EXACT rank arithmetic: ceil(p*n) computed as integer
    # ceil((p_ppm * n) / 1e6) — double math rounds ceil(0.07*100) to 8,
    # silently shifting the clip threshold one rank for such fractions
    lo_ppm = round(lower * 1_000_000)
    hi_ppm = round(upper * 1_000_000)

    def _ceil_rank(ppm: int):
        return F.expr(f"({ppm} * _n + 999999) div 1000000")

    lo_rank = F.greatest(F.lit(1).cast("bigint"), _ceil_rank(lo_ppm))
    hi_rank = _ceil_rank(hi_ppm)
    th = ranked.select(
        group_col,
        "_units",
        "_n",
        F.max(F.when(F.col("_rn") == lo_rank, F.col("_units")))
        .over(seg)
        .alias("_lo"),
        F.max(F.when(F.col("_rn") == hi_rank, F.col("_units")))
        .over(seg)
        .alias("_hi"),
    )
    clipped = F.least(
        F.greatest(F.col("_units"), F.col("_lo")), F.col("_hi")
    )
    return th.groupBy(group_col).agg(
        F.max("_n").cast("bigint").alias("n_rows"),
        F.max("_lo").cast("bigint").alias("lo_units"),
        F.max("_hi").cast("bigint").alias("hi_units"),
        F.sum(F.when(F.col("_units") < F.col("_lo"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped_low"),
        F.sum(F.when(F.col("_units") > F.col("_hi"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped_high"),
        (
            exact_str_double(F.sum(clipped.cast("decimal(19,0)")))
            / F.max("_n").cast("double")
            / F.lit(float(scale))
        ).alias("winsorized_mean"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
    null_safe_keys: bool = False,
) -> DataFrame:
    """Classify every key's state between two snapshots (the q194
    operator, generic form): ``added`` (key only in new), ``removed``
    (only in old), ``changed`` (any compare column differs, NULL-safe),
    ``unchanged``.  Returns the key columns + ``change_type`` + each
    compare column as ``<col>_old`` / ``<col>_new``.  Scale shape:
    reduce both snapshots to one row per key BEFORE calling this (the
    full-outer join then carries |keys| rows).

    ``null_safe_keys``: by default the join uses plain key equality, so
    a NULL key never matches (SQL semantics — a NULL-key row in old
    classifies ``removed``, in new ``added``) and, critically, the join
    key equals the upstream per-key aggregation key, so Catalyst REUSES
    the aggregation exchanges (measured 8x on q194's sf10 shape).  Set
    True to treat NULL as a joinable key value (``<=>``); the wrapped
    key then forces one extra shuffle per side."""
    if not key_cols:
        raise ValueError("snapshot_diff: key_cols is empty")
    for side, frame in (("old", old), ("new", new)):
        missing = [
            c for c in (*key_cols, *compare_cols) if c not in frame.columns
        ]
        if missing:
            raise ValueError(
                f"snapshot_diff: {side} frame lacks columns {missing}"
            )
    # build the key predicate from post-alias references: same-lineage
    # snapshots (two filters of one table) otherwise resolve both sides
    # of eqNullSafe to the SAME column (Spark's trivially-true-predicate
    # self-join trap)
    # literal presence markers, NOT key-isNotNull: under null_safe_keys
    # NULL keys are legal values, and even under plain equality an
    # unmatched NULL-key row must classify by its side, not read as
    # "absent" on both
    o = old.select(
        *key_cols, *compare_cols, F.lit(True).alias("_op")
    ).alias("o")
    n = new.select(
        *key_cols, *compare_cols, F.lit(True).alias("_np")
    ).alias("n")
    cond = None
    for kcol in key_cols:
        lhs, rhs = F.col(f"o.{kcol}"), F.col(f"n.{kcol}")
        eq = lhs.eqNullSafe(rhs) if null_safe_keys else (lhs == rhs)
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    old_present = F.col("o._op").isNotNull()
    new_present = F.col("n._np").isNotNull()
    differs = F.lit(False)
    for ccol in compare_cols:
        differs = differs | ~F.col(f"o.{ccol}").eqNullSafe(
            F.col(f"n.{ccol}")
        )
    change = (
        F.when(~old_present, "added")
        .when(~new_present, "removed")
        .when(differs, "changed")
        .otherwise("unchanged")
    )
    out_cols = [
        F.coalesce(F.col(f"n.{kcol}"), F.col(f"o.{kcol}")).alias(kcol)
        for kcol in key_cols
    ]
    out_cols.append(change.alias("change_type"))
    for ccol in compare_cols:
        out_cols.append(F.col(f"o.{ccol}").alias(f"{ccol}_old"))
        out_cols.append(F.col(f"n.{ccol}").alias(f"{ccol}_new"))
    return j.select(*out_cols)
