"""Operator registry + pure compile step.

The reference interprets the transformation list with a hard-coded
if/elif dispatcher and runs stats jobs mid-interpretation
(``/root/reference/src/transformations.py:294-377``).  Our compiler is a
registry of builders producing ONLY lazy DataFrame plans; side-effecting
work (stats, sidecar writes) is recorded as deferred actions executed in
the explicit run phase (see ``pipeline.run_dataflow``).  Unknown operator
type -> ValueError (same contract).

Every output frame is also registered as a temp view, making SQL a
first-class second front-end: a step may be
``{"type": "sql", "params": {"query": "SELECT ... FROM view"}}``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.operators import basic, normalize, validate


@dataclass
class StatsRequest:
    """Deferred compute_stats action (run phase executes it)."""

    input_name: str
    fields: list[str] | None
    stats_name: str
    output_path: str | None
    include_validation_stats: bool
    ok_input: str | None
    ko_input: str | None
    approx: bool = False
    # "job" = dedicated single-pass aggregation; "observe" = ride along as
    # query observation metrics on the sink write (zero extra scans; falls
    # back to "job" when no sink action consumes the frame)
    mode: str = "job"


@dataclass
class ValidateOutputs:
    """What a validate step leaves for the run phase: its OK/KO frames,
    the upstream frame both are filtered from, and every error label its
    rules can emit (rule order, de-duplicated)."""

    upstream: DataFrame
    ok: DataFrame
    ko: DataFrame
    labels: list[str]


@dataclass
class CompileContext:
    spark: SparkSession
    frames: dict[str, DataFrame] = field(default_factory=dict)
    deferred_stats: list[StatsRequest] = field(default_factory=list)
    # OK/KO output name -> the validate step that produced it
    validated: dict[str, ValidateOutputs] = field(default_factory=dict)
    clock: Column | None = None  # fixed-clock override for determinism
    strict: bool = True
    register_views: bool = True

    def get(self, name: str) -> DataFrame:
        if name not in self.frames:
            raise KeyError(
                f"Input frame {name!r} not found; have {sorted(self.frames)}"
            )
        return self.frames[name]

    def put(self, name: str, df: DataFrame) -> None:
        self.frames[name] = df
        if self.register_views:
            df.createOrReplaceTempView(name)


# An operator builder consumes (ctx, step) and publishes output frames.
OpBuilder = Callable[[CompileContext, Mapping[str, Any]], None]

OPERATORS: dict[str, OpBuilder] = {}


def register_operator(name: str) -> Callable[[OpBuilder], OpBuilder]:
    def deco(fn: OpBuilder) -> OpBuilder:
        OPERATORS[name] = fn
        return fn

    return deco


def _io_names(step: Mapping[str, Any]) -> tuple[str, str]:
    params = step.get("params", {})
    return params["input"], params.get("output", step["name"])


@register_operator("normalize_fields")
def _op_normalize(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        normalize.normalize_fields(
            ctx.get(in_name),
            params.get("fields", []),
            params.get("auto_flatten_naming", "snake_case"),
        ),
    )


@register_operator("drop_columns")
def _op_drop(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(out_name, basic.drop_columns(ctx.get(in_name), params.get("columns", [])))


@register_operator("select_columns")
def _op_select(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name, basic.select_columns(ctx.get(in_name), params.get("columns", []))
    )


@register_operator("add_fields")
def _op_add_fields(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        basic.add_fields(ctx.get(in_name), params.get("fields", []), ctx.clock),
    )


@register_operator("validate_fields")
def _op_validate(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name = params["input"]
    ok_name = params.get("ok_output", f"{step['name']}_ok")
    ko_name = params.get("ko_output", f"{step['name']}_ko")
    upstream = ctx.get(in_name)
    result = validate.apply_validations(
        upstream, params.get("validations", []), strict=ctx.strict
    )
    ctx.put(ok_name, result.ok)
    ctx.put(ko_name, result.ko)
    outputs = ValidateOutputs(upstream, result.ok, result.ko, result.labels)
    ctx.validated[ok_name] = ctx.validated[ko_name] = outputs


@register_operator("compute_stats")
def _op_compute_stats(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Passthrough node; the aggregation itself is deferred to run phase
    (the reference runs it eagerly mid-compile — fixed here)."""
    params = step.get("params", {})
    in_name = params["input"]
    mode = params.get("mode", "job")
    if mode not in ("job", "observe"):
        raise ValueError(
            f"compute_stats mode must be 'job' or 'observe', got {mode!r}"
        )
    ctx.deferred_stats.append(
        StatsRequest(
            input_name=in_name,
            fields=params.get("fields"),
            stats_name=params.get("name", step["name"]),
            output_path=params.get("output_path"),
            include_validation_stats=params.get("include_validation_stats", False),
            ok_input=params.get("ok_input"),
            ko_input=params.get("ko_input"),
            approx=params.get("approx", False),
            mode=mode,
        )
    )
    ctx.put(step["name"], ctx.get(in_name))


@register_operator("filter")
def _op_filter(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(out_name, ctx.get(in_name).filter(F.expr(params["condition"])))


@register_operator("with_columns")
def _op_with_columns(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    exprs = {name: F.expr(e) for name, e in params.get("columns", {}).items()}
    ctx.put(out_name, ctx.get(in_name).withColumns(exprs))


@register_operator("sql")
def _op_sql(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """SQL front-end step.  ``args`` are Spark named parameters
    (``:name`` markers) — values bind as literals in the parser, so
    metadata-supplied values can never splice SQL text (injection-safe,
    and the plan is cacheable across bindings)."""
    params = step.get("params", {})
    out_name = params.get("output", step["name"])
    ctx.put(
        out_name,
        ctx.spark.sql(params["query"], args=params.get("args") or None),
    )


@register_operator("join")
def _op_join(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    out_name = params.get("output", step["name"])
    left = ctx.get(params["left"])
    right = ctx.get(params["right"])
    if params.get("broadcast_right"):
        right = F.broadcast(right)
    on: Any = params.get("on")
    if isinstance(on, str) and params.get("on_is_expr"):
        on = F.expr(on)
    ctx.put(out_name, left.join(right, on=on, how=params.get("how", "inner")))


@register_operator("aggregate")
def _op_aggregate(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    df = ctx.get(in_name)
    keys = [F.expr(k) for k in params.get("group_by", [])]
    aggs = [
        F.expr(e).alias(name) for name, e in params.get("aggregates", {}).items()
    ]
    ctx.put(out_name, df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs))


@register_operator("dedup")
def _op_dedup(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    subset = params.get("columns")
    df = ctx.get(in_name)
    ctx.put(out_name, df.dropDuplicates(subset) if subset else df.distinct())


def _sort_expr(s: str):
    """Parse ``"expr [ASC|DESC] [NULLS FIRST|NULLS LAST]"`` into a sort
    Column.  ``F.expr`` alone CANNOT carry sort order: Spark parses
    ``"v DESC"`` as column ``v`` ALIASED ``DESC`` and sorts ascending
    (verified on Spark 4.1) — a silent wrong-order bug this helper
    closes for every registry step that takes sort expressions."""
    t = s.strip()
    up = t.upper()
    nulls = None
    for suffix in (" NULLS FIRST", " NULLS LAST"):
        if up.endswith(suffix):
            nulls = suffix.split()[-1]
            t = t[: -len(suffix)].rstrip()
            up = t.upper()
            break
    direction = "asc"
    for suffix, d in ((" DESC", "desc"), (" ASC", "asc")):
        if up.endswith(suffix):
            direction = d
            t = t[: -len(suffix)].rstrip()
            break
    col = F.expr(t)
    method = direction if nulls is None else f"{direction}_nulls_{nulls.lower()}"
    return getattr(col, method)()


@register_operator("sort")
def _op_sort(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Params: ``by`` — list of sort expressions, each optionally
    suffixed with ASC/DESC and NULLS FIRST/LAST."""
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    cols = [_sort_expr(c) for c in params.get("by", [])]
    ctx.put(out_name, ctx.get(in_name).orderBy(*cols))


@register_operator("limit")
def _op_limit(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(out_name, ctx.get(in_name).limit(int(params["n"])))


@register_operator("union")
def _op_union(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    params = step.get("params", {})
    out_name = params.get("output", step["name"])
    frames = [ctx.get(n) for n in params["inputs"]]
    out = frames[0]
    for other in frames[1:]:
        out = out.unionByName(other, allowMissingColumns=params.get("allow_missing", False))
    ctx.put(out_name, out)


@register_operator("repartition")
def _op_repartition(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Explicit partitioning control for scale tuning: pre-shuffle on join/agg
    keys so downstream wide ops reuse the exchange."""
    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    df = ctx.get(in_name)
    cols = [F.col(c) for c in params.get("columns", [])]
    n = params.get("num_partitions")
    if n and cols:
        out = df.repartition(int(n), *cols)
    elif cols:
        out = df.repartition(*cols)
    else:
        out = df.repartition(int(n))
    ctx.put(out_name, out)


# --- corpus-curation operators: the LLM-pipeline surface exposed through
# --- the same declarative metadata dataflows as the reference operators,
# --- so a curation run is a dataflow document, not a Python script.


@register_operator("lang_filter")
def _op_lang_filter(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Keep documents whose heuristic language ID is in ``allow``.
    Single-pass projection + filter; no shuffle."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import language_id

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    allow = params["allow"]
    df = ctx.get(in_name)
    if "lang_pred" in df.columns:
        raise ValueError(
            f"lang_filter reserves helper column 'lang_pred'; rename it on "
            f"input '{in_name}' first"
        )
    tagged = language_id(df, params.get("text_col", "text"))
    out = tagged.filter(F.col("lang_pred").isin(*allow))
    if not params.get("keep_pred", False):
        out = out.drop("lang_pred")
    ctx.put(out_name, out)


@register_operator("quality_filter")
def _op_quality_filter(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Gate documents on corpus-quality signals (token count, average token
    length, punctuation/digit/stopword ratios).  All thresholds optional;
    unknown threshold keys are a compile-time error.  Single-pass
    projection + filter; no shuffle.

    Signals are computed under an internal ``_qf_`` prefix so an input
    column that happens to share a signal name (documents already has
    n_chars) passes through untouched instead of being silently
    recomputed."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import quality_features

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    bounds = {
        "min_tokens": F.col("_qf_n_tokens") >= F.lit(params.get("min_tokens")),
        "max_tokens": F.col("_qf_n_tokens") <= F.lit(params.get("max_tokens")),
        "min_avg_token_len": F.col("_qf_avg_token_len")
        >= F.lit(params.get("min_avg_token_len")),
        "max_avg_token_len": F.col("_qf_avg_token_len")
        <= F.lit(params.get("max_avg_token_len")),
        "max_punct_ratio": F.col("_qf_punct_ratio")
        <= F.lit(params.get("max_punct_ratio")),
        "max_digit_ratio": F.col("_qf_digit_ratio")
        <= F.lit(params.get("max_digit_ratio")),
        "min_stopword_ratio": F.col("_qf_stopword_ratio")
        >= F.lit(params.get("min_stopword_ratio")),
    }
    unknown = {
        k
        for k in params
        if k not in bounds
        and k not in ("input", "output", "text_col", "keep_features")
    }
    if unknown:
        raise ValueError(f"unknown quality_filter thresholds: {sorted(unknown)}")
    df = ctx.get(in_name)
    featured = quality_features(
        df, params.get("text_col", "text"), prefix="_qf_"
    )
    cond = F.lit(True)
    for key, expr in bounds.items():
        if params.get(key) is not None:
            cond = cond & expr
    out = featured.filter(cond)
    if params.get("keep_features", False):
        # surface the signals under their public names, never clobbering
        # an input column of the same name; signals whose public name is
        # taken are dropped so internal _qf_ prefixes never leak into the
        # output schema
        for col in out.columns:
            if col.startswith("_qf_"):
                if col[4:] not in df.columns:
                    out = out.withColumnRenamed(col, col[4:])
                else:
                    out = out.drop(col)
    else:
        out = out.select(*df.columns)
    ctx.put(out_name, out)


@register_operator("exact_dedup")
def _op_exact_dedup(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Keep the lowest-id row per distinct normalized text: ONE shuffle on
    the md5 fingerprint, window row_number pick — survivors keep their full
    row (unlike llm.dedup.exact_dedup's (fp, id) summary)."""
    from pyspark.sql.window import Window

    from ominimo_dynamic_data_pipeline_spark.llm.text import normalize_text

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    id_col = params.get("id_col", "doc_id")
    text_col = params.get("text_col", "text")
    df = ctx.get(in_name)
    clash = {"_dedup_fp", "_dedup_rn"} & set(df.columns)
    if clash:
        raise ValueError(
            f"exact_dedup reserves helper columns {sorted(clash)}; rename "
            f"them on input '{in_name}' first"
        )
    w = Window.partitionBy("_dedup_fp").orderBy(id_col)
    out = (
        df.withColumn("_dedup_fp", F.md5(normalize_text(F.col(text_col))))
        .withColumn("_dedup_rn", F.row_number().over(w))
        .filter(F.col("_dedup_rn") == 1)
        .drop("_dedup_fp", "_dedup_rn")
    )
    ctx.put(out_name, out)


@register_operator("incremental_dedup")
def _op_incremental_dedup(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Dedup the input batch against an already-curated REFERENCE frame
    (continuous-ingest shape): rows whose normalized-text fingerprint
    already exists in ``params.reference`` are dropped, then the batch is
    exact-deduped within itself (lowest id survives, full rows kept).
    ``reference`` names another frame in the dataflow — typically a
    parquet source holding the corpus fingerprint index ('fp' column) or
    the curated corpus itself (``reference_text_col`` re-derives fps)."""
    from pyspark.sql.window import Window

    from ominimo_dynamic_data_pipeline_spark.llm.text import normalize_text

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ref_name = params.get("reference")
    if not ref_name:
        raise ValueError("incremental_dedup requires params.reference")
    id_col = params.get("id_col", "doc_id")
    text_col = params.get("text_col", "text")
    df = ctx.get(in_name)
    ref = ctx.get(ref_name)
    clash = {"_dedup_fp", "_dedup_rn"} & set(df.columns)
    if clash:
        raise ValueError(
            f"incremental_dedup reserves helper columns {sorted(clash)}; "
            f"rename them on input '{in_name}' first"
        )
    if "fp" in ref.columns:
        ref_fps = ref.select(F.col("fp").alias("_dedup_fp"))
    else:
        ref_text = params.get("reference_text_col", text_col)
        ref_fps = ref.select(
            F.md5(normalize_text(F.col(ref_text))).alias("_dedup_fp")
        )
    w = Window.partitionBy("_dedup_fp").orderBy(id_col)
    out = (
        df.withColumn("_dedup_fp", F.md5(normalize_text(F.col(text_col))))
        .join(ref_fps.distinct(), on="_dedup_fp", how="left_anti")
        .withColumn("_dedup_rn", F.row_number().over(w))
        .filter(F.col("_dedup_rn") == 1)
        .drop("_dedup_fp", "_dedup_rn")
    )
    ctx.put(out_name, out)


@register_operator("incremental_near_dedup")
def _op_incremental_near_dedup(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """NEAR-dup dedup of the input batch against a curated REFERENCE
    frame (MinHash-LSH; the fuzzy twin of incremental_dedup for
    lightly-edited re-ingests).  ``reference`` names another dataflow
    frame holding the curated corpus (id + text).  Surviving batch rows
    keep their full schema; see llm/dedup.py:incremental_near_dedup for
    the band-index join shape and knobs."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        incremental_near_dedup,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ref_name = params.get("reference")
    if not ref_name:
        raise ValueError("incremental_near_dedup requires params.reference")
    ctx.put(
        out_name,
        incremental_near_dedup(
            ctx.get(in_name),
            ctx.get(ref_name),
            id_col=params.get("id_col", "doc_id"),
            text_col=params.get("text_col", "text"),
            num_hashes=params.get("num_hashes", 16),
            bands=params.get("bands", 4),
            threshold=params.get("threshold", 0.5),
            shingle_n=params.get("shingle_n", 3),
            max_bucket_size=params.get("max_bucket_size", 1000),
        ),
    )


@register_operator("decontaminate")
def _op_decontaminate(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Benchmark decontamination as a dataflow step: drop (default) or
    flag input docs sharing at least one token n-gram with the REFERENCE
    eval frame (q56's operator; llm/sampling.py ngram_decontaminate).
    ``mode: "flag"`` keeps all rows and attaches n_contaminated_grams
    (0 for clean) instead of dropping."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        ngram_decontaminate,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ref_name = params.get("reference")
    if not ref_name:
        raise ValueError("decontaminate requires params.reference")
    id_col = params.get("id_col", "doc_id")
    df = ctx.get(in_name)
    hits = ngram_decontaminate(
        df,
        ctx.get(ref_name),
        id_col=id_col,
        text_col=params.get("text_col", "text"),
        n=params.get("n", 8),
        eval_text_col=params.get("reference_text_col"),
        eval_id_col=params.get("reference_id_col"),
    )
    if params.get("mode", "drop") == "flag":
        if "n_contaminated_grams" in df.columns:
            raise ValueError(
                "decontaminate flag mode reserves column "
                "'n_contaminated_grams'; rename it on input "
                f"'{in_name}' first"
            )
        out = df.join(F.broadcast(hits), on=id_col, how="left").fillna(
            0, subset=["n_contaminated_grams"]
        )
    else:
        out = df.join(
            F.broadcast(hits.select(id_col)), on=id_col, how="left_anti"
        )
    ctx.put(out_name, out)


@register_operator("semantic_decontaminate")
def _op_semantic_decontaminate(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """Embedding-space decontamination as a dataflow step (q129's
    operator): drop (default) or flag input rows whose max cosine
    against the REFERENCE eval embeddings reaches ``threshold``.  The
    eval set renders as literals, so the check itself is a shuffle-free
    projection; only the small victim/flag frame joins back."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        semantic_decontaminate,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ref_name = params.get("reference")
    if not ref_name:
        raise ValueError("semantic_decontaminate requires params.reference")
    id_col = params.get("id_col", "vec_id")
    df = ctx.get(in_name)
    flags = semantic_decontaminate(
        df,
        ctx.get(ref_name),
        id_col=id_col,
        vec_col=params.get("vec_col", "embedding"),
        threshold=params.get("threshold", 0.95),
    )
    if params.get("mode", "drop") == "flag":
        clash = {"max_eval_cos", "contaminated"} & set(df.columns)
        if clash:
            raise ValueError(
                f"semantic_decontaminate flag mode reserves columns "
                f"{sorted(clash)}; rename them on input '{in_name}' first"
            )
        out = df.join(flags, on=id_col, how="left")
    else:
        victims = flags.filter(F.col("contaminated")).select(id_col)
        out = df.join(F.broadcast(victims), on=id_col, how="left_anti")
    ctx.put(out_name, out)


@register_operator("near_dedup")
def _op_near_dedup(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """MinHash-LSH near-duplicate removal: band-bucket candidates, exact
    Jaccard verify at ``threshold``, greedy keep-lowest-id victim drop
    (broadcast left-anti).  The victim pipeline is the q26/q49 shape —
    sum(|bucket|^2) candidate cost with the max_bucket_size skew guard."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        dedup_corpus,
        minhash_near_dups,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    df = ctx.get(in_name)
    pairs = minhash_near_dups(
        df,
        id_col=params.get("id_col", "doc_id"),
        text_col=params.get("text_col", "text"),
        num_hashes=params.get("num_hashes", 16),
        bands=params.get("bands", 4),
        threshold=params.get("threshold", 0.5),
        shingle_n=params.get("shingle_n", 3),
        max_bucket_size=params.get("max_bucket_size"),
        cache_shingles=params.get("cache_shingles", True),
    )
    ctx.put(out_name, dedup_corpus(df, pairs, params.get("id_col", "doc_id")))


@register_operator("span_dedup")
def _op_span_dedup(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Exact substring-level dedup (the q90/q93 suffix-array family):
    remove every maximal span of >= ``span_tokens`` tokens that occurs
    >= ``min_count`` times anywhere in the corpus.  The text column is
    replaced by the cleaned order-preserving token stream; all other
    columns pass through."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        repeated_spans,
        strip_repeated_spans,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    df = ctx.get(in_name)
    id_col = params.get("id_col", "doc_id")
    text_col = params.get("text_col", "text")
    spans = repeated_spans(
        df,
        id_col=id_col,
        text_col=text_col,
        span_tokens=params.get("span_tokens", 16),
        min_count=params.get("min_count", 2),
    )
    ctx.put(out_name, strip_repeated_spans(df, spans, id_col, text_col))


@register_operator("kmeans_cluster")
def _op_kmeans_cluster(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Attach an exact-integer k-means cluster id to every row (the q111
    operator as a pipeline step): deterministic lowest-id seeds, fixed
    Lloyd iterations, driver-literal centroids — assignment is a pure
    projection, so the step adds no shuffle beyond the per-iteration
    (cluster, dim) update aggregates.  Typical use: partition a corpus
    into semantic shards before per-cluster dedup or quota sampling.

    Requires unique non-null ``id_col`` values: assignments re-attach by
    an equi-join on ``id_col``, so a NULL id would silently drop its row
    and a duplicate id would fan out.  Checked eagerly (one narrow agg
    over the id column) — the k-means trainer is already eager (it
    collects seeds and per-iteration centroids), so this adds no new
    laziness break."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        kmeans_exact_assignments,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    df = ctx.get(in_name)
    id_col = params.get("id_col", "vec_id")
    out_col = params.get("output_col", "cluster_id")
    if out_col in df.columns:
        raise ValueError(
            f"kmeans_cluster output column {out_col!r} already exists on "
            f"input '{in_name}'"
        )
    idstats = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(id_col).alias("n_nonnull"),
        F.countDistinct(id_col).alias("n_distinct"),
    ).first()
    if idstats["n_nonnull"] < idstats["n_rows"]:
        raise ValueError(
            f"kmeans_cluster id_col {id_col!r} has "
            f"{idstats['n_rows'] - idstats['n_nonnull']} NULL ids on input "
            f"'{in_name}'; the assignment re-attach join would drop them"
        )
    if idstats["n_distinct"] < idstats["n_nonnull"]:
        raise ValueError(
            f"kmeans_cluster id_col {id_col!r} has duplicate ids on input "
            f"'{in_name}' ({idstats['n_nonnull'] - idstats['n_distinct']} "
            f"extra rows); the assignment re-attach join would fan out"
        )
    assigned = kmeans_exact_assignments(
        df,
        k=params.get("k", 8),
        iters=params.get("iters", 2),
        id_col=id_col,
        vec_col=params.get("vec_col", "embedding"),
    ).select(id_col, F.col("cluster_id").alias(out_col))
    ctx.put(out_name, df.join(assigned, on=id_col))


@register_operator("sketch_stats")
def _op_sketch_stats(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Mergeable sketch statistics as a dataflow step (the q120/q121
    operators behind metadata): per-group HLL distinct-count estimates
    and/or KLL quantiles, one aggregate pass, KB-sized shuffle rows.
    ``keep_sketches`` keeps the binary sketch columns for cross-run
    re-aggregation (union a new day's sketches instead of rescanning)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        sketch_profile,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        sketch_profile(
            ctx.get(in_name),
            group_by=params.get("group_by", []),
            distinct_cols=params.get("distinct_cols", []),
            quantile_col=params.get("quantile_col"),
            quantiles=params.get("quantiles", [0.5]),
            keep_sketches=params.get("keep_sketches", False),
        ),
    )


@register_operator("gap_fill")
def _op_gap_fill(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Daily-spine gap fill with linear interpolation (the q124 operator
    behind metadata).  Input must already be one row per (partition,
    day) — aggregate first (e.g. an ``aggregate``/``sql`` step)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        gap_fill_linear,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        gap_fill_linear(
            ctx.get(in_name),
            partition_cols=params.get("partition_cols", []),
            time_col=params["time_col"],
            value_col=params["value_col"],
        ),
    )


@register_operator("equi_depth_bin")
def _op_equi_depth_bin(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Equi-depth feature binning (the q125 operator behind metadata):
    one exact-percentile aggregate for the boundaries, then a broadcast
    array fold attaches bin ids 0..bins-1 to every row."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        equi_depth_bin,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        equi_depth_bin(
            ctx.get(in_name),
            value_col=params["value_col"],
            bins=params.get("bins", 10),
            output_col=params.get("output_col", "bin"),
        ),
    )


@register_operator("dq_check")
def _op_dq_check(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Dataset-level data-quality checks (the q123 operator behind
    metadata): cross-row invariants — row count, key uniqueness,
    completeness, freshness, referential integrity — as one result frame
    ``(check, target, metric, passed)``.  ``ref_integrity`` checks name
    other dataflow frames via their ``reference`` key.

    ``on_violation: "error"`` (default ``"report"``) collects the result
    eagerly and raises listing every failed check — the dataset-level
    KO twin of validate_fields' row-level split."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        dataset_checks,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    checks = params.get("checks") or []
    if not checks:
        raise ValueError("dq_check requires params.checks")
    refs = {
        ch["reference"]: ctx.get(ch["reference"])
        for ch in checks
        if ch.get("type") == "ref_integrity" and "reference" in ch
    }
    result = dataset_checks(ctx.get(in_name), checks, references=refs)
    if params.get("on_violation", "report") == "error":
        failed = [r for r in result.collect() if not r["passed"]]
        if failed:
            detail = "; ".join(
                f"{r['check']}({r['target']})={r['metric']}" for r in failed
            )
            raise ValueError(
                f"dq_check on '{in_name}' failed {len(failed)} check(s): "
                f"{detail}"
            )
    ctx.put(out_name, result)


@register_operator("normalize_unicode")
def _op_normalize_unicode(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Unicode-normalize text columns as a dataflow step (llm/text.py
    unicode_normalize — the multilingual cleanup run before
    hashing/dedup/tokenization).  Params: ``columns`` (list, required),
    ``form`` (NFC default)."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import unicode_normalize

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    cols = params.get("columns")
    if not cols:
        raise ValueError("normalize_unicode requires params.columns")
    df = ctx.get(in_name)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"normalize_unicode: unknown columns {missing}")
    form = params.get("form", "NFC")
    for c in cols:
        df = df.withColumn(c, unicode_normalize(F.col(c), form))
    ctx.put(out_name, df)


@register_operator("asof_join")
def _op_asof_join(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Point-in-time join as a dataflow step (operators/joins.py
    asof_join — pandas merge_asof semantics): every left row plus the
    latest-before (or earliest-after) right row per key.  Params:
    ``right`` (frame name, required), ``on`` (default ``ts``), ``by``,
    ``direction``, ``strict``, ``tolerance``, ``tiebreak``, ``suffix``."""
    from ominimo_dynamic_data_pipeline_spark.operators.joins import asof_join

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    right_name = params.get("right")
    if not right_name:
        raise ValueError("asof_join requires params.right")
    ctx.put(
        out_name,
        asof_join(
            ctx.get(in_name),
            ctx.get(right_name),
            on=params.get("on", "ts"),
            by=params.get("by", ()),
            direction=params.get("direction", "backward"),
            strict=bool(params.get("strict", False)),
            tolerance=params.get("tolerance"),
            tiebreak=params.get("tiebreak"),
            suffix=params.get("suffix", "_right"),
        ),
    )


@register_operator("interval_join")
def _op_interval_join(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Binned interval-containment join as a dataflow step
    (operators/joins.py point_in_interval_join): every (point, interval)
    pair with start <= point <= end per key, executed as an equi join on
    time bins instead of a per-key cross product.  Params: ``intervals``
    (frame name, required), ``point_col``, ``start_col``, ``end_col``
    (required), ``by``, ``bin_size``, ``suffix``,
    ``max_bins_per_interval`` (the loud per-interval explode budget)."""
    from ominimo_dynamic_data_pipeline_spark.operators.joins import (
        point_in_interval_join,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [
        k for k in ("intervals", "point_col", "start_col", "end_col")
        if not params.get(k)
    ]
    if missing:
        raise ValueError(f"interval_join requires params {missing}")
    ctx.put(
        out_name,
        point_in_interval_join(
            ctx.get(in_name),
            ctx.get(params["intervals"]),
            params["point_col"],
            params["start_col"],
            params["end_col"],
            by=params.get("by", ()),
            bin_size=int(params.get("bin_size", 30)),
            suffix=params.get("suffix", "_iv"),
            max_bins_per_interval=int(
                params.get("max_bins_per_interval", 100_000)
            ),
        ),
    )


@register_operator("interval_overlap_join")
def _op_interval_overlap_join(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """Binned interval-overlap join as a dataflow step
    (operators/joins.py interval_overlap_join): every (left, right) pair
    whose closed intervals intersect, per key — pairs emitted once via
    the first-shared-bin predicate, never a distinct.  Params: ``right``
    (frame name), ``left_start``/``left_end``/``right_start``/
    ``right_end`` (all required), ``by``, ``bin_size``, ``suffix``,
    ``max_bins_per_interval``."""
    from ominimo_dynamic_data_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [
        k
        for k in ("right", "left_start", "left_end", "right_start", "right_end")
        if not params.get(k)
    ]
    if missing:
        raise ValueError(f"interval_overlap_join requires params {missing}")
    ctx.put(
        out_name,
        interval_overlap_join(
            ctx.get(in_name),
            ctx.get(params["right"]),
            params["left_start"],
            params["left_end"],
            params["right_start"],
            params["right_end"],
            by=params.get("by", ()),
            bin_size=int(params.get("bin_size", 30)),
            suffix=params.get("suffix", "_right"),
            max_bins_per_interval=int(
                params.get("max_bins_per_interval", 100_000)
            ),
        ),
    )


@register_operator("temperature_sample")
def _op_temperature_sample(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Temperature-based mixture rebalancing as a dataflow step (the q132
    operator behind metadata): rows kept with per-group probability
    proportional to n_group^alpha, flattening over-represented
    languages/sources toward the tail (llm/sampling.py
    temperature_mixture_sample).  Params: ``group_col`` (default
    ``lang``), ``alpha`` (default 0.5), ``budget`` (expected kept rows,
    required), ``id_col``, ``seed``."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        temperature_mixture_sample,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    if "budget" not in params:
        raise ValueError("temperature_sample requires params.budget")
    df = ctx.get(in_name)
    if "keep_p" in df.columns:
        raise ValueError(
            "temperature_sample reserves column 'keep_p'; rename it on "
            f"input '{in_name}' first"
        )
    ctx.put(
        out_name,
        temperature_mixture_sample(
            df,
            id_col=params.get("id_col", "doc_id"),
            group_col=params.get("group_col", "lang"),
            alpha=params.get("alpha", 0.5),
            budget=int(params["budget"]),
            seed=params.get("seed", 131),
            max_groups=int(params.get("max_groups", 10_000)),
        ),
    )


@register_operator("group_quota_cap")
def _op_group_quota_cap(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Absolute per-group quota cap as a dataflow step (the q143
    operator: C4/RefinedWeb-style per-domain cap — at most ``cap`` rows
    per group, chosen by seeded md5 order; llm/sampling.py
    group_quota_cap).  Params: ``group_col`` (required), ``cap``
    (required), ``id_col``, ``seed``."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import group_quota_cap

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("group_col", "cap") if not params.get(k)]
    if missing:
        raise ValueError(f"group_quota_cap requires params {missing}")
    df = ctx.get(in_name)
    clash = {"group_rank", "group_docs"} & set(df.columns)
    if clash:
        raise ValueError(
            f"group_quota_cap reserves columns {sorted(clash)}; rename "
            f"them on input '{in_name}' first"
        )
    ctx.put(
        out_name,
        group_quota_cap(
            df,
            group_col=params["group_col"],
            id_col=params.get("id_col", "doc_id"),
            cap=int(params["cap"]),
            seed=params.get("seed", 143),
        ),
    )


@register_operator("near_dup_pairs")
def _op_near_dup_pairs(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Emit the MinHash-LSH near-dup PAIR frame (id_a/id_b/jaccard)
    instead of dropping victims — the candidate-graph building block
    cluster_safe_split and custom linkage flows consume.  Same params as
    ``near_dedup``."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import minhash_near_dups

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        minhash_near_dups(
            ctx.get(in_name),
            id_col=params.get("id_col", "doc_id"),
            text_col=params.get("text_col", "text"),
            num_hashes=params.get("num_hashes", 16),
            bands=params.get("bands", 4),
            threshold=params.get("threshold", 0.5),
            shingle_n=params.get("shingle_n", 3),
            max_bucket_size=params.get("max_bucket_size"),
            cache_shingles=params.get("cache_shingles", True),
        ),
    )


@register_operator("cluster_safe_split")
def _op_cluster_safe_split(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Train/val/test assignment with near-dup-cluster integrity as a
    dataflow step (the q144 operator: every near-dup cluster lands
    wholly in one split; llm/sampling.py cluster_safe_split).  Params:
    ``pairs`` (frame name carrying id_a/id_b near-dup pairs, e.g. a
    near_dedup step's pair output — required), ``id_col``, ``val_frac``,
    ``test_frac``, ``seed``."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        cluster_safe_split,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    if not params.get("pairs"):
        raise ValueError("cluster_safe_split requires params ['pairs']")
    df = ctx.get(in_name)
    clash = {"cluster_id", "split"} & set(df.columns)
    if clash:
        raise ValueError(
            f"cluster_safe_split reserves columns {sorted(clash)}; rename "
            f"them on input '{in_name}' first"
        )
    ctx.put(
        out_name,
        cluster_safe_split(
            df,
            ctx.get(params["pairs"]),
            id_col=params.get("id_col", "doc_id"),
            val_frac=float(params.get("val_frac", 0.1)),
            test_frac=float(params.get("test_frac", 0.1)),
            seed=params.get("seed", 144),
        ),
    )


@register_operator("shard_manifest")
def _op_shard_manifest(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Deterministic global-shuffle shard manifest as a dataflow step
    (the q150 operator: stable md5-keyed (shard, position) per row for
    reproducible training shards; llm/sampling.py shard_manifest).
    Params: ``n_shards`` (required), ``id_col``, ``seed``."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import shard_manifest

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    if not params.get("n_shards"):
        raise ValueError("shard_manifest requires params ['n_shards']")
    df = ctx.get(in_name)
    clash = {"shard", "pos_in_shard"} & set(df.columns)
    if clash:
        raise ValueError(
            f"shard_manifest reserves columns {sorted(clash)}; rename "
            f"them on input '{in_name}' first"
        )
    ctx.put(
        out_name,
        shard_manifest(
            df,
            id_col=params.get("id_col", "doc_id"),
            n_shards=int(params["n_shards"]),
            seed=params.get("seed", 150),
        ),
    )


@register_operator("novelty_scores")
def _op_novelty_scores(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Per-doc n-gram novelty profile as a dataflow step (the q145
    operator; llm/dedup.py novelty_scores).  Params: ``id_col``,
    ``text_col``, ``shingle_n``."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import novelty_scores

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        novelty_scores(
            ctx.get(in_name),
            id_col=params.get("id_col", "doc_id"),
            text_col=params.get("text_col", "text"),
            shingle_n=int(params.get("shingle_n", 3)),
        ),
    )


@register_operator("span_corrupt")
def _op_span_corrupt(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """T5-style span corruption as a dataflow step (the q148 operator;
    llm/text.py span_corrupt).  Params: ``span_len``, ``stride``,
    ``seed``, ``id_col``, ``text_col``."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import span_corrupt

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        span_corrupt(
            ctx.get(in_name),
            id_col=params.get("id_col", "doc_id"),
            text_col=params.get("text_col", "text"),
            span_len=int(params.get("span_len", 3)),
            stride=int(params.get("stride", 10)),
            seed=params.get("seed", 148),
        ),
    )


@register_operator("session_transcripts")
def _op_session_transcripts(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """Session transcript assembly as a dataflow step (the q149/q151
    operator; streaming/ops.py session_transcripts — batch or streaming
    input).  Params: ``gap``, ``watermark``, ``turn_col``,
    ``max_turns``."""
    from ominimo_dynamic_data_pipeline_spark.streaming.ops import (
        session_transcripts,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        session_transcripts(
            ctx.get(in_name),
            gap=params.get("gap", "5 minutes"),
            watermark=params.get("watermark", "30 minutes"),
            turn_col=params.get("turn_col", "event_type"),
            max_turns=int(params.get("max_turns", 500)),
        ),
    )


@register_operator("dsir_importance")
def _op_dsir_importance(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """DSIR importance weights as a dataflow step (the q154 operator;
    llm/sampling.py dsir_importance).  Params: ``target`` (required — a
    SQL boolean expression naming the trusted slice, e.g.
    ``"lang = 'en'"``), ``id_col``, ``text_col``, ``alpha``,
    ``num_buckets``, ``seed``."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import dsir_importance

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    if not params.get("target"):
        raise ValueError("dsir_importance requires params ['target']")
    num_buckets = params.get("num_buckets")
    ctx.put(
        out_name,
        dsir_importance(
            ctx.get(in_name),
            target=F.expr(str(params["target"])),
            id_col=params.get("id_col", "doc_id"),
            text_col=params.get("text_col", "text"),
            alpha=float(params.get("alpha", 0.5)),
            num_buckets=int(num_buckets) if num_buckets is not None else None,
            seed=params.get("seed", 154),
        ),
    )


@register_operator("k_anonymity")
def _op_k_anonymity(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Privacy gate as a dataflow step (the q156 operators;
    operators/privacy.py).  Params: ``quasi_cols`` (required list),
    ``k``, ``action`` (``audit`` — default, per-class k-anonymity /
    l-diversity rows — or ``suppress`` — NULL quasi columns of rows in
    classes below k), ``sensitive_col`` (audit only)."""
    from ominimo_dynamic_data_pipeline_spark.operators.privacy import (
        k_anonymity,
        suppress_small_classes,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    quasi = params.get("quasi_cols")
    if not quasi or not isinstance(quasi, list):
        raise ValueError("k_anonymity requires params ['quasi_cols'] (list)")
    action = params.get("action", "audit")
    k = int(params.get("k", 5))
    if action == "audit":
        ctx.put(
            out_name,
            k_anonymity(
                ctx.get(in_name),
                quasi_cols=quasi,
                k=k,
                sensitive_col=params.get("sensitive_col"),
            ),
        )
    elif action == "suppress":
        if params.get("sensitive_col"):
            raise ValueError(
                "k_anonymity: sensitive_col only applies to action="
                "'audit' — suppression ignores it, so passing it is "
                "almost certainly a misconfiguration"
            )
        ctx.put(
            out_name,
            suppress_small_classes(ctx.get(in_name), quasi_cols=quasi, k=k),
        )
    else:
        raise ValueError(
            f"k_anonymity: unknown action {action!r} (audit|suppress)"
        )


@register_operator("token_entropy")
def _op_token_entropy(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Per-doc token Shannon entropy as a dataflow step (the q158
    operator; llm/text.py token_entropy).  Params: ``id_col``,
    ``text_col``."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import token_entropy

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ctx.put(
        out_name,
        token_entropy(
            ctx.get(in_name),
            id_col=params.get("id_col", "doc_id"),
            text_col=params.get("text_col", "text"),
        ),
    )


@register_operator("interleave_order")
def _op_interleave_order(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Group-balanced deterministic interleave order as a dataflow step
    (the q159 operator; llm/sampling.py interleave_order).  Params:
    ``group_col`` (required), ``id_col``, ``seed``."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        interleave_order,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    if not params.get("group_col"):
        raise ValueError("interleave_order requires params ['group_col']")
    df = ctx.get(in_name)
    clash = {"rank_in_group", "interleave_pos"} & set(df.columns)
    if clash:
        raise ValueError(
            f"interleave_order reserves columns {sorted(clash)}; rename "
            f"them on input '{in_name}' first"
        )
    ctx.put(
        out_name,
        interleave_order(
            df,
            group_col=params["group_col"],
            id_col=params.get("id_col", "doc_id"),
            seed=params.get("seed", 159),
        ),
    )


@register_operator("cusum_changepoint")
def _op_cusum_changepoint(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """Per-series CUSUM changepoint detection as a dataflow step (the
    q157 operator; operators/features.py cusum_changepoint).  Params:
    ``group_col``, ``time_col``, ``value_col`` (all required)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        cusum_changepoint,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("group_col", "time_col", "value_col")
               if not params.get(k)]
    if missing:
        raise ValueError(f"cusum_changepoint requires params {missing}")
    ctx.put(
        out_name,
        cusum_changepoint(
            ctx.get(in_name),
            group_col=params["group_col"],
            time_col=params["time_col"],
            value_col=params["value_col"],
        ),
    )


@register_operator("readability")
def _op_readability(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Flesch / Flesch-Kincaid readability scoring as a dataflow step
    (the q170 operator; llm/text.py readability_scores).  Params:
    ``text_col`` (default "text"), ``keep_cols`` (default ["doc_id"])."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import (
        readability_scores,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    df = ctx.get(in_name)
    keep = tuple(params.get("keep_cols", ["doc_id"]))
    text_col = params.get("text_col", "text")
    missing = [c for c in (*keep, text_col) if c not in df.columns]
    if missing:
        raise ValueError(
            f"readability: input '{in_name}' lacks columns {missing}"
        )
    ctx.put(
        out_name, readability_scores(df, text_col=text_col, keep_cols=keep)
    )


@register_operator("vocab_coverage")
def _op_vocab_coverage(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Corpus vocabulary-coverage curve as a dataflow step (the q178
    operator; llm/text.py vocab_coverage).  Params: ``text_col``
    (default "text"), ``ks`` (default [100, 1000, 10000], each > 0)."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import vocab_coverage

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    ks = tuple(params.get("ks", [100, 1000, 10000]))
    if not ks or any((not isinstance(k, int)) or k <= 0 for k in ks):
        raise ValueError(
            f"vocab_coverage: ks must be positive ints, got {ks!r}"
        )
    df = ctx.get(in_name)
    text_col = params.get("text_col", "text")
    if text_col not in df.columns:
        raise ValueError(
            f"vocab_coverage: input '{in_name}' lacks column '{text_col}'"
        )
    ctx.put(out_name, vocab_coverage(df, text_col=text_col, ks=ks))


@register_operator("rfm_segments")
def _op_rfm_segments(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """RFM user segmentation as a dataflow step (the q180 operator;
    operators/features.py rfm_segments).  Params: ``user_col``,
    ``ts_col``, ``value_col`` (all required), ``n_buckets``
    (default 3, >= 2)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        rfm_segments,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("user_col", "ts_col", "value_col")
               if not params.get(k)]
    if missing:
        raise ValueError(f"rfm_segments requires params {missing}")
    n_buckets = params.get("n_buckets", 3)
    if not isinstance(n_buckets, int) or n_buckets < 2:
        raise ValueError(
            f"rfm_segments: n_buckets must be an int >= 2, got {n_buckets!r}"
        )
    ctx.put(
        out_name,
        rfm_segments(
            ctx.get(in_name),
            user_col=params["user_col"],
            ts_col=params["ts_col"],
            value_col=params["value_col"],
            n_buckets=n_buckets,
        ),
    )


@register_operator("window_funnel")
def _op_window_funnel(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Greedy-earliest N-step funnel as a dataflow step (the q185
    operator; operators/features.py window_funnel).  Params:
    ``user_col``, ``ts_col``, ``type_col``, ``steps`` (>= 2 distinct
    strings) — all required; ``horizon_days`` (default 7, > 0) or
    ``horizon_us``.  This batch step is also the reprocessing path for
    the streaming twin (streaming/ops.stateful_funnel, q201), whose
    bounded per-user state is exact across micro-batches only under
    in-order per-key arrival — replay through this step when events may
    arrive out of order across batches."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        window_funnel,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("user_col", "ts_col", "type_col", "steps")
               if not params.get(k)]
    if missing:
        raise ValueError(f"window_funnel requires params {missing}")
    funnel_steps = params["steps"]
    if (not isinstance(funnel_steps, (list, tuple))
            or any(not isinstance(x, str) for x in funnel_steps)):
        raise ValueError(
            f"window_funnel: steps must be a list of strings, "
            f"got {funnel_steps!r}"
        )
    if "horizon_us" in params:
        horizon_us = params["horizon_us"]
    else:
        horizon_days = params.get("horizon_days", 7)
        if not isinstance(horizon_days, int) or horizon_days <= 0:
            raise ValueError(
                f"window_funnel: horizon_days must be a positive int, "
                f"got {horizon_days!r}"
            )
        horizon_us = horizon_days * 86_400_000_000
    ctx.put(
        out_name,
        window_funnel(
            ctx.get(in_name),
            user_col=params["user_col"],
            ts_col=params["ts_col"],
            type_col=params["type_col"],
            steps=tuple(funnel_steps),
            horizon_us=horizon_us,
        ),
    )


@register_operator("activity_streaks")
def _op_activity_streaks(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Consecutive-day streak rollup as a dataflow step (the q186
    operator; operators/features.py activity_streaks).  Params:
    ``entity_col``, ``ts_col`` (both required)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        activity_streaks,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("entity_col", "ts_col") if not params.get(k)]
    if missing:
        raise ValueError(f"activity_streaks requires params {missing}")
    ctx.put(
        out_name,
        activity_streaks(
            ctx.get(in_name),
            entity_col=params["entity_col"],
            ts_col=params["ts_col"],
        ),
    )


@register_operator("pareto_frontier")
def _op_pareto_frontier(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """2-D skyline filter as a dataflow step (the q187 operator;
    operators/features.py pareto_frontier).  Params: ``minimize_col``,
    ``maximize_col`` (required; minimize must be integral — quantize
    first), ``by`` (optional group columns, default none)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        pareto_frontier,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("minimize_col", "maximize_col")
               if not params.get(k)]
    if missing:
        raise ValueError(f"pareto_frontier requires params {missing}")
    by = params.get("by", [])
    if not isinstance(by, (list, tuple)):
        raise ValueError(f"pareto_frontier: by must be a list, got {by!r}")
    ctx.put(
        out_name,
        pareto_frontier(
            ctx.get(in_name),
            minimize_col=params["minimize_col"],
            maximize_col=params["maximize_col"],
            by=tuple(by),
        ),
    )


@register_operator("fuzzy_pairs")
def _op_fuzzy_pairs(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """SymSpell deletion-neighborhood fuzzy pair mining as a dataflow
    step (the q188 operator; operators/features.py symspell_pairs).
    Params: ``string_col`` (required), ``max_distance`` (1 or 2,
    default 1)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        symspell_pairs,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    if not params.get("string_col"):
        raise ValueError("fuzzy_pairs requires param 'string_col'")
    max_distance = params.get("max_distance", 1)
    ctx.put(
        out_name,
        symspell_pairs(
            ctx.get(in_name),
            string_col=params["string_col"],
            max_distance=max_distance,
        ),
    )


@register_operator("rolling_distinct")
def _op_rolling_distinct(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Trailing-window distinct-entity curve as a dataflow step (the
    q189 operator; operators/features.py rolling_distinct).  Params:
    ``entity_col``, ``ts_col`` (required), ``window_days`` (default 7,
    >= 1)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        rolling_distinct,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("entity_col", "ts_col") if not params.get(k)]
    if missing:
        raise ValueError(f"rolling_distinct requires params {missing}")
    ctx.put(
        out_name,
        rolling_distinct(
            ctx.get(in_name),
            entity_col=params["entity_col"],
            ts_col=params["ts_col"],
            window_days=params.get("window_days", 7),
        ),
    )


@register_operator("twap")
def _op_twap(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Step-hold time-weighted average as a dataflow step (the q190
    operator; operators/features.py twap).  Params: ``group_col``,
    ``ts_col``, ``value_col`` (required), ``tiebreak_cols`` (list,
    default []; pass a unique key when timestamps can tie),
    ``value_scale`` (default 1000000)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import twap

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("group_col", "ts_col", "value_col")
               if not params.get(k)]
    if missing:
        raise ValueError(f"twap requires params {missing}")
    tiebreak = params.get("tiebreak_cols", [])
    if not isinstance(tiebreak, (list, tuple)):
        raise ValueError(
            f"twap: tiebreak_cols must be a list, got {tiebreak!r}"
        )
    ctx.put(
        out_name,
        twap(
            ctx.get(in_name),
            group_col=params["group_col"],
            ts_col=params["ts_col"],
            value_col=params["value_col"],
            tiebreak_cols=tuple(tiebreak),
            value_scale=params.get("value_scale", 1_000_000),
        ),
    )


@register_operator("dedup_clusters")
def _op_dedup_clusters(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Connected-components cluster assignment as a dataflow step (the
    q57 operator; llm/dedup.py dedup_clusters).  ``input`` is a pair
    frame with (id_a, id_b) columns (e.g. a near_dup_pairs step's
    output); params: ``id_col`` (default "doc_id", names the output id
    column), ``max_iterations`` (default 50, >= 1)."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import dedup_clusters

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    max_iterations = params.get("max_iterations", 50)
    if not isinstance(max_iterations, int) or max_iterations < 1:
        raise ValueError(
            f"dedup_clusters: max_iterations must be a positive int, "
            f"got {max_iterations!r}"
        )
    pairs = ctx.get(in_name)
    missing = [c for c in ("id_a", "id_b") if c not in pairs.columns]
    if missing:
        raise ValueError(
            f"dedup_clusters: input '{in_name}' lacks columns {missing}"
        )
    ctx.put(
        out_name,
        dedup_clusters(
            pairs,
            id_col=params.get("id_col", "doc_id"),
            max_iterations=max_iterations,
        ),
    )


@register_operator("cluster_representatives")
def _op_cluster_representatives(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """Keep-best-of-cluster selection as a dataflow step (the q191
    operator; llm/dedup.py cluster_representatives).  ``input`` is the
    (id, cluster) assignment frame (e.g. a dedup_clusters step's
    output); params: ``docs`` (scored frame name, required),
    ``id_col`` (default "doc_id"), ``cluster_col`` (default
    "cluster_id"), ``score_col`` (default "n_chars")."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        cluster_representatives,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    docs_name = params.get("docs")
    if not docs_name:
        raise ValueError("cluster_representatives requires params.docs")
    ctx.put(
        out_name,
        cluster_representatives(
            ctx.get(in_name),
            ctx.get(docs_name),
            id_col=params.get("id_col", "doc_id"),
            cluster_col=params.get("cluster_col", "cluster_id"),
            score_col=params.get("score_col", "n_chars"),
        ),
    )


@register_operator("time_decay_attribution")
def _op_time_decay_attribution(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """Time-decay touch attribution as a dataflow step (the q192
    operator; operators/features.py time_decay_attribution).  Params:
    ``user_col``, ``ts_col``, ``type_col``, ``value_col``,
    ``conversion_type``, ``touch_types`` (all required),
    ``horizon_days`` (default 7, 1..62)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        time_decay_attribution,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [
        k
        for k in (
            "user_col", "ts_col", "type_col", "value_col",
            "conversion_type", "touch_types",
        )
        if not params.get(k)
    ]
    if missing:
        raise ValueError(f"time_decay_attribution requires params {missing}")
    touch_types = params["touch_types"]
    if not isinstance(touch_types, (list, tuple)):
        raise ValueError(
            f"time_decay_attribution: touch_types must be a list, "
            f"got {touch_types!r}"
        )
    ctx.put(
        out_name,
        time_decay_attribution(
            ctx.get(in_name),
            user_col=params["user_col"],
            ts_col=params["ts_col"],
            type_col=params["type_col"],
            value_col=params["value_col"],
            conversion_type=params["conversion_type"],
            touch_types=tuple(touch_types),
            horizon_days=params.get("horizon_days", 7),
        ),
    )


@register_operator("winsorize")
def _op_winsorize(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Winsorized robust group stats as a dataflow step (the q193
    operator; operators/features.py winsorized_stats).  Params:
    ``group_col``, ``value_col`` (required), ``lower`` (default 0.05),
    ``upper`` (default 0.95), ``scale`` (default 100)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        winsorized_stats,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [k for k in ("group_col", "value_col") if not params.get(k)]
    if missing:
        raise ValueError(f"winsorize requires params {missing}")
    ctx.put(
        out_name,
        winsorized_stats(
            ctx.get(in_name),
            group_col=params["group_col"],
            value_col=params["value_col"],
            lower=params.get("lower", 0.05),
            upper=params.get("upper", 0.95),
            scale=params.get("scale", 100),
        ),
    )


@register_operator("snapshot_diff")
def _op_snapshot_diff(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Keyed snapshot classification as a dataflow step (the q194
    operator; operators/features.py snapshot_diff).  ``input`` is the
    OLD snapshot; params: ``new`` (frame name, required), ``key_cols``
    (required), ``compare_cols`` (default []), ``null_safe_keys``
    (default false: NULL keys never match, classifying by side as
    removed+added, and the join reuses the per-key agg exchanges; set
    true for NULL-as-value semantics at the cost of one extra shuffle
    per side)."""
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        snapshot_diff,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    new_name = params.get("new")
    if not new_name:
        raise ValueError("snapshot_diff requires params.new")
    key_cols = params.get("key_cols") or []
    if not isinstance(key_cols, (list, tuple)) or not key_cols:
        raise ValueError(
            f"snapshot_diff: key_cols must be a non-empty list, "
            f"got {key_cols!r}"
        )
    ctx.put(
        out_name,
        snapshot_diff(
            ctx.get(in_name),
            ctx.get(new_name),
            key_cols=tuple(key_cols),
            compare_cols=tuple(params.get("compare_cols") or []),
            null_safe_keys=bool(params.get("null_safe_keys", False)),
        ),
    )


@register_operator("bm25_topk")
def _op_bm25_topk(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Okapi BM25 top-k retrieval (the q110 operator: inverted index ->
    idf/tf scoring -> per-query rank window; llm/similarity.py
    bm25_topk).  Params: ``input`` documents frame; exactly one of
    ``n_queries`` (more-like-this over the lowest doc ids) or
    ``qterms`` (frame name carrying query_id/term); optional ``id_col``
    ``text_col`` ``k1`` ``b`` ``top_k`` ``round_to``."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import bm25_topk

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    qterms_name = params.get("qterms")
    ctx.put(
        out_name,
        bm25_topk(
            ctx.get(in_name),
            # coerce like every sibling numeric param: a JSON "3" must
            # not reach the F.col < n_queries comparison as a string
            n_queries=(
                int(params["n_queries"])
                if params.get("n_queries") is not None
                else None
            ),
            qterms=ctx.get(qterms_name) if qterms_name else None,
            id_col=params.get("id_col", "doc_id"),
            text_col=params.get("text_col", "text"),
            k1=float(params.get("k1", 1.2)),
            b=float(params.get("b", 0.75)),
            top_k=int(params.get("top_k", 10)),
            round_to=int(params.get("round_to", 4)),
        ),
    )


@register_operator("brute_force_topk")
def _op_brute_force_topk(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Exact cosine top-k neighbors (the q29 operator; llm/similarity.py
    brute_force_topk — broadcast queries x corpus scan, per-query rank
    window).  Params: ``input`` corpus frame; ``queries`` frame name
    carrying (query_id, <vec_col>) — required; optional ``k`` ``id_col``
    ``vec_col`` ``round_to``."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        brute_force_topk,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    if not params.get("queries"):
        raise ValueError("brute_force_topk requires params ['queries']")
    ctx.put(
        out_name,
        brute_force_topk(
            ctx.get(in_name),
            ctx.get(params["queries"]),
            k=int(params.get("k", 5)),
            id_col=params.get("id_col", "vec_id"),
            vec_col=params.get("vec_col", "embedding"),
            round_to=params.get("round_to"),
        ),
    )


@register_operator("lsh_topk")
def _op_lsh_topk(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Approximate LSH-bucketed cosine top-k (the q30 operator;
    llm/similarity.py lsh_topk — hyperplane signatures bound candidates,
    exact cosine re-ranks).  Params: ``input`` corpus frame; ``queries``
    frame name and ``dim`` — required; optional ``k`` ``num_planes``
    ``num_tables`` ``max_bucket_size`` ``id_col`` ``vec_col``
    ``round_to``."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import lsh_topk

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    missing = [p for p in ("queries", "dim") if not params.get(p)]
    if missing:
        raise ValueError(f"lsh_topk requires params {missing}")
    ctx.put(
        out_name,
        lsh_topk(
            ctx.get(in_name),
            ctx.get(params["queries"]),
            dim=int(params["dim"]),
            k=int(params.get("k", 5)),
            id_col=params.get("id_col", "vec_id"),
            vec_col=params.get("vec_col", "embedding"),
            num_planes=int(params.get("num_planes", 6)),
            num_tables=int(params.get("num_tables", 1)),
            max_bucket_size=params.get("max_bucket_size"),
            round_to=params.get("round_to"),
        ),
    )


@register_operator("rrf_fuse")
def _op_rrf_fuse(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Reciprocal-rank fusion of N retrieval runs (the q155 operator;
    llm/similarity.py rrf_fuse — exact integer nano-unit contributions).
    Params: ``inputs`` non-empty list of ranking frame names (each
    carrying query/id/rank columns); optional ``k0`` ``query_col``
    ``id_col`` ``rank_col``; ``output`` defaults to the step name."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import rrf_fuse

    params = step.get("params", {})
    out_name = params.get("output", step["name"])
    inputs = params.get("inputs")
    if not isinstance(inputs, (list, tuple)) or not inputs:
        raise ValueError(
            f"rrf_fuse: inputs must be a non-empty list of frame names, "
            f"got {inputs!r}"
        )
    ctx.put(
        out_name,
        rrf_fuse(
            [ctx.get(n) for n in inputs],
            k0=int(params.get("k0", 60)),
            query_col=params.get("query_col", "query_id"),
            id_col=params.get("id_col", "neighbor_id"),
            rank_col=params.get("rank_col", "rank"),
        ),
    )


@register_operator("mmr_rerank")
def _op_mmr_rerank(ctx: CompileContext, step: Mapping[str, Any]) -> None:
    """Maximal-Marginal-Relevance diversification of a retrieval run (the
    q160 operator; llm/similarity.py mmr_rerank — greedy applyInPandas
    kernel per query pool).  Params: ``input`` candidates frame
    (query_id/neighbor_id/rel); ``vectors`` frame name — required;
    optional ``k`` ``lambda`` ``id_col`` ``vec_col`` ``rel_col``
    ``sim_round_to`` (set for the cross-engine-reproducible quantized
    trace q160 uses)."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import mmr_rerank

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    if not params.get("vectors"):
        raise ValueError("mmr_rerank requires params ['vectors']")
    ctx.put(
        out_name,
        mmr_rerank(
            ctx.get(in_name),
            ctx.get(params["vectors"]),
            k=int(params.get("k", 5)),
            lambda_=float(params.get("lambda", 0.7)),
            id_col=params.get("id_col", "vec_id"),
            vec_col=params.get("vec_col", "embedding"),
            rel_col=params.get("rel_col", "rel"),
            sim_round_to=params.get("sim_round_to"),
        ),
    )


@register_operator("distributed_row_number")
def _op_distributed_row_number(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """Exact global row_number WITHOUT a single-partition window (the
    two-phase rank behind q154/q162: range exchange + bounded census +
    order-preserving Arrow pass; operators/scale.distributed_row_number).
    Params: ``input``; ``order_by`` — non-empty list of SQL sort
    expressions defining a TOTAL order (e.g. ["llr DESC", "doc_id"]);
    optional ``rn_col`` (default "rn") ``num_partitions``."""
    from ominimo_dynamic_data_pipeline_spark.operators.scale import (
        distributed_row_number,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    order_by = params.get("order_by") or []
    if not isinstance(order_by, (list, tuple)) or not order_by:
        raise ValueError(
            "distributed_row_number requires params.order_by (non-empty "
            "list of sort expressions defining a total order)"
        )
    n = params.get("num_partitions")
    ranked, _total = distributed_row_number(
        ctx.get(in_name),
        [_sort_expr(c) for c in order_by],
        rn_col=params.get("rn_col", "rn"),
        num_partitions=int(n) if n is not None else None,
    )
    ctx.put(out_name, ranked)


@register_operator("distributed_ntile")
def _op_distributed_ntile(
    ctx: CompileContext, step: Mapping[str, Any]
) -> None:
    """Exact NTILE over a total order without a single-partition window
    (the q180 bucket machinery; operators/scale.distributed_ntile).
    Params: ``input``; ``n_buckets`` int > 0; ``order_by`` — non-empty
    list of SQL sort expressions defining a TOTAL order; optional
    ``out_col`` (default "bucket") ``num_partitions``."""
    from ominimo_dynamic_data_pipeline_spark.operators.scale import (
        distributed_ntile,
    )

    params = step.get("params", {})
    in_name, out_name = _io_names(step)
    order_by = params.get("order_by") or []
    if not isinstance(order_by, (list, tuple)) or not order_by:
        raise ValueError(
            "distributed_ntile requires params.order_by (non-empty list "
            "of sort expressions defining a total order)"
        )
    if "n_buckets" not in params:
        raise ValueError("distributed_ntile requires params.n_buckets")
    n = params.get("num_partitions")
    ctx.put(
        out_name,
        distributed_ntile(
            ctx.get(in_name),
            int(params["n_buckets"]),
            [_sort_expr(c) for c in order_by],
            out_col=params.get("out_col", "bucket"),
            num_partitions=int(n) if n is not None else None,
        ),
    )


def apply_transformations(
    ctx: CompileContext, dataflow: Mapping[str, Any]
) -> dict[str, DataFrame]:
    """Walk the declared transformation chain, building lazy plans only."""
    for step in dataflow.get("transformations", []) or []:
        op = OPERATORS.get(step.get("type"))
        if op is None:
            raise ValueError(f"Unsupported transformation type: {step.get('type')!r}")
        op(ctx, step)
    return ctx.frames
