"""Similarity search over embedding columns (array<float>).

Two paths sharing one API:

  * brute-force — exact cosine top-k: queries x corpus join, window top-k.
    Correct baseline; cost |Q| * N.  Fine when |Q| is small or N fits a
    broadcast.
  * LSH-bucketed — random-hyperplane signatures restrict candidates to
    matching buckets, then exact cosine re-ranks within candidates.  At
    100 TB this is the only viable shape: the join key is the bucket, so
    comparisons are sum(|bucket|^2), and recall is tuned by
    (num_planes, num_tables).

Hyperplanes are generated deterministically from md5-derived pseudo-random
values (no RNG state, reproducible across runs and engines).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ominimo_dynamic_data_pipeline_spark.llm.dedup import dot_double, norm_frame

# Ceiling for size-scaled inverted-list counts (scaled_k_lists): bounds the
# driver-side Lloyd trainer (sample 4*k rows, O(sample x k) sims matrix)
# and the rendered centroid-literal plan size.
MAX_K_LISTS = 2048


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The queries side is broadcast (it is small by construction); the corpus
    is scanned once — no shuffle until the per-query top-k window, which
    partitions by query id.  Excludes self-matches when ids collide.
    Norms/casts are staged per row (norm_frame), so the |Q|*N pairwise work
    is one dot product per pair.

    ``round_to`` rounds the cosine BEFORE the rank window (the q29/q30
    oracle tie-break contract: rank on the rounded score, ties on
    neighbor id — identical in any engine).  The q29/q155/q160/q163
    catalog entries all rank through this one code path.
    """
    q = norm_frame(queries, query_id_col, vec_col).select(
        F.col(query_id_col).alias("query_id"),
        F.col("vec_d").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    c = norm_frame(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec_d").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    cos = dot_double(F.col("qv"), F.col("cv")) / (
        F.col("q_nrm") * F.col("c_nrm")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    if round_to is not None:
        # staged column-ref rewrite: the dot-product fold stays in its
        # own projection, evaluated once (duck_round_expr's contract)
        scored = scored.withColumn(
            "cos", duck_round_expr("cos", round_to)
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component seeds (+1/-1).
    Derived from md5 bits so any engine can reproduce them."""
    import hashlib

    comps = []
    for d in range(dim):
        h = hashlib.md5(f"plane:{plane}:dim:{d}".encode()).hexdigest()
        comps.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
    return comps


def embedding_near_dups_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 4,
    num_tables: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, LSH-bucketed —
    the 100 TB shape: candidates are generated per (table, bucket), so the
    pairwise work is sum(|bucket|^2) per table, never N^2, and nothing is
    ever collected to the driver.

    Plan: the shared ``_table_buckets`` Arrow kernel computes norms + all
    table signatures in one columnar pass (dimension-ordered dots,
    bit-identical to the staged-transform path and the DuckDB oracle's
    sequential folds) -> ONE shuffle on (table, bucket) -> Arrow
    ``applyInPandas`` numpy kernel scores each bucket's pairs (same
    accumulation order) -> distinct() merges pairs found by multiple
    tables (their cos doubles are identical, so distinct is exact).
    Recall tunes with (num_planes, num_tables): fewer planes = bigger
    buckets = higher recall per table; more tables = union of chances.
    ``max_bucket_size`` sheds degenerate buckets (skew guard — a bucket
    holding a constant-vector pile would otherwise quadratically
    dominate; its pairs are typically still found by other tables).
    """
    id_field = df.schema[id_col].dataType.simpleString()
    bucketed = _table_buckets(
        df, dim, id_col, vec_col, num_planes, num_tables
    ).drop("nrm")  # the pair kernel re-derives norms; don't shuffle them

    kernel, schema = _bucket_pair_kernel(
        id_col, "vec_d", id_field, threshold, max_bucket_size
    )
    return (
        bucketed.groupBy("table", "bucket")
        .applyInPandas(kernel, schema)
        .distinct()
    )


def _bucket_pair_kernel(
    id_col: str,
    vec_col: str,
    id_field: str,
    threshold: float,
    max_bucket_size: int | None,
):
    """(kernel, schema) for per-bucket all-pairs cosine via an Arrow
    applyInPandas numpy kernel — dimension-ordered accumulation, so the
    cos doubles are bit-identical to the sequential Catalyst/DuckDB fold
    (shared by the LSH and IVF-cluster bucketings)."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        n = len(pdf)
        if n < 2 or (max_bucket_size is not None and n > max_bucket_size):
            return empty
        ids = pdf[id_col].to_numpy()
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        acc = np.zeros(n)
        dots = np.zeros((n, n))
        for d in range(x.shape[1]):
            acc += x[:, d] * x[:, d]
            dots += np.outer(x[:, d], x[:, d])
        nrm = np.sqrt(acc)
        cos = dots / np.outer(nrm, nrm)
        ia, ib = np.nonzero((ids[:, None] < ids[None, :]) & (cos >= threshold))
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "cos": cos[ia, ib]})

    return kernel, f"id_a {id_field}, id_b {id_field}, cos double"


def _table_buckets(
    df: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    num_planes: int,
    num_tables: int,
    include_vec: bool = True,
) -> DataFrame:
    """(id, vec_d, nrm, table, bucket) — one row per (vector, LSH table),
    via an Arrow mapInPandas numpy kernel: norms, all plane dots, and the
    per-table sign buckets in one columnar pass (dimension-ordered
    accumulation, bit-identical to the sequential Catalyst/DuckDB fold —
    the q28/q30 oracles replicate these signatures from the same
    hyperplanes).

    ``include_vec=False`` emits only (id, table, bucket): column pruning
    cannot reach inside a Python kernel, so count-only consumers (the
    bucket census) must ask for the slim schema explicitly — building
    num_tables python-list copies of every vector is the dominant kernel
    cost."""
    import numpy as np
    import pandas as pd

    planes = np.array(
        [hyperplane(dim, i) for i in range(num_planes * num_tables)]
    )  # (P, dim)
    id_field = df.schema[id_col].dataType.simpleString()
    weights = np.array([2**p for p in range(num_planes)], dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = len(ids)
            acc = np.zeros(n)
            scores = np.zeros((n, len(planes)))
            for d in range(dim):
                acc += x[:, d] * x[:, d]
                scores += np.outer(x[:, d], planes[:, d])
            nrm = np.sqrt(acc)
            sigs = (
                (scores >= 0).reshape(n, num_tables, num_planes) * weights
            ).sum(axis=2)  # (n, T)
            rows = {
                id_col: ids,
                "buckets": [list(s) for s in sigs],
            }
            if include_vec:
                rows["vec_d"] = [list(v) for v in x]
                rows["nrm"] = nrm
            cols = (
                [id_col, "vec_d", "nrm", "buckets"]
                if include_vec
                else [id_col, "buckets"]
            )
            yield pd.DataFrame(rows)[cols]

    # ONE kernel row per vector (the per-table fan-out happens JVM-side
    # via posexplode): the python worker builds each vector list once,
    # not num_tables times — at 8 tables that was 8x the Arrow transfer
    # and 8x the list construction, the dominant cost of the pass.
    vec_fields = ", vec_d array<double>, nrm double" if include_vec else ""
    schema = f"{id_col} {id_field}{vec_fields}, buckets array<bigint>"
    per_vec = df.select(id_col, vec_col).mapInPandas(kernel, schema)
    keep = [id_col, "vec_d", "nrm"] if include_vec else [id_col]
    return per_vec.select(
        *keep, F.posexplode("buckets").alias("table", "bucket")
    ).withColumn("table", F.col("table").cast("int"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_planes: int = 6,
    num_tables: int = 1,
    max_bucket_size: int | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's bucket in ANY of
    ``num_tables`` LSH tables, then exact cosine re-ranks.  Recall < 1 by
    design: raise num_planes for smaller (more precise) buckets, raise
    num_tables for recall (union of independent chances — the q30 catalog
    config hits recall@5 >= 0.8 vs brute force, pinned by test).

    ``max_bucket_size`` sheds degenerate corpus buckets (a near-constant
    embedding region hashing to one signature) before the query join —
    the skew guard; true neighbors stay reachable via the other tables.

    Shape at 100 TB: the corpus side NEVER shuffles — candidates stream
    through a broadcast hash join against the tiny query side, and the
    skew guard is a count-only census (the q36 simhash pattern): a slim
    (id, table, bucket) kernel pass aggregates to at most
    num_tables * 2^num_planes count rows, and oversized bucket keys come
    back to the driver as literals folded into the bucket-equality
    filter.  Cost: one extra slim signature pass when the cap is set
    (an earlier count-over-bucket window ran the kernel once but
    shuffled num_tables full-vector copies of the corpus on the bucket
    key — measured 6.05x sf1 growth vs ~linear for the kernel pass).
    Candidate dedup and the top-k window shuffle only
    (query_id, neighbor_id, cos).

    ``round_to`` rounds cos BEFORE the top-k window so the ranking (and
    its ties) is reproducible in an external SQL oracle that rounds the
    same way — the q28 parity technique applied to top-k."""
    cb = _table_buckets(corpus, dim, id_col, vec_col, num_planes, num_tables)
    cb = cb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec_d").alias("cv"),
        F.col("nrm").alias("c_nrm"),
        F.col("table").alias("nb_table"),
        F.col("bucket").alias("nb_bucket"),
    )
    if max_bucket_size is not None:
        # NOTE: the census job runs when this function is CALLED
        # (driver-side literals), not when the returned frame executes —
        # the q36 contract.  The count shuffle is bounded by the bucket
        # key space (num_tables * 2^num_planes), not the corpus.
        slim = _table_buckets(
            corpus, dim, id_col, vec_col, num_planes, num_tables,
            include_vec=False,
        )
        shed = (
            slim.groupBy("table", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .collect()
        )
        shed_bits: dict[int, list[int]] = {}
        for row in shed:
            shed_bits.setdefault(row["table"], []).append(row["bucket"])
        for t, buckets in shed_bits.items():
            cb = cb.filter(
                ~(
                    (F.col("nb_table") == t)
                    & F.col("nb_bucket").isin(buckets)
                )
            )
    qb = _table_buckets(
        queries.withColumnRenamed(query_id_col, "query_id"),
        dim,
        "query_id",
        vec_col,
        num_planes,
        num_tables,
    ).select(
        F.col("query_id"),
        F.col("vec_d").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        F.col("table").alias("q_table"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = (
        cb.join(
            F.broadcast(qb),
            (F.col("nb_table") == F.col("q_table"))
            & (F.col("nb_bucket") == F.col("q_bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_double(F.col("qv"), F.col("cv"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cos"),
        )
        # a pair found by several tables scores identically -> exact dedup
        .distinct()
    )
    if round_to is not None:
        scored = scored.withColumn("cos", duck_round_expr("cos", round_to))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v| / 127,
    code_i = round(v_i / scale) — the standard vector-store compression
    (4x over float32, 8x over float64) ahead of ANN search; re-rank on the
    float originals for the final top-k.

    Pure staged Catalyst projections (vec -> amax/scale -> codes -> error),
    no shuffle, no UDF: safe at any scale.  Returns (id, scale, codes,
    l2_err) with l2_err the reconstruction error ||v - codes*scale||_2.
    Zero vectors quantize to all-zero codes with scale 0."""
    staged = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec_d"),
    ).withColumn("scale", int8_scale_col(F.col("vec_d")))
    coded = staged.withColumn(
        "codes", int8_codes_col(F.col("vec_d"), F.col("scale"))
    )
    err = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("vec_d"),
                F.col("codes"),
                # square by multiplication, not pow: libm pow(x, 2.0) is
                # not guaranteed bit-equal to x*x across engines
                lambda x, c: (x - c.cast("double") * F.col("scale"))
                * (x - c.cast("double") * F.col("scale")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return coded.select(
        F.col(id_col), "scale", "codes", err.alias("l2_err")
    )


_CENTROID_CACHE: dict[tuple, list[list[float]]] = {}


def ivf_train_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_lists: int = 16,
    iters: int = 5,
    train_limit: int = 2048,
    cache_key: str | None = None,
) -> list[list[float]]:
    """Train an IVF coarse quantizer: k-means on a deterministic sample.

    Standard IVF practice — the quantizer is trained on a bounded sample
    driver-side (numpy, deterministic: lowest-id rows seed and feed Lloyd
    iterations), then shipped to executors as literals.  Assignment and
    search stay fully distributed (ivf_assign / ivf_topk); only the tiny
    k_lists x dim centroid matrix ever lives on the driver.

    ``cache_key``: a production IVF index trains its quantizer ONCE per
    index build, not once per query — callers reading an immutable
    dataset pass its path (plus any sampling config that isn't in the
    explicit args) to memoize the trained matrix for the process
    lifetime.  Training is deterministic, so the cache can never go
    stale for the same underlying bytes; omit the key when the input
    frame is mutable/derived.
    """
    if cache_key is not None:
        full_key = (cache_key, id_col, vec_col, k_lists, iters, train_limit)
        if full_key in _CENTROID_CACHE:
            return _CENTROID_CACHE[full_key]
    import numpy as np

    pdf = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(train_limit)
        .toPandas()
    )
    x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    cents = lloyd_centroids(x, k_lists, iters)
    if cache_key is not None:
        _CENTROID_CACHE[full_key] = cents
    return cents


def lloyd_centroids(x, k_lists: int, iters: int) -> list[list[float]]:
    """The numpy Lloyd core of ivf_train_centroids, shared with the
    DuckDB-oracle builders (train_centroids_from_parquet): the SAME float64
    ops on the SAME sample matrix make the centroid literals rendered into
    an oracle's SQL bit-identical to the ones the engine ships to
    executors, so oracle parity checks assignment/probe/scoring — not
    driver-side numpy reproducibility (which this sharing guarantees)."""
    import numpy as np

    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0  # zero vectors stay zero instead of NaN
    x = x / norms
    cents = x[:k_lists].copy()
    for _ in range(iters):
        sims = x @ cents.T
        assign = np.argmax(sims, axis=1)
        for c in range(k_lists):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return [[float(v) for v in c] for c in cents]


def scaled_k_lists(
    n_vectors: int, k_lists: int, target_cluster_size: int | None
) -> int:
    """Size-aware inverted-list count: ceil(n / target), floored at the
    caller's base ``k_lists``.

    With a FIXED k_lists, mean cluster size grows linearly with the
    corpus and any in-cluster pair search (semantic_dedup) grows
    QUADRATICALLY — sum(|cluster|^2) ~ n^2 / k.  Scaling the list count
    to a target cluster size caps |cluster| so pair work stays ~n x
    target (measured: q94 at sf10 went 235 s -> linear after switching;
    the second decade exposed what sf0.1 -> sf1 hid in fixed overhead).
    The rule is shared by the Spark trainer and the DuckDB oracle
    builder so both derive identical centroid matrices.

    Capped at ``MAX_K_LISTS``: the centroid trainer is DRIVER-side
    (train_limit grows 4x with k and Lloyd's sims matrix is
    O(train_limit x k)), and uncapped k would make the driver cost
    quadratic in corpus size — at the cap the sample matrix stays
    ~8 MB/dim-64 and the rendered centroid literals bounded.  Beyond
    n = MAX_K_LISTS x target (half a billion vectors at target=256)
    mean cluster size grows past target again; the scale path there is
    a two-level (coarse-then-fine) quantizer, not more driver lists."""
    if target_cluster_size is None:
        return k_lists
    want = max(k_lists, -(-n_vectors // target_cluster_size))
    if want > MAX_K_LISTS:
        import warnings

        warnings.warn(
            f"scaled_k_lists: capping k_lists at {MAX_K_LISTS} (requested "
            f"{want} for n={n_vectors}, target={target_cluster_size}); "
            "mean cluster size will exceed the target — consider a "
            "two-level quantizer at this scale",
            stacklevel=2,
        )
    return min(want, MAX_K_LISTS)


@functools.lru_cache(maxsize=16)
def train_centroids_from_parquet(
    parquet_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_lists: int = 16,
    iters: int = 5,
    train_limit: int = 2048,
    target_cluster_size: int | None = None,
) -> list[list[float]] | None:
    """ivf_train_centroids without a SparkSession: read the table with
    pyarrow, take the same deterministic lowest-id sample, run the same
    Lloyd core.  float32 parquet values convert to float64 exactly in both
    readers, so the result is bit-identical to what the engine trains.

    Used by the DuckDB oracle builders for q44/q91/q94 to render the
    centroids as SQL literals (repr round-trips doubles exactly).  Returns
    None when the parquet is missing — callers fall back to a rows-only
    oracle entry.  lru_cached: the three oracle builders train with
    identical arguments at import, and the file at a given path is
    immutable in this harness — callers must treat the returned matrix
    as read-only."""
    from pathlib import Path

    if not Path(parquet_path).exists():
        return None
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(parquet_path, columns=[id_col, vec_col])
    k_lists = scaled_k_lists(tbl.num_rows, k_lists, target_cluster_size)
    if target_cluster_size is not None:
        train_limit = max(train_limit, 4 * k_lists)
    pdf = tbl.to_pandas().sort_values(id_col, kind="mergesort").head(train_limit)
    x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    return lloyd_centroids(x, k_lists, iters)


def _sql_double(v: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip form
    and Spark's parser is correctly-rounding, so the JVM double is
    bit-identical to the Python one (verified including subnormals and
    Double.MAX_VALUE).  Non-finite values have no SQL literal — fail
    loudly rather than render 'infD'."""
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(f"_sql_double: non-finite literal {v!r}")
    return repr(f) + "D"


def _lit_double_arrays(rows: list[list[float]]) -> Column:
    """array<array<double>> literal rendered as ONE SQL expression.

    Building the same constant from per-element ``F.lit`` costs one
    py4j round trip per element — measured 2.2 s of pure driver time
    for a 16x64 centroid table (every bench pass re-pays it), vs ~3 ms
    to parse this string JVM-side; the parsed Literal is value- and
    type-identical to the constant-folded CreateArray form (round-12)."""
    inner = ",".join(
        "array(" + ",".join(_sql_double(v) for v in row) + ")"
        for row in rows
    )
    return F.expr(f"array({inner})")


def _centroid_scores(vec_d: Column, centroids: list[list[float]]) -> Column:
    """Array of dot(vec, centroid_i) — centroids are literal arrays, the
    vector is a staged attribute; inner lambdas touch lambda vars only."""
    cents = _lit_double_arrays(centroids)
    return F.transform(cents, lambda c: dot_double(vec_d, c))


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec_d, nrm, ivf_list) — each vector tagged with its nearest
    centroid list.  Shuffle-free (an Arrow ``mapInPandas`` stage over the
    scan); at 100 TB pair with a partitioned write on ivf_list so probes
    prune partitions.

    The scoring kernel is numpy, but ACCUMULATES DIMENSION-BY-DIMENSION
    in float64 (``scores += V[:, d] * C[:, d]`` for d in order) — the
    exact add sequence of the Catalyst left fold the oracles replicate,
    so assignments are bit-identical to the previous
    transform+aggregate projection while skipping its interpreted-HOF
    cost (k_lists * dim lambda evaluations per row; measured 1.2 s ->
    0.2 s for 20k x 64 x 16 at sf1).  First-index argmax matches
    array_position(max) on ties.
    """
    import numpy as np

    nf = norm_frame(df, id_col, vec_col)
    cmat = np.asarray(centroids, dtype=np.float64)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, vec_d array<double>, nrm double, ivf_list int"
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["vec_d"].to_numpy()).astype(np.float64)
            scores = np.zeros((len(pdf), cmat.shape[0]), dtype=np.float64)
            for d in range(cmat.shape[1]):
                scores += v[:, d : d + 1] * cmat[:, d]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "vec_d": pdf["vec_d"],
                    "nrm": pdf["nrm"].to_numpy(),
                    "ivf_list": scores.argmax(axis=1).astype("int32"),
                }
            )

    return nf.mapInPandas(run, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k_lists: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    round_to: int | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: candidates come from each query's ``nprobe``
    closest centroid lists, exact cosine re-ranks.

    The probe join key is the list id, so comparisons are
    sum(|probed list|) per query instead of N; recall tunes with nprobe
    (nprobe = k_lists degrades to exact brute force).  ``round_to``
    rounds cos before the top-k window (oracle-parity ranking, see
    lsh_topk).
    """
    centroids = ivf_train_centroids(
        corpus, id_col, vec_col, k_lists, iters, cache_key=cache_key
    )
    cb = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec_d").alias("cv"),
        F.col("nrm").alias("c_nrm"),
        F.col("ivf_list").alias("c_list"),
    )
    qn = norm_frame(
        queries.withColumnRenamed(query_id_col, "query_id"), "query_id", vec_col
    )
    q_scored = qn.select(
        F.col("query_id"),
        F.col("vec_d").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        _centroid_scores(F.col("vec_d"), centroids).alias("cscores"),
    )
    # top-nprobe centroid indices per query: sort (score, idx) structs desc
    probes = q_scored.select(
        "query_id", "qv", "q_nrm",
        F.slice(
            F.reverse(
                F.array_sort(
                    F.zip_with(
                        F.col("cscores"),
                        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                        lambda s, i: F.struct(
                            s.alias("score"), i.alias("idx")
                        ),
                    )
                )
            ),
            1,
            nprobe,
        ).alias("probe_structs"),
    ).select(
        "query_id", "qv", "q_nrm",
        F.explode(F.col("probe_structs.idx")).alias("q_list"),
    )
    scored = (
        cb.join(
            F.broadcast(probes),
            (F.col("c_list") == F.col("q_list"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_double(F.col("qv"), F.col("cv"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cos"),
        )
    )
    if round_to is not None:
        scored = scored.withColumn("cos", duck_round_expr("cos", round_to))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k_lists: int = 16,
    iters: int = 5,
    train_limit: int = 2048,
    cache_key: str | None = None,
    target_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings with the IVF coarse quantizer, find cosine near-dup pairs
    WITHIN each cluster, greedily drop the higher-id side of every pair.

    100 TB shape: centroid training is a bounded driver-side sample
    (ivf_train_centroids); assignment is a pure projection; the pair
    search groups each cluster into the per-bucket Arrow kernel
    (_bucket_pair_kernel) — sum(|cluster|^2) comparisons, never N^2.
    Cross-cluster near-dups are missed by construction; that recall
    tradeoff is the published algorithm's, tuned via k_lists (fewer
    lists = higher recall, bigger buckets).  Returns the surviving rows
    of ``df`` unchanged.
    """
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import dedup_corpus

    if target_cluster_size is not None:
        # one count (the trainer is already eager): cap mean cluster size
        # so the in-cluster pair search stays ~n x target, never n^2/k —
        # see scaled_k_lists
        k_lists = scaled_k_lists(df.count(), k_lists, target_cluster_size)
        train_limit = max(train_limit, 4 * k_lists)
    cents = ivf_train_centroids(
        df, id_col, vec_col, k_lists=k_lists, iters=iters,
        train_limit=train_limit, cache_key=cache_key,
    )
    # ivf_assign already carries (id, vec_d, ivf_list) — group clusters
    # directly into the per-bucket Arrow pair kernel (ONE shuffle on the
    # cluster id; the previous shape joined the corpus back to its own
    # projection and ran a bucket-equality self-join, computing the
    # assignment twice and scoring pairs in interpreted Catalyst folds)
    assigned = ivf_assign(df, cents, id_col, vec_col).select(
        id_col, "vec_d", "ivf_list"
    )
    id_field = df.schema[id_col].dataType.simpleString()
    kernel, schema = _bucket_pair_kernel(
        id_col, "vec_d", id_field, threshold, None
    )
    pairs = assigned.groupBy("ivf_list").applyInPandas(kernel, schema)
    return dedup_corpus(df, pairs, id_col)


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Embedding-space benchmark decontamination — the DENSE complement of
    the 8-gram overlap check (llm/sampling.py decontaminate / q56): a
    corpus vector whose cosine against ANY eval-set vector reaches
    ``threshold`` is flagged as contamination (paraphrased or reformatted
    benchmark items that share no 8-gram still land next to the original
    in embedding space).

    Returns every corpus row with ``max_eval_cos`` (rounded 6) and a
    ``contaminated`` boolean; callers filter.  Zero-norm corpus vectors
    have no cosine direction: NULL max_eval_cos, contaminated false.

    100 TB shape: eval sets are benchmark-sized (thousands, not corpus-
    sized), so the eval vectors COLLECT to the driver (the IVF-centroid
    precedent for bounded driver-side structures) and render as literal
    arrays — the whole check is then a PURE PROJECTION over the corpus:
    no join, no shuffle, streams with the scan.  For eval sets too big
    for literals, fall back to a broadcast join + map-side max.

    Raises ``ValueError`` if any eval vector component or norm is
    non-finite (the _sql_double literal-render guard): NaN/Inf would
    silently poison every cosine, so failing loudly at build time is
    deliberate.  Validate or drop non-finite eval rows upstream."""
    ev = (
        norm_frame(eval_df, id_col, vec_col)
        .filter(F.col("nrm") > 0)
        .orderBy(id_col)
        .collect()
    )
    if not ev:
        raise ValueError("semantic_decontaminate: eval set is empty")
    # ONE SQL-rendered literal instead of |eval| x (dim + 1) F.lit py4j
    # round trips (the _lit_double_arrays rationale) — same values,
    # same array<struct<v:array<double>, n:double>> type.
    evlit = F.expr(
        "array("
        + ",".join(
            "named_struct('v', array("
            + ",".join(_sql_double(x) for x in r["vec_d"])
            + f"), 'n', {_sql_double(r['nrm'])})"
            for r in ev
        )
        + ")"
    )
    cn = norm_frame(corpus, id_col, vec_col, extra_cols=list(keep_cols))
    cos_arr = F.transform(
        evlit,
        lambda e: dot_double(F.col("vec_d"), e["v"])
        / (F.col("nrm") * e["n"]),
    )
    mc = F.when(F.col("nrm") > 0, F.array_max(cos_arr))
    # stage the |eval|-way cosine sweep once; round/compare column refs
    staged = cn.select(F.col(id_col), *keep_cols, mc.alias("_mc"))
    return staged.select(
        F.col(id_col),
        *keep_cols,
        duck_round_expr(F.col("_mc"), 6).alias("max_eval_cos"),
        F.coalesce(F.col("_mc") >= F.lit(threshold), F.lit(False)).alias(
            "contaminated"
        ),
    )


def int8_scale_col(vec_d: Column) -> Column:
    """max|v| / 127 — the symmetric int8 quantization scale, the SAME math
    as quantize_int8 (q58's bit-exact oracle covers it)."""
    return F.array_max(F.transform(vec_d, F.abs)) / F.lit(127.0)


def int8_codes_col(vec_d: Column, scale: Column) -> Column:
    """round(v / scale) codes.  ``scale`` MUST be a staged attribute
    (withColumn), never the raw int8_scale_col expression: an inlined
    scale re-evaluates its O(dim) array_max once per element (O(dim^2)
    per row) — quantize_int8 documents the same staging rule."""
    return F.when(
        scale > 0,
        F.transform(vec_d, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(vec_d, lambda x: F.lit(0).cast("int")))


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k_lists: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    rerank_factor: int = 3,
    round_to: int | None = None,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF + int8 codes with asymmetric distance — the standard
    billion-scale ANN layout (FAISS IVF-SQ8 shape): the coarse quantizer
    routes each query to ``nprobe`` inverted lists, candidates are scored
    ASYMMETRICALLY (float query against int8-reconstructed corpus codes:
    cos ~ scale * dot(q, codes) / (|q| * scale * |codes|)), the
    ``k * rerank_factor`` best per query are re-ranked on the float
    originals, and the exact top-k wins.

    100 TB shape: the corpus carries only (list, scale, int8 codes) — 4x
    smaller than float32, 8x than float64 — so the probe join streams a
    quarter of the bytes of full-precision IVF; the rerank fetch joins the
    tiny shortlist (n_queries * k * rerank_factor rows) back to the float
    originals by id.  Centroids are the q44 bounded-sample quantizer;
    codes are the q58 quantizer, bit-exact per its oracle.

    ``round_to`` rounds the final cos before the top-k window
    (oracle-parity ranking, see lsh_topk).  Zero-norm rows are filtered
    EXPLICITLY before the asymmetric scoring: a zero corpus vector
    reconstructs to c_nrm_approx = 0 and a zero query has q_nrm = 0,
    either of which would make approx_cos NULL (Spark non-ANSI
    div-by-zero) and silently drop the candidate via NULL ordering — the
    filter makes that exclusion intentional (a zero vector has no
    defined cosine direction; ivf_train_centroids guards the same way)."""
    centroids = ivf_train_centroids(
        corpus, id_col, vec_col, k_lists, iters, cache_key=cache_key
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)

    # int8 encode + reconstructed norm in ONE Arrow pass over the
    # assigned frame.  The numpy math mirrors the staged Catalyst
    # expressions q58's oracle pins bit-for-bit: scale = max|v|/127
    # (max is exact, one division); codes = HALF_UP round of v/scale,
    # computed as floor(|x|) + (frac >= 0.5) where frac = |x|-floor(|x|)
    # — for |x| < 2^52 that subtraction is EXACT in float64, so the
    # comparison decides on the true fractional part of the binary
    # value, exactly like BigDecimal HALF_UP on the same double.  (The
    # tempting floor(|x|+0.5) is NOT equivalent: |x| = 0.5 - 2^-54 has
    # |x|+0.5 round UP to 1.0, giving code 1 where HALF_UP gives 0.)
    # The reconstructed norm accumulates codes^2 dimension-by-dimension
    # like the fold.  The previous expression pipeline evaluated ~200
    # interpreted HOF lambdas per row (encode + norm folds): cb alone
    # cost 4.3 s at sf1, now ~0.5 s.
    import numpy as np
    import pandas as pd

    nid_type = corpus.schema[id_col].dataType.simpleString()

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["vec_d"].to_numpy()).astype(np.float64)
            scale = np.abs(v).max(axis=1) / 127.0
            safe = np.where(scale > 0, scale, 1.0)[:, None]
            x = v / safe
            ax = np.abs(x)
            fl = np.floor(ax)
            half_up = fl + (ax - fl >= 0.5)
            codes = (np.sign(x) * half_up).astype("int32")
            codes[scale <= 0] = 0
            sq = np.zeros(len(pdf), dtype=np.float64)
            cd = codes.astype(np.float64)
            for d in range(cd.shape[1]):
                sq += cd[:, d] * cd[:, d]
            nrm = scale * np.sqrt(sq)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "c_list": pdf["ivf_list"].to_numpy(),
                    "c_scale": scale,
                    "c_codes": list(codes),
                    "c_nrm_approx": nrm,
                }
            )

    cb = assigned.mapInPandas(
        encode,
        f"neighbor_id {nid_type}, c_list int, c_scale double, "
        "c_codes array<int>, c_nrm_approx double",
    ).filter(F.col("c_nrm_approx") > 0)
    qn = norm_frame(
        queries.withColumnRenamed(query_id_col, "query_id"), "query_id", vec_col
    ).filter(F.col("nrm") > 0)
    q_scored = qn.select(
        F.col("query_id"),
        F.col("vec_d").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        _centroid_scores(F.col("vec_d"), centroids).alias("cscores"),
    )
    probes = q_scored.select(
        "query_id", "qv", "q_nrm",
        F.slice(
            F.reverse(
                F.array_sort(
                    F.zip_with(
                        F.col("cscores"),
                        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                        lambda s, i: F.struct(s.alias("score"), i.alias("idx")),
                    )
                )
            ),
            1,
            nprobe,
        ).alias("probe_structs"),
    ).select(
        "query_id", "qv", "q_nrm",
        F.explode(F.col("probe_structs.idx")).alias("q_list"),
    )
    # asymmetric distance per candidate: scale * dot(q_float, codes),
    # normalized by the float query norm and the reconstructed corpus
    # norm.  Kept as a streamed broadcast join + per-pair fold, NOT a
    # cogrouped kernel: grouping by list id would cap the scoring
    # stage's parallelism at k_lists tasks and materialize an entire
    # inverted list (corpus/k_lists rows) per task — exactly the shape
    # that breaks at the 100 TB posture, while the join streams the
    # codes row-by-row with no corpus shuffle.  With the encode kernel
    # upstream, this fold is no longer the bottleneck (candidates per
    # query are nprobe list fractions, not the corpus).
    adc = (
        F.col("c_scale")
        * F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.col("c_codes"),
                lambda q, c: q * c.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / (F.col("q_nrm") * F.col("c_nrm_approx"))
    )
    approx = (
        cb.join(
            F.broadcast(probes),
            (F.col("c_list") == F.col("q_list"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", adc.alias("approx_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    shortlist = approx.withColumn("arnk", F.row_number().over(w)).filter(
        F.col("arnk") <= k * rerank_factor
    )
    # rerank the shortlist on the float originals (fetch by id; the query
    # vectors re-attach from the tiny broadcast query frame)
    originals = norm_frame(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec_d").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    qvecs = qn.select(
        "query_id", F.col("vec_d").alias("qv"), F.col("nrm").alias("q_nrm")
    )
    reranked = (
        shortlist.join(F.broadcast(qvecs), "query_id")
        .join(originals, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_double(F.col("qv"), F.col("cv"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cos"),
        )
    )
    if round_to is not None:
        reranked = reranked.withColumn("cos", duck_round_expr("cos", round_to))
    wf = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        reranked.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# --------------------------------------------------------------------------
# Exact-integer distributed k-means (Lloyd) — the q108 exact-arithmetic
# idea applied to clustering.
# --------------------------------------------------------------------------
def kmeans_exact_assignments(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    shift: int = 1000,
) -> DataFrame:
    """Distributed Lloyd k-means in EXACT bigint arithmetic: returns
    (id, cluster_id, qv) — the assignment after ``iters`` rounds from
    deterministic seeds (the ``k`` lowest-id vectors).

    Every quantity is an integer, so the result is bit-identical across
    engines and partitionings (double-based k-means can't be compared
    exactly: per-cluster mean sums depend on reduction order):

    - vectors quantize once to ``round(x * scale) + shift`` (round =
      half-away-from-zero in both Spark and DuckDB — the q58 contract);
      ``shift`` makes every component non-negative so integer division
      below is floor division in every engine;
    - centroids are INTEGER vectors ``sum div n`` (the floored per-dim
      mean), so distances stay small exact bigints;
    - assignment ties break on the lowest cluster id.

    Scale shape (per iteration): assignment is a PURE PROJECTION — the
    k x dim centroid table is collected to the driver (bounded, the IVF
    training-sample precedent) and rendered as literals, so no join and
    no shuffle touches the corpus; the centroid update is ONE shuffle of
    (cluster, dim, component) with map-side combine, k*dim rows out.
    Empty clusters keep their previous centroid.
    """
    q = df.select(
        F.col(id_col),
        F.expr(
            f"transform({vec_col}, x -> cast(round(cast(x as double) * {scale})"
            f" as bigint) + {shift})"
        ).alias("qv"),
    )
    seeds = q.orderBy(id_col).limit(k).collect()
    centroids = [list(r["qv"]) for r in seeds]

    def assign(frame: DataFrame) -> DataFrame:
        # centroid literals render as ONE SQL bigint-array expression per
        # centroid instead of dim F.lit py4j round trips each (the
        # _lit_double_arrays rationale; k x dim round trips per assign
        # call were pure driver time re-paid every invocation).  'L'
        # literals are bigint where per-element F.lit(int) was int32 —
        # the subtraction against bigint qv promoted anyway, so the
        # arithmetic and results are unchanged.
        cands = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("qv"),
                            F.expr(
                                "array("
                                + ",".join(f"{int(c)}L" for c in cent)
                                + ")"
                            ),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    F.lit(cid).cast("int").alias("cid"),
                )
                for cid, cent in enumerate(centroids)
            ]
        )
        return frame.withColumn("cluster_id", F.array_min(cands)["cid"])

    assigned = assign(q)
    for _ in range(iters - 1):
        upd = (
            assigned.select(
                "cluster_id", F.posexplode("qv").alias("dim", "v")
            )
            .groupBy("cluster_id", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sums: dict[int, dict[int, tuple[int, int]]] = {}
        for r in upd:
            sums.setdefault(r["cluster_id"], {})[r["dim"]] = (r["s"], r["n"])
        centroids = [
            [sums[cid][d][0] // sums[cid][d][1] for d in range(len(cent))]
            if cid in sums
            else cent  # empty cluster keeps its previous centroid
            for cid, cent in enumerate(centroids)
        ]
        assigned = assign(q)
    return assigned.select(F.col(id_col), "cluster_id", "qv")


def bm25_topk(
    docs: DataFrame,
    n_queries: int | None = None,
    qterms: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """Okapi BM25 top-k retrieval over an inverted index — the sparse
    counterpart to :func:`brute_force_topk`/:func:`lsh_topk`, extracted
    from the q110 catalog query so metadata pipelines can chain it
    (index -> retrieve -> rrf_fuse -> mmr_rerank).

    The index is the postings frame (term, doc, tf): ONE shuffle of the
    exploded token stream with map-side combine; document lengths and
    document frequencies both REDUCE from the already-aggregated
    postings (no second corpus scan).  Queries are either the distinct
    terms of the lowest-``n_queries`` doc ids ("more like this") or an
    explicit ``qterms`` (query_id, term) frame — exactly one must be
    given.  The tiny query-term list broadcasts, so scoring touches only
    matching postings rows; at 100 TB additionally stoplist df-heavy
    terms before the join.  Lucene-style idf = ln(1 + (N-df+0.5)/
    (df+0.5)) keeps scores non-negative at any df.  Scores are rounded
    to ``round_to`` BEFORE the rank window (the q30 cross-engine
    tie-break contract); ties break on neighbor id.
    """
    if (n_queries is None) == (qterms is None):
        raise ValueError(
            "bm25_topk: give exactly one of n_queries / qterms"
        )
    if top_k <= 0:
        raise ValueError("bm25_topk: top_k must be positive")
    if k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError("bm25_topk: need k1 >= 0 and 0 <= b <= 1")
    from ominimo_dynamic_data_pipeline_spark.llm.text import tokens

    tf = (
        docs.select(
            F.col(id_col).alias("_bm_doc"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("_bm_doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("_bm_doc").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if qterms is None:
        q = tf.filter(F.col("_bm_doc") < n_queries).select(
            F.col("_bm_doc").alias("query_id"), "term"
        )
    else:
        missing = {"query_id", "term"} - set(qterms.columns)
        if missing:
            raise ValueError(
                f"bm25_topk: qterms lacks columns {sorted(missing)}"
            )
        q = qterms.select("query_id", "term").distinct()
    scored = (
        tf.withColumnRenamed("_bm_doc", "neighbor_id")
        .join(F.broadcast(q), "term")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(df_), "term")
        .join(
            dl.withColumnRenamed("_bm_doc", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(stats))
        .groupBy("query_id", "neighbor_id")
        .agg(
            duck_round_expr(
                F.sum(
                    F.log(
                        F.lit(1.0)
                        + (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    )
                    * F.col("tf")
                    * (k1 + 1)
                    / (
                        F.col("tf")
                        + k1
                        * (
                            1
                            - b
                            + b
                            * F.col("dl")
                            / (F.col("sum_dl") * 1.0 / F.col("n_docs"))
                        )
                    )
                ),
                round_to,
            ).alias("bm25")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "bm25", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N retrieval runs:
    fused score = sum over runs of 1 / (k0 + rank), the standard way to
    combine a sparse (BM25) and a dense (embedding) ranking without score
    calibration — ranks are comparable across runs even when raw scores
    are not.  A doc missing from a run simply contributes nothing.

    Output: (query, id, rrf_score, n_runs, fused_rank) with fused_rank a
    per-query row_number over (score DESC, id ASC).  Scale shape: each
    run is already top-k per query, so the union is |Q| * k * runs rows —
    tiny relative to the retrieval stages that produced it; one keyed
    reduce + one per-query window, no data-sized shuffle.

    Float discipline (the dsir_importance technique): each contribution
    is quantized to an INTEGER nano-unit, round(1e9 / (k0 + rank)) as
    bigint, so the per-doc sum is exact integer arithmetic — with 3+
    runs a float sum would be order-dependent across engines.
    ``rrf_score`` is the exact nano sum / 1e9 (bit-identical doubles in
    any engine), never re-rounded.
    """
    if not rankings:
        raise ValueError("rrf_fuse: at least one ranking required")
    if k0 <= 0:
        raise ValueError("rrf_fuse: k0 must be positive")
    contribs = []
    for i, r in enumerate(rankings):
        missing = {query_col, id_col, rank_col} - set(r.columns)
        if missing:
            raise ValueError(
                f"rrf_fuse: ranking #{i} lacks columns {sorted(missing)}"
            )
        # A NULL or non-positive rank would otherwise yield a NULL
        # nano contribution (1e9/0 is NULL under non-ANSI Spark) and a
        # silently garbage fused score — fail loudly per row instead.
        rank_checked = F.when(
            F.col("_rank").isNull() | (F.col("_rank") < 1),
            F.raise_error(
                F.concat(
                    F.lit(f"rrf_fuse: ranking #{i} has a NULL or "
                          f"non-positive rank for id "),
                    F.col(id_col).cast("string"),
                )
            ).cast("bigint"),
        ).otherwise(F.col("_rank"))
        contribs.append(
            # A well-formed run has one rank per (query, id); a caller
            # passing an un-deduped frame would otherwise double-count
            # contributions AND inflate n_runs — keep the best (lowest)
            # rank per pair so n_runs stays "number of runs containing
            # this doc" by construction.
            r.groupBy(query_col, id_col)
            .agg(F.min(rank_col).alias("_rank"))
            .select(
                query_col,
                id_col,
                F.round(F.lit(1e9) / (rank_checked + F.lit(k0)))
                .cast("bigint")
                .alias("_nano"),
            )
        )
    u = functools.reduce(DataFrame.unionByName, contribs)
    w = Window.partitionBy(query_col).orderBy(
        F.desc("_nano_sum"), F.asc(id_col)
    )
    return (
        u.groupBy(query_col, id_col)
        .agg(
            F.sum("_nano").alias("_nano_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        )
        .select(
            query_col,
            id_col,
            (F.col("_nano_sum") / 1e9).alias("rrf_score"),
            "n_runs",
            F.row_number().over(w).cast("bigint").alias("fused_rank"),
        )
    )


def duck_round(x: float, d: int) -> float:
    """DuckDB's ROUND(double, d) exactly: std::round(x * 10^d) / 10^d —
    multiply FIRST (whose own double rounding can land exactly on .5),
    then half away from zero.  Spark's F.round instead goes through
    BigDecimal.valueOf's shortest-decimal-string semantics, and the two
    diverge on boundary doubles (the round-9 sf1 sweep caught an
    mmr_score where the multiply crossed the half: 0.4146 vs 0.4147) —
    any value that must hash-match a DuckDB ROUND must use THIS."""
    import math as _math

    p = 10.0 ** d
    v = x * p
    f = float(_math.floor(v))
    frac = v - f
    if frac > 0.5 or (frac == 0.5 and v > 0.0):
        f += 1.0
    return f / p


def duck_round_cutoff(threshold: float, d: int) -> float:
    """Smallest non-negative double x with duck_round(x, d) >= threshold.

    duck_round(., d) is monotone non-decreasing, so
    {x : duck_round(x, d) >= t} is exactly {x >= cutoff} — filtering the
    RAW score with this cutoff selects precisely the rows whose ROUNDED
    score clears the threshold.  That matters for plans: a filter on a
    rounded column gets predicate-pushed below the rounding projection,
    and pushdown substitutes the full rounding expression (which
    references its argument ~10x — see duck_round_expr's contract) into
    the join condition.  Filtering the raw value keeps the pushed
    predicate one-copy cheap; the projection above rounds once for the
    survivors.  Bisection runs on the raw IEEE bit ordering (valid for
    non-negative doubles), so the cutoff is exact to the ULP.
    Scores here (jaccard/containment/cosine-with-threshold) are
    non-negative by construction; assert rather than guess otherwise.
    """
    import struct

    if threshold <= 0.0:
        # every non-negative score rounds to >= a non-positive threshold,
        # so the cutoff filter degenerates to "keep all" — returning 0.0
        # preserves the pre-round-11 behavior of threshold=0.0 callers
        # (containment_scores/near_dups kept all non-null pairs) instead
        # of asserting (round-11 ADVICE)
        return 0.0
    bits = lambda x: struct.unpack("<q", struct.pack("<d", x))[0]
    unbits = lambda b: struct.unpack("<d", struct.pack("<q", b))[0]
    lo, hi = 0.0, float(threshold) + 10.0 ** (-d)
    if duck_round(lo, d) >= threshold:
        return lo
    assert duck_round(hi, d) >= threshold
    lo_b, hi_b = bits(lo), bits(hi)
    while hi_b - lo_b > 1:
        mid_b = (lo_b + hi_b) // 2
        if duck_round(unbits(mid_b), d) >= threshold:
            hi_b = mid_b
        else:
            lo_b = mid_b
    return unbits(hi_b)


def duck_round_expr(col: Column | str, d: int = 0) -> Column:
    """`duck_round` as a pure-JVM Column expression — DuckDB's
    ROUND(double, d) bit-exactly, inside whole-stage codegen (no UDF,
    no Arrow hop).

    Why it is exact: with v = x * 10^d (the same IEEE multiply DuckDB
    performs), `v - floor(v)` is computed EXACTLY in doubles — for
    |v| >= 1 Sterbenz's lemma applies (floor(v) is within [v/2, 2v]),
    and for |v| < 1 floor(v) is 0 or -1, both exact — so the
    half-away-from-zero tie test below sees the true fractional part,
    matching std::round(v) for every finite double with |v| < 2^52.
    For |v| >= 2^52, v is already integral and std::round(v) == v, so
    the result is v / 10^d; that branch also keeps F.floor's LongType
    from overflowing.  NaN passes through (DuckDB: round(NaN) = NaN),
    and NULL propagates through the arithmetic.

    Use this, not F.round, for any final double that must hash-match a
    DuckDB `ROUND(double, d)` oracle: F.round goes through
    BigDecimal.valueOf's shortest-decimal-string HALF_UP and diverges
    from DuckDB on boundary doubles (the round-9 sf1 sweep caught one).

    CHEAP-ARGUMENT CONTRACT: the rounding logic references its input
    ~10 times (frac, tie test, NaN/2^52 guards); Catalyst inlines every
    reference and codegen does not CSE across `when` branches, so the
    argument is re-evaluated up to 10x per row.  Pass ONLY cheap
    expressions: a column reference, a literal, or an aggregate output
    (the planner dedupes identical aggregate expressions).  For an
    EXPENSIVE expression (array ops, HOF folds, regex), STAGE it into a
    named column in its own projection first and round the reference:

        staged = df.withColumn("_raw", expensive)
        staged.select(duck_round_expr("_raw", 6).alias(...))

    CollapseProject will NOT merge the two projections (it refuses to
    duplicate a non-cheap expression referenced more than once,
    plan-tested in tests/test_plans.py), so the expensive input is
    evaluated exactly once, inside whole-stage codegen.  The round-10
    regression shipped unstaged expensive args (q146's plan ran 50
    array_intersect instead of 5); a round-11 interim fix bound the
    argument via transform(array(v), ...)[0] — single-eval but
    CodegenFallback, and the interpreted HOF evaluation measurably
    poisoned the whole session's interpreted paths (q191-after-q146 at
    sf100: 512 s vs 112 s with codegen rounding, 4.6x, reproduced
    A/B) — so the codegen inline form + call-site staging is the
    contract.  Guarded by the plan-budget gate in tests/test_plans.py.
    """
    c = F.col(col) if isinstance(col, str) else col
    # Construction fast path (round 13): each Column op is a ~0.25 ms
    # py4j round trip and this tree has ~20 of them, re-paid on every
    # call (~125 call sites across the catalog).  A SQL scalar function
    # registered once per session is analyzer-INLINED into the exact
    # same expression tree (the parameter binds as a staged projection,
    # which also enforces the cheap-argument contract mechanically), so
    # one call_function round trip replaces the whole build.  Plan
    # parity vs the Column-built form is pinned in tests; the Column
    # form remains as the no-active-session fallback.  The function is
    # registered on the ACTIVE session: a column built here resolves on
    # a frame of that session (or of one cloned from it).
    spark = SparkSession.getActiveSession()
    if spark is not None and _ensure_duck_round_fn(spark):
        return F.call_function(
            _DUCK_ROUND_FN, c, F.lit(float(10.0 ** d))
        )
    return _duck_round_column(c, d)


def _duck_round_column(c: Column, d: int) -> Column:
    """Column-built duck_round tree (the pre-round-13 form; fallback when
    no active session can hold the SQL function registration)."""
    c = c.cast("double")
    p = F.lit(float(10.0 ** d))
    v = c * p
    f = F.floor(v).cast("double")
    frac = v - f
    rounded = F.when(
        (frac > 0.5) | ((frac == 0.5) & (v > 0.0)), f + 1.0
    ).otherwise(f)
    return (
        F.when(F.isnan(v) | (F.abs(v) >= F.lit(2.0 ** 52)), v)
        .otherwise(rounded)
        / p
    )


_DUCK_ROUND_FN = "__duck_round"
# body mirrors _duck_round_column exactly (v = cast(x as double) * p):
# same when/otherwise branch order, same literals, same NULL and NaN
# propagation — pinned plan-identical (modulo attribute names) in tests
_DUCK_ROUND_BODY = (
    "CASE WHEN isnan((cast(x as double) * p))"
    " OR abs((cast(x as double) * p)) >= 4.503599627370496E15"
    " THEN (cast(x as double) * p)"
    " ELSE CASE WHEN (((cast(x as double) * p)"
    " - cast(floor((cast(x as double) * p)) as double)) > 0.5D)"
    " OR ((((cast(x as double) * p)"
    " - cast(floor((cast(x as double) * p)) as double)) = 0.5D)"
    " AND ((cast(x as double) * p) > 0D))"
    " THEN cast(floor((cast(x as double) * p)) as double) + 1.0D"
    " ELSE cast(floor((cast(x as double) * p)) as double) END END / p"
)
# Set on a session in the same call that registers __duck_round there:
# one conf read per call is the cheapest "registered here?" check, and
# newSession() inherits neither the marker nor the function.
_DUCK_ROUND_MARKER = "spark.graft.internal.duckRoundRegistered"


def _ensure_duck_round_fn(spark: SparkSession) -> bool:
    """Register the __duck_round SQL function on ``spark`` unless that
    session already holds it.  Lazy, because a caller may bring its own
    bare session (see __spark_entry__._configure).  Returns False when
    registration fails (e.g. an engine without SQL-UDF support) so the
    caller falls back to the Column build."""
    if spark.conf.get(_DUCK_ROUND_MARKER, None) is not None:
        return True
    try:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {_DUCK_ROUND_FN}"
            f"(x DOUBLE, p DOUBLE) RETURNS DOUBLE RETURN {_DUCK_ROUND_BODY}"
        )
    except Exception:  # pragma: no cover — engines without SQL UDFs
        return False
    spark.conf.set(_DUCK_ROUND_MARKER, "true")
    return True


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
    sim_round_to: int | None = None,
    score_round_to: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k results per query maximizing
    lambda * relevance - (1 - lambda) * max-similarity-to-already-picked
    — the standard diversification pass over a retrieval run, so five
    near-identical top hits collapse to one plus four genuinely
    different results.  ``candidates`` is any (query_id, neighbor_id,
    rel) frame (q29/q30/q110/q155 outputs all qualify); candidate
    vectors come from ``vectors``.

    The greedy loop is inherently sequential per query, so this is the
    documented Pandas-UDF path: ``applyInPandas`` over query_id groups,
    each group an O(N^2 + N*k) numpy kernel over its OWN top-N pool —
    bounded by the retrieval cut, never corpus-sized; Arrow moves each
    pool as one columnar batch.  At 100 TB the pools stay top-N per
    query, so the stage scales with query count only.  Deterministic:
    candidates processed in neighbor_id order, ties broken on the
    smaller id.

    ``sim_round_to`` quantizes each pairwise penalty cosine to that many
    decimals before the max — and switches the pairwise kernel from the
    BLAS matrix product to sequential left-to-right dot products, the
    summation order SQL engines use.  With it set, the greedy trace is
    reproducible cross-engine bit for bit (the q160 oracle replays it as
    a DuckDB recursive CTE: argmax per step via QUALIFY, the selected
    set carried as a LIST column).  The 1e-4 quantum is ~1e3 ulps at
    cosine scale — far below any meaningful similarity difference — and
    the pool is top-N-bounded, so the sequential-sum path costs O(N^2 *
    dim) plain-Python flops per query, trivial at N<=20.  Default None
    keeps the unquantized BLAS path (pinned against a pure-Python
    reference in tests).

    Contract: query/neighbor ids must be INTEGRAL (the Arrow schema is
    bigint — validated eagerly, not left to an executor traceback), and
    every candidate must have a vector: a candidate whose id is absent
    from ``vectors`` raises a named error in the kernel instead of
    silently vanishing from the re-ranked output (a stale embedding
    table should be loud, not a quiet recall drop).
    """
    if k <= 0:
        raise ValueError("mmr_rerank: k must be positive")
    if not (0.0 <= lambda_ <= 1.0):
        raise ValueError("mmr_rerank: lambda_ must be in [0, 1]")
    missing = {"query_id", "neighbor_id", rel_col} - set(candidates.columns)
    if missing:
        raise ValueError(
            f"mmr_rerank: candidates lack columns {sorted(missing)}"
        )
    missing_v = {id_col, vec_col} - set(vectors.columns)
    if missing_v:
        raise ValueError(f"mmr_rerank: vectors lack columns {sorted(missing_v)}")
    integral = ("byte", "short", "int", "bigint", "long")
    for c in ("query_id", "neighbor_id"):
        dt = dict(candidates.dtypes)[c]
        if dt not in integral:
            raise ValueError(
                f"mmr_rerank: {c} must be an integral type (got {dt}); "
                f"the Arrow output schema is bigint"
            )
    lam = float(lambda_)
    kk = int(k)
    rel_name = rel_col
    sim_q = None if sim_round_to is None else int(sim_round_to)
    score_q = None if score_round_to is None else int(score_round_to)
    # duplicate (query, id) candidate rows would let the greedy loop
    # pick the same neighbor twice (defeating diversification) —
    # collapse to the max relevance, mirroring rrf_fuse's dedupe
    candidates = candidates.groupBy("query_id", "neighbor_id").agg(
        F.max(rel_col).alias(rel_col)
    )
    cand = candidates.join(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vec")
        ),
        "neighbor_id",
        "left",
    )
    schema = (
        "query_id bigint, neighbor_id bigint, mmr_score double, "
        "mmr_rank bigint"
    )

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        dup = pdf.loc[pdf["neighbor_id"].duplicated(), "neighbor_id"]
        if len(dup):
            raise ValueError(
                f"mmr_rerank: vectors frame has duplicate ids "
                f"{sorted(set(dup.tolist()))[:10]} — the join fanned "
                f"out; dedupe the vectors frame"
            )
        lost = pdf.loc[pdf["_vec"].isna(), "neighbor_id"].tolist()
        if lost:
            raise ValueError(
                f"mmr_rerank: candidates {sorted(lost)[:10]} have no "
                f"vector in the vectors frame — refusing to silently "
                f"drop them from the re-ranked output"
            )
        v = np.array(pdf["_vec"].tolist(), dtype=np.float64)
        if sim_q is None:
            nrm = np.linalg.norm(v, axis=1)
            nrm[nrm == 0] = 1.0
            sims = (v / nrm[:, None]) @ (v / nrm[:, None]).T
        else:
            # Sequential dot products (SQL summation order), then
            # quantize: a DuckDB recursive CTE replays this trace
            # exactly (see docstring).
            rows_v = [list(map(float, row)) for row in v]
            n = len(rows_v)

            def sdot(a, b):
                acc = 0.0
                for x, y in zip(a, b):
                    acc += x * y
                return acc

            import math as _math

            # penalty cosines quantize with DuckDB ROUND semantics —
            # module-level duck_round (round-9: also applied to the
            # final score via score_round_to)
            nrm_s = [(_math.sqrt(sdot(r, r)) or 1.0) for r in rows_v]
            sims = np.zeros((n, n), dtype=np.float64)
            for i in range(n):
                for j in range(n):
                    if i != j:
                        sims[i][j] = duck_round(
                            sdot(rows_v[i], rows_v[j])
                            / (nrm_s[i] * nrm_s[j]),
                            sim_q,
                        )
        rel = pdf[rel_name].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        qid = int(pdf["query_id"].iloc[0])
        selected: list[int] = []
        remaining = list(range(len(pdf)))
        rows = []
        while remaining and len(selected) < kk:
            best_key, best_i = None, None
            for i in remaining:
                pen = max(sims[i][s] for s in selected) if selected else 0.0
                key = (lam * rel[i] - (1 - lam) * pen, -int(ids[i]))
                if best_key is None or key > best_key:
                    best_key, best_i = key, i
            selected.append(best_i)
            remaining.remove(best_i)
            score = float(best_key[0])
            if score_q is not None:
                # DuckDB ROUND semantics so the oracle's final
                # ROUND(score, d) is bit-identical (see duck_round)
                score = duck_round(score, score_q)
            rows.append((qid, int(ids[best_i]), score, len(selected)))
        return pd.DataFrame(
            rows,
            columns=["query_id", "neighbor_id", "mmr_score", "mmr_rank"],
        )

    return cand.groupBy("query_id").applyInPandas(kernel, schema)


def principal_share_from_moments(
    m2: dict, s1: dict, n: int, dim: int, scale: int
) -> dict:
    """Spectral summary from EXACT integer second moments (shared by the
    q197 engine path and its oracle builder, so the eigen step is
    bit-identical given identical moments; the MOMENTS are computed
    independently on each side).  ``m2[(i, j)]`` (i <= j) and ``s1[i]``
    are sums of scale-quantized integer coordinates; the covariance
    numerator n*S2 - S1_i*S1_j is formed in exact Python ints before the
    single correctly-rounded float conversion."""
    import numpy as np

    c = np.empty((dim, dim), dtype=np.float64)
    denom = float(n) * float(n) * float(scale) * float(scale)
    for i in range(dim):
        for j in range(i, dim):
            num = n * m2[(i, j)] - s1[i] * s1[j]
            c[i, j] = c[j, i] = float(num) / denom
    vals, vecs = np.linalg.eigh(c)
    trace = float(vals.sum())
    if trace <= 0.0:
        raise ValueError(
            "principal_share_from_moments: zero total variance (all "
            "vectors identical) — shares are undefined"
        )
    top = float(vals[-1])
    second = float(vals[-2]) if dim > 1 else 0.0
    v = vecs[:, -1]
    top_dims = sorted(range(dim), key=lambda d: (-abs(float(v[d])), d))[:3]
    return {
        "n_vectors": int(n),
        "dim": int(dim),
        "total_variance": round(trace, 9),
        "top_share": round(top / trace, 9),
        "second_share": round(second / trace, 9),
        "top_dim_1": int(top_dims[0]),
        "top_dim_2": int(top_dims[1]),
        "top_dim_3": int(top_dims[2]),
    }


def embedding_principal_share(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1_000_000,
) -> dict:
    """Distributed EXACT covariance moments + driver-side spectral
    summary (the q197 operator): detects principal-subspace collapse —
    a corpus whose top eigenvalue share approaches 1 has embeddings on
    a line, invisible to q182's per-dimension stats.  Coordinates
    quantize to integer micro-units; the d*(d+1)/2 pairwise products
    partial-aggregate map-side so the exchange carries ~d^2 rows per
    partition regardless of corpus size, and the driver collects
    exactly d^2/2 + d moment cells (bounded by the DIMENSION, never the
    data — the q44 centroid precedent).  The d x d eigensolve is
    driver-side numpy on an exactly-reproducible matrix.  The explode
    generates n*d(d+1)/2 rows — linear in the corpus; if that CPU cost
    ever dominates, the named swap is a mapInPandas kernel doing
    per-batch int64 Q^T Q with Python-int cross-batch accumulation
    (exactness preserved; batch sums stay under 2^63 at Arrow's 10k
    default batch rows).  This Catalyst form stays the default: one
    code path, pure JVM, no rounding-parity surface."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale).cast("bigint"),
    )
    # NULL vectors carry no moments, so they must not inflate n either;
    # persist the quantized frame — three independent actions would
    # otherwise re-scan the source three times
    base = (
        df.where(F.col(vec_col).isNotNull()).select(q.alias("_qv")).persist()
    )
    try:
        n = base.count()
        if n == 0:
            raise ValueError(
                "embedding_principal_share: no non-null vectors"
            )
        flat = base.select("_qv", F.posexplode("_qv").alias("i", "vi"))
        tri = flat.select(
            "i", "vi", F.posexplode("_qv").alias("j", "vj")
        ).where(F.col("j") >= F.col("i"))
        m2_rows = (
            tri.groupBy("i", "j")
            .agg(
                F.sum(
                    (F.col("vi") * F.col("vj")).cast("decimal(38,0)")
                ).alias("s2")
            )
            .collect()
        )
        s1_rows = (
            flat.groupBy("i")
            .agg(F.sum(F.col("vi").cast("decimal(38,0)")).alias("s1"))
            .collect()
        )
    finally:
        base.unpersist(blocking=False)
    m2 = {(r["i"], r["j"]): int(r["s2"]) for r in m2_rows}
    s1 = {r["i"]: int(r["s1"]) for r in s1_rows}
    return principal_share_from_moments(m2, s1, n, dim, scale)
