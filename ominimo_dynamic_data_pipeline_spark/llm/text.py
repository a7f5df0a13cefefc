"""Text analysis over document tables: tokenization, quality scoring,
language ID, fingerprinting, term statistics, tf-idf.

Everything here is pure Catalyst (split/explode/groupBy/higher-order
functions) — no UDFs, so the hot path stays JVM-side and whole-stage
codegen'd.  The one exception is ``compression_ratio``: zlib has no
Catalyst surface, so it uses the scalar Arrow pandas_udf escape hatch
(batched, not per-row).  Token counting and profiling are narrow per-row projections;
term/tf-idf statistics are classic explode->aggregate shapes whose shuffles
carry (token, count) pairs, not documents.

Portability note: fingerprints use md5 (identical across engines) rather
than xxhash64 (Spark-specific), so the DuckDB oracle can verify them.
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny function-word marker sets for the language-ID heuristic.  A real
# deployment would plug a fastText-style model in via pandas UDF; the
# heuristic keeps the operator deterministic and dependency-free.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "de", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "了", "和", "在"),
}

# A BPE-ish word/number/punctuation splitter: runs of letters, runs of
# digits, or single non-space symbols — a cheap proxy for subword counts.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _dre():
    """similarity.duck_round_expr via a call-time import (text is a leaf
    of the dedup -> similarity chain).  Double roundings that must
    hash-match DuckDB ROUND route through it; at d=0 the two spellings
    are provably identical, so oracle-matched catalog outputs use
    duck_round_expr uniformly while purely-internal integer
    quantizations may keep F.round."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        duck_round_expr,
    )

    return duck_round_expr


def normalize_text(col: Column) -> Column:
    """Lowercase, trim, collapse internal whitespace — the canonical form
    used by fingerprints and exact-dedup."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text (empty strings filtered)."""
    return F.filter(F.split(normalize_text(col), r"\s+"), lambda t: t != "")


def whitespace_token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish tokens (letters runs / digit runs / symbols)."""
    return F.size(
        F.filter(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0), lambda t: t != "")
    )


def fingerprint(col: Column) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text."""
    return F.md5(normalize_text(col))


def quality_features(
    df: DataFrame, text_col: str = "text", prefix: str = ""
) -> DataFrame:
    """Per-document quality signals used to filter LLM training corpora:
    length, token stats, punctuation/digit/whitespace ratios, stopword hit
    ratio.  All single-pass projections.

    ``prefix`` namespaces the added columns — callers that must preserve
    the input row untouched (quality_filter) use an internal prefix so a
    pre-existing column with the same name (documents already carries
    n_chars) is never silently recomputed."""
    c = F.col(text_col)
    toks = tokens(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"]))
    )
    return df.withColumns(
        {
            f"{prefix}n_chars": n_chars,
            f"{prefix}n_tokens": n_tokens,
            f"{prefix}avg_token_len": F.when(
                n_tokens > 0, (n_chars - n_tokens + 1) / n_tokens
            ),
            f"{prefix}punct_ratio": F.when(n_chars > 0, punct / n_chars).otherwise(
                0.0
            ),
            f"{prefix}digit_ratio": F.when(n_chars > 0, digits / n_chars).otherwise(
                0.0
            ),
            f"{prefix}stopword_ratio": F.when(
                n_tokens > 0, stop_hits / n_tokens
            ).otherwise(0.0),
        }
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: the language with the most distinct marker
    hits; deterministic tie-break by fixed language order; 'und' when no
    marker hits at all."""
    langs = list(LANG_MARKERS)
    # Stage the token array once, then each language's marker-hit count
    # over the staged reference (one regex pass per row, not one per
    # language), then build the
    # strict-improvement chain over the staged column refs: the chain
    # nests every earlier score inside every later `when`, so inlined
    # scores explode combinatorially (measured: 57 array_intersect +
    # 57 regexp_replace in q22's plan, 114 in q173's; staged: one of
    # each per language).  CollapseProject keeps the staging projection
    # separate (non-cheap exprs referenced more than once).  Fixed
    # evaluation order and values are unchanged => same CASE chain in
    # the SQL oracle, same results.
    staged = df.withColumn("_lid_toks", tokens(F.col(text_col)))
    for lang in langs:
        staged = staged.withColumn(
            f"_ls_{lang}",
            F.size(
                F.array_intersect(
                    F.col("_lid_toks"),
                    F.array(*[F.lit(m) for m in LANG_MARKERS[lang]]),
                )
            ),
        )
    best = F.lit("und")
    best_score = F.lit(0)
    # strict-improvement chain in fixed order => deterministic and
    # replicable as a CASE chain in the SQL oracle
    for lang in langs:
        score = F.col(f"_ls_{lang}")
        improved = score > best_score
        best = F.when(improved, F.lit(lang)).otherwise(best)
        best_score = F.when(improved, score).otherwise(best_score)
    return staged.withColumn("lang_pred", best).drop(
        "_lid_toks", *[f"_ls_{lang}" for lang in langs]
    )


def term_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus-wide term frequencies: explode normalized tokens, count.
    Shuffle carries (token, partial count) pairs thanks to partial
    aggregation — safe at any corpus size."""
    out = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if min_count > 1:
        out = out.filter(F.col("tf") >= min_count)
    return out


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k_per_doc: int = 5,
) -> DataFrame:
    """tf-idf as pure DataFrame aggregations (no MLlib):

      tf(d, t)  = count of t in d
      idf(t)    = ln(N / df(t))          (no smoothing; N, df exact ints)
      tfidf     = tf * idf, top-k per doc by (tfidf desc, token asc)

    Two shuffles (doc-term counts, term document-frequencies) + a broadcast
    of the term->idf map back onto doc-term pairs.  idf is computed from
    exact integers, so the doubles are engine-portable.
    """
    doc_tokens = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    doc_term = doc_tokens.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n_docs = df.count()  # tiny scalar; at scale pass it in precomputed
    term_df = doc_term.groupBy("token").agg(
        F.countDistinct(id_col).alias("df")
    )
    scored = (
        doc_term.join(F.broadcast(term_df), "token")
        .withColumn("idf", F.log(F.lit(float(n_docs)) / F.col("df")))
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k_per_doc)
        .select(id_col, "token", "tf", "df", "tfidf", "rn")
    )


def compression_ratio(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, n_bytes, compressed_bytes, compression_ratio) via a SCALAR
    Arrow pandas_udf — the entropy-proxy quality signal LLM corpus filters
    use (highly repetitive/boilerplate text compresses far below ~0.4;
    random noise stays near 1.0).

    zlib is genuinely inexpressible in Catalyst, so this is the correct
    use of the scalar-UDF escape hatch: Arrow-batched columnar transfer,
    one Python call per batch (not per row), deterministic output
    (zlib level pinned).  Values are unit-pinned in tests; DuckDB has no
    zlib surface, so the catalog oracle (q64) renders a literal
    (doc_id, compressed_bytes) table with the SAME zlib.compress(. , 6)
    call at import time — the q44-centroid precedent.
    """
    from pyspark.sql.functions import pandas_udf

    # function-level import: similarity -> dedup -> text would cycle at
    # module scope
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        duck_round_expr,
    )

    # functional form: `from __future__ import annotations` stringifies
    # the pd.Series hints, which the decorator cannot resolve here
    compressed_len = pandas_udf(
        lambda texts: texts.fillna("").map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        ),
        "int",
    )

    n_bytes = F.octet_length(F.col(text_col))
    return df.select(
        F.col(id_col),
        n_bytes.cast("bigint").alias("n_bytes"),
        compressed_len(F.col(text_col)).cast("bigint").alias(
            "compressed_bytes"
        ),
    ).withColumn(
        "compression_ratio",
        duck_round_expr(
            F.col("compressed_bytes") / F.nullif(F.col("n_bytes"), F.lit(0)), 6
        ),
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window token chunking — the pre-training step that turns
    variable-length documents into fixed-budget training sequences
    (size-token chunks every ``stride`` tokens, tail chunks kept short).

    Shape: one staged token projection per doc (HOF-staging rule: the
    token array is materialized before any lambda touches it), a
    ``sequence``-generated start list, one posexplode — a narrow per-row
    pipeline with NO shuffle, so it scales linearly with corpus bytes.
    Output: (id, chunk_idx, tok_start, n_tokens, chunk_md5) — the md5 is
    over the space-joined chunk text, so chunk-level exact dedup can run
    directly on this frame.
    """
    if not (0 < stride <= size):
        raise ValueError("require 0 < stride <= size")
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("tk")).filter(
        F.size("tk") > 0
    )
    staged = toks.select(
        F.col(id_col),
        "tk",
        F.sequence(F.lit(0), F.size("tk") - 1, F.lit(stride)).alias("starts"),
    )
    exploded = staged.select(
        F.col(id_col),
        "tk",
        F.posexplode("starts").alias("chunk_idx", "tok_start"),
    )
    chunked = exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("tok_start").cast("bigint").alias("tok_start"),
        F.slice(F.col("tk"), F.col("tok_start") + 1, size).alias("chunk"),
    )
    return chunked.select(
        F.col(id_col),
        "chunk_idx",
        "tok_start",
        F.size("chunk").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_md5"),
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition metrics (Gopher-style quality filters):
    fraction of duplicate tokens / 2-grams / 3-grams, and the share of the
    document taken by its single most frequent token.

    Shape: posexplode tokens once, build the 2/3-grams with window
    ``lead``s over the (id, pos) ordering (fully codegen'd — measured 2x
    faster than assembling gram arrays in interpreted higher-order
    lambdas), unpivot to ONE tall (id, kind, value) stream with
    ``stack``, and aggregate twice: a map-side-combined count on
    (id, kind, value) — within-doc repeats collapse before the shuffle —
    then a tiny conditional agg on the doc id.  The previous shape (a
    3-way countDistinct agg + a separate top-token agg over the same
    grams) paid Spark's Expand operator (4x shuffle rows for
    multi-countDistinct) AND a second full lineage: 12.8x growth on 10x
    data at sf10 (shuffle spill); this shape re-measured sf1 3.3 -> 1.9 s
    and sf10 42 -> 5.5 s (2.9x growth), one combine-friendly exchange.
    Zero-token documents produce no row (mirrored by the oracle).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    lead1, lead2 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    g2 = F.when(lead1.isNotNull(), F.concat_ws(" ", F.col("tok"), lead1))
    g3 = F.when(
        lead2.isNotNull(), F.concat_ws(" ", F.col("tok"), lead1, lead2)
    )
    grams = toks.select(
        F.col(id_col), F.col("tok"), g2.alias("g2"), g3.alias("g3")
    )
    tall = grams.select(
        F.col(id_col),
        F.expr("stack(3, 't', tok, '2', g2, '3', g3) as (kind, value)"),
    ).filter(F.col("value").isNotNull())
    lvl1 = tall.groupBy(id_col, "kind", "value").agg(
        F.count(F.lit(1)).alias("c")
    )

    def stats(kind: str) -> tuple[Column, Column]:
        hit = F.col("kind") == kind
        return (
            F.sum(F.when(hit, F.col("c"))),
            F.count(F.when(hit, F.lit(1))),
        )

    n_tok, nd_tok = stats("t")
    n_g2, nd_g2 = stats("2")
    n_g3, nd_g3 = stats("3")
    per_doc = lvl1.groupBy(id_col).agg(
        n_tok.alias("n_tokens"),
        nd_tok.alias("nd_tok"),
        n_g2.alias("n_g2"),
        nd_g2.alias("nd_g2"),
        n_g3.alias("n_g3"),
        nd_g3.alias("nd_g3"),
        F.max(F.when(F.col("kind") == "t", F.col("c"))).alias(
            "top_token_count"
        ),
    )

    def dup_frac(n: Column, nd: Column) -> Column:
        return F.when(n > 0, _dre()(1.0 - nd / n, 6))

    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        dup_frac(F.col("n_tokens"), F.col("nd_tok")).alias("dup_token_frac"),
        dup_frac(F.col("n_g2"), F.col("nd_g2")).alias("dup_2gram_frac"),
        dup_frac(F.col("n_g3"), F.col("nd_g3")).alias("dup_3gram_frac"),
        _dre()(F.col("top_token_count") / F.col("n_tokens"), 6).alias(
            "top_token_frac"
        ),
    )


def bpe_encode_col(
    word: Column, merges: list[tuple[str, str]]
) -> Column:
    """Symbol sequence of ``word`` under a priority-ordered BPE merge
    table, as a space-joined string (q128's operator body).

    Each char wraps as ``[c]``; merge (a, b) is one literal global
    replace of ``[a][b]`` with ``[ab]`` — greedy left-to-right,
    non-overlapping, and byte-identical in DuckDB's replace() so the
    oracle can replicate.  Bracket sentinels (not spaces) because
    adjacent symbols must not share a separator: ``' t h t h '`` merges
    only once, ``[t][h][t][h]`` merges both pairs.  Callers must ensure
    symbols cannot contain the sentinels (q128 restricts to alnum
    words).  A pure literal-replace chain — codegen projection, no
    shuffle."""
    enc = F.array_join(
        F.transform(
            F.split(word, ""),
            lambda c: F.concat(F.lit("["), c, F.lit("]")),
        ),
        "",
    )
    for a, b in merges:
        enc = F.replace(enc, F.lit(f"[{a}][{b}]"), F.lit(f"[{a}{b}]"))
    return F.btrim(F.replace(enc, F.lit("]["), F.lit(" ")), F.lit("[]"))


def model_quality_score(
    df: DataFrame,
    weights: list[float],
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_seed: int = 31,
) -> DataFrame:
    """fastText-style linear quality classifier, pure Catalyst: each token
    hashes into one of len(weights) buckets (hashing trick, md5_long mod
    dim — portable to the DuckDB oracle), the document's mean bucket
    weight plus bias goes through a sigmoid.  No MLlib, no UDF: the
    weight table is a broadcast literal array and the whole score is one
    fold over the token array inside whole-stage codegen.

    Returns (id, n_tokens, quality_score) with score rounded to 6
    decimals; empty-token docs score NULL (no evidence).  At 100 TB this
    is a narrow projection — no shuffle, no state."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import md5_long

    dim = len(weights)
    warr = F.array(*[F.lit(float(w)) for w in weights])
    toks = tokens(F.col(text_col))
    staged = df.select(F.col(id_col), toks.alias("tk"))
    # left fold in token order — the oracle mirrors it with list_reduce so
    # float accumulation order (and thus the rounded score) is identical
    wsum = F.aggregate(
        F.col("tk"),
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(warr, (md5_long(t, seed=hash_seed) % dim + 1).cast("int")),
    )
    n_tok = F.size("tk")
    raw = wsum / n_tok + F.lit(float(bias))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))
    # Stage the sigmoid (it contains the per-token weight fold) before
    # rounding: duck_round_expr references its argument ~10x and the
    # fold must run once per row, not ten times (the round-10 q92
    # regression).  CollapseProject keeps the projections apart.
    scored = staged.select(
        F.col(id_col),
        n_tok.cast("bigint").alias("n_tokens"),
        F.when(n_tok > 0, prob).alias("_prob"),
    )
    return scored.select(
        F.col(id_col),
        "n_tokens",
        _dre()(F.col("_prob"), 6).alias("quality_score"),
    )


def unicode_normalize(col: Column, form: str = "NFC") -> Column:
    """Unicode-normalize a string column (NFC/NFKC/NFD/NFKD) — the
    multilingual-corpus cleanup step that folds decomposed accents,
    compatibility ligatures, and width variants so downstream hashing /
    dedup / tokenization see one canonical byte form.

    Catalyst has no normalization builtin, so this is the sanctioned
    Arrow escape hatch (SURVEY §2.4 rule: pandas_udf, never row-at-a-time
    F.udf): pandas' vectorized ``Series.str.normalize`` over Arrow
    batches.  The DuckDB twin for NFC is ``nfc_normalize`` (q138)."""
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    # no pd.Series annotations: this module has `from __future__ import
    # annotations`, which stringifies hints — PySpark's typehint
    # inspection then fails with UNSUPPORTED_SIGNATURE; the
    # annotation-free form rides the SQL_SCALAR_PANDAS eval path
    @pandas_udf("string")
    def _norm(s):
        return s.str.normalize(form)

    return _norm(col)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (the MOSS local-similarity primitive,
    Schleimer/Wilkerson/Aiken SIGMOD'03): hash every POSITIONAL k-gram,
    slide a ``window`` over consecutive hashes, keep each window's
    minimum — any shared substring of length >= k + window - 1 tokens is
    then GUARANTEED to surface as a shared fingerprint, with ~2/(w+1)
    selection density.  The position-aware complement of the distinct-
    shingle fingerprints (q38/q145): rolling content hashes detect
    local overlap, not just bag-of-grams similarity.

    Emits DISTINCT (id, fp) rows.  Scale shape: positional grams via
    posexplode + lead windows (the gram_frame discipline — never an
    explode over a lazy shingle array), hashes and window minima ride
    the SAME (id, pos) sort — ONE exchange on the doc id end-to-end,
    then a per-doc distinct that reuses the partitioning."""
    if k < 1 or window < 1:
        raise ValueError("winnow_fingerprints: k and window must be >= 1")
    from pyspark.sql.window import Window

    from ominimo_dynamic_data_pipeline_spark.llm.dedup import md5_long

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w_lead = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w_lead) for j in range(1, k)]
    tail = F.lead("tok", k - 1).over(w_lead)
    grams = (
        toks.select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", *parts).alias("gram"),
            tail.alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .drop("_tail")
    )
    hashed = grams.select(
        F.col(id_col), "pos", md5_long(F.col("gram")).alias("h")
    )
    w_min = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    w_cnt = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    mins = hashed.select(
        F.col(id_col),
        F.min("h").over(w_min).alias("fp"),
        F.count(F.lit(1)).over(w_cnt).alias("_n"),
    ).filter(F.col("_n") == window)  # only FULL windows fingerprint
    return mins.select(id_col, "fp").dropDuplicates([id_col, "fp"])


def span_corrupt(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 3,
    stride: int = 10,
    seed: int = 148,
) -> DataFrame:
    """T5-style span corruption for denoising pretraining: mask
    ``span_len``-token spans every ``stride`` tokens (phase shifted
    per-doc by a seeded hash so spans don't align corpus-wide), emit the
    corrupted input (each masked run replaced by one ``<extra_id_r>``
    sentinel) and the denoising target (sentinels + the masked tokens)
    — the (inputs, targets) pair T5/UL2 training consumes, fully
    deterministic so retries and the oracle reproduce it bit-exactly.

    A position p is masked iff (p + offset) % stride < span_len, with
    offset = md5(doc) % stride; the sentinel number is the raw run
    index (p + offset) // stride.  Pure staged projections riding the
    scan — no shuffle, no UDF; array lambdas only touch MATERIALIZED
    token columns (the element_at discipline of shingle_frame's staged
    ``toks`` projection)."""
    if not (0 < span_len < stride):
        raise ValueError("span_corrupt: need 0 < span_len < stride")
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import md5_long

    staged = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("tk"),
        (md5_long(F.col(id_col).cast("string"), seed=seed) % stride).alias(
            "_off"
        ),
    )
    n = F.size("tk")
    idx = F.sequence(F.lit(0), n - 1)

    def phase(i):
        return (i + F.col("_off")) % stride

    def masked(i):
        return phase(i) < span_len

    def run_start(i):
        # a masked doc-initial position whose run began "before" the doc
        # (phase > 0 at i == 0) still opens a run — without this the
        # truncated run loses its sentinel in both outputs
        return masked(i) & ((phase(i) == F.lit(0)) | (i == F.lit(0)))

    def sentinel(i):
        return F.concat(
            F.lit("<extra_id_"),
            ((i + F.col("_off")) / stride).cast("bigint").cast("string"),
            F.lit(">"),
        )

    def tok(i):
        return F.element_at("tk", (i + 1).cast("int"))

    corrupted_parts = F.transform(
        idx,
        lambda i: F.when(~masked(i), tok(i))
        .when(run_start(i), sentinel(i))
        .otherwise(F.lit(None)),
    )
    target_parts = F.flatten(
        F.transform(
            idx,
            lambda i: F.when(
                run_start(i), F.array(sentinel(i), tok(i))
            )
            .when(masked(i), F.array(tok(i)))
            .otherwise(F.array().cast("array<string>")),
        )
    )
    out = staged.filter(n >= 1).select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        F.concat_ws(
            " ", F.filter(corrupted_parts, lambda x: x.isNotNull())
        ).alias("corrupted"),
        F.concat_ws(" ", target_parts).alias("target"),
        F.aggregate(
            F.transform(idx, lambda i: masked(i).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        .cast("bigint")
        .alias("n_masked"),
    )
    return out


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    gibberish/degenerate-text signal q67's duplicate-fraction family
    cannot give a magnitude for: H = -sum_u p_u ln p_u over token types
    u, low for one-phrase spam ("buy now buy now"), ln(n_tokens) for
    all-distinct text.  Also emits ``norm_entropy`` = H / ln(n) in
    [0, 1] (NULL for single-token docs, where the ratio is 0/0).

    Exactness (the dsir_importance discipline): with n total tokens and
    per-type counts c_u,  H = ln(n) - (1/n) * sum_u c_u ln(c_u).  Each
    ln is quantized to an integer NANO-unit L(x) = round(1e9 ln x), so
    scaled = n*L(n) - sum_u c_u*L(c_u)  is exact bigint arithmetic in
    any engine; H = scaled / (n * 1e9) and norm_entropy = scaled /
    (n * L(n)) are single divisions of identical integers —
    bit-identical doubles given identical L values.  Residual hazard:
    L itself quantizes a libm ln(); a count whose ln sits within 1 ulp
    of a 0.5 nano boundary could quantize one apart across engines
    (not observed through the sf0.1 sweeps; the dsir_importance
    docstring discusses the same residual and its literal-table cure).

    Scale shape: one token-stream shuffle with map-side combine to
    per-(doc, type) counts, one keyed reduce back to the doc — the same
    two exchanges as any tf profile; no UDF, no collect.  Zero-token
    docs produce no postings and are absent.
    """
    nano_ln = lambda c: F.round(F.log(c) * 1e9).cast("bigint")  # noqa: E731
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("u"))
        .groupBy(id_col, "u")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = tf.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c") * nano_ln(F.col("c"))).alias("sum_c_ln"),
    )
    scaled = (
        F.col("n_tokens") * nano_ln(F.col("n_tokens")) - F.col("sum_c_ln")
    )
    return agg.select(
        id_col,
        "n_tokens",
        "n_types",
        (scaled / (F.col("n_tokens") * 1e9)).alias("entropy"),
        F.when(
            F.col("n_tokens") > 1,
            scaled / (F.col("n_tokens") * nano_ln(F.col("n_tokens"))),
        ).alias("norm_entropy"),
    )


def readability_scores(
    df: DataFrame, text_col: str = "text", keep_cols: tuple = ("doc_id",)
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per row (the q170
    operator; see queries/llm.py q170 for the oracle-exactness notes).

    Syllables are vowel-group runs counted on the RAW text with an
    explicit [aeiouyAEIOUY] class (no lower() — JVM-vs-utf8proc case
    mapping could merge runs); sentences are [.!?]+ runs floored at 1;
    rows with zero words drop.  A single narrow codegen'd projection —
    no shuffle, no UDF.
    """
    counts = df.select(
        *keep_cols,
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_words"),
        F.greatest(
            F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.regexp_count(F.col(text_col), F.lit("[aeiouyAEIOUY]+"))
        .cast("bigint")
        .alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    return counts.select(
        *keep_cols,
        "n_words",
        "n_sentences",
        "n_syllables",
        (F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w)).alias(
            "flesch"
        ),
        (F.lit(0.39) * (w / s) + F.lit(11.8) * (y / w) - F.lit(15.59)).alias(
            "fk_grade"
        ),
    )


def vocab_coverage(
    df: DataFrame, text_col: str = "text", ks: tuple = (100, 1000, 10000)
) -> DataFrame:
    """Corpus token-coverage curve at the given vocab-size thresholds
    (the q178 operator).  The vocab never sorts globally: the top-max(ks)
    slice comes from a distributed TakeOrdered, the rank window runs on
    that slice only, and the grand total is a 1-row broadcast."""
    from pyspark.sql.window import Window

    uni = (
        df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    topk = uni.orderBy(F.col("tf").desc(), "term").limit(max(ks))
    topk = topk.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("tf").desc(), "term"))
    )
    tot = uni.agg(
        F.sum("tf").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )
    kdf = df.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in ks])).alias("k")
    )
    return (
        topk.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(kdf))
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("k", "total_tokens", "vocab_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("tf").cast("bigint").alias("tokens_covered"),
        )
        .select(
            "k",
            "n_terms",
            "tokens_covered",
            (
                F.col("tokens_covered").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("coverage_frac"),
            "vocab_size",
        )
    )
