"""Deterministic decade upscaler for the scale benchmarks.

    python tools/make_sf.py <decade> [table ...]

Each decade replicates the previous one's tables as disjoint-key copies
(the DuckDB tpch extension cannot be downloaded offline, so every scale
above the shipped sf0.1 test tables is derived this way) — the realistic
"more data, same density" scaling:

- fact/dim keys get a per-copy offset so joins keep their per-key fanout
  (no artificial hot keys); each decade widens the stride 10x so the
  previous decade's key range [0, copies * K) stays inside one block;
- region/nation stay single-copy (true small dims);
- document text is token-suffixed per copy ("tok" -> "tok_3") with a
  decade-distinct separator, so copies share NO n-grams: near-dup pair
  counts and LSH bucket sizes scale linearly (verbatim copies would make
  every bucket 10x and the pair stage 100x — a degenerate corpus, not a
  scale test);
- embeddings get a deterministic per-copy sinusoidal perturbation so
  cosine structure is preserved but copies are not exact duplicates.

Decades (output ``testdata_<decade>/<table>.parquet`` in the repo root,
deterministic, safe to rerun — overwrites):

- ``sf1``   10 copies of the shipped sf0.1 tables, every table;
- ``sf10``  10 copies of sf1, every table (~1.8 GB) — the second
  measured decade, where a super-linear stage compounds visibly;
- ``sf30``  3 copies of sf10, only the heavy-tail soak's tables
  (~180M lineitem rows, ~6 GB);
- ``sf100`` 10 copies of sf10, the relational tranche (orders,
  lineitem: ~600M lineitem rows, ~18 GB) and the text/streaming tranche
  (events, documents, embeddings).  A table list builds one tranche.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent

TEMPLATES: dict[str, str] = {
    "region": "SELECT * FROM src",
    "nation": "SELECT * FROM src",
    "customer": """
        SELECT c_custkey + i * {cust} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment
        FROM src, range({copies}) t(i)
    """,
    "supplier": """
        SELECT s_suppkey + i * {supp} AS s_suppkey, s_name, s_nationkey,
               s_acctbal
        FROM src, range({copies}) t(i)
    """,
    "part": """
        SELECT p_partkey + i * {part} AS p_partkey, p_name, p_brand,
               p_type, p_size, p_retailprice
        FROM src, range({copies}) t(i)
    """,
    "orders": """
        SELECT o_orderkey + i * {order} AS o_orderkey,
               o_custkey + i * {cust} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM src, range({copies}) t(i)
    """,
    "lineitem": """
        SELECT l_orderkey + i * {order} AS l_orderkey,
               l_partkey + i * {part} AS l_partkey,
               l_suppkey + i * {supp} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM src, range({copies}) t(i)
    """,
    "events": """
        SELECT event_id + i * {event} AS event_id, ts,
               user_id + i * {cust} AS user_id,
               event_type, value, props
        FROM src, range({copies}) t(i)
    """,
    "documents": """
        SELECT doc_id + i * {doc} AS doc_id,
               CASE WHEN i = 0 THEN text ELSE {text_i} END AS text,
               lang, source,
               length(CASE WHEN i = 0 THEN text ELSE {text_i} END)
                   AS n_chars
        FROM src, range({copies}) t(i)
    """,
    "embeddings": """
        SELECT vec_id + i * {vec} AS vec_id,
               CASE WHEN i = 0 THEN embedding ELSE
                   CAST([embedding[k]
                             + 0.05 * sin(vec_id * {sin_a} + i * {sin_b} + k)
                         for k in range(1, len(embedding) + 1)] AS FLOAT[])
               END AS embedding,
               label
        FROM src, range({copies}) t(i)
    """,
}

# token-suffix rewrite: suffix before every whitespace run + at the end
TEXT_I = (
    r"regexp_replace(text, '(\s+)', '{sep}' || i || '\1', 'g')"
    r" || '{sep}' || i"
)


@dataclass(frozen=True)
class Decade:
    src: str
    copies: int
    strides: dict[str, int]  # key-block offset per copy, by key family
    sep: str  # per-copy text separator, distinct per decade
    sin: tuple[int, int]  # embedding perturbation constants
    tables: tuple[str, ...]


DECADES: dict[str, Decade] = {
    "sf1": Decade(
        "/root/testdata/sf0.1", 10,
        dict(order=10**7, cust=10**6, part=10**6, supp=10**5,
             event=10**7, doc=10**5, vec=10**5),
        "_", (31, 7), tuple(TEMPLATES),
    ),
    "sf10": Decade(
        str(REPO / "testdata_sf1"), 10,
        dict(order=10**8, cust=10**7, part=10**7, supp=10**6,
             event=10**8, doc=10**6, vec=10**6),
        "~", (17, 13), tuple(TEMPLATES),
    ),
    "sf30": Decade(
        str(REPO / "testdata_sf10"), 3,
        dict(order=10**9, cust=10**8, part=10**8, supp=10**7,
             event=10**9, doc=10**7, vec=10**7),
        "^", (19, 11),
        ("orders", "lineitem", "events", "documents", "embeddings"),
    ),
    "sf100": Decade(
        str(REPO / "testdata_sf10"), 10,
        dict(order=10**9, cust=10**8, part=10**8, supp=10**7,
             event=10**10, doc=10**8, vec=10**8),
        "@", (23, 13),
        ("orders", "lineitem", "events", "documents", "embeddings"),
    ),
}


def build(
    decade: str, src: str, dst: Path, tables: list[str] | None = None
) -> dict[str, int]:
    """Write ``dst/<table>.parquet`` for each table of ``decade`` (or the
    given subset) from ``src``; returns the row count per table."""
    d = DECADES[decade]
    unknown = set(tables or ()) - set(d.tables)
    if unknown:
        raise SystemExit(f"{decade} has no table(s) {sorted(unknown)}")
    params = dict(
        d.strides, copies=d.copies, sin_a=d.sin[0], sin_b=d.sin[1],
        text_i=TEXT_I.format(sep=d.sep),
    )
    dst.mkdir(exist_ok=True)
    con = duckdb.connect()
    rows = {}
    for table in tables or d.tables:
        con.execute(
            f"CREATE OR REPLACE VIEW src AS "
            f"SELECT * FROM '{src}/{table}.parquet'"
        )
        out = dst / f"{table}.parquet"
        sql = TEMPLATES[table].format(**params)
        # Small row groups (20k rows vs DuckDB's 122,880 default) keep the
        # files SPLITTABLE: Spark parallelizes a parquet scan by byte
        # ranges aligned to row-group boundaries, and a miniature table
        # written as one jumbo row group caps every downstream stage at
        # one task regardless of cluster size — the opposite of the
        # many-file layout a real 100 TB dataset has.
        con.execute(
            f"COPY ({sql}) TO '{out}' (FORMAT PARQUET, ROW_GROUP_SIZE 20000)"
        )
        (rows[table],) = con.execute(f"SELECT COUNT(*) FROM '{out}'").fetchone()
        print(f"{table}: {rows[table]} rows -> {out}")
    return rows


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] not in DECADES:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        print(f"decades: {', '.join(DECADES)}", file=sys.stderr)
        return 2
    decade = sys.argv[1]
    build(
        decade, DECADES[decade].src, REPO / f"testdata_{decade}",
        sys.argv[2:] or None,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
