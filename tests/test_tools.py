"""The maintained scripts under ``tools/``: each still imports (so a
deletion elsewhere cannot strand one), and the decade upscaler's
replication contract holds on the smallest shipped test tables."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TOOLS = sorted(p.stem for p in (REPO / "tools").glob("*.py"))

# key column and stride family per replicated table
KEYS = {
    "customer": ("c_custkey", "cust"),
    "supplier": ("s_suppkey", "supp"),
    "part": ("p_partkey", "part"),
    "orders": ("o_orderkey", "order"),
    "lineitem": ("l_orderkey", "order"),
    "events": ("event_id", "event"),
    "documents": ("doc_id", "doc"),
    "embeddings": ("vec_id", "vec"),
}
SINGLE_COPY = ("region", "nation")


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_make_sf_replicates_into_disjoint_copies(sf_dir, tmp_path):
    import duckdb

    make_sf = importlib.import_module("tools.make_sf")
    if not Path(sf_dir, "documents.parquet").exists():
        pytest.skip(f"{sf_dir} testdata missing")
    d = make_sf.DECADES["sf1"]
    rows = make_sf.build("sf1", sf_dir, tmp_path)
    assert set(rows) == set(KEYS) | set(SINGLE_COPY)
    con = duckdb.connect()

    def one(sql):
        return con.execute(sql).fetchone()

    for table, n in rows.items():
        src_n = one(f"SELECT count(*) FROM '{sf_dir}/{table}.parquet'")[0]
        copies = 1 if table in SINGLE_COPY else d.copies
        assert n == copies * src_n, table
    for table, (key, family) in KEYS.items():
        k = d.strides[family]
        # the source keys fit in one block, and copy i fills block i
        assert one(f"SELECT max({key}) FROM '{sf_dir}/{table}.parquet'")[0] < k
        src_n = rows[table] // d.copies
        per_copy = con.execute(
            f"SELECT {key} // {k} AS i, count(*) FROM "
            f"'{tmp_path}/{table}.parquet' GROUP BY i ORDER BY i"
        ).fetchall()
        assert per_copy == [(i, src_n) for i in range(d.copies)], table
    # every token of copy i > 0 carries that copy's separator; copy 0 is
    # the source text unchanged
    bad = one(
        f"""
        WITH c AS (
            SELECT doc_id // {d.strides['doc']} AS i, text
            FROM '{tmp_path}/documents.parquet'
        )
        SELECT count(*) FROM c, unnest(string_split_regex(text, '\\s+')) t(tok)
        WHERE i > 0 AND NOT ends_with(tok, '{d.sep}' || i)
        """
    )[0]
    assert bad == 0
    assert one(
        f"""
        SELECT count(*) FROM '{sf_dir}/documents.parquet' s
        JOIN '{tmp_path}/documents.parquet' o ON o.doc_id = s.doc_id
        WHERE o.text IS DISTINCT FROM s.text
        """
    )[0] == 0
