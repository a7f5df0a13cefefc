# One-command regression gate: `make check` = full test suite (incl. the
# full-catalog DuckDB oracle gate) + a 7-query mini-bench at sf0.01 + the
# leak/copy self-check.  Individual targets below for faster loops.

MINIBENCH_QUERIES = q01_pricing_summary,q26_minhash_near_dups,q30_knn_lsh,q50_validated_lineitem,q101_streaming_tumbling_e2e,q110_bm25_retrieval,q141_streaming_dedup_e2e

.PHONY: check test minibench selfcheck oracle bench sweep-sf1

check: test minibench selfcheck

test:
	python -m pytest tests/ -q

minibench:
	SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
	SPARK_GRAFT_QUERIES=$(MINIBENCH_QUERIES) python bench.py

selfcheck:
	python tools/selfcheck.py

oracle:
	python tools/oracle_check.py

bench:
	python bench.py

# Full-catalog Spark-vs-DuckDB hash sweep at the sf1 decade (~25-40 min;
# regenerates nothing — run `python tools/make_sf.py sf1` first in a fresh
# container).
sweep-sf1:
	python tools/sweep_sf1.py
