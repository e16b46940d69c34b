# Verification entry points. `make check` is the round gate: the full
# pytest suite plus the full-surface DuckDB differential oracle at sf0.01.
# Both are exit-code clean or the target fails. `make check-touched` diffs
# only the queries the working tree's changes since $(REF) touch, at
# sf0.001, sf0.01 and sf0.1, then runs the vanilla non-UTC tz probe on them
# (QUERIES, if set, narrows that selection).

SF_DIR ?= /root/testdata/sf0.01
BENCH_SF_DIR ?= /root/testdata/sf0.1
REF ?= main
QUERIES ?=

.PHONY: check test diffcheck check-touched bench bench-quick

check: test diffcheck

test:
	python -m pytest tests/ -x -q

diffcheck:
	python tools/diffcheck.py $(SF_DIR)

check-touched:
	python tools/diffcheck.py --touched $(REF) $(SF_DIR) $(QUERIES)

bench:
	SPARK_GRAFT_SF_DIR=$(BENCH_SF_DIR) python bench.py

bench-quick:
	SPARK_GRAFT_SF_DIR=$(BENCH_SF_DIR) SPARK_GRAFT_BENCH_HEAVY=0 python bench.py
