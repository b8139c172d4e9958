# Round-end verification targets. `make sweep` is the gate that must pass
# before a round ends: full tests at sf0.01, the parity suite again at
# sf0.1 (catches magnitude-dependent bugs — decimal overflow past 2^53,
# window-order tie ambiguity — that sf0.01 cannot see), then the benchmark.

PY := python

.PHONY: test perfbench-test parity-sf01 parity-sf1 parity-sf1-derived bench sweep

test:
	$(PY) -m pytest tests/ -x -q

# the benchmark's own tests (tail rule, seeds, tracer); no Spark session
perfbench-test:
	python3 -m pytest perfbench/tests -q

parity-sf01:
	$(PY) -m pytest tests/test_parity.py -q

parity-sf1:
	SPARK_GRAFT_TEST_SF=/root/testdata/sf0.1 $(PY) -m pytest tests/test_parity.py -q

# DuckDB oracle differential at the DERIVED sf1 (~6M rows; build the
# fixtures first: `python scale_fixtures.py` then optionally
# `--fresh-vocab` / `--sf10`). Writes/updates PARITY_SF1.json.
parity-sf1-derived:
	$(PY) parity_sf1.py

# a plain bench run writes a dated raw record under .bench/; curate the
# committed BENCH_FULL.json via `python bench.py --merge <raw records>`
bench:
	$(PY) bench.py

sweep: test parity-sf1 bench
