SF_CHECK ?= /root/testdata/sf0.01

.PHONY: check test bench smoke explain lint verify ledger

check:
	SPARK_GRAFT_CPUS=16 python tools/check.py $(SF_CHECK)

test:
	python -m pytest tests/ -q

# the benchmark of record: both perfbench workloads, then its smoke test
bench:
	python3 perfbench/run.py --workload imdb_etl --seed 1 --seconds 24
	python3 perfbench/run.py --workload dashboard --seed 1 --seconds 24
	python3 perfbench/smoke.py

smoke:
	python -c "import __spark_entry__ as e; \
	from _imdb_etl_spark.session import get_spark; \
	s = get_spark('smoke'); df = e.entry(s); \
	assert len(df.collect()) > 0; \
	assert set(e.oracle_sql()) <= set(e.queries()); \
	print('entry ok:', df.columns)"

lint:
	SPARK_GRAFT_CPUS=8 python tools/planlint.py

# the full verification battery: oracle gate, pytest, plan lint, smoke
verify: check test lint smoke

# cross-round driver-gate coverage ledger (informational: the tool
# exits 1 while any query lacks a driver row, which is expected
# mid-cycle — the leading '-' keeps make from calling that an error)
ledger:
	-python tools/ledger.py

# make explain Q=tpch_q1_pricing_summary
explain:
	python tools/explain.py $(Q)
