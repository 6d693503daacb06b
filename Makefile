SF_CHECK ?= /root/testdata/sf0.01

.PHONY: check test bench smoke explain lint verify ledger

check:
	SPARK_GRAFT_CPUS=16 python tools/check.py $(SF_CHECK)

# the tier-1 suite; then, pass or fail, a check that it left nothing in
# spark-warehouse/
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider; \
	status=$$?; \
	if [ -n "$$(ls -A spark-warehouse 2>/dev/null)" ]; then \
		echo "spark-warehouse/ is not empty:"; ls spark-warehouse; exit 1; fi; \
	exit $$status

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
