SF_CHECK ?= /root/testdata/sf0.01

.PHONY: check test bench probe smoke explain lint verify ledger

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

# off-benchmark scale probes at 10x sf0.1 (tools/probe_scale.py):
# queries whose growth from sf0.1 should stay about linear, including
# the registered LSH/IVF pair faces; then the hot-shingle corpus over
# the pair faces its skew stresses
PROBE_SPOT = fact_star_left_joins dedup_minhash_lsh tpch_q1_pricing_summary \
	tpch_q5_local_supplier_volume events_hourly_rollup text_duplicate_spans \
	pipeline_pretrain_mix dedup_cdc_chunks text_bm25_search corpus_epoch_shuffle \
	quality_score_auc corpus_upsample_epochs events_funnel_time_bound \
	tokenizer_bpe_train_n dedup_incremental_minhash events_interval_coalesce \
	text_remove_duplicate_spans multimodal_audio_segments \
	dedup_jaccard_lsh dedup_embedding_cosine_ivf
PROBE_HOT = dedup_jaccard_lsh dedup_jaccard_prefix_persisted dedup_winnow_clusters

probe:
	python tools/probe_scale.py 10 $(PROBE_SPOT)
	python tools/probe_scale.py 10 --hot-shingle $(PROBE_HOT)

smoke:
	python -c "import __spark_entry__ as e; \
	from _imdb_etl_spark.session import get_spark; \
	s = get_spark('smoke'); df = e.entry(s); \
	assert len(df.collect()) > 0; \
	assert set(e.oracle_sql()) <= set(e.queries()); \
	from _imdb_etl_spark.plans import GATE_WINDOW; \
	assert list(e.queries())[:len(GATE_WINDOW)] == GATE_WINDOW; \
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
