"""Plan lint: sweep every registered query's physical plan for scale
anti-patterns.

Compiles each registry entry (no execution for pure-batch plans; the
handful of operators that materialize eagerly — streaming runs, ML
training — are skipped) and flags:

- ``Exchange SinglePartition`` feeding real data: the whole input
  funnels through one task. Legitimate only for scalar aggregates
  (one-row output) and post-top-k stages, which the lint recognizes by
  the node ABOVE the exchange.
- ``Coalesce 1``: the same funnel without an exchange. Legitimate only
  directly under the ``Sort [...], true`` of ``functions.ordered``: its
  gate, ``functions.single_partition``, coalesces only a result its row
  bound proves small, and a global sort over one partition plans no
  range exchange.
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: O(N*M) pair work.
  Legitimate only for by-design exact baselines and one-row broadcast
  scalars, allow-listed explicitly.
- ``BatchEvalPython``: row-at-a-time Python UDF in the plan — the slow
  path; everything Python-side must be Arrow-vectorized
  (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas).
- ``InMemoryTableScan`` on an uncached path (missed or accidental
  ``.cache()``).

It also prints, without failing, the census of plans that still close
with a range-partitioned global ``Sort`` over a result
``functions.rows_upper`` proves small: the closing sorts
``functions.ordered`` could take over.

Usage: python tools/planlint.py [sf_dir] [query ...]
Exit 1 if any non-allow-listed flag fires.
"""

from __future__ import annotations

import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

# Queries whose flagged shape is by design, with the reason recorded so
# the allow-list is an audit trail, not an escape hatch.
ALLOW = {
    ("sim_knn_bruteforce", "cartesian"): "exact all-pairs baseline; the LSH/IVF variants are the scale paths",
    ("crossmodal_textdup_cosine", "cartesian"): "pairs come from the near-dup candidate set, bounded",
    ("cross_join_dense_grid", "cartesian"): "the operator IS a cross join (dense dimension grid)",
    ("range_join_price_bands", "cartesian"): "band table is a broadcast constant (tens of rows)",
    ("sim_knn_ivf", "cartesian"): "broadcast of the k-row centroid table for inverted-list assignment, bounded by k not corpus",
    ("decontaminate_embedding", "cartesian"): "broadcast of the eval vector set (bounded by construction) x corpus scan — map-side, corpus-linear",
    ("events_mannwhitney_u", "cartesian"): "triangular prefix-sum self-join over the floor(value) BUCKET table — both sides bounded by the value range, never by row count (the alternative is a single-partition prefix window, a worse funnel)",
    ("customers_gini_spend", "cartesian"): "same triangular bucket-table prefix-sum as events_mannwhitney_u (two-stage distributed ranking); bounded by the spend range, not customer count",
    ("orders_spearman_price_items", "cartesian"): "two triangular bucket-table prefix-sums (one per ranked variable, same two-stage ranking shape); bounded by the value ranges, not order count",
    ("events_ks_two_sample", "cartesian"): "same triangular bucket-table prefix-sum as events_mannwhitney_u (shared two-stage ECDF shape); bounded by the value range, not row count",
    ("vocab_zipf_slope", "cartesian"): "triangular prefix-sum over the frequency-DISTRIBUTION table (one row per distinct frequency, << vocabulary) for descending rank offsets; same bounded two-stage shape as the other rank statistics",
    ("parts_abc_classification", "cartesian"): "descending triangular bucket-table prefix-sum (two-stage ranking, cents accumulator); bounded by the revenue range, not part count",
    ("embedding_matryoshka_recall", "cartesian"): "evaluation op: the brute-force broadcast-queries pass per prefix width, same bounded shape as sim_knn_bruteforce (|Q| fixed), measuring truncation recall",
    ("sim_recall_curve", "cartesian"): "evaluation op: k-grid x the <= queries*k matched-rank pairs (both sides bounded by construction), and it embeds the allow-listed brute-force baseline as its ground truth",
    ("retrieval_hard_negatives", "cartesian"): "broadcast of the fixed |Q| anchor set x corpus scan (sim_knn_bruteforce's bounded shape with a label filter); the 100 TB route swaps the scan for the IVF probe stream",
    ("sim_knn_binary_rerank", "cartesian"): "broadcast of |Q| 8-byte sketches x the corpus SKETCH column only (xor+popcount per pair, 8 bytes touched per vector); raw floats join only for the bounded rerank candidates",
    ("events_new_vs_returning", "cartesian"): "triangular prefix-sum self-join over the per-DAY rollup (<= days^2 pairs, bounded by the calendar, never user count) — the rank-statistics family's bounded shape for the cumulative adoption sum",
    ("events_dau_wau_mau", "cartesian"): "two triangular prefix-sums (WAU, MAU) over per-DAY interval-sweep delta tables (bounded by calendar span + window width, never user or event count) — the coverage-island sweep that replaced the 30x fan-out + COUNT(DISTINCT)",
    ("corpus_batch_padding_plan", "cartesian"): "two triangular bucket-table prefix-sums (the shared two-stage ranking, one per batching strategy); bounded by the doc-id and token-length value ranges, never document count",
    ("tokenizer_vocab_coverage_ladder", "cartesian"): "one triangular bucket-table prefix-sum (shared two-stage ranking over word frequencies, bounded by the frequency value range) plus a 1-row scalar totals broadcast",
    ("corpus_canary_scan", "cartesian"): "corpus scan x BROADCAST canary needle list (one canary per 97 docs, bounded substring probes per row; Aho-Corasick mapInPandas is the documented many-needle upgrade)",
    ("dedup_jaccard_prefix", "cartesian"): "triangular prefix-sum over the shingle df-DISTRIBUTION table (one row per distinct document-frequency value, << vocabulary) for the exact gid-dictionary offsets; the rank-statistics family's bounded shape",
    ("dedup_jaccard_prefix_persisted", "cartesian"): "same bounded df-distribution triangular prefix-sum as dedup_jaccard_prefix (shared _prefix_doc_sets builder), executed once at index-build time",
    ("dedup_lsh_recall_audit", "cartesian"): "composes _prefix_doc_sets for its lossless ground truth -> the same bounded df-distribution triangular prefix-sum as dedup_jaccard_prefix",
    ("split_leakage_audit", "cartesian"): "round 13: pair stage swapped to the lossless PPJoin prefix join -> the same bounded df-distribution triangular prefix-sum as dedup_jaccard_prefix (shared _prefix_doc_sets builder)",
}


def _tree_depth(ln: str) -> int:
    """Depth of a node in Spark's plan-tree drawing = offset of the
    first payload character past the ``:  +- `` branch prefix (the
    codegen ``*(n)`` marker counts as payload)."""
    return len(ln) - len(ln.lstrip(" :+-"))


def _benign_nested_loop(plan: str) -> bool:
    """A BroadcastNestedLoopJoin is benign when its broadcast build side
    is provably tiny: a scalar aggregate (keys=[] -> one row) or an
    explicit limit (TakeOrderedAndProject / GlobalLimit). Detected
    textually: the build-side BroadcastExchange IdentityBroadcastMode
    line, with a scalar-agg/limit node within the next two lines.
    The search is scoped to the join's OWN subtree (strictly deeper
    indentation until the tree returns to the join's depth) — scanning
    to end-of-plan could attribute a different join's tiny build side
    to an unbounded nested-loop join and mask a real O(N*M) regression."""
    lines = plan.splitlines()
    bnlj_idx = [i for i, ln in enumerate(lines) if "NestedLoopJoin" in ln or "CartesianProduct" in ln]
    for i in bnlj_idx:
        ok = False
        d = _tree_depth(lines[i])
        for j in range(i + 1, len(lines)):
            if lines[j].strip() and _tree_depth(lines[j]) <= d:
                break  # left the join's subtree
            if "BroadcastExchange IdentityBroadcastMode" in lines[j]:
                nxt = "\n".join(lines[j + 1 : j + 3])
                if (
                    "HashAggregate(keys=[]" in nxt
                    or "SortAggregate(key=[]" in nxt
                    or "TakeOrderedAndProject" in nxt
                    or "GlobalLimit" in nxt
                ):
                    ok = True
                break
        if not ok:
            return False
    return True

# Nodes directly above a SinglePartition exchange that make it benign:
# scalar agg (one-row output) or a global limit (Spark places a
# LocalLimit BELOW the exchange, so each map task ships at most k rows
# — the shuffle is output-bounded, not a funnel of the input).
_BENIGN_ABOVE = re.compile(
    r"HashAggregate\(keys=\[\]|SortAggregate\(key=\[\]|ObjectHashAggregate\(keys=\[\]"
    # a global limit bounds the exchange's output, but only a SMALL k
    # makes the funnel benign — accept up to 4 digits (k <= 9999) so a
    # future large-k limit funnel is flagged instead of silently passing
    r"|GlobalLimit \d{1,4}(?!\d)"
)

# functions.ordered's sort, the one node a Coalesce 1 may feed
_ORDERED_SORT = re.compile(r"\bSort \[.*\], true, \d+$")

# Operators that cannot be compiled without executing (streaming runs to
# a memory sink; KMeans trains eagerly). Their plans are asserted in
# dedicated pytest cases instead.
SKIP = {
    "streaming_hourly_rollup",
    "streaming_sessionize",
    "streaming_stateful_user_totals",
    "streaming_dedup_events",
    "streaming_enrich_events",
    "streaming_join_view_purchase",
    "streaming_pysource_bucket_counts",
    "streaming_corpus_ingest",
    "streaming_foreachbatch_upsert",  # runs two stream passes eagerly;
    # the final merge plan is an 8-file scan + hash agg
    "sim_knn_ivf_trained",
    "tokenizer_bpe_train_n",  # iterative trainer: building the DF runs
    # the 8 merge rounds; per-round plans are the narrow-map + hash-agg
    # shapes shared with tokenizer_bpe_first_merges/apply_merge
    "tokenizer_bpe_encode",  # consumes the trainer's persisted stream
    "merge_scd1_vip_segment",  # writes a table, then diffs snapshots
    "merge_scd2_customer_history",
    "cdc_snapshot_diff",
}


def lint_plan(name: str, plan: str) -> list[str]:
    flags: list[str] = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            above = lines[i - 1] if i else ""
            if not _BENIGN_ABOVE.search(above):
                flags.append(f"single-partition exchange feeding: {above.strip()[:90]}")
        if ln.rstrip().endswith("Coalesce 1"):
            above = lines[i - 1] if i else ""
            if not _ORDERED_SORT.search(above):
                flags.append(f"coalesce(1) feeding: {above.strip()[:90]}")
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        if (name, "cartesian") not in ALLOW and not _benign_nested_loop(plan):
            flags.append("cartesian/nested-loop join")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time Python UDF (BatchEvalPython)")
    return flags


def _closes_with_global_sort(df) -> bool:
    """The analyzed plan's root, below any projections, is a global Sort
    that is not ``functions.ordered``'s sort over ``coalesce(1)``."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() == "Project":
        node = node.children().apply(0)
    if node.nodeName() != "Sort" or not getattr(node, "global")():
        return False
    child = node.children().apply(0)
    return not (
        child.nodeName() == "Repartition"
        and child.numPartitions() == 1
        and not child.shuffle()
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from _imdb_etl_spark.functions import SMALL_ROWS_MAX, rows_upper
    from _imdb_etl_spark.plans import REGISTRY
    from _imdb_etl_spark.session import get_spark
    from tests.fixtures import stand_in_for_reference

    spark = get_spark(app_name="planlint")
    spark.sparkContext.setLogLevel("ERROR")
    stand_in_for_reference()

    bad = 0
    checked = 0
    small_global = []
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        if name in SKIP and not only:
            continue
        try:
            df = spec.spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: {e}")
            bad += 1
            continue
        checked += 1
        if _closes_with_global_sort(df):
            upper = rows_upper(df)
            if upper is not None and upper <= SMALL_ROWS_MAX:
                small_global.append(name)
        flags = lint_plan(name, plan)
        if flags:
            bad += 1
            for f in flags:
                print(f"FLAG  {name}: {f}")
    print(
        f"\n{len(small_global)} plans close with a global Sort over a provably "
        f"small result: {', '.join(small_global) or '-'}"
    )
    print(f"{checked} plans checked, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
