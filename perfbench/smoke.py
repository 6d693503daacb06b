"""Smoke test of the benchmark itself, at tiny input size.

    python3 perfbench/smoke.py

For each workload: one untraced run and two traced runs with the same
seed. Checks that the result line carries exactly the metrics
BENCHMARK.json declares for that mode, each with its declared unit,
that the readable report names every end-to-end figure, that no
operation failed, and that the traced job/stage/task and call counts
repeat exactly. Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORTED = ("setup_s", "datagen_s", "pass_s", "query_mean_ms", "query_p50_ms", "query_tail_ms",
            "queries_per_s", "failed_ratio")
EXACT = ("exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
         "plans.build_jobs", "sources.csv_validate_jobs", "sources.table_open_calls",
         "streaming.leftover_memory_tables")


def _run(workload: str, trace: int) -> tuple[str, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return "\n".join(lines[:-1]), json.loads(lines[-1])


def _check_metrics(result: dict, declared: list[dict], label: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{label}: metrics {got} != declared {want}"
    assert result["attempted"] >= 1 and result["failed"] == 0, f"{label}: {result}"
    assert result["correct"] is True, label


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        report, plain = _run(w, 0)
        _check_metrics(plain, bench["end_to_end"], f"{w} trace=0")
        rows = {ln.split()[0]: ln.split()[1:3] for ln in report.splitlines()[1:]}
        for name in REPORTED:
            assert name in rows, f"{w}: report lacks {name}"
        assert float(rows["failed_ratio"][0]) == 0.0, f"{w}: failed_ratio {rows['failed_ratio']}"
        _, first = _run(w, 1)
        _, second = _run(w, 1)
        for r in (first, second):
            _check_metrics(r, bench["per_layer"], f"{w} trace=1")
        for name in EXACT:
            a, b = first["metrics"][name]["value"], second["metrics"][name]["value"]
            assert a == b, f"{w}: {name} {a} != {b} between two traced runs"
        print(f"ok  {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
