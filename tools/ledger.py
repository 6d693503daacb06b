"""Cross-round driver-gate coverage ledger.

The driver records CORRECTNESS rows for only the first 50 registry
entries per round (the gate window), so full-registry coverage is the
UNION of rounds. This tool reports which registered queries have a
green (or no_oracle-by-design) row in any recorded round, what the
current window will add, and — the actionable output — which queries
still lack any driver-visible row and should lead the next round's
window rotation.

Usage: python tools/ledger.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def main() -> int:
    from _imdb_etl_spark.plans import GATE_WINDOW, REGISTRY

    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            ok = row.get("hash_match") or row.get("err") == "no_oracle"
            if ok and name not in seen:
                seen[name] = rnd
    window = set(GATE_WINDOW)
    covered = set(seen) | window
    missing = [n for n in REGISTRY if n not in covered]
    stale = sorted(
        ((seen[n], n) for n in REGISTRY if n in seen and n not in window),
    )
    print(f"registered queries:        {len(REGISTRY)}")
    print(f"rows in recorded rounds:   {len(seen)}")
    print(f"current window size:       {len(window)}")
    print(f"covered if window greens:  {len(covered & set(REGISTRY))}")
    print(f"no driver row yet:         {missing or 'none'}")
    if stale:
        oldest = [n for r, n in stale[:10]]
        print(f"oldest un-refreshed rows:  {oldest} (r{stale[0][0]})")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
