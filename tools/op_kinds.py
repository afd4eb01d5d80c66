#!/usr/bin/env python3
"""Median latency per op kind over perfbench runs.

    python3 tools/op_kinds.py RECORD.json [RECORD.json ...]

Each argument is a perfbench `record.json` (under
`.bench_build/perfbench/runs/<id>/`). For every op kind in their
`op_p50_ms_by_kind`, prints the median of the per-run p50s and how many
runs had that kind. Run it once over a parent's records and once over a
change's to see which query of an A/B moved.
"""
import json
import statistics
import sys


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    by_kind = {}
    for p in paths:
        with open(p) as f:
            for kind, ms in json.load(f).get("op_p50_ms_by_kind", {}).items():
                by_kind.setdefault(kind, []).append(ms)
    width = max((len(k) for k in by_kind), default=4)
    print(f"{'kind':<{width}}  {'p50_ms':>9}  runs")
    for kind in sorted(by_kind):
        v = by_kind[kind]
        print(f"{kind:<{width}}  {statistics.median(v):9.1f}  {len(v):4d}")


if __name__ == "__main__":
    main(sys.argv[1:])
