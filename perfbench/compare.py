"""Compare two benchmark artifacts: did the structure change, or only time?

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are artifact files written by ``run.py`` or directories of
them; artifacts are paired by (workload, seed, trace). For every operation
present in both, the report says

- ``structure changed`` when its Spark job, stage or task count or its
  micro-batch count differs (traced artifacts carry these counts), or its
  result digest differs;
- ``only wall time moved`` when the counts agree and the latency moved by
  more than ``TOLERANCE`` (a share of the earlier latency);
- ``same`` otherwise.

It then lists the end-to-end metrics and per-layer figures side by side.
Exits 1 when any operation's structure changed, else 0.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
from collections import defaultdict

COUNTS = ("jobs", "stages", "tasks", "batches", "digest")
TOLERANCE = 0.10


def load(path: str) -> dict[tuple, dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if "workload" in a and "ops" in a:
            out[(a["workload"], a["seed"], a["trace"])] = a
    return out


def _ops(artifact: dict) -> dict[tuple, list[dict]]:
    by = defaultdict(list)
    for o in artifact["ops"]:
        by[(o["kind"], o["name"])].append(o)
    return by


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return (s[n // 2] + s[(n - 1) // 2]) / 2 if n else float("nan")


def compare_ops(before: dict, after: dict) -> list[tuple[str, str, str]]:
    """``(operation, verdict, detail)`` for every operation in both runs."""
    rows = []
    a_ops, b_ops = _ops(before), _ops(after)
    for key in sorted(set(a_ops) & set(b_ops)):
        a, b = a_ops[key], b_ops[key]
        diffs = []
        for c in COUNTS:
            va = [o.get(c) for o in a if o.get(c) is not None]
            vb = [o.get(c) for o in b if o.get(c) is not None]
            if va and vb and sorted(map(str, va)) != sorted(map(str, vb)):
                diffs.append(f"{c} {va[0]}->{vb[0]}")
        la = _median([o["latency_s"] for o in a if o["ok"]])
        lb = _median([o["latency_s"] for o in b if o["ok"]])
        moved = la > 0 and abs(lb - la) / la > TOLERANCE
        detail = f"{la:.3f}s -> {lb:.3f}s"
        if diffs:
            rows.append((f"{key[0]} {key[1]}", "structure changed", f"{', '.join(diffs)}; {detail}"))
        elif moved:
            rows.append((f"{key[0]} {key[1]}", "only wall time moved", detail))
        else:
            rows.append((f"{key[0]} {key[1]}", "same", detail))
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    before, after = load(args.before), load(args.after)
    pairs = sorted(set(before) & set(after))
    if not pairs:
        print("no artifacts to pair (same workload, seed and trace flag)")
        return 2
    changed = 0
    for key in pairs:
        a, b = before[key], after[key]
        print(f"== {key[0]} seed {key[1]} trace {key[2]}")
        for op, verdict, detail in compare_ops(a, b):
            changed += verdict == "structure changed"
            print(f"  {op:<48} {verdict:<22} {detail}")
        for section in ("end_to_end", "named"):
            for name in a.get(section, {}):
                if name in b.get(section, {}):
                    va, vb = a[section][name]["value"], b[section][name]["value"]
                    print(f"  {section}.{name:<36} {va:>14.4f} -> {vb:>14.4f}")
        for name, va in a.get("per_layer", {}).items():
            vb = b.get("per_layer", {}).get(name)
            if vb is not None and (va or vb):
                print(f"  per_layer.{name:<36} {va:>14.4f} -> {vb:>14.4f}")
    print(f"{changed} operation(s) changed structure")
    return 1 if changed else 0


if __name__ == "__main__":
    raise SystemExit(main())
