"""Compare two sets of run records, e.g. a parent commit and a change.

    python3 perfbench/compare.py BASE_RUNS_DIR NEW_RUNS_DIR

Each directory holds the records ``run.py`` writes to ``.perfbench/runs``.
Runs are paired by (workload, seed, trace).  The comparison is refused
(exit 1) when a pair's input md5s differ: the two sides did not run on
identical generated inputs, so their numbers are not comparable.  Otherwise
prints, per workload and metric, each side's median and quartiles.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _load(d: str) -> dict[tuple, list[dict]]:
    runs: dict[tuple, list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["seed"], r["trace"]), []).append(r)
    return runs


def _quartiles(xs: list[float]) -> str:
    if len(xs) < 2:
        return f"{xs[0]:.4g}"
    q = statistics.quantiles(xs, n=4)
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main(base_dir: str, new_dir: str) -> int:
    base, new = _load(base_dir), _load(new_dir)
    bad = [
        f"{k}: {b['input_md5s']} != {n['input_md5s']}"
        for k in sorted(set(base) & set(new))
        for b in base[k] for n in new[k]
        if b["input_md5s"] != n["input_md5s"]
    ]
    if bad:
        print("refusing to compare: input md5s differ for", *bad, sep="\n  ")
        return 1
    for wl in sorted({k[0] for k in base} | {k[0] for k in new}):
        for trace, field in ((0, "e2e"), (1, "layers")):
            rows: dict[str, tuple[list, list]] = {}
            for side, runs in ((0, base), (1, new)):
                for k, rs in runs.items():
                    if k[0] == wl and k[2] == trace:
                        for r in rs:
                            for m, v in r[field].items():
                                rows.setdefault(m, ([], []))[side].append(v)
            for m, (b, n) in rows.items():
                if b and n:
                    print(f"{wl:8s} {m:28s} base {_quartiles(b):32s} new {_quartiles(n)}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
